"""The traced run: per-layer timings taken from outside the package.

Every span wraps a call into one layer's public functions from this
file; nothing inside ``hocr_de_noising_spark`` is instrumented. Spark's
own event log, enabled only in the traced session, gives the engine
metrics (``perfbench/eventlog.py``). Spans are kept in memory and
written to ``.perfbench/traces/`` when the run ends.

The traced run first measures a cold job and the warm jobs of an
untraced run in an untraced session, then restarts the session with the event log on, warms it up,
runs the layer probes and measures the same job twice more; the median
traced job time minus the median untraced warm job time is the tracing
overhead.
Layers a workload does not use are still called, on that workload's
(empty) input of the layer, so every metric is measured on every
workload: on span workloads the ``hocr.*`` probes parse zero pages.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hocr_de_noising_spark.checkpoint import ManifestCheckpoint
from hocr_de_noising_spark.operators.assemble import reassemble_ordered, with_survival
from hocr_de_noising_spark.operators.features import (
    with_doc_stats,
    with_geom_flags,
    with_noise_decision,
    with_text_flags,
)
from hocr_de_noising_spark.operators.hocr import (
    hocr_soundness_probe,
    hocr_words_to_spans,
    parse_hocr,
    parse_hocr_auto,
    parse_hocr_jvm,
)
from hocr_de_noising_spark.operators.lexicon import with_dictionary_check
from hocr_de_noising_spark.operators.parse import with_parsed_fields
from hocr_de_noising_spark.operators.pipeline import denoise_exploded, denoise_fused, denoise_hybrid
from hocr_de_noising_spark.params import params_hash
from hocr_de_noising_spark.rules_np import Lexicon, normalize_token, parse_payload
from hocr_de_noising_spark.rules_vec import denoise_arrow_batch
from perfbench.eventlog import spark_metrics
from perfbench.inputs import N_GROUPS, PARAMS


class Tracer:
    """In-memory spans: name, start, end, parent and run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def seconds(self, name: str) -> float:
        """Duration of the last finished span called ``name``."""
        rec = next(s for s in reversed(self.spans) if s["name"] == name)
        return rec["end"] - rec["start"]

    def self_seconds(self, rec: dict) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = sorted((s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return rec["end"] - rec["start"] - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        out = [{**s, "self_s": self.self_seconds(s)} for s in self.spans if s["end"] is not None]
        with open(path, "w") as f:
            json.dump(out, f)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )


def _hocr_layer(tr: Tracer, pages) -> dict:
    sound = hocr_soundness_probe("hocr")
    with tr.span("hocr.probe"):
        _noop(pages.select("doc_id", sound.alias("sound")))
    with tr.span("hocr.parse_jvm"):
        _noop(parse_hocr_jvm(pages))
    with tr.span("hocr.parse_python"):
        _noop(parse_hocr(pages))
    with tr.span("hocr.parse_auto"):
        _noop(parse_hocr_auto(pages, triage="checkpoint"))
    with tr.span("hocr.bridge"):
        _noop(hocr_words_to_spans(parse_hocr_auto(pages, triage="checkpoint")))
    n_pages = pages.count()
    n_fast = pages.filter(sound).count()
    return {
        "hocr.probe_s": (tr.seconds("hocr.probe"), "s"),
        "hocr.parse_jvm_s": (tr.seconds("hocr.parse_jvm"), "s"),
        "hocr.parse_python_s": (tr.seconds("hocr.parse_python"), "s"),
        "hocr.parse_auto_s": (tr.seconds("hocr.parse_auto"), "s"),
        "hocr.to_spans_s": (tr.seconds("hocr.bridge") - tr.seconds("hocr.parse_auto"), "s"),
        "hocr.fast_path_ratio": (n_fast / n_pages if n_pages else 0.0, "ratio"),
        "hocr.words": (parse_hocr_auto(pages, triage="checkpoint").count(), "count"),
    }


def _rules_vec_layer(tr: Tracer, bench, tokens: list[str], batch_rows: int) -> dict:
    """The fused kernel in-process, no Spark, over the documents the
    job's variant routes to it, in batches of the session's
    ``maxRecordsPerBatch``."""
    tbl = pq.read_table(bench.inp.spans_path, columns=["doc_id", "spans"])
    if bench.wl.variant == "hybrid":
        tbl = tbl.filter(pc.less_equal(pc.list_value_length(tbl.column("spans")), PARAMS.max_spans_per_doc))
    batches = tbl.combine_chunks().to_batches(max_chunksize=batch_rows)
    lex = Lexicon(tokens)
    n_spans = sum(len(b.column(1).flatten()) for b in batches)
    with tr.span("rules_vec.batch"):
        for rb in batches:
            denoise_arrow_batch(rb, PARAMS, lex)
    s = tr.seconds("rules_vec.batch")
    return {"rules_vec.batch_s": (s, "s"), "rules_vec.spans_per_s": (n_spans / s if s else 0.0, "spans/s")}


def _lexicon_layer(tr: Tracer, bench, tokens: list[str]) -> dict:
    builds = []
    for _ in range(5):
        with tr.span("lexicon.build"):
            lex = Lexicon(tokens)
        builds.append(tr.seconds("lexicon.build"))
    oov = set()
    for spans in pq.read_table(bench.inp.spans_path, columns=["spans"]).column("spans").to_pylist():
        for s in spans:
            if s["kind"] == "text" and s["text"] is not None:
                p = parse_payload(s["text"])
                if p is not None:
                    t = normalize_token(p["token"])
                    if not lex.contains_exact(t):
                        oov.add(t)
    oov_list = sorted(oov)
    with tr.span("lexicon.within_one"):
        hits = sum(lex.within_one(t) for t in oov_list)
    return {
        "lexicon.build_s": (statistics.median(builds), "s"),
        "lexicon.within_one_s": (tr.seconds("lexicon.within_one"), "s"),
        "lexicon.oov_distinct": (len(oov_list), "count"),
        "lexicon.fuzzy_hit_ratio": (hits / len(oov_list) if oov_list else 0.0, "ratio"),
    }


def _exploded_layer(tr: Tracer, docs, lexicon_df, params) -> dict:
    """Cumulative prefixes of ``denoise_exploded``'s chain, each to a
    noop sink; a step's time is its prefix minus the one before."""
    ex = docs.select("doc_id", F.posexplode_outer("spans").alias("pos", "span")).select(
        "doc_id", "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
    )
    prefixes = [("explode", ex)]
    ex = with_parsed_fields(ex)
    prefixes.append(("parse", ex))
    ex = with_dictionary_check(ex, lexicon_df, params=params)
    prefixes.append(("dict", ex))
    ex = with_text_flags(ex, params=params)
    prefixes.append(("text_flags", ex))
    ex = with_doc_stats(
        ex.select(
            "doc_id", "pos", "kind", "text", "media_ref", "parse_ok",
            "x0", "y0", "x1", "y1", "line_i", "col_i",
            "f_wconf", "f_nonalpha", "f_repeat", "f_toolong", "f_dict_miss",
            "rewrite_text",
        ),
        params=params,
    )
    prefixes.append(("doc_stats", ex))
    ex = with_geom_flags(ex, params=params)
    prefixes.append(("geom_flags", ex))
    ex = with_survival(with_noise_decision(ex, params=params), params=params)
    prefixes.append(("decision", ex))
    prefixes.append(("reassemble", reassemble_ordered(ex)))
    with tr.span("exploded.chain"):
        for name, df in prefixes:
            with tr.span(f"exploded.prefix.{name}"):
                _noop(df)
    out = {}
    for prev, cur in zip(prefixes, prefixes[1:]):
        out[f"exploded.{cur[0]}_s"] = (
            tr.seconds(f"exploded.prefix.{cur[0]}") - tr.seconds(f"exploded.prefix.{prev[0]}"),
            "s",
        )
    return out


def _checkpoint_layer(tr: Tracer, bench, traced_jobs, noop_job_s: float) -> dict:
    job = traced_jobs[-1]
    job_s = statistics.median(j.seconds for j in traced_jobs)
    appends = []
    tmp = ManifestCheckpoint(os.path.join(bench.work, "manifest-probe"))
    rows = [
        {"run_id": "probe", "bucket": b, "n_docs": 1, "n_spans_in": 1, "n_spans_out": 1,
         "n_noise_dropped": 0, "denoise_rate": 0.0, "input_lineage": "", "params_hash": "p",
         "status": "done", "committed_at": int(time.time() * 1e6)}
        for b in range(PARAMS.n_buckets // N_GROUPS)
    ]
    for _ in range(5):
        with tr.span("checkpoint.manifest_append"):
            tmp.append_rows(rows)
        appends.append(tr.seconds("checkpoint.manifest_append"))
    with tr.span("checkpoint.completed_buckets"):
        done = ManifestCheckpoint(job.manifest_dir).completed_buckets(
            bench.spark, job.run_id, params_hash(PARAMS)
        )
    if len(done) != PARAMS.n_buckets:
        job.check.errors.append(f"completed_buckets returned {len(done)} of {PARAMS.n_buckets}")
    return {
        "checkpoint.overhead_s": (job_s - noop_job_s, "s"),
        "checkpoint.out_bytes_per_in_byte": (
            _dir_bytes(job.out_dir) / _dir_bytes(bench.inp.source_path), "ratio"
        ),
        "checkpoint.groups_run": ((job.summary or {}).get("groups_run", 0), "count"),
        "checkpoint.manifest_append_s": (statistics.median(appends), "s"),
        "checkpoint.completed_buckets_s": (tr.seconds("checkpoint.completed_buckets"), "s"),
        "obs.unmetered_buckets": (sum(j.check.unmetered for j in bench.jobs if j.check), "count"),
    }


def traced_run(bench, state_dir: str, t_run0: float) -> tuple[dict, dict]:
    """Untraced cold and warm jobs, then a traced session: warm-up, the
    per-layer probes and traced jobs. ``t_run0`` is the process start on
    the ``perf_counter`` clock. Returns (metrics, context extras)."""
    tr = Tracer(f"{bench.wl.name}-s{bench.seed}-p{os.getpid()}")
    with tr.span("run"):
        with tr.span("untraced_jobs"):
            bench.run_job()  # cold
            untraced = bench.warm_jobs(0, t_run0)
        bench.stop_session()
        log_dir = os.path.join(bench.work, "eventlog")
        os.makedirs(log_dir)
        bench.start_session(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
        spark = bench.spark
        tokens = bench.inp.tokens
        docs = spark.read.parquet(bench.inp.spans_path)
        giants = docs.filter(F.size("spans") > PARAMS.max_spans_per_doc)
        chain_docs = giants if bench.wl.n_giants else docs
        pages = (
            bench.source if bench.wl.pages
            else spark.createDataFrame([], "doc_id string, hocr string")
        )
        m: dict = {}
        with tr.span("warmup"):  # the new session's Python workers and codegen
            _noop(denoise_fused(docs, tokens, PARAMS))
            _noop(parse_hocr_auto(pages, triage="checkpoint"))
        with tr.span("layers"):
            m.update(_hocr_layer(tr, pages))
            batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
            m.update(_rules_vec_layer(tr, bench, tokens, batch_rows))
            with tr.span("pipeline.fused"):
                _noop(denoise_fused(docs, tokens, PARAMS))
            with tr.span("pipeline.hybrid"):
                _noop(denoise_hybrid(docs, bench.lexicon_df, tokens, PARAMS))
            with tr.span("pipeline.exploded"):
                _noop(denoise_exploded(chain_docs, bench.lexicon_df, PARAMS))
            m["pipeline.fused_s"] = (tr.seconds("pipeline.fused"), "s")
            m["pipeline.hybrid_s"] = (tr.seconds("pipeline.hybrid"), "s")
            m["pipeline.exploded_s"] = (tr.seconds("pipeline.exploded"), "s")
            # the job's own DataFrame to a noop sink: what the job costs
            # without bucketing, observation, per-group scans and manifest
            with tr.span("pipeline.job_noop"):
                job_df = bench.job_input()
                if bench.wl.variant == "hybrid":
                    _noop(denoise_hybrid(job_df, bench.lexicon_df, tokens, PARAMS))
                else:
                    _noop(denoise_fused(job_df, tokens, PARAMS))
            m.update(_lexicon_layer(tr, bench, tokens))
            m.update(_exploded_layer(tr, chain_docs, bench.lexicon_df, PARAMS))
        with tr.span("traced_jobs"):
            traced = [bench.run_job(f"perfbench-job-{i}") for i in range(2)]
        bench.check_jobs()
        m.update(_checkpoint_layer(tr, bench, traced, tr.seconds("pipeline.job_noop")))
        groups = [f"perfbench-job-{i}" for i in range(len(traced))]
    bench.stop_session()  # flushes the event log
    m.update(spark_metrics(log_dir, groups))
    untraced_s = statistics.median(j.seconds for j in untraced)
    traced_s = statistics.median(j.seconds for j in traced)
    m["trace.overhead_s"] = (traced_s - untraced_s, "s")
    trace_file = os.path.join(state_dir, "traces", f"{tr.run_id}.json")
    tr.dump(trace_file)
    metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}
    extra = {
        "untraced_job_samples_s": [j.seconds for j in untraced],
        "traced_job_samples_s": [j.seconds for j in traced],
        "trace_file": trace_file,
    }
    return metrics, extra
