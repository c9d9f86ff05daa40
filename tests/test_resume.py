"""S5/S7 — resumable manifest job: kill, restart, identical output
(SURVEY.md §5.5; BASELINE.md resume-overhead target).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hocr_de_noising_spark.checkpoint import MANIFEST_SCHEMA, ManifestCheckpoint, run_denoise_job
from hocr_de_noising_spark.params import Params, params_hash
from hocr_de_noising_spark.stage_manifest import STAGE_SCHEMA, StageManifest


@pytest.fixture()
def loaded(spark, unit_dir):
    docs = spark.read.parquet(os.path.join(unit_dir, "docs.parquet"))
    lexicon = spark.read.parquet(os.path.join(unit_dir, "lexicon.parquet"))
    golden = spark.read.parquet(os.path.join(unit_dir, "golden.parquet"))
    return docs, lexicon, golden


def _read_all(spark, out_dir):
    return spark.read.parquet(out_dir).drop("bucket", "group")


def test_job_writes_manifest_and_matches_golden(spark, loaded, tmp_path):
    docs, lexicon, golden = loaded
    p = Params(n_buckets=16)
    summary = run_denoise_job(
        spark, docs, lexicon, str(tmp_path / "out"), str(tmp_path / "m"),
        params=p, run_id="r1", n_groups=4,
        input_lineage="tests/fixtures/cache/unit/docs.parquet",
    )
    assert summary["groups_run"] == 4
    out = _read_all(spark, str(tmp_path / "out"))
    j = out.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0

    rows = ManifestCheckpoint(str(tmp_path / "m")).read()
    assert len(rows) == 16  # one row per bucket
    assert all(r["status"] == "done" and r["params_hash"] == params_hash(p) for r in rows)
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert all(r["n_noise_dropped"] == r["n_spans_in"] - r["n_spans_out"] for r in rows)
    rates = [r["denoise_rate"] for r in rows if r["n_spans_in"]]
    assert all(0.0 <= x <= 1.0 for x in rates) and any(x > 0 for x in rates)


def test_kill_and_resume_skips_done_buckets(spark, loaded, tmp_path):
    docs, lexicon, golden = loaded
    p = Params(n_buckets=16)
    out_dir, m_dir = str(tmp_path / "out"), str(tmp_path / "m")

    with pytest.raises(RuntimeError, match="injected failure"):
        run_denoise_job(
            spark, docs, lexicon, out_dir, m_dir,
            params=p, run_id="r1", n_groups=4, fail_after_group=1,
        )
    done_before = ManifestCheckpoint(m_dir).completed_buckets(spark, "r1", params_hash(p))
    assert 0 < len(done_before) < 16

    summary = run_denoise_job(
        spark, docs, lexicon, out_dir, m_dir, params=p, run_id="r1", n_groups=4
    )
    assert summary["groups_skipped"] == 2  # groups 0 and 1 committed pre-crash
    assert summary["groups_run"] == 2

    out = _read_all(spark, out_dir)
    j = out.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0


def test_params_change_invalidates_resume(spark, loaded, tmp_path):
    docs, lexicon, _ = loaded
    out_dir, m_dir = str(tmp_path / "out"), str(tmp_path / "m")
    p1 = Params(n_buckets=16)
    run_denoise_job(spark, docs, lexicon, out_dir, m_dir, params=p1, run_id="r1", n_groups=4)
    # different params hash → nothing is considered done
    p2 = Params(n_buckets=16, tau_wconf=50)
    done = ManifestCheckpoint(m_dir).completed_buckets(spark, "r1", params_hash(p2))
    assert done == set()


def test_resume_is_scoped_to_input_lineage(spark, loaded, tmp_path):
    """A run id reused over a different input, sharing the manifest,
    must not skip buckets that only the first input committed."""
    docs, lexicon, golden = loaded
    p = Params(n_buckets=16)
    m_dir = str(tmp_path / "m")
    first, second = docs.filter("doc_id < 'd00000098'"), docs.filter("doc_id >= 'd00000098'")
    run_denoise_job(spark, first, lexicon, str(tmp_path / "out_a"), m_dir,
                    params=p, run_id="r1", n_groups=4, input_lineage="A")
    summary = run_denoise_job(spark, second, lexicon, str(tmp_path / "out_b"), m_dir,
                              params=p, run_id="r1", n_groups=4, input_lineage="B")
    assert summary["groups_skipped"] == 0 and summary["groups_run"] == 4
    assert summary["n_docs"] == second.count() == 102
    out = _read_all(spark, str(tmp_path / "out_b"))
    ref = golden.join(second.select("doc_id"), "doc_id")
    j = out.alias("o").join(ref.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0
    # the unscoped three-argument read still sees every bucket of the run
    done = ManifestCheckpoint(m_dir).completed_buckets(spark, "r1", params_hash(p))
    assert done == set(range(16))


@pytest.mark.parametrize("n_groups", [0, 17])
def test_job_rejects_out_of_range_group_count(spark, loaded, tmp_path, n_groups):
    """0 groups would run nothing; more groups than buckets would report
    empty groups as skipped. Both are refused before any Spark work."""
    docs, lexicon, _ = loaded
    with pytest.raises(ValueError, match="n_groups"):
        run_denoise_job(spark, docs, lexicon, str(tmp_path / "out"), str(tmp_path / "m"),
                        params=Params(n_buckets=16), run_id="r1", n_groups=n_groups)
    assert not os.path.exists(tmp_path / "m") and not os.path.exists(tmp_path / "out")


_NOW = 1_700_000_000_000_000
_BINDINGS = {
    "bucket": (
        ManifestCheckpoint, MANIFEST_SCHEMA, "commit",
        {"run_id": "r1", "bucket": 3, "n_docs": 2, "n_spans_in": 9, "n_spans_out": 7,
         "n_noise_dropped": 2, "denoise_rate": 2 / 9, "input_lineage": "", "params_hash": "h",
         "status": "done", "committed_at": _NOW},
        lambda m: m.completed_buckets(None, "r1", "h"), {3},
    ),
    "stage": (
        StageManifest, STAGE_SCHEMA, "stage",
        {"run_id": "r1", "job": "dedup", "stage": "exact", "n_rows": 5, "secs": 1.5,
         "params_hash": "h", "status": "done", "committed_at": _NOW},
        lambda m: m.completed("r1", "dedup", "h"), {"exact"},
    ),
}


@pytest.mark.parametrize("binding", sorted(_BINDINGS))
def test_commit_log_reads_existing_layout_and_skips_torn_temp(tmp_path, binding):
    """Both manifests share one commit log. A directory written in the
    established layout (``<prefix>-<micros>-<hex8>.parquet``, same
    schema) resumes, and a truncated ``.tmp-*`` file left by a crash
    mid-append is invisible to the reader and to resume."""
    cls, schema, prefix, row, resume, expect = _BINDINGS[binding]
    d = tmp_path / "m"
    d.mkdir()
    table = pa.Table.from_pydict({k: [v] for k, v in row.items()}, schema=schema)
    pq.write_table(table, d / f"{prefix}-{_NOW}-0123abcd.parquet")
    whole = pa.BufferOutputStream()
    pq.write_table(table, whole)
    torn = whole.getvalue().to_pybytes()
    (d / f".tmp-{'0' * 32}.parquet").write_bytes(torn[: len(torn) // 2])

    m = cls(str(d))
    assert resume(m) == expect
    assert m.read() == table.to_pylist()
    m.append_rows([{**row, "run_id": "r2"}])
    assert sorted(r["run_id"] for r in m.read()) == ["r1", "r2"]
    assert resume(m) == expect
    names = sorted(os.listdir(d))
    assert len(names) == 3 and names[0].startswith(".tmp-")
    assert all(n.startswith(f"{prefix}-") for n in names[1:])


def test_sparse_input_empty_groups_do_not_crash(spark, loaded, tmp_path):
    """ADVICE r1: a bucket group with zero docs used to crash the
    metrics read-back (UNABLE_TO_INFER_SCHEMA). With observe-based
    metrics the group commits zero rows instead."""
    docs, lexicon, _ = loaded
    one = docs.limit(1)
    p = Params(n_buckets=16)
    summary = run_denoise_job(
        spark, one, lexicon, str(tmp_path / "out"), str(tmp_path / "m"),
        params=p, run_id="r1", n_groups=4,
    )
    assert summary["groups_run"] == 4 and summary["n_docs"] == 1
    m = ManifestCheckpoint(str(tmp_path / "m")).read()
    assert len(m) == 16
    assert sum(r["n_docs"] for r in m) == 1
    assert all(r["n_spans_out"] <= r["n_spans_in"] for r in m)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1


def test_regroup_resume_is_idempotent(spark, loaded, tmp_path):
    """ADVICE r1: output is keyed by bucket only, so resuming the same
    run with a DIFFERENT n_groups must not leave stale duplicates."""
    docs, lexicon, golden = loaded
    p = Params(n_buckets=16)
    out_dir, m_dir = str(tmp_path / "out"), str(tmp_path / "m")
    run_denoise_job(spark, docs, lexicon, out_dir, m_dir, params=p,
                    run_id="r1", n_groups=4)
    # same lineage, different grouping: all buckets done → all skipped
    s2 = run_denoise_job(spark, docs, lexicon, out_dir, m_dir, params=p,
                         run_id="r1", n_groups=2)
    assert s2["groups_skipped"] == 2 and s2["groups_run"] == 0
    # force re-run under the new grouping (fresh run id): buckets are
    # dynamically overwritten in place, never duplicated
    run_denoise_job(spark, docs, lexicon, out_dir, m_dir, params=p,
                    run_id="r2", n_groups=2)
    out = _read_all(spark, out_dir)
    assert out.count() == docs.count()
    assert out.groupBy("doc_id").count().filter("count > 1").count() == 0
    j = out.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0


def test_partial_group_resume_appends_no_duplicate_rows(spark, loaded, tmp_path):
    """ADVICE r2: resuming with a DIFFERENT n_groups used to re-run a
    group's already-committed buckets and append duplicate 'done' rows
    — manifest consumers summing n_docs would double-count. Now only
    pending buckets are processed and committed."""
    docs, lexicon, _ = loaded
    p = Params(n_buckets=16)
    out_dir, m_dir = str(tmp_path / "out"), str(tmp_path / "m")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_denoise_job(spark, docs, lexicon, out_dir, m_dir, params=p,
                        run_id="r1", n_groups=4, fail_after_group=1)
    done = ManifestCheckpoint(m_dir).completed_buckets(spark, "r1", params_hash(p))
    assert len(done) == 8  # groups 0 and 1 of 4
    # resume with n_groups=2: BOTH new groups contain a mix of
    # committed and pending buckets
    run_denoise_job(spark, docs, lexicon, out_dir, m_dir, params=p,
                    run_id="r1", n_groups=2)
    m = ManifestCheckpoint(m_dir).read()
    assert len(m) == 16  # exactly one row per bucket — no duplicates
    assert len({r["bucket"] for r in m}) == 16
    assert sum(r["n_docs"] for r in m) == docs.count()


def test_hybrid_probe_skips_exploded_branch_without_giants(spark, loaded, tmp_path):
    """VERDICT r2 item 1: hybrid probes job-level for giant-bearing
    groups; a giant-free corpus plans zero exploded branches and the
    output still matches the golden."""
    docs, lexicon, golden = loaded
    p = Params(n_buckets=16)
    summary = run_denoise_job(
        spark, docs, lexicon, str(tmp_path / "out"), str(tmp_path / "m"),
        params=p, run_id="r1", n_groups=4, variant="hybrid",
    )
    assert summary["giant_groups"] == 0 and summary["groups_run"] == 4
    out = _read_all(spark, str(tmp_path / "out"))
    j = out.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0


def test_hybrid_probe_routes_giant_groups(spark, loaded, tmp_path):
    """With a low giant threshold the probe finds giant-bearing groups
    and the hybrid output equals the pure-fused output byte-for-byte."""
    from hocr_de_noising_spark.operators.pipeline import denoise_fused

    docs, lexicon, _ = loaded
    lex_tokens = [r.token for r in lexicon.select("token").distinct().collect()]
    p = Params(n_buckets=16, max_spans_per_doc=30)
    summary = run_denoise_job(
        spark, docs, lexicon, str(tmp_path / "out"), str(tmp_path / "m"),
        params=p, run_id="r1", n_groups=4, variant="hybrid",
    )
    assert 1 <= summary["giant_groups"] <= 4
    out = _read_all(spark, str(tmp_path / "out"))
    ref = denoise_fused(docs, lex_tokens, p)
    j = out.alias("o").join(ref.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0


def test_hybrid_job_resolves_lexicon_once(spark, loaded, tmp_path, monkeypatch):
    """A hybrid job whose groups hold giants resolves (collects and
    broadcasts) the lexicon once for the whole job: both branches of
    every giant group get the job's handle instead of reading the table
    again."""
    from pyspark import SparkContext
    from pyspark.broadcast import Broadcast

    import hocr_de_noising_spark.checkpoint as checkpoint
    import hocr_de_noising_spark.operators.lexicon as lexicon_mod
    import hocr_de_noising_spark.operators.pipeline as pipeline

    docs, lexicon, golden = loaded
    real_resolve, real_broadcast = lexicon_mod.lexicon_broadcast, SparkContext.broadcast
    calls, broadcasts = [], []

    def resolve(spark_, lex):
        bc = real_resolve(spark_, lex)
        calls.append((lex, bc))
        return bc

    def broadcast(self, value):
        broadcasts.append(value)
        return real_broadcast(self, value)

    for mod in (checkpoint, lexicon_mod, pipeline):
        monkeypatch.setattr(mod, "lexicon_broadcast", resolve)
    monkeypatch.setattr(SparkContext, "broadcast", broadcast)
    p = Params(n_buckets=16, max_spans_per_doc=30)
    summary = run_denoise_job(
        spark, docs, lexicon, str(tmp_path / "out"), str(tmp_path / "m"),
        params=p, run_id="r1", n_groups=4, variant="hybrid",
    )
    assert summary["giant_groups"] >= 1
    raw = [lex for lex, _ in calls if not isinstance(lex, Broadcast)]
    assert len(raw) == 1 and raw[0] is lexicon  # the job's own resolve
    assert len({id(bc) for _, bc in calls}) == 1  # one handle for every branch
    assert len(calls) > 1 and len(broadcasts) == 1
    out = _read_all(spark, str(tmp_path / "out"))
    j = out.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0


def test_mismatched_bucket_column_is_recomputed(spark, loaded, tmp_path):
    """ADVICE r2: a pre-existing bucket column bucketed under a
    different scheme must not be trusted — the job probes a sample and
    recomputes, so no bucket directory is overwritten with another
    bucket's rows and no docs are lost."""
    docs, lexicon, golden = loaded
    p = Params(n_buckets=16)
    wrong = docs.withColumn("bucket", F.lit(0))  # all docs claim bucket 0
    summary = run_denoise_job(
        spark, wrong, lexicon, str(tmp_path / "out"), str(tmp_path / "m"),
        params=p, run_id="r1", n_groups=4,
    )
    assert summary["groups_run"] == 4
    out = _read_all(spark, str(tmp_path / "out"))
    assert out.count() == docs.count()
    j = out.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0
    m = ManifestCheckpoint(str(tmp_path / "m")).read()
    assert sum(r["n_docs"] for r in m) == docs.count()
    assert len({r["bucket"] for r in m if r["n_docs"] > 0}) > 1


def test_bucketed_input_prunes_at_scan(spark, loaded, tmp_path):
    """Input bucketed at rest (bucket partition column) → the per-group
    filter reaches the parquet scan as a PartitionFilter instead of
    rescanning the full corpus once per group."""
    from hocr_de_noising_spark.checkpoint import bucket_col

    docs, lexicon, golden = loaded
    p = Params(n_buckets=16)
    at_rest = str(tmp_path / "bucketed")
    docs.withColumn("bucket", bucket_col("doc_id", p)).write.partitionBy(
        "bucket"
    ).parquet(at_rest)
    bucketed = spark.read.parquet(at_rest)

    part = bucketed.filter(F.col("bucket") % 4 == 1)
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "% 4" in plan

    summary = run_denoise_job(
        spark, bucketed, lexicon, str(tmp_path / "out"), str(tmp_path / "m"),
        params=p, run_id="r1", n_groups=4,
    )
    assert summary["groups_run"] == 4
    out = _read_all(spark, str(tmp_path / "out"))
    j = out.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0


def test_observation_timeout_fails_group_without_done_rows(spark, loaded, tmp_path, monkeypatch):
    """A df.observe read that times out must not commit 'done' rows
    with zero counts: the job fails that group, leaves its buckets
    uncommitted, and a resume re-runs it to the golden output."""
    import hocr_de_noising_spark.checkpoint as checkpoint

    docs, lexicon, golden = loaded
    p = Params(n_buckets=16)
    out_dir, m_dir = str(tmp_path / "out"), str(tmp_path / "m")
    real = checkpoint.observation_metrics
    calls = []

    def times_out_after_group_0(o, timeout_s=10.0):
        # fused: one input and one output observation per group, so
        # calls 1-2 are group 0's and call 3 is group 1's first read
        calls.append(o)
        return real(o, timeout_s) if len(calls) <= 2 else None

    monkeypatch.setattr(checkpoint, "observation_metrics", times_out_after_group_0)
    with pytest.raises(RuntimeError, match="group 1: df.observe metrics not delivered"):
        run_denoise_job(spark, docs, lexicon, out_dir, m_dir, params=p,
                        run_id="r1", n_groups=4)
    rows = ManifestCheckpoint(m_dir).read()
    assert sorted(r["bucket"] for r in rows) == [0, 4, 8, 12]  # group 0 only
    assert all(r["status"] == "done" for r in rows)

    monkeypatch.setattr(checkpoint, "observation_metrics", real)
    summary = run_denoise_job(spark, docs, lexicon, out_dir, m_dir, params=p,
                              run_id="r1", n_groups=4)
    assert summary["groups_skipped"] == 1 and summary["groups_run"] == 3
    m = ManifestCheckpoint(m_dir).read()
    assert len(m) == 16 and sum(r["n_docs"] for r in m) == docs.count()
    out = _read_all(spark, out_dir)
    j = out.alias("o").join(golden.alias("g"), "doc_id", "full_outer")
    assert j.filter(~F.col("o.spans").eqNullSafe(F.col("g.spans"))).count() == 0
