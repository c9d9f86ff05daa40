"""Per-query isolation bench + plan capture (guide §1.1/§1.4/§7.2).

NOT the driver contract — bench.py is frozen for measurement. This
harness exists for the optimization loop: time individual registry
keys (noop sink, interleaved repeats so box noise spreads evenly
across keys), and dump ``explain("formatted")`` per key for the
plans/ evidence directory.

Usage:
    python bench_extra.py --keys tpch_q1 dedup_lines --reps 3
    python bench_extra.py --explain-dir plans/r08 --suffix _before
    python bench_extra.py --denoise --reps 3      # the three variants
    python bench_extra.py --dedup-job             # composed job
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CACHE_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures", "cache"
)


def _noop_write(df):
    df.write.format("noop").mode("overwrite").save()


def make_spark():
    """Same session shape as bench.py: shuffle partitions, and the split
    size calibrated by ``bench.calibrate_mpb`` to exactly two scan waves
    of the bench corpus."""
    from bench import calibrate_mpb
    from hocr_de_noising_spark.fixtures.spans import write_corpus
    from hocr_de_noising_spark.session import get_spark

    bench_dir = write_corpus(CACHE_DIR, "bench")
    spark = get_spark(
        "bench-extra",
        cores=CPUS,
        shuffle_partitions=max(CPUS * 2, 16),
        extra_conf={"spark.sql.files.openCostInBytes": "512k"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    calibrate_mpb(spark, os.path.join(bench_dir, "docs.parquet"), CPUS, waves=2)
    return spark, bench_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", nargs="*", default=None)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="")
    ap.add_argument("--denoise", action="store_true")
    ap.add_argument("--dedup-job", action="store_true")
    ap.add_argument("--hocr", action="store_true")
    ap.add_argument("--out", default=None, help="write samples JSON here")
    args = ap.parse_args()

    from hocr_de_noising_spark.queries import QUERIES

    spark, bench_dir = make_spark()
    sc = spark.sparkContext

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)
        keys = args.keys or list(QUERIES)
        import contextlib
        import io

        for name in keys:
            df = QUERIES[name]["fn"](spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(
                os.path.join(args.explain_dir, f"{name}{args.suffix}.txt"), "w"
            ) as f:
                f.write(buf.getvalue())
            print(f"explained {name}")
        spark.stop()
        return

    jobs: dict = {}
    if args.denoise:
        from hocr_de_noising_spark.operators.lexicon import lexicon_broadcast
        from hocr_de_noising_spark.operators.pipeline import (
            denoise_exploded,
            denoise_fused,
            denoise_hybrid,
        )

        docs = spark.read.parquet(os.path.join(bench_dir, "docs.parquet"))
        lexicon = spark.read.parquet(os.path.join(bench_dir, "lexicon.parquet"))
        lex = lexicon_broadcast(spark, lexicon)  # outside the timed regions: same work per leaf
        warm = docs.limit(max(CPUS * 200, 2000)).repartition(CPUS)
        _noop_write(denoise_fused(warm, lex))
        _noop_write(denoise_exploded(warm, lex))
        docs.count()
        jobs["denoise_hybrid"] = lambda: _noop_write(denoise_hybrid(docs, lex))
        jobs["denoise_fused"] = lambda: _noop_write(denoise_fused(docs, lex))
        jobs["denoise_exploded"] = lambda: _noop_write(denoise_exploded(docs, lex))
    if args.hocr:
        from hocr_de_noising_spark.fixtures.hocr import write_hocr_corpus
        from hocr_de_noising_spark.operators.hocr import parse_hocr, parse_hocr_auto

        hocr_dir = write_hocr_corpus(CACHE_DIR, 8_000)
        hocr_pages = spark.read.parquet(os.path.join(hocr_dir, "pages.parquet"))
        hocr_pages.count()
        hocr_warm = hocr_pages.limit(500)
        _noop_write(parse_hocr_auto(hocr_warm, triage="checkpoint"))
        _noop_write(parse_hocr(hocr_warm))
        jobs["hocr_ingest_jvm_auto"] = lambda: _noop_write(
            parse_hocr_auto(hocr_pages, triage="checkpoint")
        )
        jobs["hocr_ingest_python"] = lambda: _noop_write(parse_hocr(hocr_pages))
    if args.keys:
        for t in ("lineitem", "orders", "customer", "events", "documents",
                  "embeddings"):
            p = os.path.join(SF_DIR, f"{t}.parquet")
            if os.path.exists(p):
                spark.read.parquet(p).count()
        for name in args.keys:
            fn = QUERIES[name]["fn"]
            jobs[name] = (lambda f=fn: _noop_write(f(spark, SF_DIR)))
            jobs[name]()  # warmup rep (codegen + python workers)
    if args.dedup_job:
        from jobs.run_dedup import run_dedup_job

        stage_log: list = []

        def run_job():
            out = os.path.join(CACHE_DIR, "dedup_extra_out")
            counts = run_dedup_job(spark, SF_DIR, out)
            stage_log.append(counts["stage_secs"])

        jobs["dedup_job"] = run_job
        jobs["_stage_log"] = stage_log  # type: ignore[assignment]

    stage_log = jobs.pop("_stage_log", None)
    samples: dict[str, list[float]] = {k: [] for k in jobs}
    for rep in range(args.reps):
        for name, fn in jobs.items():
            sc.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            fn()
            samples[name].append(round(time.time() - t0, 3))
            sc.setJobDescription(None)
    summary = {
        k: {"samples": v, "min": min(v), "median": sorted(v)[len(v) // 2]}
        for k, v in samples.items()
    }
    if stage_log is not None:
        summary["dedup_job_stages"] = stage_log  # type: ignore[assignment]
    print(json.dumps(summary, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
