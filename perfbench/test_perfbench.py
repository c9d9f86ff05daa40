"""Self-test of the benchmark: a tiny run of every workload through the
real job with every check, and proof that the golden gate catches a
corrupted output document.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import inputs
from perfbench.checks import check_job
from perfbench.layers import Tracer
from perfbench.run import ROOT, Bench, end_to_end_metrics, shutdown_jvm

TINY = {
    "spans_giant": {"n_docs": 20, "n_giants": 1, "giant_spans": (50_100, 50_300)},
    "hocr_pages": {"n_docs": 12},
}


@pytest.fixture(scope="module")
def benches(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    out = {}
    for name in inputs.WORKLOADS:
        b = Bench(name, 7, str(tmp_path_factory.mktemp(name)), cores=4)
        b.wl = replace(b.wl, **TINY[name])
        b.generate()
        b.start_session()
        b.run_job()
        b.run_job()
        b.check_jobs()
        out[name] = b
    yield out
    next(iter(out.values())).stop_session()
    shutdown_jvm()


def test_every_workload_has_a_tiny_size():
    assert set(TINY) == set(inputs.WORKLOADS)


@pytest.mark.parametrize("name", sorted(inputs.WORKLOADS))
def test_tiny_run_passes_every_check(benches, name):
    b = benches[name]
    for job in b.jobs:
        assert job.error is None
        assert job.summary["groups_run"] == inputs.N_GROUPS
        assert job.summary["groups_skipped"] == 0
        assert job.check.errors == []
        assert job.check.golden_matched == job.check.golden_total == len(b.inp.golden)
        assert job.check.manifest_matched == job.check.manifest_total == inputs.PARAMS.n_buckets
        assert not job.failed
    if b.wl.n_giants:
        assert b.jobs[0].summary["giant_groups"] >= 1
    if b.wl.pages:  # malformed pages are part of the input and checked
        assert any(d.startswith("bad") for d in b.inp.golden)


def test_metrics_match_benchmark_json(benches):
    b = benches["hocr_pages"]
    m = end_to_end_metrics(b, 1.0, b.jobs[0], b.jobs[1:], peak_rss=2**30)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {e["name"]: e["unit"] for e in spec["end_to_end"]} == {
        k: v["unit"] for k, v in m.items()
    }
    assert {w["name"] for w in spec["workloads"]} == set(inputs.WORKLOADS)
    assert m["golden_match_rate"]["value"] == 1.0
    assert m["manifest_match_rate"]["value"] == 1.0
    assert m["ok_run_frac"]["value"] == 1.0


def _corrupt_one_document(job, copy: str, edit) -> None:
    """Copy ``job``'s output to ``copy`` and apply ``edit`` to the spans
    of the first written document with at least two spans."""
    shutil.copytree(job.out_dir, copy)
    for path in sorted(glob.glob(os.path.join(copy, "bucket=*", "*.parquet"))):
        tbl = pq.read_table(path)
        rows = tbl.to_pylist()
        victim = next((r for r in rows if r["spans"] and len(r["spans"]) > 1), None)
        if victim is not None:
            victim["spans"] = edit(victim["spans"])
            pq.write_table(pa.Table.from_pylist(rows, schema=tbl.schema), path)
            return
    pytest.fail("no written document with two spans to corrupt")


def test_dropped_span_fails_the_golden_gate(benches, tmp_path):
    b = benches["hocr_pages"]
    job = b.jobs[-1]
    copy = str(tmp_path / "out")
    _corrupt_one_document(job, copy, lambda spans: spans[:-1])

    bad = check_job(copy, job.manifest_dir, job.run_id, b.inp.golden, b.inp.spans_in,
                    b.bucket_of, inputs.PARAMS.n_buckets)
    assert bad.golden_matched == bad.golden_total - 1
    assert bad.manifest_matched == bad.manifest_total - 1  # its bucket's span count
    assert not bad.ok
    corrupted = replace(job, out_dir=copy, check=bad)
    assert corrupted.failed
    m = end_to_end_metrics(b, 1.0, b.jobs[0], [corrupted], peak_rss=1)
    assert m["golden_match_rate"]["value"] < 1.0
    assert m["ok_run_frac"]["value"] < 1.0


def test_swapped_spans_fail_the_golden_gate(benches, tmp_path):
    """Array order is the output contract, even when the offsets agree."""
    b = benches["spans_giant"]
    job = b.jobs[-1]
    copy = str(tmp_path / "out")
    _corrupt_one_document(job, copy, lambda spans: [spans[1], spans[0], *spans[2:]])

    bad = check_job(copy, job.manifest_dir, job.run_id, b.inp.golden, b.inp.spans_in,
                    b.bucket_of, inputs.PARAMS.n_buckets)
    assert bad.golden_matched == bad.golden_total - 1
    assert bad.manifest_matched == bad.manifest_total  # the counts still agree
    assert not bad.ok
    assert replace(job, out_dir=copy, check=bad).failed


def test_self_time_subtracts_covered_child_time():
    tr = Tracer("t")
    tr.spans = [
        {"id": 0, "name": "root", "parent": None, "run_id": "t", "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "run_id": "t", "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "run_id": "t", "start": 3.0, "end": 5.0},
        {"id": 3, "name": "c", "parent": 1, "run_id": "t", "start": 1.5, "end": 2.0},
    ]
    assert tr.self_seconds(tr.spans[0]) == pytest.approx(6.0)
    assert tr.self_seconds(tr.spans[1]) == pytest.approx(2.5)
    assert tr.seconds("b") == pytest.approx(2.0)


def test_traced_run_reports_every_per_layer_metric(benches, tmp_path):
    """Last: the traced run restarts the session with the event log on."""
    from perfbench.layers import traced_run

    b = benches["hocr_pages"]
    metrics, extra = traced_run(b, str(tmp_path), time.perf_counter())
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {e["name"]: e["unit"] for e in spec["per_layer"]} == {
        k: v["unit"] for k, v in metrics.items()
    }
    assert metrics["hocr.words"]["value"] == sum(b.inp.spans_in.values())
    assert metrics["checkpoint.groups_run"]["value"] == inputs.N_GROUPS
    assert metrics["spark.jobs"]["value"] > 0
    assert metrics["spark.python_bytes_sent"]["value"] > 0
    assert not any(j.failed for j in b.jobs)
    assert os.path.exists(extra["trace_file"])
