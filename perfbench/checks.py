"""Correctness gates of one job, computed outside the timed region.

Two checks, neither sampled: every input document's output spans
against its ``rules_np`` golden, and every bucket's manifest ``done``
row against counts recomputed from the input and the written output.
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from hocr_de_noising_spark.fixtures.spans import DOCS_SCHEMA

_ABSENT = object()


@dataclass
class JobCheck:
    golden_matched: int
    golden_total: int
    manifest_matched: int
    manifest_total: int
    unmetered: int  # done rows with zero counts for a non-empty bucket
    commits_us: list[int]  # distinct committed_at values, ascending
    errors: list[str]

    @property
    def ok(self) -> bool:
        return (
            not self.errors
            and self.golden_matched == self.golden_total
            and self.manifest_matched == self.manifest_total
        )


SPAN_FIELDS = ("kind", "text", "media_ref", "offset")


def _per_doc(out: pa.Table) -> dict[str, tuple]:
    """Each written document's spans in array order, the order
    ``rules_np.denoise_doc`` numbers its offsets by."""
    return {
        doc_id: tuple(tuple(s[f] for f in SPAN_FIELDS) for s in spans or ())
        for doc_id, spans in zip(out.column("doc_id").to_pylist(), out.column("spans").to_pylist())
    }


def check_job(
    out_dir: str,
    manifest_dir: str,
    run_id: str,
    golden: dict[str, tuple | None],
    spans_in: dict[str, int],
    bucket_of: dict[str, int],
    n_buckets: int,
) -> JobCheck:
    """Compare one job's output and manifest with the goldens and a recount.

    ``golden`` covers every input document (``None``: no row expected);
    ``spans_in`` and ``bucket_of`` cover the documents the job itself
    receives."""
    errors: list[str] = []
    if os.path.isdir(out_dir):
        out = pq.read_table(out_dir, columns=["doc_id", "spans", "bucket"])
    else:
        out = pa.table({"doc_id": pa.array([], pa.string()),
                        "spans": pa.array([], DOCS_SCHEMA.field("spans").type),
                        "bucket": pa.array([], pa.int32())})
        errors.append("no output written")
    ids = Counter(out.column("doc_id").to_pylist())
    id_set = set(ids)
    dups = {d for d, n in ids.items() if n > 1}
    if dups:
        errors.append(f"{len(dups)} doc_ids written more than once")
    extra = id_set - golden.keys()
    if extra:
        errors.append(f"{len(extra)} output doc_ids not in the input")
    got = _per_doc(out)
    docs = golden.keys() | id_set
    total = len(docs)
    matched = sum(1 for d in docs if d not in dups and golden.get(d, _ABSENT) == got.get(d))
    lengths = pc.list_value_length(out.column("spans").combine_chunks()).fill_null(0)
    spans_out = Counter()
    for b, n in zip(out.column("bucket").to_pylist(), lengths.to_pylist()):
        spans_out[int(b)] += n

    want_docs: Counter = Counter()
    want_in: Counter = Counter()
    for d, n in spans_in.items():
        want_docs[bucket_of[d]] += 1
        want_in[bucket_of[d]] += n

    done: dict[int, list[tuple]] = defaultdict(list)
    commits: set[int] = set()
    if os.path.isdir(manifest_dir):
        m = pq.read_table(manifest_dir)
        for r in m.to_pylist():
            if r["run_id"] != run_id or r["status"] != "done":
                continue
            done[r["bucket"]].append((r["n_docs"], r["n_spans_in"], r["n_spans_out"]))
        ts = m.column("committed_at").cast("int64").to_pylist()
        commits = {t for t, rid in zip(ts, m.column("run_id").to_pylist()) if rid == run_id}
    manifest_matched = unmetered = 0
    for b in range(n_buckets):
        want = (want_docs[b], want_in[b], spans_out[b])
        rows = done.get(b, [])
        if rows == [want]:
            manifest_matched += 1
        if any(r == (0, 0, 0) for r in rows) and want != (0, 0, 0):
            unmetered += 1
    return JobCheck(
        matched, total, manifest_matched, n_buckets, unmetered, sorted(commits), errors
    )
