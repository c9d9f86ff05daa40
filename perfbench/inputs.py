"""Seeded workload inputs and their oracle goldens.

Every input is a pure function of ``--seed``: document ``i`` draws from
``np.random.default_rng([seed, i])``, so a process pool can build the
corpus in any order and still produce the same bytes. Goldens come from
the frozen oracle ``rules_np.denoise_doc``, never from the Spark job.

For ``hocr_pages`` the golden input of a well-formed page is built from
the generator's ground-truth word records through the
``token;bbox …;x_wconf …;line …;col …`` payload. The generator's
malformed pages carry no ground truth, so ``MALFORMED_PAGES`` pairs each
of them with the words written out here by hand, independent of the
program's parser; a page with none must yield no output row.
"""

from __future__ import annotations

import gc
import multiprocessing
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from hocr_de_noising_spark.fixtures.hocr import gen_hocr_page
from hocr_de_noising_spark.fixtures.lexicon import gen_lexicon
from hocr_de_noising_spark.fixtures.spans import DOCS_SCHEMA, gen_doc, payload
from hocr_de_noising_spark.params import Params
from hocr_de_noising_spark.rules_np import Lexicon, denoise_doc

# The job's parameters: the frozen rule with a bucket count sized to the
# benchmark's inputs (production runs 256 buckets over far larger
# corpora). At these sizes some of the 64 buckets stay empty, so the
# manifest check also covers zero-count rows that must stay zero.
PARAMS = Params(n_buckets=64)
N_GROUPS = 3
LEXICON_SIZE = 5000
# Tesseract-scale pages: 1-2 column areas x 14-21 lines x 6-10 words,
# about 200 words per page.
PAGE_SHAPE = {"lines_rng": (14, 22), "words_rng": (6, 11)}

# The generator's malformed pages (``fixtures.hocr.MALFORMED``), kept here
# so that the inputs and their goldens do not move with the program, each
# with the words a tolerant parse must recover from it.
MALFORMED_PAGES = [
    # unclosed word span: its one word, outside any line or column area
    ('<html><body><div class="ocr_page"><span class="ocrx_word" '
     'title="bbox 1 2 3 4; x_wconf 50">oops</body></html>',
     [{"token": "oops", "x0": 1, "y0": 2, "x1": 3, "y1": 4, "wconf": 50,
       "line_id": 0, "carea_id": 0, "order": 0}]),
    # a bbox of three numbers is no word
    ('<html><body><div class="ocr_page"><span class="ocrx_word" '
     'title="bbox 1 2 3">&broken</span></div></body></html>',
     []),
    # empty page
    ("", []),
]


@dataclass(frozen=True)
class Workload:
    name: str
    variant: str
    n_docs: int  # normal span documents, or well-formed pages
    n_giants: int = 0
    giant_spans: tuple[int, int] = (0, 0)
    pages: bool = False


WORKLOADS = {
    "spans_giant": Workload(
        "spans_giant", "hybrid", n_docs=400, n_giants=1, giant_spans=(60_000, 60_000)
    ),
    "hocr_pages": Workload("hocr_pages", "fused", n_docs=200, pages=True),
}


@dataclass
class Inputs:
    """Files the program reads, plus what the checks compare against."""

    workload: Workload
    source_path: str  # span docs or raw pages: what the job reads
    spans_path: str  # span docs the denoise layers see (== source for spans)
    lexicon_path: str
    tokens: list[str]
    # job-level doc_id -> golden spans as (kind, text, media_ref, offset)
    # tuples; None = the job must emit no row for this input document
    golden: dict[str, tuple | None]
    spans_in: dict[str, int]  # job-level doc_id -> input span count
    props: dict = field(default_factory=dict)


_WORKER: dict = {}


def _init_worker(tokens: list[str]) -> None:
    _WORKER["tokens"] = tokens
    _WORKER["lexicon"] = Lexicon(tokens)


def _golden(spans: list[dict]) -> tuple:
    out = denoise_doc(spans, PARAMS, _WORKER["lexicon"])
    return tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in out)


def _span_doc(task: tuple) -> tuple:
    seed, i, giant_range = task
    rng = np.random.default_rng([seed, i])
    if giant_range:
        doc_id = f"g{i:04d}"
        n_spans = int(rng.integers(giant_range[0], giant_range[1] + 1))
    else:
        doc_id = f"d{i:07d}"
        n_spans = int(np.clip(np.round(rng.lognormal(3.0, 0.8)), 1, 400))
    spans, _ = gen_doc(doc_id, n_spans, rng, _WORKER["tokens"])
    return doc_id, spans, _golden(spans)


def words_to_spans(words: list[dict]) -> list[dict]:
    """The payload spans ``operators.hocr.hocr_words_to_spans`` defines:
    one text span per word in page order, ``concat_ws`` skipping a
    missing confidence."""
    spans = []
    for w in sorted(words, key=lambda w: w["order"]):
        if w["wconf"] is None:
            text = ";".join(
                [w["token"], f"bbox {w['x0']} {w['y0']} {w['x1']} {w['y1']}",
                 f"line {w['line_id']}", f"col {w['carea_id']}"]
            )
        else:
            text = payload(w["token"], w["x0"], w["y0"], w["x1"], w["y1"],
                           w["wconf"], w["line_id"], w["carea_id"])
        spans.append({"kind": "text", "text": text, "media_ref": None, "offset": w["order"]})
    return spans


def _page(task: tuple) -> tuple:
    seed, i = task
    if i < 0:  # malformed page -i-1
        doc_id = f"bad{-i - 1:03d}"
        xml, words = MALFORMED_PAGES[-i - 1]
    else:
        doc_id = f"p{i:06d}"
        xml, words = gen_hocr_page(doc_id, np.random.default_rng([seed, i]), _WORKER["tokens"], **PAGE_SHAPE)
    spans = words_to_spans(words)
    return doc_id, xml, spans, _golden(spans) if spans else None


def _write_parts(table: pa.Table, dir_path: str, n_parts: int, row_group_size: int, prefix: str) -> None:
    """Split ``table`` into ``n_parts`` files so the scan runs at least
    one task per core."""
    os.makedirs(dir_path, exist_ok=True)
    step = max(1, -(-table.num_rows // n_parts))
    for k, start in enumerate(range(0, table.num_rows, step)):
        pq.write_table(
            table.slice(start, step),
            os.path.join(dir_path, f"{prefix}-{k:03d}.parquet"),
            row_group_size=row_group_size,
        )


def _generate(wl: Workload, seed: int, tokens: list[str], procs: int) -> list[tuple]:
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs, initializer=_init_worker, initargs=(tokens,)) as pool:
        if wl.pages:
            tasks = [(seed, i) for i in range(wl.n_docs)]
            tasks += [(seed, -j - 1) for j in range(len(MALFORMED_PAGES))]
            rows = pool.map(_page, tasks, chunksize=8)
        else:
            # one giant per task, so giants build in parallel
            giants = pool.map_async(
                _span_doc, [(seed, i, wl.giant_spans) for i in range(wl.n_giants)], chunksize=1
            )
            rows = pool.map(_span_doc, [(seed, i, None) for i in range(wl.n_docs)], chunksize=16)
            rows = giants.get() + rows
        pool.close()
        pool.join()
    return rows


def build(wl: Workload, seed: int, out_dir: str, procs: int) -> Inputs:
    """Generate ``wl`` from ``seed`` into ``out_dir`` with ``procs``
    generator processes; return the input paths and the goldens."""
    lexicon = gen_lexicon(LEXICON_SIZE, seed=seed)
    tokens = [t for t, _ in lexicon]
    os.makedirs(out_dir, exist_ok=True)
    lexicon_path = os.path.join(out_dir, "lexicon.parquet")
    pq.write_table(
        pa.table({"token": tokens, "freq": pa.array([f for _, f in lexicon], pa.int32())}),
        lexicon_path,
    )

    rows = _generate(wl, seed, tokens, procs)
    # spawn started a semaphore tracker process: once the pool's
    # semaphores are released, stop it so no process outlives the run
    gc.collect()
    from multiprocessing import resource_tracker

    getattr(resource_tracker._resource_tracker, "_stop", lambda: None)()

    spans_path = os.path.join(out_dir, "spans.parquet")
    if wl.pages:
        source_path = os.path.join(out_dir, "pages.parquet")
        pages = pa.table({"doc_id": [r[0] for r in rows], "hocr": [r[1] for r in rows]})
        _write_parts(pages, source_path, procs, 32, "pages")
        docs = [(r[0], r[2], r[3]) for r in rows if r[2]]
        golden = {r[0]: r[3] for r in rows}
    else:
        source_path = spans_path
        docs = rows
        golden = {r[0]: r[2] for r in rows}
    giants = docs[: wl.n_giants]
    normal = docs[wl.n_giants :]
    for part, rg, prefix in ((giants, 1, "giant"), (normal, 128, "docs")):
        if part:
            tbl = pa.Table.from_pydict(
                {"doc_id": [d[0] for d in part], "spans": [d[1] for d in part]}, schema=DOCS_SCHEMA
            )
            # each giant is its own file and row group, so its own scan task
            _write_parts(tbl, spans_path, len(part) if rg == 1 else procs, rg, prefix)

    spans_in = {d[0]: len(d[1]) for d in docs}
    n_spans = sum(spans_in.values())
    props = {
        "variant": wl.variant,
        "docs": len(golden),
        "spans": n_spans,
        "giants": wl.n_giants,
        "largest_doc_spans": max(spans_in.values()),
        "text_span_share": round(
            sum(1 for d in docs for s in d[1] if s["kind"] == "text") / n_spans, 4
        ),
        "lexicon_size": len(tokens),
        "n_buckets": PARAMS.n_buckets,
        "n_groups": N_GROUPS,
    }
    if wl.pages:
        props["pages"] = len(golden)
        props["malformed_share"] = round(len(MALFORMED_PAGES) / len(golden), 4)
        props["entity_word_share"] = round(
            sum(1 for d in docs for s in d[1] if s["text"].split(";", 1)[0].endswith(("&", ">")))
            / n_spans,
            4,
        )
    return Inputs(wl, source_path, spans_path, lexicon_path, tokens, golden, spans_in, props)
