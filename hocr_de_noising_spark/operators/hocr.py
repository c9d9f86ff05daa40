"""X1 (full path) — tolerant hOCR XHTML tokenization (SURVEY.md §2.3).

Parses raw Tesseract hOCR pages (public hocr-spec 1.x) into one record
per ocrx_word with full ancestry (carea/par/line), geometry, confidence
and line metrics. Runs as an Arrow-batched ``mapInPandas`` stage using
stdlib ``html.parser`` (tolerant: malformed pages yield 0 words, never
a crash — no lxml in this environment, SURVEY.md §7.4).

``hocr_words_to_spans`` bridges parsed words into the flat span payload
format, so a raw-hOCR corpus feeds the main de-noising pipeline.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hocr_de_noising_spark.hof import let

WORDS_SCHEMA = (
    "doc_id string, carea_id int, par_id int, line_id int, word_id int, "
    "order int, token string, x0 int, y0 int, x1 int, y1 int, wconf int, "
    "baseline_a double, baseline_b double, x_size double"
)


def _parse_title(title: str) -> dict:
    """hOCR title attribute: semicolon-separated key/value groups."""
    out: dict = {}
    for part in (title or "").split(";"):
        fields = part.strip().split()
        if not fields:
            continue
        key, vals = fields[0], fields[1:]
        if key == "bbox" and len(vals) == 4:
            try:
                out["bbox"] = tuple(int(v) for v in vals)
            except ValueError:
                pass
        elif key == "x_wconf" and vals:
            try:
                out["wconf"] = int(vals[0])
            except ValueError:
                pass
        elif key == "baseline" and len(vals) == 2:
            try:
                out["baseline"] = (float(vals[0]), float(vals[1]))
            except ValueError:
                pass
        elif key == "x_size" and vals:
            try:
                out["x_size"] = float(vals[0])
            except ValueError:
                pass
    return out


class _HocrParser(HTMLParser):
    """Streaming tolerant parser; collects ocrx_word records."""

    def __init__(self, doc_id: str):
        super().__init__(convert_charrefs=True)
        self.doc_id = doc_id
        self.words: list[dict] = []
        self.carea = -1
        self.par = -1
        self.line = -1
        self.word_in_line = 0
        self.order = 0
        self.cur_line_meta: dict = {}
        self.cur_word: dict | None = None
        self.cur_text: list[str] = []

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        cls = a.get("class", "")
        if "ocr_carea" in cls:
            self.carea += 1
            self.par = -1
        elif "ocr_par" in cls:
            self.par += 1
            self.line = -1
        elif "ocr_line" in cls or "ocr_header" in cls or "ocr_caption" in cls:
            self.line += 1
            self.word_in_line = 0
            self.cur_line_meta = _parse_title(a.get("title", ""))
        elif "ocrx_word" in cls:
            self._flush_word()  # tolerate unclosed previous word
            meta = _parse_title(a.get("title", ""))
            if "bbox" in meta:
                self.cur_word = meta
                self.cur_text = []

    def handle_data(self, data):
        if self.cur_word is not None:
            self.cur_text.append(data)

    def close(self):
        super().close()
        self._flush_word()  # tolerate word left open at EOF

    def handle_endtag(self, tag):
        if tag == "span":
            self._flush_word()

    def _flush_word(self):
        if self.cur_word is not None:
            token = "".join(self.cur_text).strip()
            bbox = self.cur_word["bbox"]
            base = self.cur_line_meta.get("baseline", (None, None))
            self.words.append(
                {
                    "doc_id": self.doc_id,
                    "carea_id": max(self.carea, 0),
                    "par_id": max(self.par, 0),
                    "line_id": max(self.line, 0),
                    "word_id": self.word_in_line,
                    "order": self.order,
                    "token": token,
                    "x0": bbox[0],
                    "y0": bbox[1],
                    "x1": bbox[2],
                    "y1": bbox[3],
                    "wconf": self.cur_word.get("wconf"),
                    "baseline_a": base[0],
                    "baseline_b": base[1],
                    "x_size": self.cur_line_meta.get("x_size"),
                }
            )
            self.word_in_line += 1
            self.order += 1
            self.cur_word = None


def parse_doc(doc_id: str, hocr: str) -> list[dict]:
    """Tolerantly parse one page; malformed input → as many words as
    recoverable (possibly zero), never an exception."""
    p = _HocrParser(doc_id)
    try:
        p.feed(hocr or "")
        p.close()
    except Exception:
        pass
    return p.words


def parse_hocr(df: DataFrame, doc_col: str = "doc_id", hocr_col: str = "hocr") -> DataFrame:
    """X1: (doc_id, hocr) → word records, Arrow-batched."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.split(" ")[0] for f in WORDS_SCHEMA.split(", ")]
        for pdf in batches:
            rows: list[dict] = []
            for doc_id, hocr in zip(pdf[doc_col], pdf[hocr_col]):
                rows.extend(parse_doc(doc_id, hocr))
            # column-wise build (r8): DataFrame-from-list-of-dicts does
            # a per-dict key probe per column; one comprehension per
            # column over the same dicts is ~2x cheaper at these widths
            yield pd.DataFrame(
                {c: [r[c] for r in rows] for c in cols}
            ) if rows else pd.DataFrame({c: [] for c in cols})

    return df.mapInPandas(run, schema=WORDS_SCHEMA)


def hocr_words_to_spans(words: DataFrame) -> DataFrame:
    """Bridge parsed words into the flat span-payload corpus shape, so
    raw hOCR pages flow into the main de-noising pipeline (S2 → S1)."""
    payload = F.concat_ws(
        ";",
        F.col("token"),
        F.concat(F.lit("bbox "), F.concat_ws(" ", "x0", "y0", "x1", "y1")),
        F.concat(F.lit("x_wconf "), F.col("wconf").cast("string")),
        F.concat(F.lit("line "), F.col("line_id").cast("string")),
        F.concat(F.lit("col "), F.col("carea_id").cast("string")),
    )
    span = F.struct(
        F.lit("text").alias("kind"),
        payload.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.col("order").cast("int").alias("offset"),
    )
    return (
        words.withColumn("span", span)
        .groupBy("doc_id")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(order, span))), x -> x.span)").alias(
                "spans"
            )
        )
    )


# --------------------------------------------------------- JVM fast path --

# Tesseract-shaped ocrx_word element (both quote styles); the six
# capture groups stay positionally aligned across regexp_extract_all
# calls because they come from the SAME pattern.
_WORD_RE = (
    r"""class=["']ocrx_word["'][^>]*"""
    r"""title=["']bbox (\d+) (\d+) (\d+) (\d+); x_wconf (\d+)["'][^>]*>"""
    r"""([^<]*)</span>"""
)
_LINE_SPLIT = r"""<span class=["']ocr_line"""
# Python str.strip()'s exact whitespace set (all chars where
# str.isspace() is true) as a Java-regex character class — the fast
# path must trim tokens IDENTICALLY to the tolerant parser's
# "".join(text).strip(), and F.trim / Java \s cover only subsets
# (ADVICE r3: '\tword\n' inside a sound word span diverged)
_PY_WS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000-\u200a\u2028\u2029\u202f\u205f\u3000"
)
_PY_STRIP_RE = f"^[{_PY_WS}]+|[{_PY_WS}]+$"
_LINE_META_RE = (
    r"""^[^>]*title=["']bbox \d+ \d+ \d+ \d+; """
    r"""baseline ([-\d.]+) ([-\d.]+); x_size ([\d.]+)"""
)

# XML entities the JVM path decodes (ADVICE r2: Tesseract escapes &, <,
# > in word text; the tolerant parser decodes them via HTMLParser).
# Literal, non-rescanning replaces with &amp; LAST — combined with the
# router guarantee that EVERY '&' on a fast-path page starts one of
# exactly these entities, this is equivalent to HTMLParser's one-pass
# decode (e.g. '&amp;lt;' → '&lt;' on both paths, never '<').
_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&apos;", "'"),
    ("&#39;", "'"),
    ("&amp;", "&"),
]
_ENTITY_RE = r"&(amp|lt|gt|quot|apos|#39);"


def _decode_entities(token):
    out = token
    for ent, rep in _ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return out


def parse_hocr_jvm(
    df: DataFrame, doc_col: str = "doc_id", hocr_col: str = "hocr"
) -> DataFrame:
    """X1 fast path: WELL-FORMED Tesseract hOCR tokenized entirely
    JVM-side and entirely WITHIN each page row — split on ocr_line
    openings, then compute carea/par ancestry, line ids and the global
    word order as array higher-order functions over the chunk array
    (cumulative counts via aggregate-over-slice, first-occurrence via
    array_position on the monotone par counter). ZERO shuffles and
    zero Python: the plan is scan → project → generate (r3 rewrite —
    the previous form shuffled the whole corpus through three per-doc
    windows, a structural loss vs the map-side Python parser at
    10^12-doc scale; plan-asserted exchange-free in test_hocr).
    Malformed pages that would confuse the regexes belong on the
    tolerant ``parse_hocr`` path — use ``parse_hocr_auto`` to route."""
    chunks = F.split(F.col(hocr_col), _LINE_SPLIT)  # [preamble, line1, ...]
    # per-page arrays, one element per LINE chunk j (1-based over chunks)
    page = df.select(
        doc_col,
        chunks.alias("c"),
        F.when(
            F.size(chunks) > 1, F.sequence(F.lit(1), F.size(chunks) - 1)
        )
        .otherwise(F.expr("array()").cast("array<int>"))
        .alias("idx"),
    )

    def chunk(j):  # 1-based chunk j
        return F.element_at("c", j + F.lit(1))

    def cum(counts):
        """Prefix-sum array in ONE pass: cum[k+1] = counts[1..k] summed
        (so sum of the first j elements = element_at(cum, j+1))."""
        return F.aggregate(
            counts,
            F.array(F.lit(0)),
            lambda acc, x: F.array_append(acc, F.element_at(acc, -1) + x),
        )

    nc = F.transform("c", lambda ch: F.size(F.split(ch, r"""<div class=["']ocr_carea""")) - 1)
    np_ = F.transform("c", lambda ch: F.size(F.split(ch, r"""<p class=["']ocr_par""")) - 1)
    page = page.select(
        doc_col,
        "c",
        "idx",
        # markers OPENED in chunks before j apply to line chunk j
        let(
            cum(nc),
            lambda cm: F.transform(
                "idx", lambda j: F.element_at(cm, j + 1) - 1
            ),
        ).alias("careas"),
        let(
            cum(np_),
            lambda cm: F.transform(
                "idx", lambda j: F.element_at(cm, j + 1) - 1
            ),
        ).alias("pars"),
        F.transform("idx", lambda j: F.regexp_extract_all(chunk(j), F.lit(_WORD_RE), 0)).alias(
            "wtags"
        ),
        F.transform("idx", lambda j: F.regexp_extract(chunk(j), _LINE_META_RE, 1)).alias("bas"),
        F.transform("idx", lambda j: F.regexp_extract(chunk(j), _LINE_META_RE, 2)).alias("bbs"),
        F.transform("idx", lambda j: F.regexp_extract(chunk(j), _LINE_META_RE, 3)).alias("xss"),
    )
    # par_id = par counter minus its value at the carea's first chunk;
    # line_id = position within the par (par counter is globally
    # monotone, so array_position finds each group's first chunk).
    # array_position over int arrays is O(L²) native comparisons per
    # page (~40 lines → trivial); the prefix sums are the single-pass
    # cum arrays above.
    page = page.select(
        doc_col,
        "wtags",
        "bas",
        "bbs",
        "xss",
        "careas",
        F.transform(
            "idx",
            lambda j: F.element_at("pars", j)
            - F.element_at("pars", F.array_position("careas", F.element_at("careas", j)).cast("int")),
        ).alias("par_ids"),
        F.transform(
            "idx",
            lambda j: j - F.array_position("pars", F.element_at("pars", j)).cast("int"),
        ).alias("line_ids"),
        let(
            cum(F.transform("wtags", F.size)),
            lambda cm: F.transform("idx", lambda j: F.element_at(cm, j)),
        ).alias("order_base"),
        # NB: sequence(1, 0) yields the DESCENDING [1, 0], not an empty
        # array — a word-less page must short-circuit here or the
        # element_at(…, j) lookups below throw under ANSI mode
        F.when(F.size("wtags") > 0, F.sequence(F.lit(1), F.size("wtags")))
        .otherwise(F.expr("array()").cast("array<int>"))
        .alias("jdx"),
    )
    word_structs = F.flatten(
        F.transform(
            F.col("jdx"),
            lambda j: F.transform(
                F.element_at("wtags", j),
                lambda tag, w: F.struct(
                    F.element_at("careas", j).alias("carea_id"),
                    F.element_at("par_ids", j).alias("par_id"),
                    F.element_at("line_ids", j).alias("line_id"),
                    w.alias("word_id"),
                    (F.element_at("order_base", j) + w).alias("order"),
                    tag.alias("wtag"),
                    F.element_at("bas", j).alias("ba"),
                    F.element_at("bbs", j).alias("bb"),
                    F.element_at("xss", j).alias("xs"),
                ),
            ),
        )
    )
    words = page.select(doc_col, F.explode(word_structs).alias("w"))
    # Field extraction via cheap string ops instead of re-executing the
    # full _WORD_RE once per field (r6: six regex executions per word
    # were ~60% of the fast path's CPU). Every wtag is an EXACT
    # _WORD_RE match produced by regexp_extract_all above, so its shape
    # is pinned: no '>' can occur before the tag close (all attr
    # segments are [^>]* and the title content is digits/'; x_wconf'),
    # the tag ends '>token</span>' with token '<'-free, and the title
    # content contains no quotes. Hence:
    #   p     = first '>'            → the tag close, exactly
    #   token = (p, len-7]           → regex group 6, exactly
    #   rest  = after LAST 'bbox ' in the attr region — the regex's own
    #           greedy backtracking also binds the LAST title= pattern,
    #           so last-occurrence semantics match the regex
    #   title = rest up to the first quote of either style
    # The one divergence class vs the regex (a stray 'bbox ' in a
    # post-title attribute value) is pathological non-Tesseract markup
    # and sits in the same already-documented ambiguity class as the
    # regex-vs-HTMLParser duplicate-attribute resolution — real
    # malformed input is routed to the tolerant parser by the probe.
    head = F.expr("substring(w.wtag, 1, instr(w.wtag, '>') - 1)")
    token_raw = F.expr(
        "substring(w.wtag, instr(w.wtag, '>') + 1,"
        " length(w.wtag) - instr(w.wtag, '>') - 7)"
    )
    title = F.substring_index(
        F.substring_index(F.substring_index(head, "bbox ", -1), "'", 1),
        '"',
        1,
    )
    parts = F.split(F.replace(title, F.lit(";"), F.lit("")), " ")
    geom = {"x0": 1, "y0": 2, "x1": 3, "y1": 4, "wconf": 6}
    return words.select(
        doc_col,
        F.col("w.carea_id").cast("int").alias("carea_id"),
        F.col("w.par_id").cast("int").alias("par_id"),
        F.col("w.line_id").cast("int").alias("line_id"),
        F.col("w.word_id").cast("int").alias("word_id"),
        F.col("w.order").cast("int").alias("order"),
        _decode_entities(
            F.regexp_replace(token_raw, _PY_STRIP_RE, "")
        ).alias("token"),
        *[
            F.element_at(parts, i).cast("int").alias(n)
            for n, i in geom.items()
        ],
        F.nullif("w.ba", F.lit("")).cast("double").alias("baseline_a"),
        F.nullif("w.bb", F.lit("")).cast("double").alias("baseline_b"),
        F.nullif("w.xs", F.lit("")).cast("double").alias("x_size"),
    )


def hocr_soundness_probe(hocr_col: str):
    """JVM-side predicate: page is safe for ``parse_hocr_jvm``.

    Sound means (all counts are whole-stage-codegen regexp passes):
    - every ocrx_word opening matches the strict Tesseract word regex;
    - every class token (ocrx_word/ocr_line/ocr_carea/ocr_par) sits in
      canonical ``<tag class="...`` position — a token appearing
      mid-class-list or in word text would make the split/count
      ancestry logic diverge from the tolerant parser;
    - no ocr_header/ocr_caption containers (the tolerant parser treats
      them as line containers; the fast path's par ancestry would be
      off by one for headers preceding a paragraph — ADVICE r2);
    - no ocrx_word before the first line container (the tolerant parser
      keeps such words with line_id clamped to 0; the fast path drops
      chunk 0 — ADVICE r2);
    - every '&' starts one of the five standard XML entities the fast
      path decodes (ADVICE r2: bare '&', '&amp' without semicolon, and
      exotic charrefs like '&eacute;' go to HTMLParser).
    """
    c = F.col(hocr_col)
    n_marks = F.regexp_count(c, F.lit(r"""<span class=["']ocrx_word"""))
    n_regex = F.regexp_count(c, F.lit(_WORD_RE))
    # each canonical occurrence is also an "anywhere" occurrence, so
    # the summed counts are equal iff EVERY token sits canonically —
    # two alternation passes instead of eight single-token passes
    n_any = F.regexp_count(
        c, F.lit("(ocrx_word|ocr_line|ocr_carea|ocr_par)")
    )
    n_canon = F.regexp_count(
        c,
        F.lit(
            r"""(<span class=["'](ocrx_word|ocr_line)"""
            r"""|<div class=["']ocr_carea|<p class=["']ocr_par)"""
        ),
    )
    canonical = n_any == n_canon
    no_headers = ~c.contains("ocr_header") & ~c.contains("ocr_caption")
    first_line = F.regexp_instr(c, F.lit(_LINE_SPLIT))
    no_preline_words = (first_line > 0) & (first_line < F.instr(c, "ocrx_word"))
    # no word may follow a carea/par opening without an ocr_line in
    # between ANYWHERE on the page — in the chunk decomposition such a
    # word attaches to the PREVIOUS line's chunk, so the fast path
    # would emit it with the old ancestry while the tolerant parser
    # assigns it to the new container (r3 review: the first_line check
    # alone only guards the page preamble)
    no_stray_words = ~F.exists(
        F.split(c, _LINE_SPLIT),
        lambda ch: ch.rlike(
            r"""(?s)(<div class=["']ocr_carea|<p class=["']ocr_par)"""
            r""".*<span class=["']ocrx_word"""
        ),
    )
    # every carea must open a par as its FIRST child (canonical
    # Tesseract nesting): a line sitting directly under a carea would
    # make the fast path's par/line counters diverge from the tolerant
    # parser (the par counter would straddle carea boundaries). The
    # page must also HAVE a carea, and the first carea must precede
    # the first line — a line before any carea gets carea_id=-1 on the
    # fast path where the tolerant parser clamps to 0 (r3 review)
    first_carea = F.regexp_instr(c, F.lit(r"""<div class=["']ocr_carea"""))
    nested = (
        (
            F.regexp_count(c, F.lit(r"""<div class=["']ocr_carea"""))
            == F.regexp_count(
                c, F.lit(r"""<div class=["']ocr_carea[^<]*<p class=["']ocr_par""")
            )
        )
        & (first_carea > 0)
        & (first_carea < first_line)
    )
    entities_ok = F.regexp_count(c, F.lit("&")) == F.regexp_count(c, F.lit(_ENTITY_RE))
    return (
        (n_marks > 0)
        & (n_marks == n_regex)
        & canonical
        & no_headers
        & no_preline_words
        & no_stray_words
        & nested
        & entities_ok
    )


def parse_hocr_auto(
    df: DataFrame,
    doc_col: str = "doc_id",
    hocr_col: str = "hocr",
    triage: str = "inline",
) -> DataFrame:
    """Route each page to the JVM fast path when structurally sound
    (``hocr_soundness_probe``) and to the tolerant Python parser
    otherwise. The guard is itself JVM-side, so the Python stage only
    ever sees the malformed/nonstandard tail.

    ``triage`` controls how the probe result reaches the two branches
    (Spark cannot per-row fork one scan into two different physical
    operators, so the union always has two subtrees):

    - ``"inline"`` (default): each branch recomputes scan + probe.
      The right default at 100 TB, where caching the raw corpus is
      impossible and the duplicated probe CPU overlaps the scan IO.
    - ``"checkpoint"``: localCheckpoint the (doc, hocr, sound) triage
      ONCE; both branches read the materialized partitions, so the
      probe runs once and the second scan is memory-speed. The right
      choice when the corpus fits executor storage (benches, staging
      jobs); a production pipeline at scale gets the same effect by
      WRITING the triage column during its staging pass."""
    if triage == "checkpoint":
        tr = df.select(
            doc_col, hocr_col, hocr_soundness_probe(hocr_col).alias("_hocr_sound")
        ).localCheckpoint(eager=False)
        fast = parse_hocr_jvm(tr.filter("_hocr_sound"), doc_col, hocr_col)
        slow = parse_hocr(tr.filter("NOT _hocr_sound"), doc_col, hocr_col)
        return fast.unionByName(slow)
    sound = hocr_soundness_probe(hocr_col)
    fast = parse_hocr_jvm(df.filter(sound), doc_col, hocr_col)
    slow = parse_hocr(df.filter(~sound), doc_col, hocr_col)
    return fast.unionByName(slow)
