"""Vectorized (pandas/numpy) batch implementation of the frozen rule.

Semantically identical to rules_np.denoise_doc applied to every doc of
a batch, but vectorized across the whole Arrow batch: one regex extract
for all spans, vectorized flag arithmetic, groupby-quantile page stats,
and groupby-cumcount/ffill reading order + anchoring. This is what
``denoise_fused`` executes per mapInArrow batch
(:func:`denoise_arrow_batch`); equality with rules_np is
property-tested (tests/test_vectorized.py) and both are held to the
constructive goldens.

Parity notes (verified by tests):
- pandas ``.str.extract`` on the anchored payload regex == re.match;
- letter counting uses ``[^\\W\\d_]`` (≡ str.isalpha over the corpus
  alphabet: letters incl. ſ/ligatures in, digits/symbols out);
- pandas ``groupby.quantile(interpolation='linear')`` == numpy
  percentile 'linear' == Spark ``percentile``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from hocr_de_noising_spark.params import Params
from hocr_de_noising_spark.rules_np import (
    LIGATURES,
    LONG_S,
    Lexicon,
    _PAYLOAD_RE,
)

_ALPHA_COUNT_RE = r"[^\W\d_]"


def has_repeat_run(tokens: pd.Series, k: int) -> np.ndarray:
    """Vectorized equivalent of the backref regex ``(.)\\1{k-1,}``
    (>= k identical consecutive chars), which pandas can only evaluate
    per-row through Python's re engine (pyarrow strings / RE2 reject
    backrefs — the slowest string op in the fused hot path per r1).

    Batch trick: join all tokens with a NUL separator, view the UTF-32
    encoding as a uint32 array, AND together k-1 shifted equality masks
    — one C pass over the batch's characters. The separator (code 0)
    breaks cross-token runs and is masked so empty tokens can never
    produce a separator run."""
    n = len(tokens)
    if n == 0:
        return np.zeros(0, dtype=bool)
    vals = tokens.fillna("").to_numpy(dtype=object)
    lens = np.fromiter((len(t) for t in vals), dtype=np.int64, count=n)
    out = np.zeros(n, dtype=bool)
    if int(lens.max(initial=0)) < k:
        return out
    joined = "\x00".join(vals)
    if joined.count("\x00") != n - 1:
        # a token contains a literal NUL (never happens in OCR text,
        # but correctness first): fall back to the per-row regex
        import re

        rx = re.compile(r"(.)\1{%d,}" % (k - 1))
        return np.fromiter(
            (bool(rx.search(t)) for t in vals), dtype=bool, count=n
        )
    arr = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
    eq = arr[1:] == arr[:-1]
    w = k - 1  # run of k chars == k-1 consecutive equal-neighbor pairs
    if len(eq) < w:
        return out
    run = eq[: len(eq) - w + 1].copy()
    for j in range(1, w):
        run &= eq[j : len(eq) - w + 1 + j]
    run &= arr[: len(run)] != 0  # never start a run on the separator
    hits = np.flatnonzero(run)
    if len(hits):
        # char index -> token index: token i ends (exclusive, incl its
        # separator) at cumsum(lens+1)[i]; a hit can never sit on a
        # separator, so right-bisect gives its owning token directly
        offsets = np.cumsum(lens + 1)
        out[np.searchsorted(offsets, hits, side="right")] = True
    return out


def normalize_series(s: pd.Series) -> pd.Series:
    for lig, exp in LIGATURES.items():
        s = s.str.replace(lig, exp, regex=False)
    return s.str.replace(LONG_S, "s", regex=False)


def denoise_arrow_batch(rb, params: Params, lexicon: Lexicon | None):
    """De-noise one Arrow record batch of (doc_id, spans) rows and
    return the output record batch — the zero-dict boundary the fused
    operator runs per ``mapInArrow`` batch (r8, guide §4.2 shape).

    The span columns are read FLAT off the list array's offsets/values
    buffers (no per-span Python dicts on ingest) and the output list
    array is rebuilt from the flat survivor columns + a bincount of
    per-doc lengths (no per-span dict building on emit). The
    vectorized rule itself is :func:`_denoise_flat`; the output is
    property-tested against rules_np and held to the goldens."""
    import pyarrow as pa

    doc_arr = rb.column(rb.schema.get_field_index("doc_id"))
    spans_arr = rb.column(rb.schema.get_field_index("spans"))
    n_docs = len(doc_arr)
    offs = spans_arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    # values is the UNSLICED child array: positions offs[0]..offs[-1]
    # cover this batch's lists contiguously (offsets are monotone)
    vals = spans_arr.values.slice(int(offs[0]), int(offs[-1] - offs[0]))
    offs = offs - offs[0]
    starts = offs[:-1]
    lengths = np.diff(offs)
    total = int(offs[-1])

    out_type = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
    if total == 0:
        spans_out = pa.ListArray.from_arrays(
            pa.array(np.zeros(n_docs + 1, dtype=np.int32), type=pa.int32()),
            pa.array([], type=out_type),
        )
        return pa.RecordBatch.from_arrays(
            [doc_arr, spans_out], names=["doc_id", "spans"]
        )

    didx = np.repeat(np.arange(n_docs, dtype=np.int64), lengths)
    pos = np.arange(total, dtype=np.int64) - starts[didx]
    out_df = _denoise_flat(
        didx,
        pos,
        vals.field("kind").to_pandas(),
        vals.field("text").to_pandas(),
        vals.field("media_ref").to_pandas(),
        params,
        lexicon,
    )

    out_didx = out_df["didx"].to_numpy()  # ascending (sorted by didx)
    counts = np.bincount(out_didx, minlength=n_docs)
    out_offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(counts, out=out_offs[1:])
    within = np.arange(len(out_didx), dtype=np.int64) - out_offs[:-1][out_didx]
    struct_out = pa.StructArray.from_arrays(
        [
            pa.Array.from_pandas(out_df["kind"], type=pa.string()),
            pa.Array.from_pandas(out_df["text"], type=pa.string()),
            pa.Array.from_pandas(out_df["media_ref"], type=pa.string()),
            pa.array(within.astype(np.int32), type=pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    spans_out = pa.ListArray.from_arrays(
        pa.array(out_offs.astype(np.int32), type=pa.int32()), struct_out
    )
    return pa.RecordBatch.from_arrays(
        [doc_arr, spans_out], names=["doc_id", "spans"]
    )


def _denoise_flat(
    didx: np.ndarray,
    pos: np.ndarray,
    kind,
    text,
    media_ref,
    params: Params,
    lexicon: Lexicon | None,
) -> pd.DataFrame:
    """The vectorized rule over flat span columns. Returns the SURVIVING
    spans as a DataFrame (didx, kind, text, media_ref) sorted in final
    emission order — (didx, anchor, text-before-media, input pos) — so
    callers assign contiguous offsets by enumeration order."""
    p = params
    df = pd.DataFrame(
        {
            "didx": didx,
            "pos": pos,
            "kind": kind,
            "text": text,
            "media_ref": media_ref,
        }
    )
    is_text = (df["kind"] == "text").to_numpy()
    text_s = df["text"].where(pd.Series(is_text, index=df.index), None)

    ext = text_s.str.extract(_PAYLOAD_RE)
    parse_ok = (ext["token"].notna() & pd.Series(is_text, index=df.index)).to_numpy()
    token = ext["token"]
    geom = {}
    for c in ("x0", "y0", "x1", "y1", "w", "li", "ci"):
        geom[c] = pd.to_numeric(ext[c], errors="coerce").to_numpy(dtype=np.float64)
    x0, y0, x1, y1 = geom["x0"], geom["y0"], geom["x1"], geom["y1"]
    wconf, line_i, col_i = geom["w"], geom["li"], geom["ci"]
    h = y1 - y0
    w_px = x1 - x0

    # --- page-adaptive stats over parse_ok rows ---
    ok_idx = np.flatnonzero(parse_ok)
    sdf = pd.DataFrame(
        {
            "didx": df["didx"].to_numpy()[ok_idx],
            "h": h[ok_idx],
            "x0": x0[ok_idx],
            "x1": x1[ok_idx],
            "y0": y0[ok_idx],
            "y1": y1[ok_idx],
        }
    )
    g = sdf.groupby("didx")
    lo, hi = p.envelope_lo_pct, p.envelope_hi_pct
    stats = pd.DataFrame(
        {
            "med_h": g["h"].quantile(0.5),
            "p_lo_x0": g["x0"].quantile(lo),
            "p_hi_x1": g["x1"].quantile(hi),
            "p_lo_y0": g["y0"].quantile(lo),
            "p_hi_y1": g["y1"].quantile(hi),
        }
    )
    med_h = df["didx"].map(stats["med_h"]).to_numpy(dtype=np.float64)
    p_lo_x0 = df["didx"].map(stats["p_lo_x0"]).to_numpy(dtype=np.float64)
    p_hi_x1 = df["didx"].map(stats["p_hi_x1"]).to_numpy(dtype=np.float64)
    p_lo_y0 = df["didx"].map(stats["p_lo_y0"]).to_numpy(dtype=np.float64)
    p_hi_y1 = df["didx"].map(stats["p_hi_y1"]).to_numpy(dtype=np.float64)

    # --- garbage-string flags ---
    tok_len = token.str.len()
    n_letters = token.str.count(_ALPHA_COUNT_RE)
    with np.errstate(invalid="ignore", divide="ignore"):
        nonalpha_ratio = np.where(
            tok_len.to_numpy(dtype=np.float64) == 0,
            1.0,
            1.0 - n_letters.to_numpy(dtype=np.float64) / tok_len.to_numpy(dtype=np.float64),
        )
    f_wconf = parse_ok & (wconf < p.tau_wconf)
    f_nonalpha = parse_ok & (nonalpha_ratio > p.max_nonalpha_ratio)
    f_repeat = parse_ok & has_repeat_run(token, p.repeat_run_len)
    f_toolong = parse_ok & (tok_len.fillna(0).to_numpy() > p.max_token_len)
    with np.errstate(invalid="ignore", divide="ignore"):
        aspect_bad = (h > 0) & (w_px / h > p.max_aspect)
    f_geom = parse_ok & (
        (h < p.speck_h_frac * med_h) | (h > p.blob_h_frac * med_h) | aspect_bad
    )
    tol = float(p.envelope_tol_px)
    f_margin = parse_ok & (
        (x0 < p_lo_x0 - tol)
        | (x1 > p_hi_x1 + tol)
        | (y0 < p_lo_y0 - tol)
        | (y1 > p_hi_y1 + tol)
    )

    # --- dictionary ---
    norm = normalize_series(token)
    if lexicon is not None and p.use_dictionary:
        uniq = norm[parse_ok].unique()
        if p.max_edit_distance >= 1:
            hits = {t for t in uniq if lexicon.within_one(t)}
        else:
            hits = {t for t in uniq if lexicon.contains_exact(t)}
        dict_hit = norm.isin(hits).to_numpy(dtype=bool) & parse_ok
        f_dict_miss = parse_ok & ~dict_hit
    else:
        dict_hit = np.zeros(len(df), dtype=bool)
        f_dict_miss = np.zeros(len(df), dtype=bool)

    is_noise = is_text & (
        ~parse_ok | f_wconf | f_nonalpha | f_repeat | f_toolong | f_geom | f_margin | f_dict_miss
    )

    # --- rewrite mode ---
    if p.mode == "rewrite":
        only_wconf = (
            parse_ok
            & f_wconf
            & ~(f_nonalpha | f_repeat | f_toolong | f_geom | f_margin | f_dict_miss)
        )
        rewritten = is_noise & only_wconf & dict_hit
    else:
        rewritten = np.zeros(len(df), dtype=bool)
    drop = is_text & is_noise & ~rewritten
    survives = ~drop

    emitted = df["text"].copy()
    if rewritten.any():
        rest = text_s.str.split(";", n=1).str[1]
        emitted = emitted.where(
            ~pd.Series(rewritten, index=df.index), norm + ";" + rest
        )

    # --- reading order among surviving text spans ---
    surv_text = is_text & survives & parse_ok
    # (a noise-free text span always has parse_ok; keep the conjunction
    # explicit so unparseable rows can never enter the order)
    order_keys = pd.DataFrame(
        {
            "didx": df["didx"],
            "ci": col_i,
            "li": line_i,
            "x0": x0,
            "y0": y0,
            "pos": df["pos"],
        }
    )[pd.Series(surv_text, index=df.index)]
    order_sorted = order_keys.sort_values(["didx", "ci", "li", "x0", "y0", "pos"])
    rank = order_sorted.groupby("didx").cumcount()
    rank_full = pd.Series(np.nan, index=df.index, dtype="float64")
    rank_full.loc[order_sorted.index] = rank.to_numpy(dtype=np.float64)

    # --- media anchoring: ffill of preceding surviving-text rank in
    # input order (rows are already (didx, pos)-ordered by construction)
    anchor = rank_full.groupby(df["didx"]).ffill().fillna(-1.0)

    k1 = anchor.to_numpy(dtype=np.float64)
    k2 = np.where(is_text, 0, 1)

    out_df = pd.DataFrame(
        {
            "didx": df["didx"],
            "k1": k1,
            "k2": k2,
            "pos": df["pos"],
            "kind": df["kind"],
            "text": emitted.where(pd.Series(is_text, index=df.index), None),
            "media_ref": df["media_ref"],
        }
    )[pd.Series(survives & df["kind"].notna().to_numpy(), index=df.index)]
    return out_df.sort_values(["didx", "k1", "k2", "pos"])
