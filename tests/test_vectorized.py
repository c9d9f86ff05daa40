"""rules_vec (pandas/numpy batch engine) ≡ rules_np (reference), over
the generator space, adversarial inputs, and both modes. Pure Python —
no Spark session needed: documents go through ``denoise_arrow_batch``,
the kernel ``denoise_fused`` runs per mapInArrow batch."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from hocr_de_noising_spark.fixtures.lexicon import gen_lexicon
from hocr_de_noising_spark.fixtures.spans import DOCS_SCHEMA, gen_doc
from hocr_de_noising_spark.params import Params
from hocr_de_noising_spark.rules_np import Lexicon, denoise_doc
from hocr_de_noising_spark.rules_vec import denoise_arrow_batch

LEX_TOKENS = [t for t, _ in gen_lexicon(1000, seed=7)]
LEX = Lexicon(LEX_TOKENS)


def denoise_batch(doc_ids, spans_lists, params, lexicon):
    """Run lists of span dicts through the Arrow kernel; return the
    output span lists in input doc order."""
    rb = pa.RecordBatch.from_pylist(
        [{"doc_id": d, "spans": s} for d, s in zip(doc_ids, spans_lists)],
        schema=DOCS_SCHEMA,
    )
    out = denoise_arrow_batch(rb, params, lexicon).to_pylist()
    assert [r["doc_id"] for r in out] == list(doc_ids)
    return [r["spans"] for r in out]


def _batch(n=80, seed=19):
    rng = np.random.default_rng(seed)
    ids, spans = [], []
    for i in range(n):
        ids.append(f"v{i:04d}")
        spans.append(gen_doc(f"v{i:04d}", int(rng.integers(1, 150)), rng, LEX_TOKENS)[0])
    return ids, spans


@pytest.mark.parametrize("mode", ["drop", "rewrite"])
def test_vec_equals_np_on_generator_space(mode):
    ids, spans_lists = _batch()
    p = Params(mode=mode)
    vec = denoise_batch(ids, spans_lists, p, LEX)
    ref = [denoise_doc(s, p, LEX) for s in spans_lists]
    assert vec == ref


def test_vec_equals_np_without_dictionary():
    ids, spans_lists = _batch(n=30, seed=23)
    p = Params(use_dictionary=False)
    assert denoise_batch(ids, spans_lists, p, None) == [
        denoise_doc(s, p, None) for s in spans_lists
    ]


def test_vec_adversarial_inputs():
    p = Params()
    adversarial = [
        [],  # empty doc
        [{"kind": "text", "text": None, "media_ref": None, "offset": 0}],
        [{"kind": None, "text": None, "media_ref": None, "offset": 0}],
        [{"kind": "image", "text": None, "media_ref": None, "offset": 0}],
        [
            {"kind": "weird", "text": None, "media_ref": "m://x", "offset": 0},
            {
                "kind": "text",
                "text": "good;bbox 200 300 280 340;x_wconf 90;line 0;col 0",
                "media_ref": None,
                "offset": 1,
            },
        ],
        [  # media-only doc with several anchors
            {"kind": "image", "text": None, "media_ref": "m://1", "offset": 0},
            {"kind": "figure", "text": None, "media_ref": "m://2", "offset": 1},
        ],
    ]
    ids = [f"a{i}" for i in range(len(adversarial))]
    vec = denoise_batch(ids, adversarial, p, LEX)
    ref = [denoise_doc(s, p, LEX) for s in adversarial]
    assert vec == ref


def test_vec_batch_of_empty_docs():
    p = Params()
    assert denoise_batch(["a", "b"], [[], []], p, LEX) == [[], []]


def test_alpha_count_predicate_parity():
    """[^\\W\\d_] (vectorized letter count) must agree with str.isalpha
    (reference) over the full fixture alphabet."""
    import re

    from hocr_de_noising_spark.fixtures.spans import GARBAGE_CHARS

    rx = re.compile(r"[^\W\d_]")
    probe = (
        "".join(GARBAGE_CHARS)
        + "abcXYZ ſﬁﬂﬀﬃﬄﬆ 0123456789 _-;|'"
        + "".join(LEX_TOKENS[:50])
    )
    for ch in probe:
        assert bool(rx.match(ch)) == ch.isalpha(), repr(ch)


def test_has_repeat_run_matches_backref_regex():
    """The numpy run detector must agree with the re backref on
    adversarial strings: runs at start/middle/end, separator NULs,
    empties, NaNs, unicode (incl. long-s), and near-miss runs."""
    import re

    import numpy as np
    import pandas as pd

    from hocr_de_noising_spark.rules_vec import has_repeat_run

    cases = [
        "aaaa", "aaab", "abaaaa", "xaaaay", "aaa", "", "a", "ab",
        "aabbccdd", "aabbbbcc", "ſſſſ", "ſſſ", "œœœœz", "ab\x00\x00ab",
        "zzzz" * 3, "abcd" * 10, "x" * 40, "xy" * 20, None, "    ",
        "a-aaa-a", "....", "..", "1111", "no repeats here",
    ]
    for k in (2, 3, 4, 5):
        rx = re.compile(r"(.)\1{%d,}" % (k - 1))
        s = pd.Series(cases, dtype=object)
        got = has_repeat_run(s, k)
        want = np.array([bool(rx.search(c)) if c is not None else False for c in cases])
        assert (got == want).all(), (k, [c for c, g, w in zip(cases, got, want) if g != w])


def test_has_repeat_run_random_parity():
    import random
    import re

    import numpy as np
    import pandas as pd

    from hocr_de_noising_spark.rules_vec import has_repeat_run

    rng = random.Random(99)
    alpha = "abſc. -"
    cases = ["".join(rng.choice(alpha) for _ in range(rng.randint(0, 12))) for _ in range(2000)]
    rx = re.compile(r"(.)\1{3,}")
    got = has_repeat_run(pd.Series(cases, dtype=object), 4)
    want = np.array([bool(rx.search(c)) for c in cases])
    assert (got == want).all()
