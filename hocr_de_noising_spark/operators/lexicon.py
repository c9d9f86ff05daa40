"""X6 + X7 — early-modern normalization and dictionary / edit-distance.

X6 is a pure Column expression chain (JVM-side). X7 is two-tier:

- exact membership: broadcast hash join against the (small) lexicon —
  J1 of SURVEY.md §2.4; no shuffle.
- edit-distance ≤ 1 fallback for OOV tokens: an Arrow-batched iterator
  pandas UDF over a symmetric-delete index (rules_np.Lexicon) built
  once per python worker. Only rows that missed the exact join reach
  the Python path (the column is nulled otherwise), so Python work is
  bounded by the OOV rate. No shuffle, exact parity with the numpy
  golden rule.

An alternative fully-relational blocked levenshtein join (length band +
first/last char blocking) is provided for the driver's oracle-checked
``dict_join`` query — see queries/relational.py.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.broadcast import Broadcast
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from hocr_de_noising_spark.params import Params
from hocr_de_noising_spark.rules_np import LIGATURES, LONG_S, Lexicon

LexiconLike = DataFrame | list[str] | Broadcast


def normalize_col(token: Column) -> Column:
    """X6: ligature expansion + ſ→s, as a chain of literal replaces."""
    out = token
    for lig, exp in LIGATURES.items():
        out = F.replace(out, F.lit(lig), F.lit(exp))
    return F.replace(out, F.lit(LONG_S), F.lit("s"))


def lexicon_broadcast(spark: SparkSession, lexicon: LexiconLike) -> Broadcast:
    """The one place the lexicon is collected and broadcast: a DataFrame
    with a ``token`` column or a token list becomes a ``Broadcast`` of its
    distinct non-NULL tokens, deduplicated on the driver (no ``distinct()``
    shuffle) and read once per executor; a ``Broadcast`` passes through."""
    if isinstance(lexicon, Broadcast):
        return lexicon
    if isinstance(lexicon, DataFrame):
        lexicon = [r.token for r in lexicon.select("token").collect()]
    tokens = list(dict.fromkeys(t for t in lexicon if t is not None))
    return spark.sparkContext.broadcast(tokens)


def with_dictionary_check(
    df: DataFrame,
    lexicon: LexiconLike,
    params: Params | None = None,
) -> DataFrame:
    """Adds norm_token, f_dict_hit, f_dict_miss columns."""
    p = params or Params()
    df = df.withColumn("norm_token", F.when(F.col("parse_ok"), normalize_col(F.col("token"))))
    if not p.use_dictionary:
        return df.withColumn("f_dict_hit", F.lit(False)).withColumn(
            "f_dict_miss", F.lit(False)
        )

    bc = lexicon_broadcast(df.sparkSession, lexicon)
    # distinct already (no aggregate); an Arrow table plans as a LocalTableScan, no job
    side = pa.table({"lex_token": pa.array(bc.value, pa.string())})
    lex = F.broadcast(df.sparkSession.createDataFrame(side))
    df = df.join(lex, df["norm_token"] == lex["lex_token"], "left")
    df = df.withColumn("f_exact_hit", F.col("lex_token").isNotNull()).drop("lex_token")

    if p.max_edit_distance >= 1:
        fuzzy = _fuzzy_membership_udf(bc)
        oov = F.when(F.col("parse_ok") & ~F.col("f_exact_hit"), F.col("norm_token"))
        df = df.withColumn("f_fuzzy_hit", F.coalesce(fuzzy(oov), F.lit(False)))
    else:
        df = df.withColumn("f_fuzzy_hit", F.lit(False))

    df = df.withColumn("f_dict_hit", F.col("f_exact_hit") | F.col("f_fuzzy_hit"))
    return df.withColumn(
        "f_dict_miss", F.col("parse_ok") & ~F.col("f_dict_hit")
    )


def _fuzzy_membership_udf(lex_tokens: Broadcast):
    """Iterator pandas UDF: token within edit distance 1 of the lexicon
    broadcast ``lex_tokens``. The symmetric-delete index is built once
    per worker invocation and amortized over all Arrow batches
    (SURVEY.md §2.10 iterator form)."""

    @F.pandas_udf(BooleanType())
    def fuzzy(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        lex = Lexicon(lex_tokens.value)
        for s in batches:
            mask = s.notna()
            out = pd.Series(False, index=s.index, dtype="boolean")
            if mask.any():
                # dedupe before the index probe (r8): OCR tokens repeat
                # heavily within a batch and within_one() generates the
                # full deletion neighborhood per call — probe each
                # DISTINCT token once and broadcast via isin (the
                # rules_vec batch engine's own shape)
                vals = s[mask]
                hits = {t for t in vals.unique() if lex.within_one(t)}
                out.loc[mask] = vals.isin(hits)
            yield out

    return fuzzy
