"""Scale-path guarantees: bounded fan-out in the dedup/ANN joins (the
100 TB defaults VERDICT r1 asked for). These tests plant the degenerate inputs that would go
quadratic without the caps."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hocr_de_noising_spark.queries import QUERIES
from hocr_de_noising_spark.queries.trainprep import (
    ANN_BUCKET_CAP,
    ANN_TABLES,
    JACCARD_DF_CAP,
    ann_lsh_pairs,
)

SF = "/root/testdata/sf0.001"


def test_jaccard_pair_generation_is_bounded(spark):
    """The document-frequency cap must run BEFORE pair generation, and
    intersections must come from in-array combinations of the grouped
    per-shingle member lists (<= C(df_cap, 2) each) — no shingle
    self-join in the plan at all."""
    df = QUERIES["dedup_ngram_jaccard"]["fn"](spark, SF)
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert "CartesianProduct" not in p
    # r7 skew-proof cap: over-cap shingles are removed by a hot-list
    # anti-join (df > cap filter + LeftAnti) before pair generation
    assert f"> {JACCARD_DF_CAP}" in p, p
    assert "LeftAnti" in p, p
    assert "collect_list" in p
    # the only joins left attach the two per-doc size relations
    assert p.count("Join Inner") <= 2, p


def test_ann_lsh_degenerate_cluster_is_bounded(spark):
    """500 identical embeddings land in ONE bucket per table; the
    per-bucket cap must salt them into sub-buckets so candidate pairs
    stay ~cap^2 per sub-bucket instead of C(500,2)=124750."""
    n = 500
    vec = [float((i % 7) + 1) for i in range(64)]
    e = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 64), i -> cast(element_at(array("
            + ",".join(str(x) for x in vec)
            + "), i) AS double))"
        ).alias("v"),
    )
    pairs = ann_lsh_pairs(e).count()
    n_subs = -(-n // ANN_BUCKET_CAP)  # ceil
    per_table_bound = n_subs * ANN_BUCKET_CAP * (ANN_BUCKET_CAP - 1) // 2
    assert pairs <= ANN_TABLES * per_table_bound
    assert pairs < 25_000 < n * (n - 1) // 2  # far from quadratic


def test_embed_cosine_degenerate_label_is_bounded(spark, tmp_path):
    """VERDICT r3 item 5: one label covering the whole corpus must NOT
    go quadratic — dedup_embed_cosine sub-blocks each label at
    EMBED_BLOCK_CAP by deterministic vec_id rank, so pair count is
    sum-of-C(block,2), far below C(n,2)."""
    from hocr_de_noising_spark.queries.trainprep import EMBED_BLOCK_CAP

    n = 600
    e = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.lit(0).alias("label"),
        F.expr(
            "transform(sequence(1, 8), i -> cast(i AS float))"
        ).alias("embedding"),
    )
    e.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    pairs = QUERIES["dedup_embed_cosine"]["fn"](spark, str(tmp_path)).count()
    blocks = [EMBED_BLOCK_CAP] * (n // EMBED_BLOCK_CAP) + [n % EMBED_BLOCK_CAP]
    expect = sum(b * (b - 1) // 2 for b in blocks if b)
    assert pairs == expect
    assert pairs < n * (n - 1) // 2 / 2  # far from quadratic


def test_ann_lsh_recall_on_planted_near_dups(spark):
    """A planted near-identical pair must surface as a candidate in at
    least one of the L tables (multi-table recall)."""
    import random

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    near = [x + 0.001 for x in base]
    rows = [(0, base), (1, near)] + [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(2, 102)
    ]
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")
    got = ann_lsh_pairs(e).filter((F.col("vec_a") == 0) & (F.col("vec_b") == 1)).count()
    assert got == 1


@pytest.mark.parametrize("algorithm", ["propagate", "star"])
def test_connected_components_matches_union_find(spark, algorithm):
    """Property check: BOTH component algorithms (min-label propagation
    and alternating large-star/small-star) == a plain union-find on
    random graphs (chains force multiple propagation rounds)."""
    import random

    from hocr_de_noising_spark.queries.trainprep import connected_components

    rng = random.Random(17)
    n = 200
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    edges += [(i, i + 1) for i in range(150, 170)]  # a 21-node chain

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for e in edges for x in e}
    want = {x: find(x) for x in touched}

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.component
        for r in connected_components(pairs, algorithm=algorithm).collect()
    }
    assert got == want


def test_star_components_converge_on_deep_chain(spark):
    """A 400-node path graph has diameter 400: min-label propagation
    moves the min ONE hop per round (would need 400 rounds), while
    large-star/small-star contracts in O(log n) — the 10^12-doc scale
    path for high-diameter candidate graphs (VERDICT r2 item 8)."""
    from hocr_de_noising_spark.queries.trainprep import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(400)], "doc_a long, doc_b long"
    )
    got = connected_components(pairs, algorithm="star", max_iters=12).collect()
    assert len(got) == 401
    assert all(r.component == 0 for r in got)
