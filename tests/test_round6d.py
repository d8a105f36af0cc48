"""Round-6d: cross-corpus embedding matching and semantic eval-set
decontamination (the paraphrase-robust tier next to the shingle-based
decontaminate)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from conftest import SF_DIR, canon, duck_con

_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def test_cross_matches_hand_computed(spark):
    from remap_spark.operators.similarity import embedding_cross_matches

    a = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(1, [1.0, 0.05]), (20, [-1.0, 0.0])],  # id 1 collides with a-side
        "vec_id bigint, embedding array<double>",
    )
    got = {
        (r.a_id, r.b_id): r.cosine
        for r in embedding_cross_matches(a, b, threshold=0.9).collect()
    }
    # only (a=1, b=1): cos = 1/sqrt(1.0025) ~ 0.99875; id collision must
    # not suppress the pair (different corpora)
    assert set(got) == {(1, 1)}
    assert abs(got[(1, 1)] - 1 / np.sqrt(1.0025)) < 1e-12


def _brute_cross(a_rows, b_rows, threshold):
    a_ids = np.array([r[0] for r in a_rows])
    b_ids = np.array([r[0] for r in b_rows])
    a_m = np.array([r[1] for r in a_rows], dtype=np.float64)
    b_m = np.array([r[1] for r in b_rows], dtype=np.float64)
    sims = (a_m @ b_m.T) / np.outer(
        np.linalg.norm(a_m, axis=1), np.linalg.norm(b_m, axis=1)
    )
    ai, bj = np.nonzero(sims >= threshold)
    return {
        (int(a_ids[i]), int(b_ids[j])): sims[i, j] for i, j in zip(ai, bj)
    }


def test_cross_matches_exact_losslessness(spark):
    """The block-pair A x B decomposition must equal the naive brute
    force row for row, across an uneven block split."""
    from remap_spark.engine import load_table
    from remap_spark.operators.similarity import embedding_cross_matches

    emb = load_table(spark, SF_DIR, "embeddings")
    train = emb.where(F.col("vec_id") >= 100)
    evalset = emb.where(F.col("vec_id") < 100)
    got = {
        (r.a_id, r.b_id): r.cosine
        for r in embedding_cross_matches(
            train, evalset, threshold=0.4, n_blocks_a=5, n_blocks_b=3
        ).collect()
    }
    a_rows = [(r.vec_id, r.embedding) for r in train.collect()]
    b_rows = [(r.vec_id, r.embedding) for r in evalset.collect()]
    want = _brute_cross(a_rows, b_rows, 0.4)
    assert set(got) == set(want)
    assert got  # non-vacuous at sf0.001
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9


def test_cross_matches_exact_match_duckdb(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.similarity import embedding_cross_matches

    emb = load_table(spark, SF_DIR, "embeddings")
    got = embedding_cross_matches(
        emb.where(F.col("vec_id") >= 100),
        emb.where(F.col("vec_id") < 100),
        threshold=0.4,
    ).select("a_id", "b_id", F.round("cosine", 5).alias("cosine"))
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            f"""
            WITH e AS (SELECT vec_id,
                              CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings)
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   ROUND({_COS.format(a='a.v', b='b.v')}, 5) AS cosine
            FROM e a JOIN e b
              ON a.vec_id >= 100 AND b.vec_id < 100
            WHERE {_COS.format(a='a.v', b='b.v')} >= 0.4
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()
    assert len(srows) == len(drows) > 0
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


def test_semantic_decontaminate(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.similarity import (
        embedding_cross_matches,
        semantic_decontaminate,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    train = emb.where(F.col("vec_id") >= 100)
    evalset = emb.where(F.col("vec_id") < 100)
    kept = semantic_decontaminate(train, evalset, threshold=0.4)
    kept_ids = {r.vec_id for r in kept.select("vec_id").collect()}
    flagged = {
        r.a_id
        for r in embedding_cross_matches(
            train, evalset, threshold=0.4
        ).collect()
    }
    all_ids = {r.vec_id for r in train.select("vec_id").collect()}
    assert kept_ids == all_ids - flagged
    assert flagged  # non-vacuous: something was actually removed
    assert kept.columns == train.columns


# ---------------------------------------------------------------------------
# k_core
# ---------------------------------------------------------------------------


def test_k_core_hand_computed(spark):
    from remap_spark.operators.pregel import k_core

    # K4 (0-3) + pendant chain 3-4-5 + self loop; k=3 keeps exactly K4
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges += [(3, 4), (4, 5), (5, 5)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {(r.vertex_id, r.degree) for r in k_core(df, k=3).collect()}
    assert got == {(0, 3), (1, 3), (2, 3), (3, 3)}


def test_k_core_cascade_and_empty(spark):
    from remap_spark.operators.pregel import k_core

    # triangle + chain hanging off it: k=2 peels the chain in CASCADE
    # (5 drops, then 4 drops) and keeps the triangle
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5)],
        "src bigint, dst bigint",
    )
    got = {(r.vertex_id, r.degree) for r in k_core(df, k=2).collect()}
    assert got == {(0, 2), (1, 2), (2, 2)}
    # pure chain has no 2-core at all
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src bigint, dst bigint"
    )
    assert k_core(chain, k=2).count() == 0


def _path_and_triangle(spark):
    # a 10-vertex path peels two endpoints per round (5 rounds); the
    # disjoint triangle 10-11-12 is the whole 2-core
    edges = [(i, i + 1) for i in range(9)] + [(10, 11), (11, 12), (12, 10)]
    return spark.createDataFrame(edges, "src bigint, dst bigint")


def test_k_core_max_iter_below_one_raises(spark):
    import pytest

    from remap_spark.operators.pregel import k_core

    df = _path_and_triangle(spark)
    for max_iter in (0, -1):
        with pytest.raises(ValueError, match="max_iter"):
            k_core(df, k=2, max_iter=max_iter)


def test_k_core_exhausted_rounds_raise_unless_peeled(spark):
    import pytest

    from remap_spark.operators.pregel import k_core

    df = _path_and_triangle(spark)
    for max_iter in (1, 2, 4):
        with pytest.raises(RuntimeError, match="did not converge"):
            k_core(df, k=2, max_iter=max_iter).collect()
    # 5 rounds finish the peel inside a block that still dropped edges:
    # the degree check confirms the result instead of raising
    got = {(r.vertex_id, r.degree) for r in k_core(df, k=2, max_iter=5).collect()}
    assert got == {(10, 2), (11, 2), (12, 2)}


def _py_k_core(edges, k):
    """Independent sequential peel (Matula-Beck): remove ANY vertex
    with degree < k one at a time — a different evaluation order from
    the operator's bulk-synchronous rounds; fixpoint uniqueness says
    they must agree."""
    from collections import defaultdict

    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < k:
                for u in adj.pop(v):
                    adj[u].discard(v)
                changed = True
    return {v: len(ns) for v, ns in adj.items() if ns}


def test_k_core_matches_sequential_reference(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.pregel import k_core

    li = load_table(spark, SF_DIR, "lineitem")
    g = li.select(
        (F.col("l_orderkey") % 1500).alias("src"),
        (F.col("l_partkey") % 1500).alias("dst"),
    )
    got = {(r.vertex_id, r.degree) for r in k_core(g, k=3).collect()}
    edges = [(r.src, r.dst) for r in g.collect()]
    want = set(_py_k_core(edges, 3).items())
    assert got == want
    assert got  # non-vacuous (sf0.001: 1177 of 1476 vertices survive)


def test_k_core_match_duckdb_recursive(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.pregel import k_core

    li = load_table(spark, SF_DIR, "lineitem")
    g = li.select(
        (F.col("l_orderkey") % 1500).alias("src"),
        (F.col("l_partkey") % 1500).alias("dst"),
    )
    got = k_core(g, k=3)
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH RECURSIVE und AS (
              SELECT l_orderkey % 1500 AS src, l_partkey % 1500 AS dst
              FROM lineitem WHERE l_orderkey % 1500 != l_partkey % 1500
            ),
            sym AS (
              SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM und
                UNION ALL SELECT dst, src FROM und
              )
            ),
            alive(iter, src, dst) AS (
              SELECT 0, src, dst FROM sym
              UNION ALL
              SELECT iter + 1, src, dst FROM (
                SELECT iter, src, dst,
                       COUNT(*) OVER (PARTITION BY src) AS dsrc,
                       COUNT(*) OVER (PARTITION BY dst) AS ddst
                FROM alive
              ) WHERE iter < 30 AND dsrc >= 3 AND ddst >= 3
            )
            SELECT src AS vertex_id, COUNT(*) AS degree
            FROM alive WHERE iter = 30 GROUP BY src
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()
    assert len(srows) == len(drows) > 0
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)
