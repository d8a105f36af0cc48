"""Round-6c operators: Markov transition tables, KMV set operations,
deterministic training shuffle and winsorization.
Hand-computed semantics on constructed inputs plus DuckDB replays at
sf0.001 so a future driver registration is a pure re-plumb.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR, canon, duck_con


# ---------------------------------------------------------------------------
# markov_transitions
# ---------------------------------------------------------------------------


def test_markov_transitions_hand_computed(spark):
    from remap_spark.operators.sessions import markov_transitions

    rows = [
        # user 1: a -> b -> a -> c
        (1, 1, 10, "a"), (2, 1, 20, "b"), (3, 1, 30, "a"), (4, 1, 40, "c"),
        # user 2: a -> b
        (5, 2, 10, "a"), (6, 2, 20, "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts bigint, event_type string"
    )
    got = {
        (r.from_event, r.to_event): (r.n_transitions, r.from_total, r.prob_ppm)
        for r in markov_transitions(df).collect()
    }
    # transitions: a->b x2, b->a x1, a->c x1; from a total 3, from b total 1
    assert got[("a", "b")] == (2, 3, 666_666)
    assert got[("a", "c")] == (1, 3, 333_333)
    assert got[("b", "a")] == (1, 1, 1_000_000)
    assert len(got) == 3


def test_markov_transitions_match_duckdb(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.sessions import markov_transitions

    ev = load_table(spark, SF_DIR, "events")
    got = markov_transitions(ev)
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH pairs AS (
              SELECT event_type AS from_event,
                     LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS to_event
              FROM events
            ),
            counted AS (
              SELECT from_event, to_event, COUNT(*) AS n_transitions
              FROM pairs WHERE to_event IS NOT NULL
              GROUP BY from_event, to_event
            )
            SELECT from_event, to_event, n_transitions,
                   CAST(SUM(n_transitions) OVER (PARTITION BY from_event)
                     AS BIGINT) AS from_total,
                   CAST(n_transitions * 1000000 //
                        SUM(n_transitions) OVER (PARTITION BY from_event)
                     AS BIGINT) AS prob_ppm
            FROM counted
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()

    assert len(srows) > 0
    assert sorted(scols) == sorted(dcols)
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


# ---------------------------------------------------------------------------
# kmv_set_ops
# ---------------------------------------------------------------------------


def test_kmv_set_ops_exact_below_k(spark):
    from remap_spark.operators.rollup import kmv_set_ops

    a = spark.createDataFrame([(f"v{i}",) for i in range(30)], "v string")
    b = spark.createDataFrame([(f"v{i}",) for i in range(20, 50)], "v string")
    row = kmv_set_ops(a, b, "v", k=64).collect()[0]
    # both sides under k: sketches are complete sets -> everything exact
    assert row.n_a == 30 and row.n_b == 30
    assert row.est_distinct_a == 30 and row.est_distinct_b == 30
    assert row.est_union == 50
    assert row.est_intersect == 10
    assert row.jaccard_ppm == 10 * 1_000_000 // 50


def test_kmv_set_ops_estimator_band_and_replay(spark):
    """Estimator path (k < distinct): error band vs exact DuckDB counts
    AND a bit-exact replay of the integer estimator pipeline."""
    from remap_spark.engine import load_table
    from remap_spark.operators.rollup import KMV_DOMAIN, kmv_set_ops

    k = 128
    orders = load_table(spark, SF_DIR, "orders")
    a = orders.where(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("v")
    )
    b = orders.where(F.col("o_orderkey") % 2 != 0).select(
        F.col("o_orderkey").alias("v")
    )
    row = kmv_set_ops(a, b, "v", k=k).collect()[0]

    con = duck_con(SF_DIR)
    try:
        exact = con.sql(
            """
            WITH a AS (SELECT DISTINCT o_orderkey v FROM orders
                       WHERE o_orderkey % 3 != 0),
                 b AS (SELECT DISTINCT o_orderkey v FROM orders
                       WHERE o_orderkey % 2 != 0)
            SELECT (SELECT COUNT(*) FROM a) na,
                   (SELECT COUNT(*) FROM b) nb,
                   (SELECT COUNT(*) FROM (SELECT v FROM a UNION
                                          SELECT v FROM b)) nu,
                   (SELECT COUNT(*) FROM (SELECT v FROM a INTERSECT
                                          SELECT v FROM b)) ni
            """
        ).fetchone()
        replay = con.sql(
            f"""
            WITH ha AS (SELECT DISTINCT CAST('0x' || substr(md5(
                          CAST(o_orderkey AS VARCHAR)), 1, 13) AS BIGINT) h
                        FROM orders WHERE o_orderkey % 3 != 0),
                 hb AS (SELECT DISTINCT CAST('0x' || substr(md5(
                          CAST(o_orderkey AS VARCHAR)), 1, 13) AS BIGINT) h
                        FROM orders WHERE o_orderkey % 2 != 0),
                 sa AS (SELECT h FROM ha ORDER BY h LIMIT {k}),
                 sb AS (SELECT h FROM hb ORDER BY h LIMIT {k}),
                 m AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
                       ORDER BY h LIMIT {k}),
                 st AS (SELECT (SELECT COUNT(*) FROM m) m,
                               (SELECT MAX(h) FROM m) hk,
                               (SELECT COUNT(*) FROM m
                                WHERE h IN (SELECT h FROM sa)
                                  AND h IN (SELECT h FROM sb)) c)
            SELECT CAST(CAST({k - 1} AS BIGINT) * {KMV_DOMAIN} // hk
                     AS BIGINT) est_union,
                   CAST(c * 1000000 // m AS BIGINT) jaccard_ppm,
                   CAST(c * (CAST({k - 1} AS BIGINT) * {KMV_DOMAIN} // hk)
                        // m AS BIGINT) est_intersect
            FROM st
            """
        ).fetchone()
    finally:
        con.close()

    na, nb, nu, ni = exact
    # exact side counts are exact in the readout's n_* and band-checked
    # for the estimates: KMV with k=128 has sigma ~ 1/sqrt(k-1) ~ 9%;
    # 4 sigma = 36% band, deterministic here (hash is fixed)
    assert row.est_union == replay[0]
    assert row.jaccard_ppm == replay[1]
    assert row.est_intersect == replay[2]
    assert abs(row.est_union - nu) <= 0.36 * nu
    assert abs(row.est_intersect - ni) <= 0.36 * nu


# ---------------------------------------------------------------------------
# shuffle_for_training
# ---------------------------------------------------------------------------


def test_shuffle_for_training_deterministic_and_replay(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.split import shuffle_for_training

    docs = load_table(spark, SF_DIR, "documents")
    out = shuffle_for_training(docs, "doc_id", n_shards=8, seed="s1")
    rows1 = {(r.doc_id): (r.shard, r.shard_order) for r in out.collect()}
    rows2 = {
        (r.doc_id): (r.shard, r.shard_order)
        for r in shuffle_for_training(
            docs, "doc_id", n_shards=8, seed="s1"
        ).collect()
    }
    assert rows1 == rows2  # reproducible

    con = duck_con(SF_DIR)
    try:
        want = {
            r[0]: (r[1], r[2])
            for r in con.sql(
                """
                SELECT doc_id,
                       CAST(h % 8 AS INT) AS shard,
                       h AS shard_order
                FROM (SELECT doc_id,
                             CAST('0x' || substr(md5(
                               CAST(doc_id AS VARCHAR) || '|shuf|s1'),
                               1, 8) AS BIGINT) AS h
                      FROM documents)
                """
            ).fetchall()
        }
    finally:
        con.close()
    assert rows1 == want

    # a different seed yields a genuinely different permutation
    other = {
        (r.doc_id): (r.shard, r.shard_order)
        for r in shuffle_for_training(
            docs, "doc_id", n_shards=8, seed="s2"
        ).collect()
    }
    assert other != rows1
    # shards are roughly balanced (1000 docs over 8 shards)
    from collections import Counter

    sizes = Counter(s for s, _ in rows1.values())
    assert len(sizes) == 8
    assert max(sizes.values()) < 3 * min(sizes.values())


def test_shuffle_order_uncorrelated_with_source(spark):
    """Reading shards in hash order must not preserve source order —
    the whole point of the shuffle."""
    from remap_spark.operators.split import shuffle_for_training

    df = spark.range(1000).withColumnRenamed("id", "k")
    out = shuffle_for_training(df, "k", n_shards=1, seed="x")
    ordered = [r.k for r in out.orderBy("shard_order", "k").collect()]
    # Spearman-ish check: count adjacent source pairs that stay adjacent
    pos = {k: i for i, k in enumerate(ordered)}
    adjacent = sum(1 for k in range(999) if abs(pos[k] - pos[k + 1]) == 1)
    assert adjacent < 20  # ~2/1000 expected by chance


# ---------------------------------------------------------------------------
# winsorize
# ---------------------------------------------------------------------------


def test_winsorize_hand_computed(spark):
    from remap_spark.operators.ml import winsorize

    # values 1..10 with p10/p90: linear-interp cuts 1.9 and 9.1
    df = spark.createDataFrame([(float(i),) for i in range(1, 11)], "v double")
    out = winsorize(df, "v", p_lo=0.1, p_hi=0.9)
    got = sorted((r.v, r.v_wins, r.is_clipped) for r in out.collect())
    assert got[0] == (1.0, 1.9, 1)
    assert got[-1] == (10.0, 9.1, 1)
    assert all(c == 0 for _, _, c in got[1:-1])


def test_winsorize_grouped_match_duckdb(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.ml import winsorize

    li = load_table(spark, SF_DIR, "lineitem")
    got = winsorize(
        li.select("l_returnflag", "l_extendedprice"),
        "l_extendedprice",
        group_cols=["l_returnflag"],
        p_lo=0.05,
        p_hi=0.95,
    ).select(
        "l_returnflag",
        F.round("l_extendedprice_wins", 4).alias("wins"),
        "is_clipped",
    )
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH cuts AS (
              SELECT l_returnflag,
                     quantile_cont(l_extendedprice, 0.05) AS lo,
                     quantile_cont(l_extendedprice, 0.95) AS hi
              FROM lineitem GROUP BY l_returnflag
            )
            SELECT l.l_returnflag,
                   ROUND(CASE WHEN l_extendedprice < lo THEN lo
                              WHEN l_extendedprice > hi THEN hi
                              ELSE l_extendedprice END, 4) AS wins,
                   CASE WHEN l_extendedprice < lo
                          OR l_extendedprice > hi THEN 1 ELSE 0 END
                     AS is_clipped
            FROM lineitem l JOIN cuts c USING (l_returnflag)
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()

    assert len(srows) == len(drows) > 0
    assert sorted(scols) == sorted(dcols)
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)
