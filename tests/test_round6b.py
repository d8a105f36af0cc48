"""Round-6 continuation operators: market-basket association rules,
entity resolution, anomaly detection, RFM segmentation, time-weighted
averages, skyline, and key-skew reporting. Hand-computed semantics on
constructed inputs plus DuckDB replays at sf0.001 so the r7 driver
registration is a pure re-plumb.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from conftest import SF_DIR, canon, duck_con


def test_association_rules_hand_computed(spark):
    from remap_spark.operators.basket import association_rules

    rows = [
        ("b1", "x"), ("b1", "y"), ("b1", "y"),  # dup item row: distinct-ed
        ("b2", "x"), ("b2", "y"),
        ("b3", "x"), ("b3", "z"),
        ("b4", "y"),
    ]
    df = spark.createDataFrame(rows, "bk string, it string")
    got = {
        (r.antecedent, r.consequent): (
            r.pair_baskets,
            r.support_ppm,
            r.confidence_ppm,
            r.lift_ppm,
        )
        for r in association_rules(df, "bk", "it", min_pair_baskets=1).collect()
    }
    # n=4 baskets; counts x=3 y=3 z=1; pairs (x,y)=2 (x,z)=1
    assert got[("x", "y")] == (2, 500_000, 666_666, 888_888)
    assert got[("y", "x")] == (2, 500_000, 666_666, 888_888)
    # two-step floor makes lift direction-sensitive by design:
    # x->z: floor(floor(1e6/3)*4/1) vs z->x: floor(floor(1e6/1)*4/3)
    assert got[("x", "z")] == (1, 250_000, 333_333, 1_333_332)
    assert got[("z", "x")] == (1, 250_000, 1_000_000, 1_333_333)
    assert len(got) == 4


def test_association_rules_basket_cap(spark):
    from remap_spark.operators.basket import association_rules

    rows = [("big", c) for c in "abcd"] + [("s1", "a"), ("s1", "b")]
    df = spark.createDataFrame(rows, "bk string, it string")
    got = association_rules(
        df, "bk", "it", min_pair_baskets=1, max_basket_size=3
    )
    pairs = {(r.antecedent, r.consequent) for r in got.collect()}
    # pairs only from the small basket; c/d co-occurrences dropped
    assert pairs == {("a", "b"), ("b", "a")}


def test_association_rules_match_duckdb(spark):
    """Full replay on lineitem (orderkey=basket, partkey=item)."""
    from remap_spark.engine import load_table
    from remap_spark.operators.basket import association_rules

    li = load_table(spark, SF_DIR, "lineitem")
    got = association_rules(
        li, "l_orderkey", "l_partkey", min_pair_baskets=2
    )
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH items AS (
              SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
              FROM lineitem
            ),
            n AS (SELECT COUNT(DISTINCT bk) AS n_baskets FROM items),
            ic AS (SELECT it, COUNT(*) AS c FROM items GROUP BY it),
            pairs AS (
              SELECT a.it AS ia, b.it AS ib, COUNT(*) AS pc
              FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
              GROUP BY a.it, b.it
              HAVING COUNT(*) >= 2
            ),
            directed AS (
              SELECT ia AS antecedent, ib AS consequent, pc FROM pairs
              UNION ALL
              SELECT ib, ia, pc FROM pairs
            )
            SELECT
              d.antecedent,
              d.consequent,
              d.pc AS pair_baskets,
              ca.c AS antecedent_baskets,
              cc.c AS consequent_baskets,
              CAST(d.pc * 1000000 // n.n_baskets AS BIGINT) AS support_ppm,
              CAST(d.pc * 1000000 // ca.c AS BIGINT) AS confidence_ppm,
              CAST((d.pc * 1000000 // ca.c) * n.n_baskets // cc.c AS BIGINT)
                AS lift_ppm
            FROM directed d
            JOIN ic ca ON ca.it = d.antecedent
            JOIN ic cc ON cc.it = d.consequent
            CROSS JOIN n
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()

    assert len(srows) > 0
    assert sorted(scols) == sorted(dcols)
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


def test_rolling_zscore_hand_computed(spark):
    from remap_spark.operators.timeseries import rolling_zscore_anomalies

    # stable series then a spike; baseline excludes the current row
    vals = [100, 102, 98, 101, 99, 100, 180, 101]
    df = spark.createDataFrame(
        [("g", i, v) for i, v in enumerate(vals)], "g string, t int, x long"
    )
    out = rolling_zscore_anomalies(
        df, ["g"], "t", "x", n=30, min_periods=5, k_num=3, k_den=1
    )
    got = {r.t: (r.trailing_n, r.is_anomaly) for r in out.collect()}
    # first five rows: under min_periods, never flagged
    for t in range(5):
        assert got[t] == (t, False)
    assert got[5] == (5, False)
    assert got[6] == (6, True)  # the spike
    # row after the spike: baseline now contains 180, stddev inflated,
    # 101 is well inside 3 sigma
    assert got[7] == (7, False)


def test_rolling_zscore_rejects_floats(spark):
    import pytest

    from remap_spark.operators.timeseries import rolling_zscore_anomalies

    df = spark.createDataFrame([("g", 1, 1.0)], "g string, t int, x double")
    with pytest.raises(TypeError, match="integral"):
        rolling_zscore_anomalies(df, ["g"], "t", "x")


def test_rolling_zscore_matches_duckdb(spark):
    """HUGEINT replay of the quadratic-form detection on lineitem
    (per-supplier price series ordered by ship date + line id)."""
    from remap_spark.engine import load_table
    from remap_spark.operators.timeseries import rolling_zscore_anomalies

    li = (
        load_table(spark, SF_DIR, "lineitem")
        .select(
            "l_suppkey",
            F.concat_ws(
                "|",
                F.col("l_shipdate").cast("string"),
                F.col("l_orderkey"),
                F.col("l_linenumber"),
            ).alias("tick"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
    )
    got = rolling_zscore_anomalies(
        li, ["l_suppkey"], "tick", "cents", n=20, min_periods=5
    ).select("l_suppkey", "tick", "cents", "trailing_n", "is_anomaly")
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH t AS (
              SELECT l_suppkey,
                     CAST(l_shipdate AS VARCHAR) || '|' || l_orderkey
                       || '|' || l_linenumber AS tick,
                     CAST(l_extendedprice * 100 AS BIGINT) AS cents
              FROM lineitem
            ),
            w AS (
              SELECT l_suppkey, tick, cents,
                SUM(CAST(cents AS HUGEINT)) OVER win AS s,
                SUM(CAST(cents AS HUGEINT) * cents) OVER win AS q,
                COUNT(cents) OVER win AS c
              FROM t
              WINDOW win AS (
                PARTITION BY l_suppkey ORDER BY tick
                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
            )
            SELECT l_suppkey, tick, cents, c AS trailing_n,
              CASE WHEN c >= 5 THEN
                (c*cents - s)*(c*cents - s) > 9*(c*q - s*s)
              ELSE FALSE END AS is_anomaly
            FROM w
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()

    assert len(srows) == len(drows) > 0
    assert any(r.is_anomaly for r in srows)  # detection actually fires
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


def test_rolling_zscore_plan_one_window_one_exchange(spark):
    """The detector is one group-keyed exchange feeding ONE Window
    node that evaluates each of count/sum/sumsq exactly once (a
    repeated .over() per use would re-aggregate 4x per row)."""
    import re

    from remap_spark.engine import load_table
    from remap_spark.operators.timeseries import rolling_zscore_anomalies
    from remap_spark.plans import plan_report

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_suppkey",
        F.col("l_orderkey").alias("tick"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    r = plan_report(rolling_zscore_anomalies(li, ["l_suppkey"], "tick", "cents"))
    assert r["exchanges"] == 1
    window_nodes = re.findall(r"\(\d+\) Window\n", r["plan"])
    assert len(window_nodes) == 1, r["plan"]
    spec = r["plan"].split(window_nodes[0], 1)[1].split("\n\n")[0]
    assert spec.count("count(") == 1 and spec.count("sum(") == 2, spec


def test_time_weighted_avg_hand_computed(spark):
    from remap_spark.operators.timeseries import time_weighted_avg

    ts = datetime.datetime(2024, 1, 1)
    s = datetime.timedelta(seconds=1)
    rows = [
        # g: 10 for 2s, 40 for 2s -> twap 25 over 4s
        ("g", ts + 0 * s, 10),
        ("g", ts + 2 * s, 40),
        ("g", ts + 4 * s, 99),  # bounds the integral, no mass
        # h: single observation -> plain value
        ("h", ts, 7),
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, v long")
    got = {
        r.g: (r.twap, r.n_obs, r.span_seconds)
        for r in time_weighted_avg(df, ["g"], "ts", "v").collect()
    }
    assert got["g"] == ((10 * 2 + 40 * 2) // 4, 3, 4)
    assert got["h"] == (7, 1, 0)


def test_time_weighted_avg_matches_duckdb(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.timeseries import time_weighted_avg

    ordr = load_table(spark, SF_DIR, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("timestamp").alias("ots"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    # (custkey, date) must be unique for the piecewise-constant model:
    # keep the max-cents order per day (deterministic)
    ordr = ordr.groupBy("o_custkey", "ots").agg(
        F.max("cents").alias("cents")
    )
    got = time_weighted_avg(ordr, ["o_custkey"], "ots", "cents")
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH t AS (
              SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS ots,
                     MAX(CAST(o_totalprice * 100 AS BIGINT)) AS cents
              FROM orders GROUP BY 1, 2
            ),
            d AS (
              SELECT o_custkey, cents,
                COALESCE(CAST(epoch(LEAD(ots) OVER win - ots) AS BIGINT), 0)
                  AS dt
              FROM t
              WINDOW win AS (PARTITION BY o_custkey ORDER BY ots)
            )
            SELECT o_custkey,
              CASE WHEN SUM(dt) > 0 THEN SUM(cents * dt) // SUM(dt)
                   ELSE SUM(cents) // COUNT(*) END AS twap,
              COUNT(*) AS n_obs,
              SUM(dt) AS span_seconds
            FROM d GROUP BY o_custkey
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()

    assert len(srows) == len(drows) > 0
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


def test_entity_resolution_hand_computed(spark):
    from remap_spark.operators.linkage import (
        blocked_match_pairs,
        resolve_entities,
    )

    rows = [
        (1, "alpha", "a"),
        (2, "alphq", "a"),  # 1 edit from alpha
        (3, "alpqq", "a"),  # 1 edit from alphq, 2 from alpha
        (4, "alpha", "b"),  # same text, different block: no pair
        (5, None, "a"),
        (6, "zzzz", "a"),
    ]
    df = spark.createDataFrame(rows, "rid long, name string, blk string")
    pairs = {
        (r.id_a, r.id_b): r.distance
        for r in blocked_match_pairs(df, "rid", "name", "blk", 2).collect()
    }
    assert pairs == {(1, 2): 1, (2, 3): 1, (1, 3): 2}
    ents = {
        r.rid: r.entity_id
        for r in resolve_entities(df, "rid", "name", "blk", 2).collect()
    }
    assert ents == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 6}


def test_entity_resolution_block_cap(spark):
    from remap_spark.operators.linkage import blocked_match_pairs

    rows = [(1, "aa", "x"), (2, "ab", "x"), (3, "ac", "x"), (4, "aa", "y"), (5, "ab", "y")]
    df = spark.createDataFrame(rows, "rid long, name string, blk string")
    got = blocked_match_pairs(df, "rid", "name", "blk", 2, max_block_size=2)
    assert {(r.id_a, r.id_b) for r in got.collect()} == {(4, 5)}


def test_entity_resolution_matches_duckdb(spark):
    """Blocking + levenshtein + recursive-CTE closure replay on the
    customer table (block = market segment)."""
    from remap_spark.engine import load_table
    from remap_spark.operators.linkage import resolve_entities

    cust = load_table(spark, SF_DIR, "customer")
    got = resolve_entities(
        cust, "c_custkey", "c_name", "c_mktsegment", max_distance=2
    ).select("c_custkey", "entity_id")
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH RECURSIVE pairs AS (
              SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
              FROM customer a JOIN customer b
                ON a.c_mktsegment = b.c_mktsegment
               AND a.c_custkey < b.c_custkey
               AND levenshtein(a.c_name, b.c_name) <= 2
            ),
            edges AS (
              SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ),
            walk(u, lbl) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM edges)
              UNION
              SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v
            ),
            comp AS (SELECT u, MIN(lbl) AS ent FROM walk GROUP BY u)
            SELECT c.c_custkey,
                   COALESCE(comp.ent, c.c_custkey) AS entity_id
            FROM customer c LEFT JOIN comp ON comp.u = c.c_custkey
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()

    assert len(srows) == len(drows) > 0
    # resolution must actually merge something at this SF
    assert any(r.c_custkey != r.entity_id for r in srows)
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


def test_rfm_segments_hand_computed(spark):
    from remap_spark.operators.segments import rfm_segments

    d = datetime.date
    # five customers, one order each except c5 (two orders)
    rows = [
        (1, d(2024, 1, 1), 100),
        (2, d(2024, 1, 11), 200),
        (3, d(2024, 1, 21), 300),
        (4, d(2024, 1, 31), 400),
        (5, d(2024, 2, 10), 250),
        (5, d(2024, 2, 11), 250),
    ]
    df = spark.createDataFrame(rows, "c long, day date, cents long")
    got = {
        r.c: (r.recency_days, r.frequency, r.monetary,
              r.r_score, r.f_score, r.m_score, r.rfm)
        for r in rfm_segments(
            df, "c", "day", "cents", ref_date="2024-02-11"
        ).collect()
    }
    # recency: c1=41 c2=31 c3=21 c4=11 c5=0; cuts .2/.4/.6/.8 of
    # [0,11,21,31,41] -> 8.8, 19.0, 29.0, 39.0
    # frequency [1,1,1,1,2] -> cuts 1.0,1.0,1.0,1.2
    # monetary [100,200,300,400,500] -> cuts 180,260,340,420
    assert got[1] == (41, 1, 100, 1, 1, 1, 111)
    assert got[2] == (31, 1, 200, 2, 1, 2, 212)
    assert got[3] == (21, 1, 300, 3, 1, 3, 313)
    assert got[4] == (11, 1, 400, 4, 1, 4, 414)
    assert got[5] == (0, 2, 500, 5, 5, 5, 555)


def test_rfm_segments_match_duckdb(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.segments import rfm_segments

    ordr = load_table(spark, SF_DIR, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    got = rfm_segments(ordr, "o_custkey", "o_orderdate", "cents")
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH pc AS (
              SELECT o_custkey, MAX(o_orderdate) AS last_d,
                     COUNT(*) AS frequency,
                     CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                          AS BIGINT) AS monetary
              FROM orders GROUP BY 1
            ),
            pc2 AS (
              SELECT o_custkey,
                     date_diff('day', last_d, (SELECT MAX(last_d) FROM pc))
                       AS recency_days,
                     frequency, monetary
              FROM pc
            ),
            cuts AS (
              SELECT
                ROUND(quantile_cont(recency_days, 0.2), 4) AS rc1,
                ROUND(quantile_cont(recency_days, 0.4), 4) AS rc2,
                ROUND(quantile_cont(recency_days, 0.6), 4) AS rc3,
                ROUND(quantile_cont(recency_days, 0.8), 4) AS rc4,
                ROUND(quantile_cont(frequency, 0.2), 4) AS fc1,
                ROUND(quantile_cont(frequency, 0.4), 4) AS fc2,
                ROUND(quantile_cont(frequency, 0.6), 4) AS fc3,
                ROUND(quantile_cont(frequency, 0.8), 4) AS fc4,
                ROUND(quantile_cont(monetary, 0.2), 4) AS mc1,
                ROUND(quantile_cont(monetary, 0.4), 4) AS mc2,
                ROUND(quantile_cont(monetary, 0.6), 4) AS mc3,
                ROUND(quantile_cont(monetary, 0.8), 4) AS mc4
              FROM pc2
            )
            SELECT o_custkey, recency_days, frequency, monetary,
              5 - ((recency_days > rc1)::INT + (recency_days > rc2)::INT
                 + (recency_days > rc3)::INT + (recency_days > rc4)::INT)
                AS r_score,
              1 + (frequency > fc1)::INT + (frequency > fc2)::INT
                + (frequency > fc3)::INT + (frequency > fc4)::INT
                AS f_score,
              1 + (monetary > mc1)::INT + (monetary > mc2)::INT
                + (monetary > mc3)::INT + (monetary > mc4)::INT
                AS m_score,
              (5 - ((recency_days > rc1)::INT + (recency_days > rc2)::INT
                  + (recency_days > rc3)::INT + (recency_days > rc4)::INT))
                * 100
              + (1 + (frequency > fc1)::INT + (frequency > fc2)::INT
                   + (frequency > fc3)::INT + (frequency > fc4)::INT) * 10
              + 1 + (monetary > mc1)::INT + (monetary > mc2)::INT
                  + (monetary > mc3)::INT + (monetary > mc4)::INT
                AS rfm
            FROM pc2 CROSS JOIN cuts
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()

    assert len(srows) == len(drows) > 0
    # quintile scoring should actually spread
    assert len({r.rfm for r in srows}) >= 10
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


def test_ab_test_hand_computed(spark):
    from remap_spark.operators.experiments import ab_test_report

    rows = [("A", i < 100) for i in range(1000)] + [
        ("B", i < 150) for i in range(1000)
    ] + [("holdout", True)] * 7
    df = spark.createDataFrame(rows, "variant string, ok boolean")
    r = ab_test_report(df, "variant", F.col("ok"), "A", "B").collect()[0]
    assert (r.n_control, r.conv_control) == (1000, 100)
    assert (r.n_treatment, r.conv_treatment) == (1000, 150)
    assert (r.rate_control_ppm, r.rate_treatment_ppm) == (100_000, 150_000)
    assert r.uplift_ppm == 50_000
    # z^2 = (5e4)^2 * 2000 / (1000*1000*250*1750) = 11.428571...
    assert r.z2_ppm == 11_428_571
    assert bool(r.significant_95) is True
    # identical arms: z2 = 0
    flat = spark.createDataFrame(
        [("A", i < 10) for i in range(100)] + [("B", i < 10) for i in range(100)],
        "variant string, ok boolean",
    )
    r2 = ab_test_report(flat, "variant", F.col("ok"), "A", "B").collect()[0]
    assert r2.z2_ppm == 0 and bool(r2.significant_95) is False


def test_ab_test_matches_duckdb(spark):
    """Per-user purchase conversion, arms by user_id parity."""
    from remap_spark.engine import load_table
    from remap_spark.operators.experiments import ab_test_report

    ev = load_table(spark, SF_DIR, "events")
    users = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    ).select(
        F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd").alias(
            "variant"
        ),
        "conv",
    )
    got = ab_test_report(users, "variant", F.col("conv") == 1, "even", "odd")
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH u AS (
              SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END
                       AS variant,
                     MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS conv
              FROM events GROUP BY user_id
            ),
            a AS (
              SELECT
                count_if(variant = 'even') AS n_control,
                count_if(variant = 'even' AND conv = 1) AS conv_control,
                count_if(variant = 'odd') AS n_treatment,
                count_if(variant = 'odd' AND conv = 1) AS conv_treatment
              FROM u
            )
            SELECT n_control, conv_control, n_treatment, conv_treatment,
              CAST(conv_control * 1000000 // n_control AS BIGINT)
                AS rate_control_ppm,
              CAST(conv_treatment * 1000000 // n_treatment AS BIGINT)
                AS rate_treatment_ppm,
              CAST(conv_treatment * 1000000 // n_treatment
                 - conv_control * 1000000 // n_control AS BIGINT)
                AS uplift_ppm,
              CAST(CASE WHEN (CAST(n_treatment AS HUGEINT) * n_control
                     * (conv_treatment + conv_control)
                     * (n_treatment + n_control
                        - conv_treatment - conv_control)) = 0 THEN 0
                ELSE (CAST(conv_treatment AS HUGEINT) * n_control
                      - CAST(conv_control AS HUGEINT) * n_treatment)
                   * (CAST(conv_treatment AS HUGEINT) * n_control
                      - CAST(conv_control AS HUGEINT) * n_treatment)
                   * (n_treatment + n_control) * 1000000
                   // (CAST(n_treatment AS HUGEINT) * n_control
                       * (conv_treatment + conv_control)
                       * (n_treatment + n_control
                          - conv_treatment - conv_control))
                END AS BIGINT) AS z2_ppm,
              CAST(CASE WHEN (CAST(n_treatment AS HUGEINT) * n_control
                     * (conv_treatment + conv_control)
                     * (n_treatment + n_control
                        - conv_treatment - conv_control)) = 0 THEN 0
                ELSE (CAST(conv_treatment AS HUGEINT) * n_control
                      - CAST(conv_control AS HUGEINT) * n_treatment)
                   * (CAST(conv_treatment AS HUGEINT) * n_control
                      - CAST(conv_control AS HUGEINT) * n_treatment)
                   * (n_treatment + n_control) * 1000000
                   // (CAST(n_treatment AS HUGEINT) * n_control
                       * (conv_treatment + conv_control)
                       * (n_treatment + n_control
                          - conv_treatment - conv_control))
                END AS BIGINT) > 3841600 AS significant_95
            FROM a
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()

    assert len(srows) == 1
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


def test_key_skew_report_hand_computed(spark):
    from remap_spark.operators.skew import key_skew_report

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] + [("d",)]
    df = spark.createDataFrame(rows, "k string")
    got = {
        r.rank: (r.key, r.n_rows, r.share_ppm, r.cum_share_ppm,
                 r.total_rows, r.distinct_keys, r.avg_rows_per_key)
        for r in key_skew_report(df, "k", topk=2).collect()
    }
    assert got == {
        1: ("a", 5, 500_000, 500_000, 10, 4, 2),
        2: ("b", 3, 300_000, 800_000, 10, 4, 2),
    }


def test_key_skew_report_matches_duckdb(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.skew import key_skew_report

    li = load_table(spark, SF_DIR, "lineitem")
    got = key_skew_report(li, "l_partkey", topk=25)
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH c AS (
              SELECT CAST(l_partkey AS VARCHAR) AS key, COUNT(*) AS n_rows
              FROM lineitem GROUP BY 1
            ),
            t AS (
              SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
                     COUNT(*) AS distinct_keys
              FROM c
            ),
            top AS (
              SELECT * FROM c ORDER BY n_rows DESC, key ASC LIMIT 25
            )
            SELECT
              CAST(ROW_NUMBER() OVER
                   (ORDER BY n_rows DESC, key ASC) AS BIGINT) AS rank,
              key, n_rows,
              CAST(n_rows * 1000000 // total_rows AS BIGINT) AS share_ppm,
              CAST(SUM(n_rows) OVER (ORDER BY n_rows DESC, key ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   * 1000000 // total_rows AS BIGINT) AS cum_share_ppm,
              total_rows, distinct_keys,
              CAST(total_rows // distinct_keys AS BIGINT) AS avg_rows_per_key
            FROM top CROSS JOIN t
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()

    assert len(srows) == 25
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


def test_pareto_frontier_hand_computed(spark):
    from remap_spark.operators.skyline import pareto_frontier

    rows = [
        (1, 1, 9),   # frontier (best x)
        (2, 3, 3),   # frontier
        (3, 9, 1),   # frontier (best y)
        (4, 3, 4),   # dominated by (3,3)
        (5, 3, 3),   # duplicate of 2: kept (no strict improvement)
        (6, 2, 8),   # frontier (2<3 on x vs row2; 8<9 vs row1)
        (7, None, 0),  # NULL criterion: excluded
    ]
    df = spark.createDataFrame(rows, "rid long, x int, y int")
    got = {r.rid for r in pareto_frontier(df, ["x", "y"]).collect()}
    assert got == {1, 2, 3, 5, 6}
    # max direction flips dominance
    got_max = {
        r.rid
        for r in pareto_frontier(df, {"x": "max", "y": "max"}).collect()
    }
    # (9,1),(3,4),(2,8),(1,9) frontier; (3,3) dominated by (3,4)
    assert got_max == {1, 3, 4, 6}


def test_pareto_frontier_partition_invariant(spark):
    from remap_spark.operators.skyline import pareto_frontier

    import random

    rng = random.Random(7)
    rows = [
        (i, rng.randrange(100), rng.randrange(100), rng.randrange(100))
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "rid long, a int, b int, c int")
    base = {r.rid for r in pareto_frontier(df, ["a", "b", "c"]).collect()}
    shuffled = {
        r.rid
        for r in pareto_frontier(
            df.repartition(23, "c"), ["a", "b", "c"]
        ).collect()
    }
    assert base == shuffled and 0 < len(base) < 2000


def test_pareto_frontier_matches_duckdb(spark):
    """NOT EXISTS dominance replay on part (minimize retailprice,
    maximize size)."""
    from remap_spark.engine import load_table
    from remap_spark.operators.skyline import pareto_frontier

    part = load_table(spark, SF_DIR, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
        "p_size",
    )
    got = pareto_frontier(part, {"cents": "min", "p_size": "max"})
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH t AS (
              SELECT p_partkey,
                     CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents,
                     p_size
              FROM part
              WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
            )
            SELECT * FROM t a
            WHERE NOT EXISTS (
              SELECT 1 FROM t b
              WHERE b.cents <= a.cents AND b.p_size >= a.p_size
                AND (b.cents < a.cents OR b.p_size > a.p_size)
            )
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()

    assert len(srows) == len(drows) > 0
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


def test_crosstab_chi2_hand_computed(spark):
    from remap_spark.operators.experiments import crosstab_chi2

    rows = (
        [("r1", "c1")] * 30 + [("r1", "c2")] * 10
        + [("r2", "c1")] * 20 + [("r2", "c2")] * 40
    )
    df = spark.createDataFrame(rows, "r string, c string")
    cells = crosstab_chi2(df, "r", "c")
    got = {
        (x.r, x.c): (x.observed, x.expected_ppm, x.contribution_ppm)
        for x in cells.collect()
    }
    assert got[("r1", "c1")] == (30, 20_000_000, 5_000_000)
    assert got[("r1", "c2")] == (10, 20_000_000, 5_000_000)
    assert got[("r2", "c1")] == (20, 30_000_000, 3_333_333)
    assert got[("r2", "c2")] == (40, 30_000_000, 3_333_333)
    # the statistic is the plain integer sum of the cell contributions
    assert sum(x[2] for x in got.values()) == 16_666_666


def test_crosstab_chi2_matches_duckdb(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.experiments import crosstab_chi2

    ordr = load_table(spark, SF_DIR, "orders")
    got = crosstab_chi2(ordr, "o_orderpriority", "o_orderstatus")
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH cells AS (
              SELECT o_orderpriority AS r, o_orderstatus AS c,
                     COUNT(*) AS observed
              FROM orders GROUP BY 1, 2
            ),
            rm AS (SELECT r, CAST(SUM(observed) AS HUGEINT) AS rt
                   FROM cells GROUP BY r),
            cm AS (SELECT c, CAST(SUM(observed) AS HUGEINT) AS ct
                   FROM cells GROUP BY c),
            n AS (SELECT CAST(SUM(observed) AS HUGEINT) AS nn FROM cells)
            SELECT r AS o_orderpriority, c AS o_orderstatus, observed,
              CAST(rt * ct * 1000000 // nn AS BIGINT) AS expected_ppm,
              CAST((observed * nn - rt * ct) * (observed * nn - rt * ct)
                   * 1000000 // (nn * rt * ct) AS BIGINT)
                AS contribution_ppm
            FROM cells JOIN rm USING (r) JOIN cm USING (c) CROSS JOIN n
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()

    assert len(srows) == len(drows) > 0
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


def test_period_over_period_hand_computed(spark):
    from remap_spark.operators.timeseries import period_over_period

    d = datetime.date
    rows = [
        ("g", d(2024, 1, 1), 10),
        ("g", d(2024, 1, 8), 20),
        ("g", d(2024, 1, 15), 5),
        ("z", d(2024, 1, 1), 0),
        ("z", d(2024, 1, 8), 9),
    ]
    df = spark.createDataFrame(rows, "g string, day date, v long")
    got = {
        (r.g, str(r.day)): (r.prev_value, r.delta, r.pct_change_ppm)
        for r in period_over_period(df, ["g"], "day", "v", 7).collect()
    }
    assert got[("g", "2024-01-01")] == (None, None, None)
    assert got[("g", "2024-01-08")] == (10, 10, 1_000_000)
    assert got[("g", "2024-01-15")] == (20, -15, -750_000)
    # zero base: NULL pct (integer div by zero), delta still defined
    assert got[("z", "2024-01-08")] == (0, 9, None)


def test_period_over_period_matches_duckdb(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.timeseries import period_over_period

    ev = load_table(spark, SF_DIR, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    got = period_over_period(daily, ["event_type"], "day", "n", 7)
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
              FROM events GROUP BY 1, 2
            )
            SELECT d.event_type, d.day, d.n,
                   p.n AS prev_value,
                   d.n - p.n AS delta,
                   (d.n - p.n) * 1000000 // NULLIF(p.n, 0)
                     AS pct_change_ppm
            FROM daily d
            LEFT JOIN daily p
              ON p.event_type = d.event_type
             AND p.day + INTERVAL 7 DAY = d.day
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()

    assert len(srows) == len(drows) > 0
    assert any(r.prev_value is not None for r in srows)
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


def test_inverted_index_hand_computed(spark):
    from remap_spark.operators.text import build_inverted_index

    docs = spark.createDataFrame(
        [(1, "a b a."), (2, "b c")], "doc_id long, text string"
    )
    got = {
        r.term: (r.doc_freq, r.coll_freq, r.doc_ids, r.term_freqs)
        for r in build_inverted_index(docs).collect()
    }
    assert got["a"] == (1, 2, [1], [2])
    assert got["b"] == (2, 2, [1, 2], [1, 1])
    assert got["c"] == (1, 1, [2], [1])
    only_b = {
        r.term
        for r in build_inverted_index(docs, min_doc_freq=2).collect()
    }
    assert only_b == {"b"}


def test_inverted_index_matches_duckdb(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.text import build_inverted_index

    docs = load_table(spark, SF_DIR, "documents")
    got = build_inverted_index(docs, min_doc_freq=5)
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(translate(text,
                       '.,?:;!"', '       ')), '\\s+')) AS word
              FROM documents
            ),
            words AS (SELECT * FROM toks WHERE word <> ''),
            tf AS (
              SELECT word AS term, doc_id, COUNT(*) AS tf
              FROM words GROUP BY 1, 2
            )
            SELECT term,
                   COUNT(*) AS doc_freq,
                   CAST(SUM(tf) AS BIGINT) AS coll_freq,
                   list(doc_id ORDER BY doc_id) AS doc_ids,
                   list(tf ORDER BY doc_id) AS term_freqs
            FROM tf GROUP BY term HAVING COUNT(*) >= 5
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()

    assert len(srows) == len(drows) > 0
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)
