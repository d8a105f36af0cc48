"""Unit-level properties of the round-6 operators: time-series repair
and smoothing, rank fusion, path mining, KMV distinct state, soft
dedup weights, and mixture recipes. The query-vs-oracle end-to-end
checks live in test_dq.py; these pin the operator semantics on small
constructed inputs where the expected values are hand-computable.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F


def test_fill_date_gaps_flags_and_carries(spark):
    from remap_spark.operators.timeseries import fill_date_gaps

    d = datetime.date
    daily = spark.createDataFrame(
        [
            ("a", d(2024, 1, 1), 3, 100),
            ("a", d(2024, 1, 4), 1, 70),
            ("b", d(2024, 1, 2), 2, 50),
        ],
        "g string, day date, n long, gauge long",
    )
    out = fill_date_gaps(
        daily, ["g"], "day", zero_cols=["n"], carry_cols=["gauge"]
    )
    rows = {
        (r.g, str(r.day)): (r.is_gap, r.n, r.gauge)
        for r in out.collect()
    }
    # span of 'a' is fully densified, gaps zero-fill n and carry gauge
    assert rows[("a", "2024-01-01")] == (0, 3, 100)
    assert rows[("a", "2024-01-02")] == (1, 0, 100)
    assert rows[("a", "2024-01-03")] == (1, 0, 100)
    assert rows[("a", "2024-01-04")] == (0, 1, 70)
    # single-day group 'b' gains no rows
    assert rows[("b", "2024-01-02")] == (0, 2, 50)
    assert len(rows) == 5


def test_ewma_trailing_hand_computed(spark):
    from remap_spark.operators.timeseries import ewma_trailing

    df = spark.createDataFrame(
        [("g", 1, 10.0), ("g", 2, 20.0), ("g", 3, 40.0)],
        "g string, t int, x double",
    )
    out = ewma_trailing(df, ["g"], "t", "x", alpha=0.5, n=8)
    got = {r.t: r.ewma for r in out.collect()}
    assert got[1] == 10.0  # single observation: the value itself
    # t=2: (20 + 0.5*10) / 1.5
    assert got[2] == (20.0 + 0.5 * 10.0) / 1.5
    # t=3: (40 + 0.5*20 + 0.25*10) / 1.75
    assert got[3] == (40.0 + 0.5 * 20.0 + 0.25 * 10.0) / 1.75


def test_rrf_fuse_integer_scores(spark):
    from remap_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(3, 1), (1, 2), (4, 3)], "doc_id long, rank int"
    )
    out = {
        r.doc_id: (r.fused_rank, r.rrf_score, r.n_lists)
        for r in rrf_fuse([a, b], rrf_k=60, topk=10).collect()
    }
    c = lambda rnk: 1_000_000_000 // (60 + rnk)
    assert out[1] == (1, c(1) + c(2), 2)  # in both lists, best ranks
    assert out[3] == (2, c(3) + c(1), 2)
    # doc 2 (sparse only, rank 2) beats doc 4 (dense only, rank 3)
    assert out[2] == (3, c(2), 1)
    assert out[4] == (4, c(3), 1)


def test_top_event_paths_counts(spark):
    from remap_spark.operators.sessions import top_event_paths

    ts = datetime.datetime(2024, 1, 1)
    s = datetime.timedelta(seconds=1)
    rows = []
    # user 1: a b c a b c -> paths abc, bca, cab, abc
    for i, et in enumerate("abcabc"):
        rows.append((1, i, ts + i * s, et))
    # user 2: a b c -> abc
    for i, et in enumerate("abc"):
        rows.append((2, 10 + i, ts + i * s, et))
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    out = top_event_paths(ev, n_steps=3, topk=5)
    got = {
        (r.step_1, r.step_2, r.step_3): (r.path_rank, r.n_occurrences)
        for r in out.collect()
    }
    assert got[("a", "b", "c")] == (1, 3)
    assert got[("b", "c", "a")][1] == 1
    assert got[("c", "a", "b")][1] == 1
    assert len(got) == 3


def test_kmv_merge_equals_full(spark):
    from remap_spark.operators.rollup import (
        kmv_estimate,
        kmv_state,
        merge_kmv_state,
    )

    df = spark.range(0, 3000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 997).alias("v"),
    )
    half_a = df.where(F.col("id") % 2 == 0)
    half_b = df.where(F.col("id") % 2 == 1)
    full_state = kmv_state(df, ["g"], "v", k=64)
    merged = merge_kmv_state(
        kmv_state(half_a, ["g"], "v", k=64),
        kmv_state(half_b, ["g"], "v", k=64),
        ["g"],
        k=64,
    )
    assert (
        full_state.exceptAll(merged).count() == 0
        and merged.exceptAll(full_state).count() == 0
    )
    est = {
        r.g: r.est_distinct
        for r in kmv_estimate(full_state, ["g"], k=64).collect()
    }
    exact = {
        r.g: r.n
        for r in df.groupBy("g")
        .agg(F.countDistinct("v").alias("n"))
        .collect()
    }
    for g, n in exact.items():
        assert abs(est[g] - n) / n < 0.35  # k=64 -> ~12% stderr


def test_kmv_exact_below_k(spark):
    from remap_spark.operators.rollup import kmv_estimate, kmv_state

    df = spark.range(0, 40).select(
        F.lit("g").alias("g"), F.col("id").alias("v")
    )
    est = kmv_estimate(kmv_state(df, ["g"], "v", k=64), ["g"], k=64)
    r = est.collect()[0]
    assert r.n_hashes == 40 and r.est_distinct == 40


def test_soft_dedup_weights_singletons_and_clusters(spark):
    from remap_spark.operators.dedup import soft_dedup_weights

    docs = spark.createDataFrame(
        [(i,) for i in range(6)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "doc_a long, doc_b long"
    )
    out = {
        r.doc_id: (r.cluster, r.cluster_size, r.weight_ppm)
        for r in soft_dedup_weights(docs, pairs).collect()
    }
    assert out[0] == (0, 3, 333333)
    assert out[1] == (0, 3, 333333)
    assert out[2] == (0, 3, 333333)
    assert out[3] == (3, 1, 1000000)  # singleton keeps weight 1.0
    assert out[4] == (4, 2, 500000)
    assert out[5] == (4, 2, 500000)


def test_token_budget_recipe_cap_and_budget(spark):
    from remap_spark.operators.split import token_budget_recipe

    per_doc = spark.createDataFrame(
        [("tiny", 10)] * 5 + [("big", 1000)] * 10,
        "source string, n_tokens long",
    )
    out = {
        r.source: r
        for r in token_budget_recipe(
            per_doc,
            budget_tokens=10_000,
            weights={"tiny": 1, "big": 1},
            max_epochs_bp=40_000,
        ).collect()
    }
    # tiny: target 5000 over 50 tokens -> capped at 4 epochs = 200 tokens
    assert out["tiny"].epochs_bp == 40_000
    assert out["tiny"].planned_tokens == 200
    # big: target 5000 over 10000 tokens -> 0.5 epochs
    assert out["big"].epochs_bp == 5_000
    assert out["big"].planned_tokens == 5_000


def test_bigram_lm_flags_shuffled_text(spark):
    from remap_spark.operators.text import bigram_lm_scores

    fluent = "the cat sat on the mat and the cat sat on the mat again"
    docs = spark.createDataFrame(
        [(i, fluent) for i in range(8)]
        + [(8, "mat the on cat sat the and mat cat the on sat the")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.xent for r in bigram_lm_scores(docs).collect()}
    # the shuffled doc's bigrams are mostly unseen -> higher xent than
    # every fluent copy
    assert all(out[8] > out[i] for i in range(8))


def test_weighted_sample_wor_deterministic_and_weighted(spark):
    from remap_spark.operators.split import weighted_sample_wor

    rows = [(f"k{i}", 100.0 if i < 10 else 1.0) for i in range(500)]
    df = spark.createDataFrame(rows, "key string, w double")
    s1 = {r.key for r in weighted_sample_wor(df, "key", "w", 50).collect()}
    # identical under re-partitioning and row reorder
    s2 = {
        r.key
        for r in weighted_sample_wor(
            df.repartition(17).sortWithinPartitions("w"), "key", "w", 50
        ).collect()
    }
    assert s1 == s2 and len(s1) == 50
    # the 10 hundred-x-weighted keys should essentially all be kept
    heavy = {f"k{i}" for i in range(10)}
    assert len(heavy & s1) >= 9
    # growing the population keeps surviving keys' scores (subset
    # property of a pure-key draw): every sampled key that is also
    # sampled from the doubled pool keeps the same score
    bigger = spark.createDataFrame(
        rows + [(f"x{i}", 1.0) for i in range(500)], "key string, w double"
    )
    s3 = {r.key: r._es_score for r in
          weighted_sample_wor(bigger, "key", "w", 50).collect()}
    base = {r.key: r._es_score for r in
            weighted_sample_wor(df, "key", "w", 50).collect()}
    for key in set(base) & set(s3):
        assert base[key] == s3[key]


def test_weighted_sample_wor_matches_duckdb_formula(spark):
    """Engine portability of the A-ES draw: DuckDB replays the same
    md5-derived u and -ln(u)/w ordering and picks the same sample."""
    import duckdb

    from remap_spark.operators.split import weighted_sample_wor

    rows = [(f"doc{i}", float(1 + i % 7)) for i in range(300)]
    df = spark.createDataFrame(rows, "key string, w double")
    got = sorted(
        r.key for r in weighted_sample_wor(df, "key", "w", 40).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join(f"('doc{i}', {float(1 + i % 7)})" for i in range(300))
        + ") AS v(key, w)"
    )
    want = sorted(
        r[0]
        for r in con.execute(
            """
            SELECT key FROM (
              SELECT key,
                -ln((CAST('0x' || substr(md5(key || '|'), 1, 8) AS BIGINT)
                     + 1) / 4294967296.0) / w AS s
              FROM t
            ) ORDER BY s LIMIT 40
            """
        ).fetchall()
    )
    assert got == want


def test_expectations_one_pass_report(spark):
    from remap_spark.operators.expectations import Expectation, expect_report

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", -1.0), (3, None, 2.0), (3, "c", None)],
        "id long, name string, price double",
    )
    rep = expect_report(
        df,
        [
            Expectation("price_non_negative", F.col("price") >= 0),
            Expectation("name_present", F.col("name").isNotNull(), "warn"),
            Expectation("id_positive", F.col("id") > 0),
        ],
    )
    got = {r.rule: (r.rows_checked, r.violations, r["pass"]) for r in rep.collect()}
    # null price counts as a violation (contract not satisfiable)
    assert got["price_non_negative"] == (4, 2, False)
    assert got["name_present"] == (4, 1, False)
    assert got["id_positive"] == (4, 0, True)


def test_expectations_single_scan_plan(spark):
    """All rules must fold into ONE aggregate over one scan."""
    from remap_spark.engine import load_table
    from remap_spark.operators.expectations import Expectation, expect_report
    from remap_spark.plans import plan_report

    from conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    r = plan_report(
        expect_report(
            li,
            [
                Expectation("qty_positive", F.col("l_quantity") > 0),
                Expectation("price_positive", F.col("l_extendedprice") > 0),
                Expectation(
                    "discount_range",
                    (F.col("l_discount") >= 0) & (F.col("l_discount") <= 1),
                ),
            ],
        )
    )
    import re

    scans = re.findall(r"\(\d+\) Scan parquet", r["plan"])
    assert len(scans) == 1, r["plan"]


def test_attribution_first_touch(spark):
    from remap_spark.operators.sessions import attribute_conversions

    ts = datetime.datetime(2024, 1, 1)
    s = datetime.timedelta(seconds=1)
    rows = [
        # user 1: ad -> email -> purchase -> purchase (no new touch)
        (1, 1, ts + 0 * s, "ad"),
        (1, 2, ts + 1 * s, "email"),
        (1, 3, ts + 2 * s, "purchase"),
        (1, 4, ts + 3 * s, "purchase"),
        # user 2: organic purchase (no touch at all)
        (2, 5, ts + 0 * s, "purchase"),
        # user 3: purchase BEFORE any touch, then touched purchase
        (3, 6, ts + 0 * s, "purchase"),
        (3, 7, ts + 1 * s, "ad"),
        (3, 8, ts + 2 * s, "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    first = {
        r.conversion_id: r.channel
        for r in attribute_conversions(ev, ["ad", "email"], "purchase").collect()
    }
    assert first == {3: "ad", 4: "ad", 5: None, 6: None, 8: "ad"}
