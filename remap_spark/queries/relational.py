"""Declared relational queries DQ1-DQ15, DQ18-DQ20 (SURVEY.md §2.13).

Each builder takes (spark, sf_dir) and returns a DataFrame whose column
names match the DuckDB oracle in ``remap_spark.queries.oracles``.

Determinism rules shared with the oracle:
- money sums go through DECIMAL so they are exact and order-independent
  (FP sums over a shuffle are order-nondeterministic — SURVEY §4.3.2);
- every float output is ROUNDed; every query has a total ORDER BY.

Scale notes:
- region/nation joins are explicitly broadcast (5 / 25 rows at every SF);
  customer/supplier/part joins are left to AQE (they grow with SF and
  must shuffle at 100 TB).
- aggregations are plain groupBy().agg() → Catalyst does partial
  aggregation map-side (the reference's combiner, remap.py:136-144).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..engine import load_table
from ..functions import epoch_us, first_char_bucket, lineage_cut, ordered, tokenize
from ..worker import on_worker

DEC = "decimal(28,10)"


def _dec_sum(col, scale: int, alias: str):
    """Exact, order-independent sum of a double expression, rounded and
    returned as double (mirrors the oracle's CAST..DECIMAL..ROUND..DOUBLE)."""
    return (
        F.round(F.sum(col.cast(DEC)), scale).cast("double").alias(alias)
    )


def dq01_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + arithmetic (map-only job, wordcount-style narrow op).
    Ref semantics: user map() emitting one record per input row
    (/root/reference/daemons/core/module_mapper.py:48-52)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 5).alias("net"),
    ).transform(ordered, "l_orderkey", "l_linenumber")


def dq02_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown check: both predicates reach the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_quantity") > 45)
        )
        .select("l_orderkey", "l_quantity")
        .transform(ordered, "l_orderkey", "l_quantity")
    )


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> one row per token (wordcount.py:20-27 pipeline:
    translate punctuation -> lower -> whitespace split -> explode)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "source", F.explode(tokenize("text")).alias("word")
    )


def dq03_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's canonical example as ONE Spark query
    (/root/reference/tests/examples/run_wordcount.sh runs it as 6 jobs)."""
    return (
        _tokens(spark, sf_dir)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(100)
    )


def dq04_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word -> sorted distinct sources (collation.py:18-19,41-42:
    list(set(values)) == collect_set + sort_array)."""
    return (
        _tokens(spark, sf_dir)
        .groupBy("word")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("source"))).alias("sources")
        )
        .orderBy("word")
        .limit(100)
    )


def dq05_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape; hash-agg with automatic map-side partial agg
    (the reference's combiner contract, remap.py:136-144)."""
    li = load_table(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), 2, "sum_qty"),
            _dec_sum(net, 4, "sum_net"),
            F.round(
                F.sum(F.col("l_discount").cast(DEC)).cast("double") / F.count("*"), 5
            ).alias("avg_disc"),
            F.count("*").alias("cnt"),
        )
        .transform(ordered, "l_returnflag", "l_linestatus")
    )


def dq06_secondary_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary sort (remap.py:133-135 customkey): first 3 events per
    user by (ts, event_id) via row_number window."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "event_id", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
        .select("user_id", "rn", "event_id")
        .transform(ordered, "user_id", "rn")
    )


def dq07_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by revenue. orders⋈customer shuffles (both grow
    with SF); the top-k itself is a TakeOrdered — no global sort."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(_dec_sum(F.col("o_totalprice"), 2, "revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(10)
    )


def dq08_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("cnt"))
        .transform(ordered, "c_mktsegment")
    )


def dq09_multiway_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (no date filter). nation/region are broadcast —
    they are 25/5 rows at ANY scale factor; the r_name filter prunes
    before the join so the customer⋈nation join keeps only ASIA rows."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    region = F.broadcast(
        load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    )
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_dec_sum(net, 2, "revenue"))
        .transform(ordered, "n_name")
    )


def dq10_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no large orders — left_anti join (NOT IN shape).

    The o_totalprice > 300000 filter keeps the answer non-empty at every
    SF (every customer has SOME order in the fixtures, so an unfiltered
    anti join verified only the empty set — VERDICT r1 #3)."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey")
        .transform(ordered, "c_custkey")
    )


def dq10_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count of customers WITH orders — left_semi join."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .agg(F.count("*").alias("cnt"))
    )


def _cust_nations(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return cust.join(nation, cust.c_nationkey == nation.n_nationkey).select("n_name")


def _supp_nations(spark, sf_dir):
    supp = load_table(spark, sf_dir, "supplier")
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    return supp.join(nation, supp.s_nationkey == nation.n_nationkey).select("n_name")


def dq11_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _cust_nations(spark, sf_dir)
        .intersect(_supp_nations(spark, sf_dir))
        .transform(ordered, "n_name")
    )


def dq11_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    # subtract == SQL EXCEPT (set semantics); exceptAll would keep
    # per-multiplicity leftovers for nations present on both sides.
    # Supplier side restricted to rich suppliers so the difference is
    # non-empty at every SF (both sides cover all 25 nations otherwise).
    supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") >= 5000)
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    rich_supp_nations = supp.join(
        nation, supp.s_nationkey == nation.n_nationkey
    ).select("n_name")
    return (
        _cust_nations(spark, sf_dir)
        .subtract(rich_supp_nations)
        .transform(ordered, "n_name")
    )


def dq12_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP — ABSENT in the reference (SURVEY §2.4), free in Spark.
    NULL grouping levels coalesced to 'ALL' for stable hashing."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "cnt",
        )
        .transform(ordered, "rf", "ls")
    )


def dq13_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling window: one date_trunc groupBy (the same bucket
    F.window would assign)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(
            F.count("*").alias("cnt"),
            _dec_sum(F.col("value"), 5, "sum_value"),
        )
        .transform(ordered, "hour", "event_type")
    )


def dq14_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (30-min inactivity gap) on the
    shared operator (operators/sessions.sessionize: one user-keyed
    shuffle, microsecond-exact integer gap arithmetic)."""
    from ..operators.sessions import sessionize

    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev.select("user_id", "ts", "event_id"))
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events")
    )
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.count("*").alias("session_count"),
            F.max("n_events").alias("max_session_len"),
        )
        .orderBy("user_id")
        .limit(200)
    )


def dq15_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction on events.props (props = '{"k": <int>}')."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(F.sum(k).alias("k_sum"), F.count("*").alias("cnt"))
        .transform(ordered, "event_type")
    )


def dq15_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function aggregation on orders."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").cast("bigint").alias("yr"))
        .agg(
            F.count("*").alias("n_orders"),
            _dec_sum(F.col("o_totalprice"), 2, "total"),
        )
        .transform(ordered, "yr")
    )


def dq18_grouped_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ5 via the pandas-UDF escape hatch (the reference's arbitrary
    reduce() generator, module_reducer.py:72-73). Must hash-match DQ5 —
    the grouped UDF mirrors the decimal semantics with decimal.Decimal.

    Even the escape hatch must be VECTORIZED inside the UDF: the money
    columns are 2-decimal valued, so exact DECIMAL semantics reduce to
    int64 arithmetic on cents (numpy), not a per-row decimal.Decimal
    loop (which measured ~6x slower at sf0.1). Per-row Python inside a
    pandas UDF forfeits the whole point of the Arrow batch.
    """
    import pandas as pd

    def agg_group(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np

        # exact integer units: cents (1e-2) and, for net, 1e-4 dollars
        qty_c = np.rint(pdf["l_quantity"].to_numpy() * 100).astype(np.int64)
        price_c = np.rint(pdf["l_extendedprice"].to_numpy() * 100).astype(np.int64)
        disc_h = np.rint(pdf["l_discount"].to_numpy() * 100).astype(np.int64)
        net_4 = price_c * (100 - disc_h)  # 1e-4 dollars, exact
        sum_qty = float(int(qty_c.sum())) / 100.0
        sum_net = float(int(net_4.sum())) / 10000.0
        # avg mirrors dq05's SUM(DECIMAL)->DOUBLE / COUNT then ROUND
        avg = float(int(disc_h.sum())) / 100.0 / len(pdf)
        avg_disc = float(
            Decimal(repr(avg)).quantize(Decimal("1e-5"), ROUND_HALF_UP)
        )
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "l_linestatus": [pdf["l_linestatus"].iloc[0]],
                "sum_qty": [sum_qty],
                "sum_net": [sum_net],
                "avg_disc": [avg_disc],
                "cnt": [len(pdf)],
            }
        )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount"
    )
    schema = (
        "l_returnflag string, l_linestatus string, sum_qty double, "
        "sum_net double, avg_disc double, cnt bigint"
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .applyInPandas(on_worker(agg_group), schema=schema)
        # lazy cut below the final sort, which matters only when
        # ``ordered`` keeps the range sort: its sampling pass would
        # re-run the pandas UDF over every group (a second full Python
        # pass); the cut is 6 rows (see ext_winsorize)
        .transform(lineage_cut)
        .transform(ordered, "l_returnflag", "l_linestatus")
    )


def dq19_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's user-directed partition routing (wordcount.py:28-37)
    as a plain expression + groupBy."""
    return (
        _tokens(spark, sf_dir)
        .select(first_char_bucket("word").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
        .transform(ordered, "bucket")
    )


def dq21_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + count — customers keep a row with 0 orders
    (join surface ABSENT in the reference, SURVEY §2.6)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .transform(ordered, "c_custkey")
    )


def dq21_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join partitioned into both/left-only/right-only."""
    users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct()
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    side = (
        F.when(F.col("user_id").isNull(), F.lit("customer_only"))
        .when(F.col("c_custkey").isNull(), F.lit("user_only"))
        .otherwise(F.lit("both"))
    )
    return (
        users.join(cust, users.user_id == cust.c_custkey, "full_outer")
        .select(side.alias("side"))
        .groupBy("side")
        .agg(F.count("*").alias("cnt"))
        .transform(ordered, "side")
    )


def dq22_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL + aggregate (set-op surface, SURVEY §2.8)."""
    both = _cust_nations(spark, sf_dir).unionByName(
        _supp_nations(spark, sf_dir)
    )
    return (
        both.groupBy("n_name")
        .agg(F.count("*").alias("cnt"))
        .transform(ordered, "n_name")
    )


def dq20_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range join: Catalyst plans the user_id=custkey equality as
    the join key (shuffled hash / sort-merge) and the BETWEEN as a
    post-join filter — NOT a cartesian product. Check .explain.

    The +26 YEARS shift aligns the 1995-2001 order dates with the
    Jan-2024 event timestamps so the range predicate actually selects
    rows (the unshifted form matched 0 rows at every SF — VERDICT r1 #3)."""
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    shifted = F.col("o_orderdate") + F.expr("INTERVAL 26 YEARS")
    return (
        ev.join(
            orders,
            (ev.user_id == orders.o_custkey)
            & (ev.ts >= shifted)
            & (ev.ts <= shifted + F.expr("INTERVAL 7 DAYS")),
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"))
        .transform(ordered, "o_orderpriority")
    )


def dq23_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (ABSENT in the reference, SURVEY §2.4 —
    'grouping sets / cube / rollup' come free with Spark). One pass:
    Catalyst expands the cube into an Expand node feeding a single
    partial+final aggregation — no N-way union of scans."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            _dec_sum(F.col("l_quantity"), 2, "sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "cnt",
            "sum_qty",
        )
        .transform(ordered, "rf", "ls")
    )


def dq24_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY §2.6: 'as-of joins via union+window or
    range-join condition'): each event matched to the user's most
    recent order at-or-before the event timestamp.

    Plan shape: the equality user_id = o_custkey is the shuffle key, the
    date inequality is a post-join filter, and the 'most recent' pick is
    a per-event row_number — at scale the window partitions by event_id
    so no single user's order history concentrates on one task beyond
    the join itself (AQE skew-split covers hot users)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    j = ev.join(
        orders,
        (ev.user_id == orders.o_custkey)
        # timestamp_ntz: tz-free midnight, same as the oracle's naive
        # CAST(date AS TIMESTAMP); an ltz cast would move the boundary
        # by the session-tz offset relative to the NTZ event column
        & (orders.o_orderdate.cast("timestamp_ntz") <= ev.ts),
    )
    w = Window.partitionBy("event_id").orderBy(
        F.desc("o_orderdate"), "o_orderkey"
    )
    return (
        j.select("event_id", "o_orderpriority", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"))
        .transform(ordered, "o_orderpriority")
    )


def dq25_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function surface: moving average (ROWS frame), rank, and
    cumulative sum over each customer's order history. One shuffle on
    o_custkey serves all three functions (same window spec)."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ma3 = (
        F.avg(F.col("o_totalprice").cast(DEC)).over(w.rowsBetween(-2, 0))
    )
    csum = F.sum(F.col("o_totalprice").cast(DEC)).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.round(ma3, 5).cast("double").alias("ma3"),
        F.round(csum, 5).cast("double").alias("cum_spend"),
    ).transform(ordered, "o_custkey", "rn")


def dq26_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates (ABSENT in the reference, SURVEY §2.4).
    Catalyst plans multi-distinct via Expand — one shuffle, not one
    scan per distinct column. The approximate twin for 100 TB is
    approx_count_distinct (HLL, no Expand blow-up); exact is used here
    so the oracle can hash-match."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("nd_part"),
            F.countDistinct("l_suppkey").alias("nd_supp"),
            F.count("*").alias("cnt"),
        )
        .transform(ordered, "l_returnflag")
    )


def dq27_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h width / 30min slide) in batch mode. F.window
    expands each event into width/slide = 2 window rows (an Expand
    node, narrow), then one groupBy — same plan shape Structured
    Streaming uses incrementally."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("cnt"),
            _dec_sum(F.col("value"), 5, "sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
        .transform(ordered, "w_start", "event_type")
    )


def dq21_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join — symmetric twin of dq21_left_outer, closing
    out the §2.6 join surface."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "right")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .transform(ordered, "c_custkey")
    )


def dq28_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery (TPC-H Q4 shape) — expressed as a
    LEFT SEMI join, which is exactly how Catalyst rewrites EXISTS: the
    filtered lineitem side is the build side and orders never
    duplicates. No subquery-per-row re-execution at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"))
        .transform(ordered, "o_orderpriority")
    )


def dq29_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): lineitems below
    0.2x their part's average quantity, for one brand.

    Catalyst de-correlates this into an aggregate + join; we declare
    that form directly: the per-part average is ONE aggregation over
    lineitem reused via join, not a per-row subquery. The average is
    computed as SUM(DECIMAL)/COUNT so the 0.2x threshold comparison is
    order-independent (a double SUM would make the boundary depend on
    partial-aggregation order)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    avg_qty = li.groupBy("l_partkey").agg(
        (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count("*")).alias(
            "avg_qty"
        )
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_qty, "l_partkey")
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            _dec_sum(F.col("l_extendedprice"), 2, "total"),
            F.count("*").alias("cnt"),
        )
    )


def dq30_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (ABSENT in the reference, SURVEY §2.4) —
    the general form of rollup/cube, via the Spark 4 DataFrame API.
    Same single-pass Expand + one aggregation plan as dq12/dq23."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count("*").alias("cnt"),
            _dec_sum(F.col("l_quantity"), 2, "sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "cnt",
            "sum_qty",
        )
        .transform(ordered, "rf", "ls")
    )


def dq31_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with an explicit value list. Listing the pivot values
    matters at scale: without them Spark runs an extra distinct job
    over 100 TB just to discover the columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
        .select(
            F.col("l_returnflag").alias("rf"),
            F.coalesce("F", F.lit(0)).alias("cnt_f"),
            F.coalesce("O", F.lit(0)).alias("cnt_o"),
        )
        .transform(ordered, "rf")
    )


def dq32_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window) in batch mode — the
    same operator Structured Streaming runs incrementally with its
    state store. Sessions close after 30 min of
    inactivity: an event lands in the previous session iff it is
    STRICTLY within gap of the previous event (window end exclusive),
    which the gaps-and-islands oracle mirrors with `gap >= 30min` as
    the new-session test (contrast dq14's `>` convention)."""
    ev = load_table(spark, sf_dir, "events")
    per_sess = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).agg(F.count("*").alias("n_events"))
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.count("*").alias("session_count"),
            F.max("n_events").alias("max_session_len"),
        )
        .orderBy("user_id")
        .limit(200)
    )


def dq33_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (ABSENT in the reference — SURVEY §2.4 lists no
    distribution aggregates). F.percentile is the exact sort-based
    aggregate (linear interpolation, same formula as SQL PERCENTILE_CONT
    / DuckDB quantile_cont) so the oracle can hash-match. The 100 TB
    path is approx_percentile (t-digest sketch, one pass, mergeable
    partials) — same call shape, no global sort of the group.

    Both percentiles come from ONE array-literal percentile aggregate:
    two scalar percentile() calls each buffer the full value stream
    per group, so the single-buffer form measured ~40% faster at sf0.1
    (3.0 s -> 1.9 s fresh-session; see BASELINE.md dq33 note)."""
    li = load_table(spark, sf_dir, "lineitem")
    pcts = F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.9)))
    return (
        li.groupBy("l_returnflag")
        .agg(pcts.alias("_p"), F.count("*").alias("cnt"))
        .select(
            "l_returnflag",
            F.round(F.element_at("_p", 1), 4).alias("p50"),
            F.round(F.element_at("_p", 2), 4).alias("p90"),
            "cnt",
        )
        # lazy cut below the final sort, which matters only when
        # ``ordered`` keeps the range sort: its sampling pass would
        # re-run the exact-percentile buffer merge (the final
        # ObjectHashAggregate re-sorts every group's value stream a
        # second time); the cut is 3 rows (see ext_winsorize)
        .transform(lineage_cut)
        .transform(ordered, "l_returnflag")
    )


def dq34_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embeddings table
    (array<float>, dim 64): element_at + a lambda fold, all JVM-side
    Catalyst expressions — no Python boundary per SURVEY §2.9's
    native-first policy. The positive-component count folds with
    integer arithmetic (exact); the float mean goes through DECIMAL so
    partial-aggregation order cannot change the rounded result."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_pos = F.aggregate(
        "embedding",
        F.lit(0),
        lambda acc, v: acc + F.when(v > 0, 1).otherwise(0),
    )
    return (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("cnt"),
            F.round(
                F.sum(F.element_at("embedding", 1).cast("double").cast(DEC))
                / F.count("*"),
                5,
            ).cast("double").alias("avg_first"),
            F.sum(n_pos).alias("total_pos"),
        )
        .transform(ordered, "label")
    )


def dq35_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction (ABSENT in the reference — §2.9 notes regex is
    missing). First s-word per document; the pattern avoids
    dialect-divergent constructs so Java regex (Spark) and RE2 (DuckDB)
    agree. Rows with no match keep '' in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.regexp_extract("text", "s[a-z]+", 0).alias("first_s"))
        .groupBy("first_s")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "first_s")
        .limit(20)
    )


def dq36_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (SUM(CASE WHEN) / count_if): filtered
    aggregates without a second scan — one pass, partial-agg friendly,
    the idiomatic replacement for the reference's per-key reduce
    branching (module_reducer.py:72-73 user code)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_discount") > 0.05
    return (
        li.groupBy("l_linestatus")
        .agg(
            _dec_sum(F.when(disc, F.col("l_extendedprice")).otherwise(0.0), 2, "disc_rev"),
            F.count_if(disc).alias("n_disc"),
            F.count("*").alias("cnt"),
        )
        .transform(ordered, "l_linestatus")
    )


def dq37_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag + ntile window functions — inter-event gaps in exact integer
    microseconds (epoch_us on both sides, NTZ-safe, no float time
    math) and activity quartiles per user. One window spec → one
    shuffle on user_id serves both."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(epoch_us("ts")).over(w)
    return (
        ev.select(
            "user_id",
            "event_id",
            F.row_number().over(w).cast("bigint").alias("rn"),
            (epoch_us("ts") - prev).alias("gap_us"),
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
        )
        .transform(ordered, "user_id", "rn")
    )


def dq39_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window frame (ROWS BETWEEN UNBOUNDED PRECEDING AND
    CURRENT ROW): per-customer running spend. Frames are the last
    window capability the suite didn't pin (dq25/dq37 cover ranking,
    lead/lag, ntile). ROWS + a unique tiebreak (o_orderkey) makes the
    prefix sums deterministic; decimal accumulation keeps both engines
    bit-identical. One window spec → one shuffle on o_custkey."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 200)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum(F.col("o_totalprice").cast("decimal(28,10)")).over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(run, 2).cast("double").alias("running_spend"),
    ).transform(ordered, "o_custkey", "o_orderkey")


# TPC-H Q3 shape, one SQL text shared verbatim by Spark and DuckDB —
# the engine's plain-SQL entry point (Engine.sql) is first-class, not a
# DataFrame-only surface.
SQL_API_QUERY = """
    SELECT l_orderkey,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(28,10))), 2) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
"""


def dq38_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-string surface (Engine.sql): the fixture tables register as
    temp views and the identical ANSI text runs in Spark and DuckDB.
    Catalyst treats it exactly like the DataFrame plans — same
    pushdown, pruning, AQE — there is no separate SQL path to keep
    correct."""
    from ..engine import Engine

    return Engine(spark, sf_dir).sql(SQL_API_QUERY)


# Recursive CTE (Spark 4.1 WITH RECURSIVE): every customer key chases
# ancestor = floor(id/2) to the root of the implicit binary tree; the
# result is the depth histogram. Same ANSI text runs in DuckDB — the
# SQL-API twin of the DataFrame fixpoint loops (Pregel/flood), proving
# the declarative iteration surface too. Iterations = O(log max_id):
# each UNION ALL step is one shuffle over a shrinking frontier.
RECURSIVE_SQL_QUERY = """
    WITH RECURSIVE chase(id, anc, depth) AS (
      SELECT c_custkey, c_custkey, 1
      FROM customer
      UNION ALL
      SELECT id, CAST(FLOOR(anc / 2.0) AS BIGINT), depth + 1
      FROM chase WHERE anc > 1
    )
    SELECT depth, COUNT(*) AS cnt
    FROM chase
    GROUP BY depth ORDER BY depth
"""


def dq41_recursive_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE through the SQL surface (see RECURSIVE_SQL_QUERY):
    Spark 4's recursive CTE executes as an iterative union — the
    declarative counterpart to the Pregel pointer-chase (dq40)."""
    from ..engine import Engine

    return Engine(spark, sf_dir).sql(RECURSIVE_SQL_QUERY)


def ext_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (approx_percentile) — the 100 TB path
    dq33's exact per-group sort cannot take (the sketch combines
    map-side partials; the exact form ships every value). Sketch
    values differ across engines, so the driver contract follows
    ext_approx_distinct: emit exact anchors plus booleans asserting
    the sketch landed inside an exact quantile band (p50 within
    [p45, p55], p95 within [p90, p99]); the oracle computes the same
    anchors and asserts the bands as literal TRUE."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.95], 1000).alias("_apx"),
        F.expr(
            "percentile(value, array(0.45D, 0.5D, 0.55D, 0.9D, 0.99D))"
        ).alias("_ex"),
        F.count("*").alias("cnt"),
    )
    e = lambda i: F.element_at("_ex", i)  # noqa: E731
    a = lambda i: F.element_at("_apx", i)  # noqa: E731
    return agg.select(
        "event_type",
        "cnt",
        F.round(e(2), 5).alias("exact_p50"),
        ((a(1) >= e(1)) & (a(1) <= e(3))).alias("p50_ok"),
        ((a(2) >= e(4)) & (a(2) <= e(5))).alias("p95_ok"),
    ).transform(ordered, "event_type")


FUNNEL_STEPS = ["view", "click", "purchase"]
FUNNEL_WINDOW_US = 48 * 3600 * 1_000_000  # conversion window: 48h


def ext_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel (MATCH_RECOGNIZE-lite) on the generalized
    operator (operators/sessions.funnel): per user, GREEDY first-match
    of view -> click -> purchase in (ts, event_id) order, later stages
    only counting within 48h of the first view (the conversion window
    that makes funnels discriminate — without it every long-lived user
    trivially completes). Output: users reaching each stage.
    SINGLE-PASS: one shuffle on user_id, then a codegen F.aggregate
    fold over each user's sorted events. The oracle replays the
    identical greedy walk as a min-after join chain (2K shuffles —
    exactly why the fold formulation exists at scale).

    Semantics note: greedy (anchor = FIRST view) is the standard
    funnel definition and what both sides implement; an exhaustive
    best-anchor search is a different (more expensive) metric."""
    from ..operators.sessions import funnel

    ev = load_table(spark, sf_dir, "events")
    return funnel(ev, FUNNEL_STEPS, FUNNEL_WINDOW_US)


def ext_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with per-stage conversion-TIME percentiles: for every
    stage, how many users reached it and the exact p50/p90 seconds
    from the stage-1 anchor to the stage's first-match event
    (operators/sessions.funnel percentiles tier). The rollup runs over
    one row per user per reached stage — corpus-size-independent —
    and the percentile is Spark's exact ``percentile`` (linear
    interpolation, the same definition as DuckDB quantile_cont)."""
    from ..operators.sessions import funnel

    ev = load_table(spark, sf_dir, "events")
    return funnel(ev, FUNNEL_STEPS, FUNNEL_WINDOW_US, percentiles=(0.5, 0.9))


def ext_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the events table
    (operators/sessions.cohort_retention): users cohorted by their
    first-seen epoch-aligned 7-day period, per-cell distinct-active
    counts and half-up-rounded retention rates. period_days=7
    exercises the period-aligned cohort key (the r4 advisor finding:
    day-truncated cohorts with only period_idx scaled)."""
    from ..operators.sessions import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev, period_days=7)


def ext_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU per day over events
    (operators/sessions.rolling_active_users): the COUNT(DISTINCT)-
    over-range-window shape via bounded k-fold expansion of the
    user-day activity relation."""
    from ..operators.sessions import rolling_active_users

    ev = load_table(spark, sf_dir, "events")
    return rolling_active_users(ev, window_days=7).transform(ordered, "day")


def ext_active_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAU sketch tier (operators/sessions.rolling_active_users_approx):
    per-day HLL user sketches merged over the trailing window — shuffle
    independent of user cardinality, the 100 TB path for
    ext_active_users. Sketch VALUES differ across engines, so the
    driver contract is the error-band predicate (exact anchors from
    the exact tier + booleans asserting the sketch within ±10%), like
    ext_approx_distinct."""
    from ..operators.sessions import (
        rolling_active_users,
        rolling_active_users_approx,
    )

    ev = load_table(spark, sf_dir, "events")
    exact = rolling_active_users(ev, window_days=7)
    apx = rolling_active_users_approx(ev, window_days=7)
    return (
        exact.join(apx, "day")
        .select(
            "day",
            "dau",
            "wau",
            (
                (F.col("dau_apx") >= F.col("dau") * 0.9)
                & (F.col("dau_apx") <= F.col("dau") * 1.1)
            ).alias("dau_ok"),
            (
                (F.col("wau_apx") >= F.col("wau") * 0.9)
                & (F.col("wau_apx") <= F.col("wau") * 1.1)
            ).alias("wau_ok"),
        )
        .transform(ordered, "day")
    )


def ext_pipeline_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-analytics composition FLAGSHIP (the sessions twin of
    ext_pipeline_curate): sessionize -> per-user funnel fold -> weekly
    cohort, all inside ONE plan with a SINGLE user-keyed exchange —
    the sessionize window's hash partitioning on user_id is reused by
    the per-user aggregate (session count, first-seen day, sorted
    event array for the greedy stage fold), so chaining the three
    operators adds no extra user shuffle (pinned by
    test_plans.test_pipeline_analytics_single_user_exchange). Reports
    (cohort, stage_reached, sess_bucket, n_users): users per
    epoch-aligned weekly cohort x funnel stage reached x decade
    session-count bucket (floor(n/10), capped at 20)."""
    from ..operators.sessions import sessionize, stage_fold_expr

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    sess = sessionize(ev)
    per_user = sess.groupBy("user_id").agg(
        F.max("session_id").alias("_ns"),
        F.min(F.to_date(F.date_trunc("day", "ts"))).alias("_d0"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("ts").alias("ts"),
                    F.col("event_id").alias("eid"),
                    F.col("event_type").alias("et"),
                )
            )
        ).alias("_evs"),
    )
    fold = stage_fold_expr(FUNNEL_STEPS, FUNNEL_WINDOW_US)
    off = F.pmod(
        F.datediff(F.col("_d0"), F.to_date(F.lit("1970-01-01"))), F.lit(7)
    )
    staged = per_user.select(
        F.date_format(
            F.date_sub("_d0", off.cast("int")), "yyyy-MM-dd"
        ).alias("cohort"),
        F.size(F.filter(fold, lambda x: x.isNotNull()))
        .cast("bigint")
        .alias("stage_reached"),
        F.least(F.floor(F.col("_ns") / 10), F.lit(20))
        .cast("bigint")
        .alias("sess_bucket"),
    )
    return (
        staged.groupBy("cohort", "stage_reached", "sess_bucket")
        .agg(F.count("*").alias("n_users"))
        .transform(ordered, "cohort", "stage_reached", "sess_bucket")
    )


def dq43_rolling_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (RANGE BETWEEN interval PRECEDING): per
    event_type, count+sum of events in the trailing 1 hour — the
    monitoring/feature-engineering shape rows-frames (dq39) cannot
    express (peers at equal ts must share one frame; row counts per
    frame vary with density).

    Ordering is the exact integer epoch (epoch_us, NTZ-safe) so the
    frame bound is integer arithmetic in both engines — no float time
    math, no calendar-interval dialect drift. One window spec → one
    shuffle on event_type; the running frame is computed by Spark's
    sliding window accumulator, not a self-join (an interval self-join
    would shuffle events × avg-density rows at 100 TB)."""
    ev = load_table(spark, sf_dir, "events")
    us = epoch_us("ts")
    w = (
        Window.partitionBy("event_type")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    run = F.sum(F.col("value").cast("decimal(28,10)")).over(w)
    # lazy cut below the final sort, which matters only when
    # ``ordered`` keeps the range sort: its sampling pass would re-run
    # the decimal range-frame window (see ext_winsorize)
    return lineage_cut(
        ev.select(
            "event_id",
            "event_type",
            F.count("*").over(w).alias("n_1h"),
            F.round(run, 5).cast("double").alias("sum_1h"),
        )
    ).transform(ordered, "event_type", "event_id")


def dq44_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (MERGE INTO semantics as a pure DataFrame plan): apply
    a deterministic change-set to ``orders`` — matched keys update
    price/status, unmatched change rows insert — without a table
    format's transaction layer. The change-set is derived from the
    fixture itself (keys ≡ 0 mod 7 update; keys ≡ 3 mod 11 re-insert
    shifted by 10M, disjoint from real keys).

    Shape: ONE full-outer shuffle join on the key + coalesce per
    column — the standard scale-out upsert when the base is re-written
    (copy-on-write). At 100 TB the practical refinement is partition
    pruning: join only the base partitions the change-set touches
    (changes are usually recent) — the plan here is that inner step.
    """
    o = load_table(spark, sf_dir, "orders")
    # The +10% update is computed in integer cents with explicit
    # half-up (cents*11+5)//10: ROUND(double*1.1, 2) is engine-divergent
    # on .005 ties (Spark rounds the shortest decimal repr half-up,
    # DuckDB rounds the binary value) — e.g. 283256.85*1.1.
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    updates = (
        o.where(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            (F.floor((cents * 11 + 5) / 10) / 100.0).alias("c_price"),
            F.lit("U").alias("c_status"),
        )
    )
    inserts = (
        o.where(F.col("o_orderkey") % 11 == 3)
        .select(
            (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
            F.round(F.col("o_totalprice"), 2).alias("c_price"),
            F.lit("I").alias("c_status"),
        )
    )
    changes = updates.unionByName(inserts)
    base = o.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("b_price"),
        F.col("o_orderstatus").alias("b_status"),
    )
    merged = base.join(changes, "o_orderkey", "full_outer")
    return merged.select(
        "o_orderkey",
        F.coalesce("c_price", "b_price").alias("o_totalprice"),
        F.coalesce("c_status", "b_status").alias("o_orderstatus"),
        F.when(F.col("b_price").isNull(), F.lit("inserted"))
        .when(F.col("c_price").isNull(), F.lit("unchanged"))
        .otherwise(F.lit("updated"))
        .alias("merge_action"),
    ).transform(ordered, "o_orderkey")


# Columns profiled by ext_profile_columns — config, not code; any
# numeric column list works. Kept module-level so the oracle generator
# mirrors it exactly.
PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def ext_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profiler: per numeric column — row count,
    null count, distinct count, min, max. The standard pre-training
    corpus / warehouse health check.

    Shape: ONE scan computes every metric as a single wide aggregate
    row (4 cols × 5 metrics), then `stack` unpivots it to one row per
    column — driver never loops over columns issuing N scans (the
    anti-pattern that re-reads 100 TB once per column). count_distinct
    over multiple columns in one agg expands rows (Spark's Expand
    operator, one duplicate per distinct-column) — the documented
    trade; for wide profiles swap approx_count_distinct, which
    aggregates all columns in one pass with no Expand."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("_n")]
    for c in PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}_nul"),
            F.count_distinct(F.col(c)).alias(f"{c}_dst"),
            F.round(F.min(c), 5).alias(f"{c}_min"),
            F.round(F.max(c), 5).alias(f"{c}_max"),
        ]
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}_nul, {c}_dst, {c}_min, {c}_max" for c in PROFILE_COLS
    )
    return one.selectExpr(
        "_n AS n_rows",
        f"stack({len(PROFILE_COLS)}, {stack_args}) "
        "AS (col_name, n_null, n_distinct, min_val, max_val)",
    ).select(
        "col_name", "n_rows", "n_null", "n_distinct", "min_val", "max_val"
    ).transform(ordered, "col_name")


def ext_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct counting (HLL) — the 100 TB path where
    exact multi-distinct's Expand blow-up is unaffordable. HLL sketch
    VALUES differ across engines, so the driver-checkable contract is an
    error-band predicate instead: emit the exact count plus a boolean
    ``apx_ok`` = (approx within ±10%% of exact); the DuckDB oracle
    computes the same exact counts and asserts the band as a literal
    TRUE. tests/test_extensions.py additionally asserts <5%% relative
    error on the raw sketch."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("_apx"),
        F.count_distinct("l_partkey").alias("exact_part"),
        F.count("*").alias("cnt"),
    )
    return agg.select(
        "l_returnflag",
        "exact_part",
        "cnt",
        (
            (F.col("_apx") >= F.col("exact_part") * 0.9)
            & (F.col("_apx") <= F.col("exact_part") * 1.1)
        ).alias("apx_ok"),
    ).transform(ordered, "l_returnflag")


def dq45_rank_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank window surface: percent_rank / cume_dist /
    ntile / nth_value / first+last over an explicit full-partition
    frame — the remaining ANSI window functions not exercised by
    dq25/dq37/dq39. Ranks are quantized to ppm with explicit half-up
    (floor(x*1e6+0.5)) because both engines derive them from the same
    integer rank arithmetic; the ordering carries o_orderkey so ntile
    assignment is deterministic under value ties."""
    o = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1995-01-01")
            & (F.col("o_orderdate") < "1995-02-01")
        )
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    wo = Window.partitionBy("o_orderpriority").orderBy("cents", "o_orderkey")
    wf = wo.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            "cents",
            F.floor(F.percent_rank().over(wo) * 1000000 + 0.5)
            .cast("bigint")
            .alias("pr_ppm"),
            F.floor(F.cume_dist().over(wo) * 1000000 + 0.5)
            .cast("bigint")
            .alias("cd_ppm"),
            F.ntile(4).over(wo).alias("quartile"),
            F.nth_value("cents", 3).over(wf).alias("third_cents"),
            F.first("cents").over(wf).alias("min_cents"),
            F.last("cents").over(wf).alias("max_cents"),
        )
        .transform(ordered, "o_orderpriority", "cents", "o_orderkey")
    )
