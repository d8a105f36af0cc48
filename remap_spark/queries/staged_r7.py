"""Round-7 staged driver registrations.

Every operator shipped in round 6 without a driver-window slot (the
50-slot check window was fully consumed by never-checked round-5/6
queries) got its driver-shaped form HERE: a deterministic ``(spark,
sf_dir) -> DataFrame`` wrapper with explicit ordering/rounding plus the
exact DuckDB oracle SQL. Round 7 promoted them with a pure dict merge
(``queries/__init__.register_extensions``); ``tests/test_staged_r7.py``
replays every entry against its oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import load_table, local_frame
from ..functions import lineage_cut, ordered
from ..operators.experiments import ab_test_report, crosstab_chi2
from ..operators.linkage import resolve_entities
from ..operators.basket import association_rules
from ..operators.expectations import Expectation, expect_report
from ..operators.ml import winsorize
from ..operators.pregel import k_core
from ..operators.rollup import KMV_DOMAIN, kmv_set_ops
from ..operators.scd import table_changes
from ..operators.segments import rfm_segments
from ..operators.sessions import attribute_conversions, markov_transitions
from ..operators.similarity import embedding_cross_matches
from ..operators.skew import key_skew_report
from ..operators.skyline import pareto_frontier
from ..operators.split import shuffle_for_training, weighted_sample_wor
from ..operators.text import build_inverted_index
from ..operators.timeseries import (
    period_over_period,
    rolling_zscore_anomalies,
    time_weighted_avg,
)

_KMV_K = 128


def ext_sample_wor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted WOR sample of documents, weight =
    n_chars; the oracle replays the identical md5-derived draw, so the
    SAMPLE (not just its size) must match."""
    docs = load_table(spark, sf_dir, "documents")
    out = weighted_sample_wor(
        docs, "doc_id", F.col("n_chars").cast("double"), 100
    )
    return out.select("doc_id", "source").transform(ordered, "doc_id")


_SAMPLE_WOR_SQL = """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
        -ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'), 1, 8)
             AS BIGINT) + 1) / 4294967296.0)
          / CAST(n_chars AS DOUBLE) AS s
      FROM documents WHERE n_chars > 0
    ) ORDER BY s LIMIT 100
"""
# outer order is doc_id for the hash; the driver sorts rows itself, so
# the LIMIT subquery's own order is what matters
_SAMPLE_WOR_SQL = f"SELECT * FROM ({_SAMPLE_WOR_SQL}) ORDER BY doc_id"


def ext_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass Deequ-style contract report over lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    return expect_report(
        li,
        [
            Expectation("qty_positive", F.col("l_quantity") > 0),
            Expectation("price_positive", F.col("l_extendedprice") > 0),
            Expectation(
                "discount_range",
                (F.col("l_discount") >= 0) & (F.col("l_discount") <= 1),
                "warn",
            ),
            Expectation("tax_small", F.col("l_tax") < 0.05),
        ],
    )


_EXPECTATIONS_SQL = """
    WITH a AS (
      SELECT COUNT(*) AS rows_checked,
        count_if(NOT COALESCE(l_quantity > 0, FALSE)) AS v_qty,
        count_if(NOT COALESCE(l_extendedprice > 0, FALSE)) AS v_price,
        count_if(NOT COALESCE(l_discount >= 0 AND l_discount <= 1, FALSE))
          AS v_disc,
        count_if(NOT COALESCE(l_tax < 0.05, FALSE)) AS v_tax
      FROM lineitem
    )
    SELECT * FROM (
      SELECT 'qty_positive' AS rule, 'error' AS severity, rows_checked,
             CAST(v_qty AS BIGINT) AS violations, v_qty = 0 AS "pass"
      FROM a
      UNION ALL
      SELECT 'price_positive', 'error', rows_checked,
             CAST(v_price AS BIGINT), v_price = 0 FROM a
      UNION ALL
      SELECT 'discount_range', 'warn', rows_checked,
             CAST(v_disc AS BIGINT), v_disc = 0 FROM a
      UNION ALL
      SELECT 'tax_small', 'error', rows_checked,
             CAST(v_tax AS BIGINT), v_tax = 0 FROM a
    ) ORDER BY rule
"""


def ext_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch channel attribution of purchases over the events
    stream (touches = view/click/signup)."""
    ev = load_table(spark, sf_dir, "events")
    out = attribute_conversions(ev, ["view", "click", "signup"], "purchase")
    return out.select("user_id", "conversion_id", "channel").transform(
        ordered, "conversion_id"
    )


_ATTRIBUTION_SQL = """
    SELECT user_id, event_id AS conversion_id, channel FROM (
      SELECT user_id, event_id, event_type,
             first_value(CASE WHEN event_type IN ('view','click','signup')
                              THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS channel
      FROM events
    ) WHERE event_type = 'purchase'
    ORDER BY conversion_id
"""


def ext_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = association_rules(li, "l_orderkey", "l_partkey", min_pair_baskets=2)
    # NOTE r13: a pre-sort lazy cut A/B-measured a wash (2.34/2.61 vs
    # 2.60/2.23 s) — the rule joins already read the operator's cells
    # cut; left uncut to keep the r12 plan shape.
    return out.transform(ordered, "antecedent", "consequent")


_BASKET_RULES_SQL = """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT bk) AS n_baskets FROM items),
    ic AS (SELECT it, COUNT(*) AS c FROM items GROUP BY it),
    pairs AS (
      SELECT a.it AS ia, b.it AS ib, COUNT(*) AS pc
      FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
      GROUP BY a.it, b.it HAVING COUNT(*) >= 2
    ),
    directed AS (
      SELECT ia AS antecedent, ib AS consequent, pc FROM pairs
      UNION ALL SELECT ib, ia, pc FROM pairs
    )
    SELECT d.antecedent, d.consequent, d.pc AS pair_baskets,
           ca.c AS antecedent_baskets, cc.c AS consequent_baskets,
           CAST(d.pc * 1000000 // n.n_baskets AS BIGINT) AS support_ppm,
           CAST(d.pc * 1000000 // ca.c AS BIGINT) AS confidence_ppm,
           CAST((d.pc * 1000000 // ca.c) * n.n_baskets // cc.c AS BIGINT)
             AS lift_ppm
    FROM directed d
    JOIN ic ca ON ca.it = d.antecedent
    JOIN ic cc ON cc.it = d.consequent
    CROSS JOIN n
    ORDER BY antecedent, consequent
"""


def ext_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking key = the name prefix through the 7th digit of the
    9-digit customer number: blocks stay <= 100 records at ANY scale
    factor (pair work is sum of block^2 — the segment-blocked variant
    was 93 s at sf0.1, this is ~2 s), while every levenshtein<=2 match
    that differs only in the last two digits stays inside one block —
    the blocking-quality-vs-cost dial belongs to the caller and the
    oracle replays whatever key is chosen."""
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "_blk", F.substring("c_name", 1, 16)
    )
    out = resolve_entities(
        cust, "c_custkey", "c_name", "_blk", max_distance=2
    )
    return out.select("c_custkey", "entity_id").transform(ordered, "c_custkey")


_ENTITY_RESOLUTION_SQL = """
    WITH RECURSIVE pairs AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM customer a JOIN customer b
        ON substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16)
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
    SELECT c.c_custkey, COALESCE(comp.ent, c.c_custkey) AS entity_id
    FROM customer c LEFT JOIN comp ON comp.u = c.c_custkey
    ORDER BY c_custkey
"""


def ext_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ordr = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    out = rfm_segments(ordr, "o_custkey", "o_orderdate", "cents")
    return out.transform(ordered, "o_custkey")


_RFM_SEGMENTS_SQL = """
    WITH pc AS (
      SELECT o_custkey, MAX(o_orderdate) AS last_d, COUNT(*) AS frequency,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary
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
        + (frequency > fc3)::INT + (frequency > fc4)::INT AS f_score,
      1 + (monetary > mc1)::INT + (monetary > mc2)::INT
        + (monetary > mc3)::INT + (monetary > mc4)::INT AS m_score,
      (5 - ((recency_days > rc1)::INT + (recency_days > rc2)::INT
          + (recency_days > rc3)::INT + (recency_days > rc4)::INT)) * 100
      + (1 + (frequency > fc1)::INT + (frequency > fc2)::INT
           + (frequency > fc3)::INT + (frequency > fc4)::INT) * 10
      + 1 + (monetary > mc1)::INT + (monetary > mc2)::INT
          + (monetary > mc3)::INT + (monetary > mc4)::INT AS rfm
    FROM pc2 CROSS JOIN cuts
    ORDER BY o_custkey
"""


def ext_ts_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.concat_ws(
            "|",
            F.col("l_shipdate").cast("string"),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ).alias("tick"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    # int64 tier: cents = l_extendedprice*100 <= 50 * 100k * 100 —
    # promise 1.1e7, enforced in-plan; flags identical to the decimal
    # tier (same integers), window state 8-byte longs not BigDecimals
    out = rolling_zscore_anomalies(
        li, ["l_suppkey"], "tick", "cents", n=20, min_periods=5,
        value_bound=11_000_000,
    )
    return out.select(
        "l_suppkey", "tick", "cents", "trailing_n", "is_anomaly"
    ).transform(ordered, "l_suppkey", "tick")


_TS_ZSCORE_SQL = """
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
      WINDOW win AS (PARTITION BY l_suppkey ORDER BY tick
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT l_suppkey, tick, cents, c AS trailing_n,
      CASE WHEN c >= 5 THEN (c*cents - s)*(c*cents - s) > 9*(c*q - s*s)
           ELSE FALSE END AS is_anomaly
    FROM w ORDER BY l_suppkey, tick
"""


def ext_ts_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ordr = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.col("o_orderdate").cast("timestamp").alias("ots"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("o_custkey", "ots")
        .agg(F.max("cents").alias("cents"))
    )
    out = time_weighted_avg(ordr, ["o_custkey"], "ots", "cents")
    return out.transform(ordered, "o_custkey")


_TS_TWAP_SQL = """
    WITH t AS (
      SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS ots,
             MAX(CAST(o_totalprice * 100 AS BIGINT)) AS cents
      FROM orders GROUP BY 1, 2
    ),
    d AS (
      SELECT o_custkey, cents,
        COALESCE(CAST(epoch(LEAD(ots) OVER win - ots) AS BIGINT), 0) AS dt
      FROM t WINDOW win AS (PARTITION BY o_custkey ORDER BY ots)
    )
    SELECT o_custkey,
      -- DuckDB SUM(BIGINT) is HUGEINT; the driver's typed hash
      -- distinguishes i128 from Spark's bigint — cast it away
      CAST(CASE WHEN SUM(dt) > 0 THEN SUM(cents * dt) // SUM(dt)
                ELSE SUM(cents) // COUNT(*) END AS BIGINT) AS twap,
      COUNT(*) AS n_obs,
      CAST(SUM(dt) AS BIGINT) AS span_seconds
    FROM d GROUP BY o_custkey ORDER BY o_custkey
"""


def ext_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
        "p_size",
    )
    out = pareto_frontier(part, {"cents": "min", "p_size": "max"})
    return out.transform(ordered, "p_partkey")


_SKYLINE_SQL = """
    WITH t AS (
      SELECT p_partkey,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) AS cents, p_size
      FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
    )
    SELECT * FROM t a
    WHERE NOT EXISTS (
      SELECT 1 FROM t b
      WHERE b.cents <= a.cents AND b.p_size >= a.p_size
        AND (b.cents < a.cents OR b.p_size > a.p_size)
    )
    ORDER BY p_partkey
"""


def ext_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return key_skew_report(li, "l_partkey", topk=25).transform(ordered, "rank")


_SKEW_REPORT_SQL = """
    WITH c AS (
      SELECT CAST(l_partkey AS VARCHAR) AS key, COUNT(*) AS n_rows
      FROM lineitem GROUP BY 1
    ),
    t AS (
      SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
             COUNT(*) AS distinct_keys
      FROM c
    ),
    top AS (SELECT * FROM c ORDER BY n_rows DESC, key ASC LIMIT 25)
    SELECT
      CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, key ASC) AS BIGINT)
        AS rank,
      key, n_rows,
      CAST(n_rows * 1000000 // total_rows AS BIGINT) AS share_ppm,
      CAST(SUM(n_rows) OVER (ORDER BY n_rows DESC, key ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           * 1000000 // total_rows AS BIGINT) AS cum_share_ppm,
      total_rows, distinct_keys,
      CAST(total_rows // distinct_keys AS BIGINT) AS avg_rows_per_key
    FROM top CROSS JOIN t ORDER BY rank
"""


def ext_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    users = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("conv")
        )
        .select(
            F.when(F.col("user_id") % 2 == 0, "even")
            .otherwise("odd")
            .alias("variant"),
            "conv",
        )
    )
    return ab_test_report(users, "variant", F.col("conv") == 1, "even", "odd")


_AB_Z2 = """
    CASE WHEN (CAST(n_treatment AS HUGEINT) * n_control
           * (conv_treatment + conv_control)
           * (n_treatment + n_control - conv_treatment - conv_control)) = 0
         THEN 0
    ELSE (CAST(conv_treatment AS HUGEINT) * n_control
          - CAST(conv_control AS HUGEINT) * n_treatment)
       * (CAST(conv_treatment AS HUGEINT) * n_control
          - CAST(conv_control AS HUGEINT) * n_treatment)
       * (n_treatment + n_control) * 1000000
       // (CAST(n_treatment AS HUGEINT) * n_control
           * (conv_treatment + conv_control)
           * (n_treatment + n_control - conv_treatment - conv_control))
    END
"""

_AB_TEST_SQL = f"""
    WITH u AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS variant,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    a AS (
      -- count_if returns HUGEINT in DuckDB; the driver's typed-value
      -- hash distinguishes i128 from Spark's bigint (dq15_json lesson)
      SELECT
        CAST(count_if(variant = 'even') AS BIGINT) AS n_control,
        CAST(count_if(variant = 'even' AND conv = 1) AS BIGINT)
          AS conv_control,
        CAST(count_if(variant = 'odd') AS BIGINT) AS n_treatment,
        CAST(count_if(variant = 'odd' AND conv = 1) AS BIGINT)
          AS conv_treatment
      FROM u
    )
    SELECT n_control, conv_control, n_treatment, conv_treatment,
      CAST(conv_control * 1000000 // n_control AS BIGINT)
        AS rate_control_ppm,
      CAST(conv_treatment * 1000000 // n_treatment AS BIGINT)
        AS rate_treatment_ppm,
      CAST(conv_treatment * 1000000 // n_treatment
         - conv_control * 1000000 // n_control AS BIGINT) AS uplift_ppm,
      CAST({_AB_Z2} AS BIGINT) AS z2_ppm,
      CAST({_AB_Z2} AS BIGINT) > 3841600 AS significant_95
    FROM a
"""


def ext_crosstab_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ordr = load_table(spark, sf_dir, "orders")
    out = crosstab_chi2(ordr, "o_orderpriority", "o_orderstatus")
    return out.transform(ordered, "o_orderpriority", "o_orderstatus")


_CROSSTAB_CHI2_SQL = """
    WITH cells AS (
      SELECT o_orderpriority AS r, o_orderstatus AS c, COUNT(*) AS observed
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
           * 1000000 // (nn * rt * ct) AS BIGINT) AS contribution_ppm
    FROM cells JOIN rm USING (r) JOIN cm USING (c) CROSS JOIN n
    ORDER BY o_orderpriority, o_orderstatus
"""


def ext_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    out = period_over_period(daily, ["event_type"], "day", "n", 7)
    return out.transform(ordered, "event_type", "day")


_PERIOD_OVER_PERIOD_SQL = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT d.event_type, d.day, d.n, p.n AS prev_value,
           d.n - p.n AS delta,
           (d.n - p.n) * 1000000 // NULLIF(p.n, 0) AS pct_change_ppm
    FROM daily d
    LEFT JOIN daily p
      ON p.event_type = d.event_type AND p.day + INTERVAL 7 DAY = d.day
    ORDER BY d.event_type, d.day
"""


def ext_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operator keeps its typed ARRAY postings
    (operators/text.build_inverted_index); the DRIVER-facing wrapper
    serializes them to comma-joined strings because the driver's
    pandas canonicalizer cannot hash list cells (the r7 red row:
    ``TypeError: unhashable type: 'list'`` in ``_canon``). The oracle
    mirrors with ``array_to_string`` — same hash contract, same
    values. See the array-free output convention in SURVEY §8."""
    docs = load_table(spark, sf_dir, "documents")
    idx = build_inverted_index(docs, min_doc_freq=5)
    return idx.select(
        "term",
        "doc_freq",
        "coll_freq",
        F.array_join(F.col("doc_ids").cast("array<string>"), ",").alias(
            "doc_ids"
        ),
        F.array_join(F.col("term_freqs").cast("array<string>"), ",").alias(
            "term_freqs"
        ),
    ).transform(ordered, "term")


_INVERTED_INDEX_SQL = r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(translate(text,
               '.,?:;!"', '       ')), '\s+')) AS word
      FROM documents
    ),
    words AS (SELECT * FROM toks WHERE word <> ''),
    tf AS (
      SELECT word AS term, doc_id, COUNT(*) AS tf FROM words GROUP BY 1, 2
    )
    SELECT term, COUNT(*) AS doc_freq, CAST(SUM(tf) AS BIGINT) AS coll_freq,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS doc_ids,
           array_to_string(list(tf ORDER BY doc_id), ',') AS term_freqs
    FROM tf GROUP BY term HAVING COUNT(*) >= 5 ORDER BY term
"""


def ext_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return markov_transitions(ev).transform(ordered, "from_event", "to_event")


_MARKOV_TRANSITIONS_SQL = """
    WITH pairs AS (
      SELECT event_type AS from_event,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_event
      FROM events
    ),
    counted AS (
      SELECT from_event, to_event, COUNT(*) AS n_transitions
      FROM pairs WHERE to_event IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_event, to_event, n_transitions,
           CAST(SUM(n_transitions) OVER (PARTITION BY from_event) AS BIGINT)
             AS from_total,
           CAST(n_transitions * 1000000 //
                SUM(n_transitions) OVER (PARTITION BY from_event) AS BIGINT)
             AS prob_ppm
    FROM counted ORDER BY from_event, to_event
"""


def ext_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set overlap of two order-key slices, bit-exact KMV
    estimator replay (k=128)."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("v")
    )
    b = orders.where(F.col("o_orderkey") % 2 != 0).select(
        F.col("o_orderkey").alias("v")
    )
    return kmv_set_ops(a, b, "v", k=_KMV_K)


_KMV_SET_OPS_SQL = f"""
    WITH ha AS (SELECT DISTINCT CAST('0x' || substr(md5(
                  CAST(o_orderkey AS VARCHAR)), 1, 13) AS BIGINT) h
                FROM orders WHERE o_orderkey % 3 != 0),
         hb AS (SELECT DISTINCT CAST('0x' || substr(md5(
                  CAST(o_orderkey AS VARCHAR)), 1, 13) AS BIGINT) h
                FROM orders WHERE o_orderkey % 2 != 0),
         sa AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_K}),
         sb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_K}),
         m AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
               ORDER BY h LIMIT {_KMV_K}),
         st AS (SELECT
                  (SELECT COUNT(*) FROM m) m,
                  (SELECT MAX(h) FROM m) hk,
                  (SELECT COUNT(*) FROM m
                   WHERE h IN (SELECT h FROM sa)
                     AND h IN (SELECT h FROM sb)) c,
                  (SELECT COUNT(*) FROM sa) na,
                  (SELECT MAX(h) FROM sa) ha_k,
                  (SELECT COUNT(*) FROM sb) nb,
                  (SELECT MAX(h) FROM sb) hb_k)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      CAST(CASE WHEN na < {_KMV_K} THEN na
           ELSE CAST({_KMV_K - 1} AS BIGINT) * {KMV_DOMAIN} // ha_k END
        AS BIGINT) AS est_distinct_a,
      CAST(CASE WHEN nb < {_KMV_K} THEN nb
           ELSE CAST({_KMV_K - 1} AS BIGINT) * {KMV_DOMAIN} // hb_k END
        AS BIGINT) AS est_distinct_b,
      CAST(CASE WHEN m < {_KMV_K} THEN m
           ELSE CAST({_KMV_K - 1} AS BIGINT) * {KMV_DOMAIN} // hk END
        AS BIGINT) AS est_union,
      CAST(c * 1000000 // m AS BIGINT) AS jaccard_ppm,
      CAST(CASE WHEN m < {_KMV_K} THEN c
           ELSE c * (CAST({_KMV_K - 1} AS BIGINT) * {KMV_DOMAIN} // hk) // m
           END AS BIGINT) AS est_intersect
    FROM st
"""


def ext_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = shuffle_for_training(docs, "doc_id", n_shards=8, seed="s1")
    return out.select("doc_id", "shard", "shard_order").transform(ordered, "doc_id")


_SHUFFLE_SHARDS_SQL = """
    SELECT doc_id, CAST(h % 8 AS INT) AS shard, h AS shard_order
    FROM (SELECT doc_id,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                   || '|shuf|s1'), 1, 8) AS BIGINT) AS h
          FROM documents)
    ORDER BY doc_id
"""


def ext_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = winsorize(
        li.select("l_orderkey", "l_linenumber", "l_returnflag",
                  "l_extendedprice"),
        "l_extendedprice",
        group_cols=["l_returnflag"],
        p_lo=0.05,
        p_hi=0.95,
    )
    # lazy cut below the final sort, which matters only when
    # ``ordered`` keeps the range sort: the range exchange SAMPLES its
    # child to pick partition bounds, re-executing the scan + cuts
    # join once more (RDD-level, invisible in the static plan); the
    # cut materializes the output-sized projection once (probed r13:
    # 2.20 -> 1.86 s on this exact shape)
    return lineage_cut(
        out.select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.round("l_extendedprice_wins", 4).alias("wins"),
            "is_clipped",
        )
    ).transform(ordered, "l_orderkey", "l_linenumber")


_WINSORIZE_SQL = """
    WITH cuts AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS lo,
             quantile_cont(l_extendedprice, 0.95) AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           ROUND(CASE WHEN l_extendedprice < lo THEN lo
                      WHEN l_extendedprice > hi THEN hi
                      ELSE l_extendedprice END, 4) AS wins,
           CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
                THEN 1 ELSE 0 END AS is_clipped
    FROM lineitem l JOIN cuts c USING (l_returnflag)
    ORDER BY l_orderkey, l_linenumber
"""


def ext_cross_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-corpus cosine matches: train = vec_id >= 100,
    eval = vec_id < 100 (the semantic-decontamination probe)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = embedding_cross_matches(
        emb.where(F.col("vec_id") >= 100),
        emb.where(F.col("vec_id") < 100),
        threshold=0.4,
    )
    # lazy cut below the final sort, which matters only when
    # ``ordered`` keeps the range sort: its sampling pass would re-run
    # the Arrow GEMM pass over every block pair (a second full Python
    # boundary crossing — the dq18 shape); cut is match-sized
    return lineage_cut(
        out.select("a_id", "b_id", F.round("cosine", 5).alias("cosine"))
    ).transform(ordered, "a_id", "b_id")


_CROSS_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)

_CROSS_MATCHES_SQL = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           ROUND({_CROSS_COS.format(a='a.v', b='b.v')}, 5) AS cosine
    FROM e a JOIN e b ON a.vec_id >= 100 AND b.vec_id < 100
    WHERE {_CROSS_COS.format(a='a.v', b='b.v')} >= 0.4
    ORDER BY a_id, b_id
"""


def ext_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the lineitem order-part co-occurrence graph folded
    onto 1500 vertices."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.select(
        (F.col("l_orderkey") % 1500).alias("src"),
        (F.col("l_partkey") % 1500).alias("dst"),
    )
    return k_core(g, k=3).transform(ordered, "vertex_id")


_K_CORE_SQL = """
    WITH RECURSIVE und AS (
      SELECT l_orderkey % 1500 AS src, l_partkey % 1500 AS dst
      FROM lineitem WHERE l_orderkey % 1500 != l_partkey % 1500
    ),
    sym AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und
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
    UNION ALL
    -- convergence assertion: the alive edge set only ever shrinks, so
    -- equal counts at iter 29 and 30 <=> the peel reached fixpoint
    -- inside the unroll bound. A graph whose peel depth exceeds 30
    -- (possible above the tested sf0.001/sf0.01) emits this sentinel
    -- row and fails the replay LOUDLY instead of comparing the Spark
    -- fixpoint against a not-yet-converged oracle edge set.
    SELECT -1 AS vertex_id, -1 AS degree
    WHERE (SELECT COUNT(*) FROM alive WHERE iter = 30)
       != (SELECT COUNT(*) FROM alive WHERE iter = 29)
    ORDER BY vertex_id
"""


def ext_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC diff of orders vs a deterministic synthetic second
    snapshot (price bump =0 mod 5, delete =3 mod 11, insert +10M for
    =1 mod 13)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new = (
        orders.where(F.col("o_orderkey") % 11 != 3)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.where(F.col("o_orderkey") % 13 == 1).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                "o_custkey",
                "o_totalprice",
            )
        )
    )
    out = table_changes(orders, new, ["o_orderkey"])
    # Driver-canon contract: the operator's typed ARRAY of changed
    # column names is serialized to a comma-joined string at the
    # wrapper boundary (r7 red row — pandas _canon cannot hash list
    # cells); the oracle mirrors with array_to_string. SURVEY §8.
    return out.withColumn(
        "changed_cols", F.array_join("changed_cols", ",")
    ).transform(ordered, "o_orderkey")


_TABLE_CHANGES_SQL = """
    WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
    n AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice
      FROM o WHERE o_orderkey % 11 != 3
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, o_totalprice
      FROM o WHERE o_orderkey % 13 = 1
    ),
    j AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             o.o_custkey AS oc, n.o_custkey AS nc,
             o.o_totalprice AS op, n.o_totalprice AS np,
             o.o_orderkey IS NOT NULL AS in_old,
             n.o_orderkey IS NOT NULL AS in_new
      FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    )
    SELECT o_orderkey,
           CASE WHEN NOT in_new THEN oc ELSE nc END AS o_custkey,
           CASE WHEN NOT in_new THEN op ELSE np END AS o_totalprice,
           CASE WHEN NOT in_old THEN 'insert'
                WHEN NOT in_new THEN 'delete'
                ELSE 'update' END AS op,
           -- DuckDB array_to_string([]) is NULL (not ''): coalesce to
           -- match Spark's array_join on the operator's empty array
           COALESCE(array_to_string(
             CASE WHEN in_old AND in_new
                  THEN [c FOR c IN
                        [CASE WHEN oc IS DISTINCT FROM nc
                              THEN 'o_custkey' END,
                         CASE WHEN op IS DISTINCT FROM np
                              THEN 'o_totalprice' END]
                        IF c IS NOT NULL]
                  ELSE [] END, ','), '') AS changed_cols
    FROM j
    WHERE NOT in_old OR NOT in_new
       OR oc IS DISTINCT FROM nc OR op IS DISTINCT FROM np
    ORDER BY o_orderkey
"""


def ext_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs audience overlap between event-type segments (KMV
    k=64), bit-exact estimator replay."""
    from ..operators.rollup import segment_overlap_matrix

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    out = segment_overlap_matrix(ev, "event_type", "user_id", k=64)
    return out.transform(ordered, "segment_a", "segment_b")


_SEGMENT_OVERLAP_SQL = f"""
    WITH hashed AS (
      SELECT DISTINCT event_type AS seg,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)
               AS BIGINT) AS h
      FROM events
    ),
    sk AS (
      SELECT seg, h FROM (
        SELECT seg, h,
               row_number() OVER (PARTITION BY seg ORDER BY h) AS rn
        FROM hashed
      ) WHERE rn <= 64
    ),
    segs AS (SELECT seg, COUNT(*) AS n, MAX(h) AS hmax FROM sk GROUP BY seg),
    pairs AS (
      SELECT a.seg AS sa, a.n AS na, a.hmax AS ha,
             b.seg AS sb, b.n AS nb, b.hmax AS hb
      FROM segs a JOIN segs b ON a.seg < b.seg
    ),
    uni AS (
      SELECT DISTINCT p.sa, p.sb, s.h
      FROM pairs p JOIN sk s ON s.seg = p.sa OR s.seg = p.sb
    ),
    m AS (
      SELECT sa, sb, h FROM (
        SELECT sa, sb, h,
               row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
        FROM uni
      ) WHERE rn <= 64
    ),
    fl AS (
      SELECT m.sa, m.sb, COUNT(*) AS mm, MAX(m.h) AS hk,
             count_if(ia.h IS NOT NULL AND ib.h IS NOT NULL) AS c
      FROM m
      LEFT JOIN sk ia ON ia.seg = m.sa AND ia.h = m.h
      LEFT JOIN sk ib ON ib.seg = m.sb AND ib.h = m.h
      GROUP BY m.sa, m.sb
    )
    SELECT f.sa AS segment_a, f.sb AS segment_b,
      CAST(p.na AS BIGINT) AS n_a, CAST(p.nb AS BIGINT) AS n_b,
      CAST(CASE WHEN p.na < 64 THEN p.na
           ELSE CAST(63 AS BIGINT) * {KMV_DOMAIN} // p.ha END AS BIGINT)
        AS est_distinct_a,
      CAST(CASE WHEN p.nb < 64 THEN p.nb
           ELSE CAST(63 AS BIGINT) * {KMV_DOMAIN} // p.hb END AS BIGINT)
        AS est_distinct_b,
      CAST(CASE WHEN f.mm < 64 THEN f.mm
           ELSE CAST(63 AS BIGINT) * {KMV_DOMAIN} // f.hk END AS BIGINT)
        AS est_union,
      CAST(f.c * 1000000 // f.mm AS BIGINT) AS jaccard_ppm,
      CAST(CASE WHEN f.mm < 64 THEN f.c
           ELSE f.c * (CAST(63 AS BIGINT) * {KMV_DOMAIN} // f.hk) // f.mm
           END AS BIGINT) AS est_intersect
    FROM fl f JOIN pairs p ON p.sa = f.sa AND p.sb = f.sb
    ORDER BY segment_a, segment_b
"""


def ext_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank on the dangling fixture graph, seeds
    {1, 7}: teleport AND dangling mass return to the seeds, so
    unreachable vertices converge to 0 and total rank stays 1."""
    from ..operators.pregel import pagerank_personalized
    from .graphs import DANGLING_ADJ, PAGERANK_ADJ, _edges_df

    edges = _edges_df(spark, DANGLING_ADJ)
    verts = local_frame(spark, [(v,) for v in PAGERANK_ADJ], "id string")
    ranks = pagerank_personalized(
        verts, edges, seeds=["1", "7"], supersteps=10, num_partitions=2
    )
    return ranks.select(
        F.col("id").alias("vertex_id"), F.round("rank", 5).alias("rank")
    ).transform(ordered, "vertex_id")


def _ppr_oracle(steps: int = 10, d: float = 0.85) -> str:
    """Unrolled per-step MATERIALIZED CTEs (the ext_pagerank_dangling
    pattern) with the seed teleport vector p0 in place of 1/N."""
    from .graphs import DANGLING_ADJ, PAGERANK_ADJ, _edge_values, _values_sql

    dd = f"CAST({d} AS DOUBLE)"
    p0 = ("CASE WHEN id IN ('1','7') THEN CAST(0.5 AS DOUBLE) "
          "ELSE CAST(0.0 AS DOUBLE) END")
    ctes = [
        f"verts(id) AS (VALUES {_values_sql([(v,) for v in PAGERANK_ADJ])})",
        f"edges(src, dst) AS (VALUES {_edge_values(DANGLING_ADJ)})",
        "deg AS (SELECT src, COUNT(*) AS dg FROM edges GROUP BY src)",
        f"r0 AS (SELECT id, {p0} AS p0, {p0} AS rank FROM verts)",
    ]
    for k in range(steps):
        ctes.append(
            f"""d{k} AS MATERIALIZED (
          SELECT COALESCE(SUM(rank), CAST(0.0 AS DOUBLE)) AS dang FROM r{k}
          WHERE id NOT IN (SELECT src FROM edges))"""
        )
        ctes.append(
            f"""r{k + 1} AS MATERIALIZED (
          SELECT v.id, v.p0,
                 (1 - {dd}) * v.p0
                   + {dd} * (COALESCE(inc.s, CAST(0.0 AS DOUBLE))
                             + d{k}.dang * v.p0) AS rank
          FROM r0 v
          LEFT JOIN (
            SELECT e.dst AS id, SUM(r.rank / deg.dg) AS s
            FROM r{k} r JOIN edges e ON e.src = r.id
            JOIN deg ON deg.src = e.src
            GROUP BY e.dst) inc ON inc.id = v.id
          CROSS JOIN d{k})"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT id AS vertex_id, ROUND(rank, 5) AS rank
        FROM r{steps} ORDER BY vertex_id"""
    )


def ext_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 synchronous LPA rounds on the lineitem co-occurrence graph
    folded onto 400 vertices; the oracle unrolls the identical rounds."""
    from ..operators.pregel import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    g = li.select(
        (F.col("l_orderkey") % 400).alias("src"),
        (F.col("l_partkey") % 400).alias("dst"),
    )
    return label_propagation(g, rounds=3).transform(ordered, "vertex_id")


def _lpa_oracle(rounds: int = 3) -> str:
    ctes = [
        """und AS (
      SELECT DISTINCT l_orderkey % 400 AS src, l_partkey % 400 AS dst
      FROM lineitem WHERE l_orderkey % 400 != l_partkey % 400)""",
        """sym AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und))""",
        "l0 AS (SELECT DISTINCT src AS id, src AS label FROM sym)",
    ]
    for k in range(rounds):
        ctes.append(
            f"""l{k + 1} AS MATERIALIZED (
      SELECT v.id, COALESCE(b.new_l, v.label) AS label
      FROM l{k} v
      LEFT JOIN (
        SELECT id, lbl AS new_l FROM (
          SELECT e.dst AS id, l.label AS lbl,
                 row_number() OVER (PARTITION BY e.dst
                   ORDER BY COUNT(*) DESC, l.label ASC) AS rn
          FROM l{k} l JOIN sym e ON e.src = l.id
          GROUP BY e.dst, l.label
        ) WHERE rn = 1
      ) b ON b.id = v.id)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT id AS vertex_id, label FROM l{rounds} ORDER BY vertex_id"""
    )


def ext_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity (ppm-exact integer rational) of the
    vertex%10 partition of the 400-vertex lineitem graph."""
    from ..operators.pregel import graph_modularity

    li = load_table(spark, sf_dir, "lineitem")
    g = li.select(
        (F.col("l_orderkey") % 400).alias("src"),
        (F.col("l_partkey") % 400).alias("dst"),
    )
    verts = (
        g.select(F.col("src").alias("vertex_id"))
        .unionByName(g.select(F.col("dst").alias("vertex_id")))
        .distinct()
    )
    # labels feeds graph_modularity's two per-endpoint label joins;
    # without a cut each join re-ran the vertex union-distinct (2
    # corpus scans per consumer, 4 of the query's 6 lineitem scans in
    # the r12 plan audit). The relation is vertex-count-sized.
    labels = verts.select(
        "vertex_id", (F.col("vertex_id") % 10).alias("label")
    ).localCheckpoint(eager=False)
    return graph_modularity(g, labels)


_MODULARITY_SQL = """
    WITH und AS (
      SELECT DISTINCT LEAST(l_orderkey % 400, l_partkey % 400) AS a,
             GREATEST(l_orderkey % 400, l_partkey % 400) AS b
      FROM lineitem WHERE l_orderkey % 400 != l_partkey % 400
    ),
    tagged AS (SELECT a, b, a % 10 AS la, b % 10 AS lb FROM und),
    m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS mm FROM und),
    internal AS (
      SELECT la AS label, COUNT(*) AS e_c FROM tagged
      WHERE la = lb GROUP BY la
    ),
    deg AS (
      SELECT label, COUNT(*) AS deg_c FROM (
        SELECT la AS label FROM tagged UNION ALL SELECT lb FROM tagged
      ) GROUP BY label
    ),
    per_c AS (
      SELECT d.label, COALESCE(i.e_c, 0) AS e_c, d.deg_c
      FROM deg d LEFT JOIN internal i USING (label)
    )
    SELECT CAST(mm AS BIGINT) AS m_edges,
           CAST(COUNT(*) AS BIGINT) AS n_communities,
           CAST(SUM(4 * mm * e_c - CAST(deg_c AS HUGEINT) * deg_c)
                * 1000000 // (4 * mm * mm) AS BIGINT) AS q_ppm
    FROM per_c CROSS JOIN m GROUP BY mm
"""


def ext_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003) over a 5% doc
    slice — the shift-robust local fingerprint; selection encoded as
    one integer window-min so the oracle replays bit-for-bit."""
    from ..operators.dedup import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 20 == 0
    )
    return winnow_fingerprints(docs, k=10, window=5).transform(
        ordered, "doc", "fp_hash", "pos"
    )


_WINNOW_SQL = """
    WITH t AS (SELECT doc_id AS doc, substr(text, 1, 1048576) AS s
               FROM documents WHERE doc_id % 20 = 0),
    idx AS (
      SELECT doc, s,
             unnest(generate_series(1, greatest(length(s) - 9, 1))) AS i
      FROM t
    ),
    grams AS (
      SELECT doc, i - 1 AS pos,
             CAST('0x' || substr(md5(substr(s, i, 10)), 1, 8) AS BIGINT) AS h
      FROM idx
    ),
    keyed AS (
      SELECT doc, pos,
             MIN(h * 1048576 + (1048575 - pos)) OVER (
               PARTITION BY doc ORDER BY pos
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS sel
      FROM grams
    ),
    chosen AS (SELECT DISTINCT doc, sel FROM keyed WHERE pos >= 4)
    SELECT doc, CAST(sel // 1048576 AS BIGINT) AS fp_hash,
           CAST(1048575 - (sel % 1048576) AS INT) AS pos
    FROM chosen ORDER BY doc, fp_hash, pos
"""


# fixed literal PCA model for the projection query: the operator under
# test is the codegen projection (an eigensolve is not SQL-expressible);
# mean/components are arbitrary but non-trivial
_PCA_MEAN = [round(0.01 * i, 2) for i in range(16)]
_PCA_COMPS = [
    [1.0 if i == 0 else 0.0 for i in range(16)],
    [round((0.25 if i % 2 == 0 else -0.25), 2) for i in range(16)],
]


def ext_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codegen PCA projection under a fixed literal model — zero
    Python, zero shuffle (plan-pinned in tests/test_round6e.py); the
    oracle evaluates the identical left-associated term chain."""
    from ..operators.ml import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    out = pca_project(emb, _PCA_MEAN, _PCA_COMPS, "embedding")
    return out.select(
        "vec_id",
        F.round(F.element_at("pca", 1), 5).alias("pc1"),
        F.round(F.element_at("pca", 2), 5).alias("pc2"),
    ).transform(ordered, "vec_id")


def _pca_project_oracle() -> str:
    def chain(comp):
        terms = [
            f"(CAST(embedding[{i + 1}] AS DOUBLE) - {m!r}) * {w!r}"
            for i, (m, w) in enumerate(zip(_PCA_MEAN, comp))
        ]
        expr = terms[0]
        for t in terms[1:]:
            expr = f"({expr} + {t})"
        return expr

    return f"""
        SELECT vec_id,
               ROUND({chain(_PCA_COMPS[0])}, 5) AS pc1,
               ROUND({chain(_PCA_COMPS[1])}, 5) AS pc2
        FROM embeddings ORDER BY vec_id
    """


def _ewma_chain_sql(col: str, w0: float, n: int = 4):
    ws, wgt = [], 1.0
    for _ in range(n):
        ws.append(wgt)
        wgt *= 1.0 - w0
    num = f"COALESCE({col} * {ws[0]!r}, 0.0)"
    den = f"CASE WHEN {col} IS NOT NULL THEN {ws[0]!r} ELSE 0.0 END"
    for j, wj in enumerate(ws[1:], 1):
        lj = f"LAG({col}, {j}) OVER win"
        num = f"({num} + COALESCE({lj} * {wj!r}, 0.0))"
        den = (
            f"({den} + CASE WHEN {lj} IS NOT NULL"
            f" THEN {wj!r} ELSE 0.0 END)"
        )
    return num, den


def ext_ewma_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-style level+trend forecast over daily event counts; the
    oracle evaluates the identical left-associated literal chains."""
    from ..operators.timeseries import ewma_forecast

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    out = ewma_forecast(
        daily, ["event_type"], "day", "n", alpha=0.5, beta=0.5, n=4
    )
    return out.select(
        "event_type",
        "day",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast", 6).alias("forecast"),
    ).transform(ordered, "event_type", "day")


def _ewma_forecast_oracle() -> str:
    ln, ld = _ewma_chain_sql("n", 0.5)
    tn, td = _ewma_chain_sql("d", 0.5)
    return f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(COUNT(*) AS DOUBLE) AS n
          FROM events GROUP BY 1, 2
        ),
        lvl AS (
          SELECT event_type, day, n, {ln} / {ld} AS level,
                 n - LAG(n, 1) OVER win AS d
          FROM daily WINDOW win AS (PARTITION BY event_type ORDER BY day)
        ),
        tr AS (
          SELECT event_type, day, level,
                 CASE WHEN {td} > 0 THEN {tn} / {td} ELSE 0.0 END AS trend
          FROM lvl WINDOW win AS (PARTITION BY event_type ORDER BY day)
        )
        SELECT event_type, day, ROUND(level, 6) AS level,
               ROUND(trend, 6) AS trend,
               ROUND(level + 1.0 * trend, 6) AS forecast
        FROM tr ORDER BY event_type, day
    """


def ext_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonal indices of daily event counts, ppm-exact
    integer rational."""
    from ..operators.timeseries import seasonal_indices

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return seasonal_indices(
        daily, ["event_type"], "day", "n", period=7
    ).transform(ordered, "event_type", "phase")


_SEASONAL_SQL = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    pp AS (
      SELECT event_type,
             ((CAST(day AS DATE) - DATE '1970-01-01') % 7 + 7) % 7 AS phase,
             COUNT(*) AS n_obs, CAST(SUM(n) AS HUGEINT) AS s
      FROM daily GROUP BY 1, 2
    )
    SELECT event_type, phase, n_obs, CAST(s AS BIGINT) AS sum_value,
           CAST(s * SUM(n_obs) OVER w * 1000000
                // (n_obs * SUM(s) OVER w) AS BIGINT) AS index_ppm
    FROM pp WINDOW w AS (PARTITION BY event_type)
    ORDER BY event_type, phase
"""


def ext_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retained train ids after exact-tier semantic decontamination
    (train = vec_id >= 100 vs eval = vec_id < 100, cosine >= 0.4)."""
    from ..operators.similarity import semantic_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    kept = semantic_decontaminate(
        emb.where(F.col("vec_id") >= 100),
        emb.where(F.col("vec_id") < 100),
        threshold=0.4,
    )
    return kept.select("vec_id", "label").transform(ordered, "vec_id")


_SEMANTIC_DECON_SQL = f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings)
    SELECT a.vec_id, a.label FROM e a
    WHERE a.vec_id >= 100 AND NOT EXISTS (
      SELECT 1 FROM e b WHERE b.vec_id < 100
        AND {_CROSS_COS.format(a='a.v', b='b.v')} >= 0.4
    )
    ORDER BY a.vec_id
"""


def ext_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF enrichment: every order joined to the customer-priority
    SCD2 version valid at its own order date."""
    from ..operators.scd import scd2_history, scd2_lookup

    orders = load_table(spark, sf_dir, "orders")
    dim = scd2_history(
        orders.select(
            "o_custkey",
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderpriority").alias("prio"),
            "o_orderkey",
        ),
        "o_custkey", "ts", ["prio"], "o_orderkey",
    )
    facts = orders.select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").alias("fts")
    )
    return scd2_lookup(facts, dim, "o_custkey", "fts", ["prio"]).select(
        "o_orderkey", "prio"
    ).transform(ordered, "o_orderkey")


_SCD2_LOOKUP_SQL = """
    WITH src AS (
      SELECT o_custkey, o_orderdate AS ts, o_orderpriority AS prio,
             o_orderkey
      FROM orders
    ),
    marked AS (
      SELECT *,
        CASE WHEN LAG(o_orderkey) OVER w IS NULL
               OR prio IS DISTINCT FROM LAG(prio) OVER w
             THEN 1 ELSE 0 END AS chg
      FROM src WINDOW w AS (PARTITION BY o_custkey ORDER BY ts, o_orderkey)
    ),
    versioned AS (
      SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
        ORDER BY ts, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      FROM marked
    ),
    dim AS (
      SELECT o_custkey, v, prio, MIN(ts) AS valid_from,
             LEAD(MIN(ts)) OVER (PARTITION BY o_custkey ORDER BY v)
               AS valid_to
      FROM versioned GROUP BY o_custkey, v, prio
    )
    SELECT f.o_orderkey, d.prio
    FROM orders f
    LEFT JOIN dim d
      ON d.o_custkey = f.o_custkey
     AND f.o_orderdate >= d.valid_from
     AND (d.valid_to IS NULL OR f.o_orderdate < d.valid_to)
    ORDER BY f.o_orderkey
"""


def ext_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group decile assignment of line prices (equi-depth bins)."""
    from ..operators.ml import quantile_bins

    li = load_table(spark, sf_dir, "lineitem")
    out = quantile_bins(
        li.select("l_orderkey", "l_linenumber", "l_returnflag",
                  "l_extendedprice"),
        "l_extendedprice",
        n_bins=10,
        group_cols=["l_returnflag"],
    )
    # lazy cut below the final sort (see ext_winsorize), which matters
    # only when ``ordered`` keeps the range sort: the range exchange's
    # sampling pass would re-run the scan + cuts join
    return lineage_cut(
        out.select(
            "l_orderkey", "l_linenumber",
            F.col("l_extendedprice_bin").alias("bin"),
        )
    ).transform(ordered, "l_orderkey", "l_linenumber")


_QUANTILE_BINS_SQL = """
    WITH cuts AS (
      SELECT l_returnflag,
             {cuts}
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_orderkey, l_linenumber, 1 + {cmp} AS bin
    FROM lineitem JOIN cuts USING (l_returnflag)
    ORDER BY l_orderkey, l_linenumber
""".format(
    cuts=", ".join(
        f"quantile_cont(l_extendedprice, {i / 10}) AS c{i}"
        for i in range(1, 10)
    ),
    cmp=" + ".join(f"(l_extendedprice > c{i})::INT" for i in range(1, 10)),
)


def ext_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust MAD outlier flags per return-flag group."""
    from ..operators.ml import mad_outliers

    li = load_table(spark, sf_dir, "lineitem")
    out = mad_outliers(
        li.select("l_orderkey", "l_linenumber", "l_returnflag",
                  "l_extendedprice"),
        "l_extendedprice",
        group_cols=["l_returnflag"],
    )
    # lazy cut below the final sort (see ext_winsorize), which matters
    # only when ``ordered`` keeps the range sort: the range exchange's
    # sampling pass would re-run the two-join MAD pipeline
    return lineage_cut(
        out.select(
            "l_orderkey", "l_linenumber",
            F.round("median", 4).alias("median"),
            F.round("mad", 4).alias("mad"),
            "is_outlier",
        )
    ).transform(ordered, "l_orderkey", "l_linenumber")


_MAD_OUTLIERS_SQL = """
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS median
      FROM lineitem GROUP BY l_returnflag
    ),
    dev AS (
      SELECT l.*, m.median, abs(l_extendedprice - m.median) AS ad
      FROM lineitem l JOIN med m USING (l_returnflag)
    ),
    mad AS (
      SELECT l_returnflag, quantile_cont(ad, 0.5) AS mad
      FROM dev GROUP BY l_returnflag
    )
    SELECT d.l_orderkey, d.l_linenumber, ROUND(d.median, 4) AS median,
           ROUND(x.mad, 4) AS mad,
           d.ad > 3.5 * 1.4826 * x.mad AS is_outlier
    FROM dev d JOIN mad x USING (l_returnflag)
    ORDER BY d.l_orderkey, d.l_linenumber
"""


STAGED_QUERIES = {
    "ext_sample_wor": ext_sample_wor,
    "ext_expectations": ext_expectations,
    "ext_attribution": ext_attribution,
    "ext_basket_rules": ext_basket_rules,
    "ext_entity_resolution": ext_entity_resolution,
    "ext_rfm_segments": ext_rfm_segments,
    "ext_ts_zscore": ext_ts_zscore,
    "ext_ts_twap": ext_ts_twap,
    "ext_skyline": ext_skyline,
    "ext_skew_report": ext_skew_report,
    "ext_ab_test": ext_ab_test,
    "ext_crosstab_chi2": ext_crosstab_chi2,
    "ext_period_over_period": ext_period_over_period,
    "ext_inverted_index": ext_inverted_index,
    "ext_markov_transitions": ext_markov_transitions,
    "ext_kmv_set_ops": ext_kmv_set_ops,
    "ext_shuffle_shards": ext_shuffle_shards,
    "ext_winsorize": ext_winsorize,
    "ext_cross_matches": ext_cross_matches,
    "ext_k_core": ext_k_core,
    "ext_table_changes": ext_table_changes,
    "ext_segment_overlap": ext_segment_overlap,
    "ext_pagerank_personalized": ext_pagerank_personalized,
    "ext_label_propagation": ext_label_propagation,
    "ext_modularity": ext_modularity,
    "ext_winnow": ext_winnow,
    "ext_pca_project": ext_pca_project,
    "ext_ewma_forecast": ext_ewma_forecast,
    "ext_seasonal": ext_seasonal,
    "ext_semantic_decontaminate": ext_semantic_decontaminate,
    "ext_scd2_lookup": ext_scd2_lookup,
    "ext_quantile_bins": ext_quantile_bins,
    "ext_mad_outliers": ext_mad_outliers,
}

STAGED_ORACLES = {
    "ext_sample_wor": _SAMPLE_WOR_SQL,
    "ext_expectations": _EXPECTATIONS_SQL,
    "ext_attribution": _ATTRIBUTION_SQL,
    "ext_basket_rules": _BASKET_RULES_SQL,
    "ext_entity_resolution": _ENTITY_RESOLUTION_SQL,
    "ext_rfm_segments": _RFM_SEGMENTS_SQL,
    "ext_ts_zscore": _TS_ZSCORE_SQL,
    "ext_ts_twap": _TS_TWAP_SQL,
    "ext_skyline": _SKYLINE_SQL,
    "ext_skew_report": _SKEW_REPORT_SQL,
    "ext_ab_test": _AB_TEST_SQL,
    "ext_crosstab_chi2": _CROSSTAB_CHI2_SQL,
    "ext_period_over_period": _PERIOD_OVER_PERIOD_SQL,
    "ext_inverted_index": _INVERTED_INDEX_SQL,
    "ext_markov_transitions": _MARKOV_TRANSITIONS_SQL,
    "ext_kmv_set_ops": _KMV_SET_OPS_SQL,
    "ext_shuffle_shards": _SHUFFLE_SHARDS_SQL,
    "ext_winsorize": _WINSORIZE_SQL,
    "ext_cross_matches": _CROSS_MATCHES_SQL,
    "ext_k_core": _K_CORE_SQL,
    "ext_table_changes": _TABLE_CHANGES_SQL,
    "ext_segment_overlap": _SEGMENT_OVERLAP_SQL,
    "ext_pagerank_personalized": _ppr_oracle(),
    "ext_label_propagation": _lpa_oracle(),
    "ext_modularity": _MODULARITY_SQL,
    "ext_winnow": _WINNOW_SQL,
    "ext_pca_project": _pca_project_oracle(),
    "ext_ewma_forecast": _ewma_forecast_oracle(),
    "ext_seasonal": _SEASONAL_SQL,
    "ext_semantic_decontaminate": _SEMANTIC_DECON_SQL,
    "ext_scd2_lookup": _SCD2_LOOKUP_SQL,
    "ext_quantile_bins": _QUANTILE_BINS_SQL,
    "ext_mad_outliers": _MAD_OUTLIERS_SQL,
}
