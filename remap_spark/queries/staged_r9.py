"""Round-9 staged driver registrations.

The r8 promotion window was full (staged_r8's 26 queries plus 23 rows
due for a re-check took 49 of the 50 driver slots), so operators added
after that point staged HERE for the round-9 window — same contract
as staged_r7/r8: a deterministic ``(spark, sf_dir) -> DataFrame`` wrapper plus the exact
DuckDB oracle, replayed at both test scale factors by
``tests/test_staged_r9.py`` and plan-swept for unbounded joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import load_table
from ..functions import ordered

_DAILY_CENTS = """
    daily AS (
      SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    )
"""


def ext_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point per order priority (operators/timeseries.
    cusum_changepoint): the day where the cumulative deviation of
    daily revenue from its mean peaks, in the division-free integer
    formulation S_i = n*P_i - i*T — strength is the peak as a ppm
    fraction of n*total, exact in decimal(38,0) / HUGEINT."""
    from ..operators.timeseries import cusum_changepoint

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("cents")
    )
    return cusum_changepoint(
        daily, ["o_orderpriority"], "day", "cents"
    )


_TS_CHANGEPOINT_SQL = f"""
    WITH {_DAILY_CENTS},
    st AS (
      SELECT o_orderpriority, day,
             CAST(ROW_NUMBER() OVER wo AS HUGEINT) AS i,
             CAST(SUM(cents) OVER (
               PARTITION BY o_orderpriority ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS HUGEINT) AS p,
             CAST(COUNT(*) OVER (PARTITION BY o_orderpriority)
                  AS HUGEINT) AS n,
             CAST(SUM(cents) OVER (PARTITION BY o_orderpriority)
                  AS HUGEINT) AS tot
      FROM daily
      WINDOW wo AS (PARTITION BY o_orderpriority ORDER BY day)
    ),
    sc AS (
      SELECT o_orderpriority, day, n, tot,
             abs(n * p - i * tot) AS s
      FROM st WHERE i < n
    ),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_orderpriority ORDER BY s DESC, day ASC
      ) AS r
      FROM sc
    )
    SELECT o_orderpriority, day AS cp_at, CAST(n AS BIGINT) AS n_obs,
           CAST(s * 1000000 // (n * tot) AS BIGINT) AS strength_ppm
    FROM rk WHERE r = 1 ORDER BY o_orderpriority
"""


_DRIFT_SPLIT = "1996-01-01"
_DRIFT_BIN_CENTS = 5_000_000  # $50k-wide total-price bins


def ext_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square distribution drift (operators/expectations.
    distribution_drift) of the order total-price histogram between
    the pre-1996 reference period and the rest: per-bin homogeneity
    contributions in exact ppm (cross-multiplied — no expected-count
    division), decimal(38,0) / HUGEINT replay."""
    from ..operators.expectations import distribution_drift

    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        F.col("o_orderdate"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    ref = cents.where(F.col("o_orderdate") < _DRIFT_SPLIT)
    cur = cents.where(F.col("o_orderdate") >= _DRIFT_SPLIT)
    return distribution_drift(ref, cur, "cents", _DRIFT_BIN_CENTS)


_DISTRIBUTION_DRIFT_SQL = f"""
    WITH cents AS (
      SELECT o_orderdate,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
    ),
    bref AS (
      SELECT v // {_DRIFT_BIN_CENTS}
             - (CASE WHEN v % {_DRIFT_BIN_CENTS} != 0 AND v < 0
                THEN 1 ELSE 0 END) AS bin, COUNT(*) AS cr
      FROM cents WHERE o_orderdate < TIMESTAMP '{_DRIFT_SPLIT}'
      GROUP BY 1
    ),
    bcur AS (
      SELECT v // {_DRIFT_BIN_CENTS}
             - (CASE WHEN v % {_DRIFT_BIN_CENTS} != 0 AND v < 0
                THEN 1 ELSE 0 END) AS bin, COUNT(*) AS cc
      FROM cents WHERE o_orderdate >= TIMESTAMP '{_DRIFT_SPLIT}'
      GROUP BY 1
    ),
    j AS (
      SELECT COALESCE(bref.bin, bcur.bin) AS bin,
             CAST(COALESCE(cr, 0) AS BIGINT) AS n_ref,
             CAST(COALESCE(cc, 0) AS BIGINT) AS n_cur
      FROM bref FULL OUTER JOIN bcur ON bref.bin = bcur.bin
    ),
    t AS (
      SELECT CAST(SUM(n_ref) AS HUGEINT) AS nr,
             CAST(SUM(n_cur) AS HUGEINT) AS nc
      FROM j
    )
    SELECT j.bin, j.n_ref, j.n_cur,
           CAST((j.n_ref * t.nc - j.n_cur * t.nr)
                * (j.n_ref * t.nc - j.n_cur * t.nr)
                * 1000000
                // (t.nr * t.nc * (j.n_ref + j.n_cur))
                AS BIGINT) AS contrib_ppm
    FROM j, t
    ORDER BY j.bin
"""


def ext_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge (operators/linkage.golden_records) over
    synthetic customer clusters (custkey mod 499): per golden record
    the name comes from the longest-name member, the nation from the
    highest-balance member, the segment from the modal value — three
    different rules, three potentially different source rows, every
    tie broken by min custkey so the replay is exact."""
    from ..operators.linkage import golden_records, with_group_value_count

    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        "c_custkey",
        (F.col("c_custkey") % 499).alias("cl"),
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100)
        .cast("bigint")
        .alias("bal_cents"),
    )
    base = with_group_value_count(base, "cl", "c_mktsegment", "_freq")
    return golden_records(
        base,
        "cl",
        "c_custkey",
        {
            "name": ("c_name", F.length("c_name")),
            "nationkey": ("c_nationkey", F.col("bal_cents")),
            "segment": ("c_mktsegment", F.col("_freq")),
        },
    )


_GOLDEN_RECORDS_SQL = """
    WITH base AS (
      SELECT c_custkey, c_custkey % 499 AS cl, c_name, c_nationkey,
             c_mktsegment,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
    ),
    wf AS (
      SELECT *, COUNT(*) OVER (PARTITION BY cl, c_mktsegment) AS _freq
      FROM base
    ),
    rk AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY cl
          ORDER BY length(c_name) DESC, c_custkey ASC) AS r0,
        ROW_NUMBER() OVER (PARTITION BY cl
          ORDER BY bal_cents DESC, c_custkey ASC) AS r1,
        ROW_NUMBER() OVER (PARTITION BY cl
          ORDER BY _freq DESC, c_custkey ASC) AS r2
      FROM wf
    )
    SELECT cl AS cluster, COUNT(*) AS n_members,
           MAX(CASE WHEN r0 = 1 THEN c_name END) AS name,
           MAX(CASE WHEN r1 = 1 THEN c_nationkey END) AS nationkey,
           MAX(CASE WHEN r2 = 1 THEN c_mktsegment END) AS segment
    FROM rk GROUP BY cl ORDER BY cluster
"""


def ext_ts_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-adjusted anomaly screen — a pure COMPOSITION query:
    decompose_additive strips trend and weekly seasonality from global
    daily revenue, then days whose residual exceeds 3x the mean
    absolute residual are flagged. Shows the decomposition composes
    in-plan with a broadcast threshold (no intermediate
    materialization); all arithmetic stays exact integer ppm."""
    from ..operators.timeseries import decompose_additive

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("cents")
    )
    dec = decompose_additive(daily, "day", "cents", period=7)
    r = dec.where(F.col("resid_ppm").isNotNull())
    thr = r.agg(
        (
            F.lit(3).cast("decimal(38,0)")
            * F.expr(
                "CAST(sum(abs(CAST(resid_ppm AS DECIMAL(38,0)))) "
                "div count(resid_ppm) AS DECIMAL(38,0))"
            )
        ).alias("_thr")
    )
    return (
        r.join(F.broadcast(thr))
        .where(
            F.abs(F.col("resid_ppm")).cast("decimal(38,0)")
            > F.col("_thr")
        )
        .select(
            "day", F.col("value").alias("cents"), "resid_ppm"
        )
        .transform(ordered, "day")
    )


_TS_ANOMALY_SQL = """
    WITH dec AS ({decompose}),
    r AS (SELECT * FROM dec WHERE resid_ppm IS NOT NULL),
    t AS (
      SELECT 3 * (CAST(SUM(ABS(resid_ppm)) AS HUGEINT)
                  // COUNT(resid_ppm)) AS thr
      FROM r
    )
    SELECT day, cents, resid_ppm
    FROM r, t WHERE ABS(CAST(resid_ppm AS HUGEINT)) > t.thr
    ORDER BY day
"""


def _ts_anomaly_oracle() -> str:
    from .staged_r8 import _TS_DECOMPOSE_SQL

    return _TS_ANOMALY_SQL.format(decompose=_TS_DECOMPOSE_SQL)


STAGED_R9_QUERIES = {
    "ext_ts_changepoint": ext_ts_changepoint,
    "ext_distribution_drift": ext_distribution_drift,
    "ext_golden_records": ext_golden_records,
    "ext_ts_anomaly_seasonal": ext_ts_anomaly_seasonal,
}

STAGED_R9_ORACLES = {
    "ext_ts_changepoint": _TS_CHANGEPOINT_SQL,
    "ext_distribution_drift": _DISTRIBUTION_DRIFT_SQL,
    "ext_golden_records": _GOLDEN_RECORDS_SQL,
    "ext_ts_anomaly_seasonal": _ts_anomaly_oracle(),
}
