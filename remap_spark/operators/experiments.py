"""Experiment (A/B test) analysis: conversion comparison with an
integer-exact two-proportion z-test.

No reference analog; this is the standard product-experimentation
readout expressed as ONE combiner aggregate.

The pooled two-proportion z statistic is
``z = (p1 - p2) / sqrt(phat (1-phat) (1/n1 + 1/n2))``. No engine here
ever takes the square root or divides doubles: with c = conversions,
n = exposures, C = c1+c2, N = n1+n2,

    z^2 = (c1*n2 - c2*n1)^2 * N / (n1 * n2 * C * (N - C))

which this operator reports as ``z2_ppm`` = that quantity x 1e6,
computed entirely in decimal(38,0) (DuckDB: HUGEINT) with integer
division — bit-replayable. Significance at 95% two-sided is
``z^2 > 1.96^2``, i.e. ``z2_ppm > 3_841_600``.

Scale shape: a single conditional-count aggregate over one scan (the
same one-pass shape as ``operators/expectations``) — no shuffle
beyond the scalar-aggregate reduce, no per-variant subqueries. The
exactness bound: (c*n)^2 * N needs < 1e38, holding past n = 1e9
exposures per arm.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Z2_95_PPM = 3_841_600  # 1.96^2 * 1e6


def ab_test_report(
    df: DataFrame,
    variant_col: str,
    success: Column,
    control: str,
    treatment: str,
) -> DataFrame:
    """One-row experiment readout comparing ``treatment`` against
    ``control``: exposures, conversions, ppm rates, signed uplift,
    ``z2_ppm`` and ``significant_95``. Rows whose variant is neither
    label are ignored (holdouts / other arms). ``success`` is any
    boolean Column over the row.

    Arms with zero exposures, or a pooled rate of 0 or 1 (the z-test
    denominator degenerates), report ``z2_ppm = 0`` and no
    significance.
    """
    is_c = F.col(variant_col) == control
    is_t = F.col(variant_col) == treatment
    agg = df.agg(
        F.count_if(is_c).alias("n_control"),
        F.count_if(is_c & success).alias("conv_control"),
        F.count_if(is_t).alias("n_treatment"),
        F.count_if(is_t & success).alias("conv_treatment"),
    )
    d = "CAST({} AS DECIMAL(38,0))"
    c1 = d.format("conv_treatment")
    n1 = d.format("n_treatment")
    c2 = d.format("conv_control")
    n2 = d.format("n_control")
    num = f"({c1} * {n2} - {c2} * {n1})"
    big_c = f"({c1} + {c2})"
    big_n = f"({n1} + {n2})"
    den = f"({n1} * {n2} * {big_c} * ({big_n} - {big_c}))"
    return agg.select(
        "n_control",
        "conv_control",
        "n_treatment",
        "conv_treatment",
        # NULLIF: a zero-exposure arm reports NULL rates instead of an
        # ANSI DIVIDE_BY_ZERO (Spark 4 default)
        F.expr("conv_control * 1000000 DIV NULLIF(n_control, 0)").alias(
            "rate_control_ppm"
        ),
        F.expr(
            "conv_treatment * 1000000 DIV NULLIF(n_treatment, 0)"
        ).alias("rate_treatment_ppm"),
        (
            F.expr("conv_treatment * 1000000 DIV NULLIF(n_treatment, 0)")
            - F.expr("conv_control * 1000000 DIV NULLIF(n_control, 0)")
        ).alias("uplift_ppm"),
        F.expr(
            f"CASE WHEN {den} = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE CAST({num} * {num} * {big_n} * 1000000 "
            f"DIV {den} AS BIGINT) END"
        ).alias("z2_ppm"),
    ).withColumn("significant_95", F.col("z2_ppm") > Z2_95_PPM)


def crosstab_chi2(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """R x C independence cross-tab: one output row per observed
    (row, col) cell with the observed count, the expected count in
    ppm, and the cell's chi-square contribution in ppm — DEFINED as

        contribution_ppm = (O*N - rt*ct)^2 * 1e6 DIV (N * rt * ct)

    (rt/ct = marginal totals). The statistic is the plain integer sum
    of contributions (order-independent, so any engine agrees). Note
    the floor is per-cell by definition — that IS the replayable
    contract, within 1 ppm x n_cells of the real-valued statistic.

    Scale shape: the corpus pass is one combiner groupBy over the
    cell pair; marginals and N derive from the CELL relation
    (dimension-sized — never a second corpus scan), and the final
    joins broadcast the marginal relations.
    """
    # The lazy localCheckpoint makes the "one corpus pass" claim above
    # physically true: without it Catalyst plans the cell aggregate as
    # its OWN subtree under each of the four consumers (both marginals,
    # N, and the output join spine) — the r12 sweep plan showed four
    # corpus scans + four aggregates. The cell relation is R x C rows,
    # so the materialization is dimension-sized.
    cells = df.groupBy(
        F.col(row_col).alias("r"), F.col(col_col).alias("c")
    ).agg(F.count(F.lit(1)).alias("observed")).localCheckpoint(eager=False)
    row_m = cells.groupBy("r").agg(F.sum("observed").alias("rt"))
    col_m = cells.groupBy("c").agg(F.sum("observed").alias("ct"))
    n = cells.agg(F.sum("observed").alias("n_total"))
    d = "CAST({} AS DECIMAL(38,0))"
    o, rt, ct, nn = (d.format(x) for x in ("observed", "rt", "ct", "n_total"))
    num = f"({o} * {nn} - {rt} * {ct})"
    return (
        cells.join(F.broadcast(row_m), "r")
        .join(F.broadcast(col_m), "c")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("r").alias(row_col),
            F.col("c").alias(col_col),
            "observed",
            F.expr(
                f"CAST({rt} * {ct} * 1000000 DIV {nn} AS BIGINT)"
            ).alias("expected_ppm"),
            F.expr(
                f"CAST({num} * {num} * 1000000 "
                f"DIV ({nn} * {rt} * {ct}) AS BIGINT)"
            ).alias("contribution_ppm"),
        )
    )
