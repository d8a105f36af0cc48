"""Time-series repair and smoothing operators.

The reference engine has no time-series surface; these extend the
dimension the reference's mapper/reducer pipelines were typically fed
with (append-only event logs, reference ``examples/*`` semantics) into
the standard warehouse time-series toolkit: calendar gap-filling with
forward-fill repair, and trailing exponentially-weighted smoothing.

Scale notes (100 TB):

* ``fill_date_gaps`` — the calendar grid is generated IN-PLAN with
  ``F.sequence`` per group (never a driver-side date loop), so grid
  size is #groups x span-days, independent of event volume. The
  min/max extent aggregate is combiner-style, the grid->daily join is
  keyed on (group, day) — the same key as the daily rollup that feeds
  it, so AQE plans it shuffle-free on the grid side — and the
  forward-fill is one window pass per group ordered by day. No
  corpus-sized relation is ever widened.
* ``ewma_trailing`` — weights are computed ONCE as Python literals and
  baked into the expression tree (no per-row ``pow``), so the whole
  smoother is a fixed-depth lag chain inside one window spec: one
  group-keyed shuffle, whole-stage-codegen arithmetic after it. With
  ``alpha = 0.5`` every weight is an exact binary fraction, making the
  result bit-reproducible across engines (the property the DuckDB
  oracle checks); other alphas stay deterministic because both sides
  evaluate the same double literals in the same association order.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import ordered

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def fill_date_gaps(
    daily: DataFrame,
    group_cols: Sequence[str],
    date_col: str = "day",
    zero_cols: Sequence[str] = (),
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Densify a per-group daily relation onto its full calendar span.

    ``daily`` holds at most one row per (group, day). Every missing
    day inside [min(day), max(day)] of its group gains a row with
    ``is_gap = 1``; ``zero_cols`` are filled with 0 (count semantics),
    ``carry_cols`` forward-fill the last observed value (gauge
    semantics). Returns the densified relation with the same columns
    plus ``is_gap``.
    """
    gcols = list(group_cols)
    # NOTE r13 (reverting the r12 lazy cut here): daily's two consumers
    # (span aggregate + grid join side) do NOT re-run the caller's
    # upstream — ``daily`` is a post-aggregate relation in every
    # caller, so it sits above an exchange and both consumers re-read
    # the SHUFFLE FILES via runtime exchange reuse. The cut only added
    # materialization: A/B at sf0.1 and at 40x groups measured
    # cut/nocut 1.34x / 1.01x (fill) and 1.03x / 1.06x (interpolate),
    # and the r12 driver record showed ext_ts_interpolate at 0.85x.
    # Rule: cut only when the doubled subtree is NOT exchange-backed.
    extent = daily.groupBy(*gcols).agg(
        F.min(date_col).alias("_d0"), F.max(date_col).alias("_d1")
    )
    grid = extent.select(
        *gcols,
        F.explode(
            F.sequence("_d0", "_d1", F.expr("interval 1 day"))
        ).alias(date_col),
    )
    marked = daily.withColumn("_present", F.lit(1))
    joined = grid.join(marked, gcols + [date_col], "left")
    out = joined.withColumn(
        "is_gap", F.when(F.col("_present").isNull(), 1).otherwise(0)
    ).drop("_present")
    for c in zero_cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    if carry_cols:
        w = (
            Window.partitionBy(*gcols)
            .orderBy(date_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        for c in carry_cols:
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def ewma_weights(alpha: float, n: int) -> list[float]:
    """Trailing-window EWMA weights w_j = (1-alpha)^j, j = 0..n-1,
    computed by repeated multiplication so alpha = 0.5 yields exact
    binary fractions."""
    ws, w = [], 1.0
    for _ in range(n):
        ws.append(w)
        w *= 1.0 - alpha
    return ws


def ewma_trailing(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.5,
    n: int = 8,
    out_col: str = "ewma",
) -> DataFrame:
    """Trailing-window EWMA: for each row, the weighted mean of the
    last ``n`` observations (current row included) with weights
    (1-alpha)^j, j = distance in rows — normalized over the weights
    actually present, so the first rows of each group use a shorter
    effective window instead of biasing toward zero.

    The window must be presorted-unique on ``order_col`` within each
    group (one observation per tick, the shape ``fill_date_gaps``
    produces)."""
    ws = ewma_weights(alpha, n)
    w = Window.partitionBy(*group_cols).orderBy(order_col)
    # build num = sum w_j * lag_j, den = sum w_j over PRESENT lags, as
    # one fixed left-associated expression chain so the oracle can
    # mirror the exact evaluation order
    terms_n, terms_d = [], []
    for j, wj in enumerate(ws):
        lj = F.lag(F.col(value_col), j).over(w) if j else F.col(value_col)
        terms_n.append(F.coalesce(lj * F.lit(wj), F.lit(0.0)))
        terms_d.append(
            F.when(lj.isNotNull(), F.lit(wj)).otherwise(F.lit(0.0))
        )
    num = terms_n[0]
    den = terms_d[0]
    for tn, td in zip(terms_n[1:], terms_d[1:]):
        num = num + tn
        den = den + td
    return df.withColumn(out_col, num / den)


def _require_integral(df: DataFrame, col: str, op: str) -> None:
    dt = df.schema[col].dataType
    if not isinstance(dt, _INTEGRAL):
        raise TypeError(
            f"{op} needs an integral {col!r} (got {dt.simpleString()}): "
            "scale floats to fixed-point units (cents/micros) first — "
            "the exactness contract is integer-only"
        )


def rolling_zscore_anomalies(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    n: int = 30,
    min_periods: int = 5,
    k_num: int = 3,
    k_den: int = 1,
    out_col: str = "is_anomaly",
    value_bound: int | None = None,
) -> DataFrame:
    """Flag rows whose value deviates more than ``k_num/k_den``
    population standard deviations from the mean of the TRAILING ``n``
    observations (current row excluded, so an outlier never pollutes
    its own baseline). Rows with fewer than ``min_periods`` trailing
    observations are never flagged.

    EXACT INTEGER detection — no engine ever takes a square root or
    divides: with s = sum, q = sum-of-squares, c = count over the
    trailing frame, ``|x - s/c| > k * sqrt((c*q - s^2)) / c`` is
    decided as ``k_den^2 * (c*x - s)^2 > k_num^2 * (c*q - s^2)``, all
    in decimal(38,0) (DuckDB replays it in HUGEINT). ``value_col``
    must be integral (fixed-point your floats first); exactness holds
    while (n * |value|)^2 stays under 1e38 — |value| < ~3e17 at the
    default n = 30.

    ``value_bound`` — a caller PROMISE that ``|value| <= value_bound``
    — switches the whole pipeline to int64: same integers, same flags,
    but the sliding-window state and the decision arithmetic run as
    codegen longs instead of 16-byte BigDecimals (measured 2x+ on the
    window stage). The promise is enforced: the bound is statically
    checked against 2^63 at plan time (``max(4*k_den^2, 2*k_num^2) *
    n^2 * value_bound^2`` must fit, the worst-case of both decision
    sides) and every row is guarded in-plan — a value outside the
    bound raises instead of silently wrapping (the same
    check-then-raise contract as the similarity GEMM tiers).

    Scale shape: ONE group-keyed shuffle, then three sliding-frame
    window aggregates Spark evaluates in a single window physical node
    (shared frame, shared sort); the flag itself is codegen decimal
    (or, under ``value_bound``, long) arithmetic. ``order_col`` must
    be unique per group.
    """
    _require_integral(df, value_col, "rolling_zscore_anomalies")
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(order_col)
        .rowsBetween(-n, -1)
    )
    if value_bound is not None:
        b = int(value_bound)
        worst = max(4 * k_den * k_den, 2 * k_num * k_num) * n * n * b * b
        if b <= 0 or worst >= 2**63:
            raise ValueError(
                "rolling_zscore_anomalies(value_bound=...): the int64 "
                f"tier needs max(4*k_den^2, 2*k_num^2)*n^2*bound^2 < 2^63 "
                f"(got {worst:.3e}); shrink n/k or use the decimal tier"
            )
        # NULLs ride the TRUE branch (count must skip them exactly as
        # the decimal tier does) — only a non-null out-of-bound value
        # reaches raise_error
        xd = F.when(
            F.col(value_col).isNull()
            | (F.abs(F.col(value_col)) <= F.lit(b)),
            F.col(value_col),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "rolling_zscore_anomalies: |"
                        + value_col
                        + f"| exceeds the promised value_bound={b}: "
                    ),
                    F.col(value_col).cast("string"),
                )
            )
        ).cast("long")
        num_t = "long"
    else:
        xd = F.col(value_col).cast("decimal(38,0)")
        num_t = "decimal(38,0)"
    # each window aggregate is projected ONCE (a repeated .over()
    # expression per use would make WindowExec evaluate sum/count
    # 4x per row — caught by the plan inspection below)
    staged = df.select(
        "*",
        F.count(xd).over(w).alias("trailing_n"),
        F.sum(xd).over(w).alias("_s"),
        F.sum(xd * xd).over(w).alias("_q"),
    )
    c = F.col("trailing_n").cast(num_t)
    dev = c * xd - F.col("_s")
    lhs = F.lit(k_den * k_den).cast(num_t) * dev * dev
    rhs = F.lit(k_num * k_num).cast(num_t) * (
        c * F.col("_q") - F.col("_s") * F.col("_s")
    )
    return staged.withColumn(
        out_col,
        F.when(F.col("trailing_n") >= min_periods, lhs > rhs).otherwise(
            F.lit(False)
        ),
    ).drop("_s", "_q")


def time_weighted_avg(
    df: DataFrame,
    group_cols: Sequence[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group time-weighted average (TWAP) of an irregularly
    sampled, piecewise-constant series: each observation holds until
    the next one, integrated over [first_ts, last_ts] — the last
    observation bounds the integral and contributes no mass itself.
    Groups with a single observation (zero span) return that value.

    Returns one row per group: ``twap`` = sum(v_i * dt_i) DIV span
    (integer division, truncated toward zero — Spark DIV and DuckDB
    // agree on negatives) in the value's own fixed-point units, plus
    ``n_obs`` and ``span_seconds``. All arithmetic is int64 (dt in whole seconds,
    integral values); exact while sum(|v| * dt) stays under 9e18 per
    group — document your units against that bound (cents x decades
    is ~1e16 per observation-year).

    Scale shape: one group-keyed shuffle shared by the lead() window
    and the final combiner aggregate (same key, same exchange); no
    corpus-sized relation is widened and there is no driver-side
    iteration. ``(ts, value)`` pairs must be unique per (group, ts).
    """
    _require_integral(df, value_col, "time_weighted_avg")
    gcols = list(group_cols)
    w = Window.partitionBy(*gcols).orderBy(ts_col)
    secs = F.unix_timestamp(F.col(ts_col))
    dt = F.lead(secs).over(w) - secs
    stepped = df.select(
        *gcols,
        F.col(value_col).cast("long").alias("_v"),
        F.coalesce(dt, F.lit(0)).alias("_dt"),
    )
    # ONE aggregate carries the integral, the span, and the plain-mean
    # fallback for zero-span groups (single observation) — the window
    # and the groupBy share the same group-keyed exchange.
    return (
        stepped.groupBy(*gcols)
        .agg(
            F.sum(F.col("_v") * F.col("_dt")).alias("_num"),
            F.sum("_dt").alias("span_seconds"),
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("_v").alias("_vsum"),
        )
        .select(
            *gcols,
            F.when(
                F.col("span_seconds") > 0, F.expr("_num DIV span_seconds")
            )
            .otherwise(F.expr("_vsum DIV n_obs"))
            .alias("twap"),
            "n_obs",
            "span_seconds",
        )
    )


def period_over_period(
    daily: DataFrame,
    group_cols: Sequence[str],
    date_col: str,
    value_col: str,
    period_days: int = 7,
) -> DataFrame:
    """Period-over-period comparison (WoW at the default 7): each
    (group, day) row gains the value observed exactly ``period_days``
    earlier, the signed delta, and ``pct_change_ppm`` = delta * 1e6
    DIV previous (NULL when there is no prior observation or it is 0
    — integer division by zero is NULL in both engines). ``daily``
    must hold at most one row per (group, day) — the shape
    ``fill_date_gaps`` produces; run that first if the calendar has
    holes, or the lag silently skips missing days.

    Scale shape: a self-join on the shifted (group, day) key — both
    sides hash-partition identically, so it is one co-partitioned
    shuffle pair with no window sort; the value column must be
    integral for the ppm arithmetic to be exact.
    """
    _require_integral(daily, value_col, "period_over_period")
    gcols = list(group_cols)
    prev = daily.select(
        *gcols,
        F.date_add(F.col(date_col), period_days).alias(date_col),
        F.col(value_col).alias("prev_value"),
    )
    return (
        daily.join(prev, gcols + [date_col], "left")
        .withColumn("delta", F.col(value_col) - F.col("prev_value"))
        .withColumn(
            "pct_change_ppm",
            # NULLIF keeps the zero-base row NULL under ANSI mode
            # (Spark 4 default) instead of raising DIVIDE_BY_ZERO;
            # DuckDB's // NULLIF(..) mirrors it
            F.expr(
                f"(`{value_col}` - prev_value) * 1000000 "
                "DIV NULLIF(prev_value, 0)"
            ),
        )
    )


def ewma_forecast(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.5,
    n: int = 8,
    horizon: int = 1,
    level_col: str = "level",
    trend_col: str = "trend",
    forecast_col: str = "forecast",
) -> DataFrame:
    """Holt-style linear forecast from trailing windows: level =
    trailing EWMA of the value (weight alpha), trend = trailing EWMA of
    the first difference (weight beta), forecast = level + horizon *
    trend — the whole model is TWO literal-weight lag chains inside one
    window spec (the ewma_trailing construction), so it is one
    group-keyed shuffle, codegen arithmetic, and bit-reproducible
    against a SQL oracle evaluating the same left-associated chains.
    The window must be presorted-unique on ``order_col`` per group
    (fill_date_gaps output). Rows whose trailing window holds no
    difference yet (each group's first row) forecast level only."""
    out = ewma_trailing(
        df, group_cols, order_col, value_col, alpha, n, level_col
    )
    w = Window.partitionBy(*group_cols).orderBy(order_col)
    out = out.withColumn(
        "_diff", F.col(value_col) - F.lag(value_col, 1).over(w)
    )
    ws = ewma_weights(beta, n)
    terms_n, terms_d = [], []
    for j, wj in enumerate(ws):
        lj = F.lag(F.col("_diff"), j).over(w) if j else F.col("_diff")
        terms_n.append(F.coalesce(lj * F.lit(wj), F.lit(0.0)))
        terms_d.append(
            F.when(lj.isNotNull(), F.lit(wj)).otherwise(F.lit(0.0))
        )
    num, den = terms_n[0], terms_d[0]
    for tn, td in zip(terms_n[1:], terms_d[1:]):
        num = num + tn
        den = den + td
    trend = F.when(den > 0, num / den).otherwise(F.lit(0.0))
    return (
        out.withColumn(trend_col, trend)
        .withColumn(
            forecast_col,
            F.col(level_col) + F.lit(float(horizon)) * F.col(trend_col),
        )
        .drop("_diff")
    )


def seasonal_indices(
    df: DataFrame,
    group_cols: Sequence[str],
    date_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Seasonal index per (group, phase): phase = day-of-epoch mod
    ``period`` (period=7 -> weekly seasonality), index_ppm =
    mean(value | phase) / mean(value) as an exact integer rational —
    sum_phase * n_total * 1e6 DIV (n_phase * sum_total) in
    decimal(38,0), so the readout replays bit-for-bit (HUGEINT in the
    oracle). Values must be integral (fixed-point your floats first —
    the rolling_zscore contract). Returns (group..., phase, n_obs,
    sum_value, index_ppm).

    Shape: ONE combiner aggregate to (group, phase) — at most
    |groups| x period rows — then the group totals fold back over a
    tiny window; the corpus is scanned once."""
    _require_integral(df, value_col, "seasonal_indices")
    gcols = list(group_cols)
    phase = F.pmod(F.datediff(F.col(date_col), F.lit("1970-01-01")), period)
    per_phase = (
        df.select(*gcols, phase.alias("phase"), F.col(value_col).alias("_v"))
        .groupBy(*gcols, "phase")
        .agg(
            F.count("*").alias("n_obs"),
            F.sum("_v").cast("decimal(38,0)").alias("_s"),
        )
    )
    w = Window.partitionBy(*gcols) if gcols else Window.partitionBy(F.lit(1))
    return (
        per_phase.withColumn("_nt", F.sum("n_obs").over(w))
        .withColumn("_st", F.sum("_s").over(w))
        .select(
            *gcols,
            "phase",
            "n_obs",
            F.col("_s").cast("bigint").alias("sum_value"),
            # NULLIF guards the all-zero-series group (_st = 0), which
            # would raise DIVIDE_BY_ZERO under ANSI mode — degenerate
            # groups yield NULL, the period_over_period convention.
            F.expr(
                "CAST(_s * _nt * 1000000 div NULLIF(n_obs * _st, 0) AS BIGINT)"
            ).alias("index_ppm"),
        )
    )


def interval_concurrency(
    df: DataFrame,
    group_cols: Sequence[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Sweep-line maximum concurrency per group: the largest number of
    intervals ``[start, end)`` alive at any instant, plus the earliest
    instant where that peak is reached — the classic "max concurrent
    sessions / calls / reservations" question, answered WITHOUT the
    interval self-join (which is quadratic in overlap depth).

    Sweep: unpivot each interval into a +1 event at start and a -1
    event at end, pre-aggregate the net delta per (group, instant,
    sign) so the running-sum order is unique and deterministic, then
    one running sum per group ordered by (instant, delta) — ends sort
    before starts at the same instant, the half-open [start, end)
    convention where touching intervals never overlap. The peak is the
    max of the running sum; ``peak_at`` is the first instant reaching
    it.

    Scale shape: one union (map-side, no shuffle), ONE combiner
    groupBy (group, t, delta), one group-keyed window, one final
    combiner aggregate — a single logical shuffle key (the group)
    end-to-end, arbitrarily many intervals per group, no join, no
    Python. Returns (group..., max_concurrent, peak_at).
    """
    gcols = list(group_cols)
    starts = df.select(
        *gcols, F.col(start_col).alias("_t"), F.lit(1).alias("_d")
    )
    ends = df.select(
        *gcols, F.col(end_col).alias("_t"), F.lit(-1).alias("_d")
    )
    events = (
        starts.unionByName(ends)
        .groupBy(*gcols, "_t", "_d")
        .agg(F.sum("_d").alias("_net"))
    )
    w = (
        Window.partitionBy(*gcols)
        if gcols
        else Window.partitionBy(F.lit(1))
    ).orderBy("_t", "_d")
    running = events.withColumn(
        "_alive", F.sum("_net").over(w).cast("bigint")
    )
    wmax = (
        Window.partitionBy(*gcols)
        if gcols
        else Window.partitionBy(F.lit(1))
    )
    out = (
        running.withColumn("_peak", F.max("_alive").over(wmax))
        .where(F.col("_alive") == F.col("_peak"))
        .groupBy(*gcols)
        .agg(
            F.max("_alive").alias("max_concurrent"),
            F.min("_t").alias("peak_at"),
        )
    )
    return out.transform(ordered, *gcols) if gcols else out


def decompose_additive(
    df: DataFrame,
    date_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Classical additive seasonal-trend decomposition of a regular
    daily series: value = trend + seasonal + residual (the textbook
    decompose() every monitoring stack runs before alerting on a
    deseasonalized metric).

    * trend_ppm — centered moving average over ``period`` ROWS
      (period must be odd so the window is symmetric); NULL on the
      first/last half-window rows where the average is undefined.
    * seasonal_ppm — mean detrended value per phase (day-of-epoch mod
      period), re-centered so the period's seasonal components sum to
      ~0 (mean-of-phase-means subtracted) — constant per phase, the
      classical-decomposition convention.
    * resid_ppm — value*1e6 - trend_ppm - seasonal_ppm; NULL where
      trend is NULL.

    All arithmetic is exact int64 ppm. Signed integer division
    truncates toward zero in BOTH engines (probed: DuckDB ``//`` and
    Spark ``div`` agree on negatives — the interpolate_gaps pin), so
    the negative detrended means divide identically with no shift and
    no headroom hazard. Values must be integral (fixed-point first).
    One row per input day, unordered (ext_ts_anomaly_seasonal filters
    and joins it).

    Scale shape: one ROWS window over the ordered series (single
    range-partitioned sort — a daily series is calendar-sized, tiny
    next to the event data that produced it), one period-sized phase
    aggregate broadcast back on phase, one single-row global mean
    broadcast. No corpus-sized join, no Python.
    """
    if period % 2 == 0:
        raise ValueError("decompose_additive: period must be odd")
    _require_integral(df, value_col, "decompose_additive")
    half = period // 2
    base = df.select(
        F.col(date_col).alias("day"),
        F.col(value_col).cast("bigint").alias("value"),
        F.pmod(
            F.datediff(F.col(date_col), F.lit("1970-01-01")), period
        ).alias("_phase"),
    )
    wtrend = Window.orderBy("day").rowsBetween(-half, half)
    trended = (
        base.withColumn("_wsum", F.sum("value").over(wtrend))
        .withColumn("_wcnt", F.count("value").over(wtrend))
        .select(
            "day",
            "value",
            "_phase",
            F.when(
                F.col("_wcnt") == period,
                F.expr(f"_wsum * 1000000 div {period}"),
            )
            .cast("bigint")
            .alias("trend_ppm"),
        )
        .withColumn(
            "_detr", F.col("value") * 1000000 - F.col("trend_ppm")
        )
        # trended feeds the phase aggregate AND the final join (and a
        # composing caller may evaluate the result more than once —
        # ext_ts_anomaly_seasonal ran the whole decomposition 6x per
        # the r12 plan audit); the series is day-sized, cut it once
        .localCheckpoint(eager=False)
    )
    per_phase = (
        trended.where(F.col("_detr").isNotNull())
        .groupBy("_phase")
        .agg(
            F.sum("_detr").alias("_ds"),
            F.count(F.lit(1)).alias("_dn"),
        )
        .select(
            "_phase",
            F.expr("_ds div _dn").cast("bigint").alias("_raw"),
        )
        # feeds the centering aggregate and the seasonal join;
        # period-sized (one row per phase)
        .localCheckpoint(eager=False)
    )
    center = per_phase.agg(
        F.expr("sum(_raw) div count(*)").cast("bigint").alias("_m")
    )
    seasonal = per_phase.join(F.broadcast(center)).select(
        "_phase", (F.col("_raw") - F.col("_m")).alias("seasonal_ppm")
    )
    return (
        trended.join(F.broadcast(seasonal), "_phase", "left")
        .select(
            "day",
            "value",
            "trend_ppm",
            F.col("seasonal_ppm").cast("bigint").alias("seasonal_ppm"),
            (
                F.col("value") * 1000000
                - F.col("trend_ppm")
                - F.col("seasonal_ppm")
            )
            .cast("bigint")
            .alias("resid_ppm"),
        )
    )


def interpolate_gaps(
    df: DataFrame,
    group_cols: Sequence[str],
    date_col: str = "day",
    value_col: str = "value",
) -> DataFrame:
    """Linear-interpolation gap repair for a per-group daily series —
    the gauge-metric complement of ``fill_date_gaps``'s forward-fill:
    every missing day inside a group's observed span gets the value on
    the straight line between its nearest observed neighbors, in exact
    ppm integers: ``prev*1e6 + ((next - prev) * 1e6 * offset) div
    gap``. Both engines' integer division truncates toward zero
    (probed: DuckDB ``//`` and Spark ``div`` agree on negatives), so a
    falling segment replays bit-for-bit too. Values must be integral.

    The grid spans [min(day), max(day)] per group, so every gap row
    has BOTH neighbors by construction — no edge case, no
    extrapolation. Returns (group..., day, value_ppm, src) with src
    'obs' | 'interp'.

    Scale shape: the in-plan calendar grid of ``fill_date_gaps``
    (#groups x span-days, independent of event volume), one (group,
    day)-keyed left join, and two ignore-nulls windows over the SAME
    group-keyed sort — one shuffle for the join key, one for the
    window, nothing corpus-sized, no Python.
    """
    _require_integral(df, value_col, "interpolate_gaps")
    gcols = list(group_cols)
    # NOTE r13: the r12 lazy cut of ``df`` is REVERTED — see the
    # fill_date_gaps note (post-aggregate inputs are exchange-backed,
    # so the double consumer re-reads shuffle files; the cut measured
    # 1.03-1.06x slower and the driver r12 record 0.85x).
    extent = df.groupBy(*gcols).agg(
        F.min(date_col).alias("_d0"), F.max(date_col).alias("_d1")
    )
    grid = extent.select(
        *gcols,
        F.explode(
            F.sequence("_d0", "_d1", F.expr("interval 1 day"))
        ).alias(date_col),
    )
    obs = df.select(
        *gcols,
        F.col(date_col).alias(date_col),
        F.col(value_col).cast("bigint").alias("_v"),
    )
    joined = grid.join(obs, gcols + [date_col], "left")
    wprev = (
        Window.partitionBy(*gcols)
        .orderBy(date_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wnext = (
        Window.partitionBy(*gcols)
        .orderBy(date_col)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last("_v", ignorenulls=True).over(wprev)
    prev_d = F.last(
        F.when(F.col("_v").isNotNull(), F.col(date_col)), ignorenulls=True
    ).over(wprev)
    next_v = F.first("_v", ignorenulls=True).over(wnext)
    next_d = F.first(
        F.when(F.col("_v").isNotNull(), F.col(date_col)), ignorenulls=True
    ).over(wnext)
    return (
        joined.withColumn("_pv", prev_v)
        .withColumn("_pd", prev_d)
        .withColumn("_nv", next_v)
        .withColumn("_nd", next_d)
        .select(
            *gcols,
            date_col,
            F.when(
                F.col("_v").isNotNull(), F.col("_v") * 1_000_000
            )
            .otherwise(
                F.col("_pv") * 1_000_000
                + F.expr(
                    f"(_nv - _pv) * 1000000"
                    f" * datediff({date_col}, _pd)"
                    f" div datediff(_nd, _pd)"
                )
            )
            .cast("bigint")
            .alias("value_ppm"),
            F.when(F.col("_v").isNotNull(), F.lit("obs"))
            .otherwise(F.lit("interp"))
            .alias("src"),
        )
        .transform(ordered, *gcols, date_col)
    )


def trend_slopes(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group ordinary-least-squares trend line in exact integer
    arithmetic — the metric-drift detector a warehouse runs over every
    entity's history: x = 0-based position in ``order_col`` order,
    y = the integral value, and

        slope_ppm     = (n*Sxy - Sx*Sy) * 1e6 div (n*Sxx - Sx*Sx)
        intercept_ppm = (Sy * 1e6 - slope_ppm * Sx) div n

    with the moment sums held in decimal(38,0) (HUGEINT in the
    replay), so there is no double summation-order ulp and the oracle
    matches bit-for-bit; both engines' integer division truncates
    toward zero, so falling trends (negative numerator) agree too.
    The intercept is DEFINED on the truncated slope_ppm — part of the
    contract, not an approximation bug. Groups with fewer than 2
    points or zero x-variance are dropped (no line to fit).

    Scale shape: one group-keyed window for the position index, then
    ONE combiner aggregate folding all five moments — a single shuffle
    key end-to-end, closed-form math, no iteration, no Python.
    """
    _require_integral(df, value_col, "trend_slopes")
    gcols = list(group_cols)
    wx = Window.partitionBy(*gcols).orderBy(order_col)
    pts = df.select(
        *gcols,
        (F.row_number().over(wx) - 1)
        .cast("decimal(38,0)")
        .alias("_x"),
        F.col(value_col).cast("decimal(38,0)").alias("_y"),
    )
    m = pts.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    den = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    return (
        m.where(den > 0)
        .withColumn(
            "slope_ppm",
            F.expr(
                "(_n * _sxy - _sx * _sy) * 1000000"
                " div (_n * _sxx - _sx * _sx)"
            ).cast("bigint"),
        )
        .select(
            *gcols,
            F.col("_n").cast("bigint").alias("n_obs"),
            "slope_ppm",
            F.expr("(_sy * 1000000 - slope_ppm * _sx) div _n")
            .cast("bigint")
            .alias("intercept_ppm"),
        )
        .transform(ordered, *gcols)
    )


def cusum_changepoint(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """CUSUM change-point detection per group: the instant where the
    cumulative deviation from the group mean peaks — the classic
    "when did this metric's level shift" screen a monitoring stack
    runs over every entity's history.

    Exact-integer formulation: with n = group size, T = group total,
    P_i = prefix sum through row i, the mean-deviation cumsum scaled
    by n is  S_i = n*P_i - i*T  (integer — no division by n ever
    happens). The change point is argmax |S_i| over i < n (S_n = 0 by
    construction), ties broken earliest. Reported strength is
    ``|S| * 1e6 div (n*T)`` in decimal(38,0) — the deviation peak as
    a ppm fraction of the total, engine-exact for positive totals.

    Scale shape: ONE group-keyed sort feeds the row index, prefix sum,
    and the n/T totals as window aggregates in the same partition
    spec (one shuffle); the argmax is a max-struct combiner aggregate,
    no join, no Python. Returns (group..., cp_at, n_obs,
    strength_ppm) ordered by group.
    """
    _require_integral(df, value_col, "cusum_changepoint")
    gcols = list(group_cols)
    wrun = (
        Window.partitionBy(*gcols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(*gcols)
    v = F.col(value_col).cast("decimal(38,0)")
    staged = df.select(
        *gcols,
        F.col(order_col).alias("_t"),
        F.row_number()
        .over(Window.partitionBy(*gcols).orderBy(order_col))
        .cast("decimal(38,0)")
        .alias("_i"),
        F.sum(v).over(wrun).alias("_p"),
        F.count(F.lit(1)).over(wall).cast("decimal(38,0)").alias("_n"),
        F.sum(v).over(wall).alias("_tot"),
    )
    scored = staged.where(F.col("_i") < F.col("_n")).select(
        *gcols,
        "_t",
        "_i",
        "_n",
        "_tot",
        F.abs(
            F.col("_n") * F.col("_p") - F.col("_i") * F.col("_tot")
        ).alias("_s"),
    )
    # argmax |S| with earliest tiebreak: max over a struct whose
    # second component is the NEGATED row index — generic over any
    # orderable order_col, no date arithmetic
    pick = F.max(
        F.struct(
            F.col("_s"),
            (-F.col("_i")).alias("_ni"),
            F.col("_t").alias("cp_at"),
            F.col("_n").alias("n"),
            F.col("_tot").alias("tot"),
        )
    ).alias("_m")
    return (
        scored.groupBy(*gcols)
        .agg(pick)
        .select(
            *gcols,
            F.col("_m.cp_at").alias("cp_at"),
            F.col("_m.n").cast("bigint").alias("n_obs"),
            F.expr("_m._s * 1000000 div (_m.n * _m.tot)")
            .cast("bigint")
            .alias("strength_ppm"),
        )
        .transform(ordered, *gcols)
    )
