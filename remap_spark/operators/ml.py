"""Model-based filtering: distributed logistic regression.

Production curation pipelines run CLASSIFIER filters alongside rule
filters (a fastText-style quality model scoring "does this look like
reference text"; CCNet-style language/quality routing). The Spark
shape of both training and scoring is the point here:

- the MODEL is driver-sized (d+1 floats) and is broadcast into the
  scoring cross join — no shuffle, pure codegen scoring;
- batch gradient-descent training is ONE aggregate per iteration over
  however much data there is: gradients are means of per-row terms,
  computed map-side-partial like any other aggregate. The data never
  moves; the model stays in the plan as a 1-row relation.

Swapping in a real embedding-based classifier changes the feature
projection, not this shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def standardize(df: DataFrame, feature_cols: list[str]) -> DataFrame:
    """Z-score the features with ONE aggregate; the statistics come
    back driver-sized (two floats per feature) and re-enter the plan
    as literals — the precondition that makes small-step batch GD
    converge in ~10 rounds instead of thousands."""
    aggs = []
    for c in feature_cols:
        aggs += [F.avg(c).alias(f"_mu_{c}"), F.stddev_pop(c).alias(f"_sd_{c}")]
    row = df.agg(*aggs).first()
    out = df
    for c in feature_cols:
        sd = row[f"_sd_{c}"] or 1.0
        out = out.withColumn(
            c, (F.col(c) - float(row[f"_mu_{c}"])) / float(sd)
        )
    # materialize once: every GD round's aggregate scans this relation,
    # and each would otherwise recompute the whole feature subtree from
    # the scan; the standardized relation is rows x (d+1) doubles — tiny
    return out.localCheckpoint(eager=True)


def logistic_train_relation(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    lr: float = 1.0,
    iters: int = 5,
) -> DataFrame:
    """Batch-GD training with the model kept IN-PLAN as a 1-ROW
    RELATION (_w0.._wd, _b) — the same trick as Pregel's broadcast
    aggregator: each round's mean-gradient aggregate and weight update
    are subtrees cross-joined back as broadcasts, rounds unroll with a
    lazy localCheckpoint (Catalyst analyzes one round at a time), and
    ONE action at the end materializes the whole walk, which matches
    the unrolled-CTE oracle. Precondition: ``df`` should be materialized
    (standardize's eager checkpoint) — every round's aggregate scans
    it."""
    spark = df.sparkSession
    d = len(feature_cols)
    w = spark.range(1).select(
        *[F.lit(0.0).alias(f"_w{j}") for j in range(d)],
        F.lit(0.0).alias("_b"),
    )
    y = F.col(label_col).cast("double")
    for _ in range(iters):
        z = F.col("_b")
        for j, c in enumerate(feature_cols):
            z = z + F.col(f"_w{j}") * F.col(c).cast("double")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = p - y
        g = df.crossJoin(F.broadcast(w)).agg(
            *[
                F.avg(err * F.col(c).cast("double")).alias(f"_g{j}")
                for j, c in enumerate(feature_cols)
            ],
            F.avg(err).alias("_gb"),
        )
        w = (
            w.crossJoin(F.broadcast(g))
            .select(
                *[
                    (F.col(f"_w{j}") - F.lit(lr) * F.col(f"_g{j}")).alias(
                        f"_w{j}"
                    )
                    for j in range(d)
                ],
                (F.col("_b") - F.lit(lr) * F.col("_gb")).alias("_b"),
            )
            .localCheckpoint(eager=False)
        )
    return w


def logistic_score_relation(
    df: DataFrame,
    feature_cols: list[str],
    weights: DataFrame,
    id_col: str = "doc_id",
    out_col: str = "p",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Score against a 1-row weights relation
    (``logistic_train_relation`` output) via a broadcast cross join,
    so the model never leaves the plan. ``keep_cols`` ride
    through the scoring projection so callers that need input columns
    (labels, splits) next to the score don't have to join the scored
    relation back to the corpus on the id — that join is a corpus ×
    corpus sort-merge for a column the plan already had in hand (r12:
    removed exactly that shape from ext_quality_classifier)."""
    z = F.col("_b")
    for j, c in enumerate(feature_cols):
        z = z + F.col(f"_w{j}") * F.col(c).cast("double")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return df.crossJoin(F.broadcast(weights)).select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        p.alias(out_col),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorize ``value_col`` (clamp into its [p_lo, p_hi] quantile
    band), optionally per group — the standard heavy-tail repair
    before means/regressions on revenue- or latency-shaped columns.
    Adds ``out_col`` (default ``<value_col>_wins``) and ``is_clipped``
    (1 where the raw value fell outside the band).

    Both cut points come from ONE array-literal percentile aggregate
    (linear interpolation — the same definition DuckDB's
    quantile_cont uses, so oracles replay bit-for-bit); the cuts
    relation is one row per group and rides a broadcast hash join
    back onto the corpus — with no groups it is a literal-fold
    broadcast of a single row. Exact percentile buffers each group's
    value stream (the dq33 seam).
    """
    from pyspark.sql.functions import broadcast

    out_col = out_col or f"{value_col}_wins"
    gcols = list(group_cols or [])
    pcts = F.array(F.lit(float(p_lo)), F.lit(float(p_hi)))
    agg = F.percentile(value_col, pcts)
    cuts = (df.groupBy(*gcols) if gcols else df.groupBy()).agg(
        agg.alias("_cuts")
    ).select(
        *gcols,
        F.element_at("_cuts", 1).alias("_lo"),
        F.element_at("_cuts", 2).alias("_hi"),
    )
    joined = (
        df.join(broadcast(cuts), gcols, "left")
        if gcols
        else df.crossJoin(broadcast(cuts))
    )
    v = F.col(value_col)
    return joined.withColumn(
        out_col,
        F.when(v < F.col("_lo"), F.col("_lo"))
        .when(v > F.col("_hi"), F.col("_hi"))
        .otherwise(v),
    ).withColumn(
        "is_clipped",
        F.when((v < F.col("_lo")) | (v > F.col("_hi")), 1).otherwise(0),
    ).drop("_lo", "_hi")


def pca_project(
    df: DataFrame,
    mean: list[float],
    components: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project vectors onto given components — pure whole-stage-
    codegen arithmetic (the model enters as literals, zero Python,
    zero shuffle): out[j] = sum_i (x[i] - mean[i]) * W[j][i], evaluated
    as a fixed left-associated chain so results are bit-reproducible."""
    outs = []
    for comp in components:
        term = None
        for i, (m, w) in enumerate(zip(mean, comp)):
            t = (
                F.element_at(F.col(vec_col), i + 1).cast("double")
                - F.lit(float(m))
            ) * F.lit(float(w))
            term = t if term is None else term + t
        outs.append(term)
    return df.withColumn(out_col, F.array(*outs))


def quantile_bins(
    df: DataFrame,
    value_col: str,
    n_bins: int = 10,
    group_cols: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Equi-depth binning: assign each row its quantile bucket
    1..n_bins (decile by default), optionally per group — the
    stratification / monotone-feature-discretization primitive (the
    rfm_segments quintile scoring generalized to any bin count and
    column). Adds ``out_col`` (default ``<value_col>_bin``).

    Same shape as winsorize: ONE array-literal percentile aggregate
    produces the groups-sized interior-cut relation (n_bins - 1 cuts),
    broadcast back; the bin is 1 + count(value > cut_i) as a fixed
    codegen comparison chain, so ties at a cut boundary land
    deterministically in the lower bin and the result replays
    bit-for-bit against quantile_cont."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    from pyspark.sql.functions import broadcast

    out_col = out_col or f"{value_col}_bin"
    gcols = list(group_cols or [])
    qs = [i / n_bins for i in range(1, n_bins)]
    pcts = F.array(*[F.lit(float(q)) for q in qs])
    agg = F.percentile(value_col, pcts)
    cuts = (df.groupBy(*gcols) if gcols else df.groupBy()).agg(
        agg.alias("_cuts")
    )
    joined = (
        df.join(broadcast(cuts), gcols, "left")
        if gcols
        else df.crossJoin(broadcast(cuts))
    )
    b = F.lit(1)
    for i in range(n_bins - 1):
        b = b + (
            F.col(value_col) > F.element_at("_cuts", i + 1)
        ).cast("int")
    return joined.withColumn(out_col, b).drop("_cuts")


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: float = 3.5,
    consistency: float = 1.4826,
) -> DataFrame:
    """Robust outlier flags via median absolute deviation: a row is an
    outlier when |x - median| > k * consistency * MAD — the
    median-based detector that survives the contaminated baselines
    that wreck mean/stddev z-scores (a single 100x spike inflates
    sigma but barely moves the MAD). ``consistency`` = 1.4826 scales
    MAD to sigma under normality (set 1.0 for raw MAD units). Adds
    ``median``, ``mad`` and ``is_outlier``.

    Shape: TWO percentile aggregates (medians cannot fold into one
    pass: the deviation needs the median first) — each a groups-sized
    relation broadcast back, never a corpus shuffle; with a constant
    MAD of zero (>= half the group identical) only exact mismatches
    flag, the standard degenerate-case convention. Linear-interp
    percentile matches quantile_cont, so the oracle replays
    bit-for-bit."""
    from pyspark.sql.functions import broadcast

    gcols = list(group_cols or [])
    med_agg = F.percentile(value_col, F.lit(0.5))
    med = (df.groupBy(*gcols) if gcols else df.groupBy()).agg(
        med_agg.alias("median")
    )
    j1 = (
        df.join(broadcast(med), gcols, "left")
        if gcols
        else df.crossJoin(broadcast(med))
    )
    dev = j1.withColumn("_ad", F.abs(F.col(value_col) - F.col("median")))
    mad_agg = F.percentile("_ad", F.lit(0.5))
    mad = (dev.groupBy(*gcols) if gcols else dev.groupBy()).agg(
        mad_agg.alias("mad")
    )
    j2 = (
        dev.join(broadcast(mad), gcols, "left")
        if gcols
        else dev.crossJoin(broadcast(mad))
    )
    return j2.withColumn(
        "is_outlier",
        F.col("_ad") > F.lit(float(k)) * F.lit(float(consistency)) * F.col("mad"),
    ).drop("_ad")


def weighted_percentiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_cols: list[str],
    qs: dict[str, int],
) -> DataFrame:
    """EXACT weighted percentiles per group — the estimator behind
    duration-weighted latency SLOs and size-weighted document stats
    that an unweighted percentile cannot express: the q-percentile is
    the smallest value whose cumulative WEIGHT reaches q of the
    group's total weight (the left-continuous inverse-CDF
    convention). ``qs`` maps output column name -> q in ppm
    (e.g. {"wp50": 500000}); the threshold test is pure integer
    arithmetic (cw * 1e6 >= q_ppm * tw) so both engines replay it
    bit-for-bit — weights must be integral.

    Shape: ONE corpus pass — both the cumulative weight (RANGE frame,
    so ties in the value column accumulate together and row order
    never matters) and the group total (unbounded frame) are windows
    over the SAME group partitioning, sharing one exchange and one
    sort (the r12 shape computed the total as a separate groupBy
    aggregate and joined it back: a second corpus scan + shuffle +
    join for a value each row's window partition already holds —
    guide §2.4, windows keyed like the established partitioning add
    no exchange). Every requested percentile then folds into a
    SINGLE conditional-min aggregate pass riding the same
    partitioning — adding percentiles costs expression width, never
    extra shuffles (the expectations contract)."""
    from pyspark.sql.window import Window

    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy(value_col)
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy(*group_cols)
    weight = F.col(weight_col).cast("bigint")
    cum = df.select(
        *group_cols,
        F.col(value_col).alias("_v"),
        F.sum(weight).over(wcum).alias("_cw"),
        F.sum(weight).over(wtot).alias("_tw"),
    )
    aggs = [
        F.min(
            F.when(
                F.col("_cw") * F.lit(1000000)
                >= F.lit(q_ppm) * F.col("_tw"),
                F.col("_v"),
            )
        ).alias(name)
        for name, q_ppm in qs.items()
    ]
    return cum.groupBy(*group_cols).agg(*aggs)
