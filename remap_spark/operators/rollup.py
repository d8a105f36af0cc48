"""Incremental aggregate maintenance: merge a new batch into a stored
grouped-aggregate table without touching history — the materialized-
rollup twin of scd.scd2_apply_batch.

Only MERGEABLE aggregate kinds are offered (sum / count / min / max):
state ⊕ agg(batch) == agg(history ∪ batch) holds algebraically, so the
incremental path is provably identical to a full recompute — the
ext_rollup_incremental oracle IS the full-recompute SQL. Derived
measures (avg = sum/count, etc.) belong at read time, never in the
state. Non-mergeable kinds get their own mergeable STATE instead of
being squeezed into this interface: distinct -> HLL (the WAU sketch
tier), percentiles -> the fixed-bin histogram state below
(histogram_state / merge_histogram_state / histogram_percentiles).

Scale shape: agg(batch) is combiner-style and batch-proportional; the
merge is ONE full-outer equi-join on the group keys — state-sized, but
join-only (no sort, no window), and at 100 TB the state relation is
|groups|, orders smaller than the fact history it summarizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_KINDS = ("sum", "count", "min", "max")


def histogram_state(
    df: DataFrame,
    keys: list[str],
    col: Column | str,
    lo: int,
    hi: int,
    bins: int = 64,
) -> DataFrame:
    """Mergeable PERCENTILE state: a fixed-bin histogram over the
    integer domain [lo, hi] — per (keys, bin) counts. Counts add, so
    state merges by plain summation (no sketch library): this is the
    percentile column of the incremental-state family (exact
    sum/count/min/max in merge_aggregate_state, distinct via HLL,
    percentiles here). Estimate error is bounded by one bin width;
    the bin arithmetic is integer-exact so two engines produce the
    IDENTICAL histogram (out-of-range values clamp to the edge
    bins)."""
    c = F.col(col) if isinstance(col, str) else col
    span = hi - lo + 1
    bin_ = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0), F.floor((c - lo) * bins / F.lit(span)).cast("long")
        ),
    )
    return df.groupBy(*keys, bin_.alias("bin")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def merge_histogram_state(
    state: DataFrame, delta: DataFrame, keys: list[str]
) -> DataFrame:
    """Merge two histogram states: union + re-sum per (keys, bin) —
    row-identical to building the state over the combined rows."""
    return (
        state.unionByName(delta)
        .groupBy(*keys, "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )


def histogram_percentiles(
    state: DataFrame,
    keys: list[str],
    lo: int,
    hi: int,
    bins: int,
    ps: dict[str, tuple[int, int]],
) -> DataFrame:
    """Percentile estimates from the histogram state: for each named
    percentile (num, den), the LOWER EDGE of the smallest bin whose
    cumulative count reaches num/den of the group total — integer
    compares only, so the estimate is engine-reproducible bit-for-bit
    (no error band needed in the oracle). One cumulative window over
    the bins relation, which is |keys|x|bins| — tiny."""
    from pyspark.sql.window import Window

    span = hi - lo + 1
    w = Window.partitionBy(*keys).orderBy("bin")
    cum = state.withColumn(
        "_cum", F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("_tot", F.sum("cnt").over(Window.partitionBy(*keys)))
    aggs = [F.sum("cnt").alias("n_rows")]
    for name, (num, den) in ps.items():
        hit_bin = F.min(
            F.when(F.col("_cum") * den >= F.col("_tot") * num, F.col("bin"))
        )
        aggs.append(
            (F.lit(lo) + F.floor(hit_bin * span / F.lit(bins)).cast("long"))
            .alias(name)
        )
    return cum.groupBy(*keys).agg(*aggs)


def aggregate_state(
    df: DataFrame, keys: list[str], specs: dict[str, tuple[str, Column | str]]
) -> DataFrame:
    """Build the aggregate state from raw rows. ``specs`` maps each
    output column to (kind, input column/expression); kind in
    sum|count|min|max ('count' ignores its input and counts rows)."""
    aggs = []
    for out, (kind, col) in specs.items():
        if kind not in _KINDS:
            raise ValueError(f"non-mergeable aggregate kind {kind!r}")
        c = F.col(col) if isinstance(col, str) else col
        fn = F.count(F.lit(1)) if kind == "count" else getattr(F, kind)(c)
        aggs.append(fn.alias(out))
    return df.groupBy(*keys).agg(*aggs)


def merge_aggregate_state(
    state: DataFrame,
    batch: DataFrame,
    keys: list[str],
    specs: dict[str, tuple[str, Column | str]],
) -> DataFrame:
    """Merge ``aggregate_state(batch)`` into an existing state table:
    full-outer join on the group keys, per-column mergeable combine.
    New groups appear, untouched groups pass through, overlapping
    groups combine — row-identical to recomputing over all rows."""
    delta = aggregate_state(batch, keys, specs)
    s = state.select(
        *keys, *[F.col(o).alias(f"_s_{o}") for o in specs]
    )
    d = delta.select(
        *keys, *[F.col(o).alias(f"_d_{o}") for o in specs]
    )
    merged = s.join(d, keys, "full_outer")
    out_cols = [F.col(k) for k in keys]
    for out, (kind, _) in specs.items():
        a, b = F.col(f"_s_{out}"), F.col(f"_d_{out}")
        if kind in ("sum", "count"):
            c = F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
        elif kind == "min":
            c = F.when(a.isNull(), b).when(b.isNull(), a).otherwise(
                F.least(a, b)
            )
        else:  # max
            c = F.when(a.isNull(), b).when(b.isNull(), a).otherwise(
                F.greatest(a, b)
            )
        out_cols.append(c.alias(out))
    return merged.select(*out_cols)


# ---------------------------------------------------------------------
# KMV distinct-count state (the DISTINCT column of the mergeable-state
# family: sum/count/min/max above, percentiles = histogram_state, and
# distinct = the k-minimum-values sketch here). Unlike HLL (whose
# register hashing is engine-private, so its oracle can only check an
# error band) KMV is reproducible from first principles: the hash is
# the portable md5-derived value and every step below is integer
# arithmetic, so two engines produce the IDENTICAL estimate.
# ---------------------------------------------------------------------

# 13 hex digits -> [0, 2^52): wide enough that collisions are
# negligible, narrow enough that (k-1) * 2^52 stays inside int64 for
# k <= 2047.
KMV_DOMAIN = 1 << 52


def kmv_hash(col) -> "Column":
    """Portable 52-bit hash for KMV: first 13 md5 hex digits."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 13), 16, 10).cast(
        "bigint"
    )


def kmv_state(
    df: DataFrame, keys: list[str], col: str, k: int = 64
) -> DataFrame:
    """Per-group KMV state: the k smallest DISTINCT hash values of
    ``col`` — rows (keys..., h). Shape: a combiner-style distinct on
    (keys, h) then one group-keyed window to rank; state size is
    bounded by k rows per group regardless of input volume."""
    from pyspark.sql.window import Window

    hashed = df.select(*keys, kmv_hash(col).alias("h")).distinct()
    w = Window.partitionBy(*keys).orderBy("h")
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def merge_kmv_state(
    a: DataFrame, b: DataFrame, keys: list[str], k: int = 64
) -> DataFrame:
    """Merge two KMV states: union, re-distinct (the same value seen
    by both sides must count once), keep the k smallest per group —
    row-identical to building the state over the combined inputs,
    which is what makes the sketch safe for incremental maintenance
    and map-side partial aggregation."""
    from pyspark.sql.window import Window

    u = a.unionByName(b).distinct()
    w = Window.partitionBy(*keys).orderBy("h")
    return (
        u.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_estimate(
    state: DataFrame, keys: list[str], k: int = 64
) -> DataFrame:
    """Distinct-count estimate from KMV state: with fewer than k
    hashes the count is EXACT (every distinct value is present);
    otherwise the classic estimator (k-1) * DOMAIN / h_k, evaluated
    with integer floor division so it is bit-identical across
    engines. Returns (keys..., n_hashes, est_distinct)."""
    return state.groupBy(*keys).agg(
        F.count("*").alias("n_hashes"),
        F.when(
            F.count("*") < k, F.count("*")
        )
        .otherwise(
            F.expr(f"CAST({k - 1} AS BIGINT) * {KMV_DOMAIN} div MAX(h)")
        )
        .cast("bigint")
        .alias("est_distinct"),
    )


def kmv_set_ops(
    a: DataFrame, b: DataFrame, col: str, k: int = 256
) -> DataFrame:
    """Distinct-set overlap between two relations from their KMV
    sketches (Beyer et al. 2007): one row
    (n_a, n_b, est_distinct_a, est_distinct_b, est_union,
    jaccard_ppm, est_intersect).

    Estimator: build the merged k-smallest state M over A union B;
    jaccard = |{h in M : h in KMV(A) and h in KMV(B)}| / |M| and
    intersect = jaccard * union_estimate, both evaluated with bigint
    ppm arithmetic (DIV) so the readout replays bit-for-bit in any
    ANSI engine. When either side holds fewer than k distinct values
    its sketch IS its distinct set, and with both sides under k the
    union/intersection estimates are exact.

    Shape at 100 TB: each side collapses to <= k rows via one
    combiner-style distinct + window (kmv_state with no group key);
    everything after operates on <= 3k rows driver-free. The two
    corpus scans are the only data passes; the sketches are mergeable,
    so per-partition/per-day states maintained by stream_kmv_distinct
    can feed this without rescanning either corpus.
    """
    sa = kmv_state(a.select(F.lit(1).alias("_g"), col), ["_g"], col, k)
    sb = kmv_state(b.select(F.lit(1).alias("_g"), col), ["_g"], col, k)
    return kmv_set_ops_from_states(sa.select("h"), sb.select("h"), k)


def kmv_set_ops_from_states(
    sa: DataFrame, sb: DataFrame, k: int = 256
) -> DataFrame:
    """The kmv_set_ops readout over PRE-BUILT sketch states (single
    column ``h``, <= k rows each) — e.g. two stream_kmv_distinct
    stores read with read_kmv_store, or per-partition sketches
    maintained incrementally. ZERO corpus scans: a cross-corpus
    overlap readout at 100 TB touches only 2k sketch rows. Same
    integer estimator, bit-identical to building from raw data."""
    # Each state is consumed FOUR times below (merge, intersect, its
    # own count/max aggregate, and the merged semi-join side); without
    # a cut every consumer re-executes the upstream sketch build — for
    # kmv_set_ops that is a FULL corpus distinct per consumer (the
    # docstring's "two corpus scans" promise planned as eight; r12
    # plan audit). One lazy checkpoint per state (<= k rows each)
    # makes every readout consumer read the materialized sketch.
    sa = (
        sa.select("h").withColumn("_g", F.lit(1))
        .localCheckpoint(eager=False)
    )
    sb = (
        sb.select("h").withColumn("_g", F.lit(1))
        .localCheckpoint(eager=False)
    )
    merged = merge_kmv_state(sa, sb, ["_g"], k)
    both = sa.select("h").intersect(sb.select("h"))
    m_both = merged.join(both, "h", "left_semi")
    stats = (
        merged.agg(
            F.count("*").alias("m"), F.max("h").alias("hk")
        )
        .crossJoin(m_both.agg(F.count("*").alias("c")))
        .crossJoin(
            sa.agg(
                F.count("*").alias("na"), F.max("h").alias("ha")
            )
        )
        .crossJoin(
            sb.agg(
                F.count("*").alias("nb"), F.max("h").alias("hb")
            )
        )
    )
    est = lambda n, h: F.when(  # noqa: E731
        F.col(n) < k, F.col(n).cast("bigint")
    ).otherwise(
        F.expr(f"CAST({k - 1} AS BIGINT) * {KMV_DOMAIN} div {h}")
    )
    return stats.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        est("na", "ha").cast("bigint").alias("est_distinct_a"),
        est("nb", "hb").cast("bigint").alias("est_distinct_b"),
        est("m", "hk").cast("bigint").alias("est_union"),
        F.expr("c * 1000000 div m").cast("bigint").alias("jaccard_ppm"),
        F.when(F.col("m") < k, F.col("c").cast("bigint"))
        .otherwise(
            F.expr(
                f"c * (CAST({k - 1} AS BIGINT) * {KMV_DOMAIN} div hk) div m"
            )
        )
        .cast("bigint")
        .alias("est_intersect"),
    )


def segment_overlap_matrix(
    df: DataFrame, segment_col: str, id_col: str, k: int = 256
) -> DataFrame:
    """Pairwise audience overlap between ALL segments at once: one
    KMV sketch per segment (kmv_state with the segment as the group
    key), then the Beyer et al. merged-sketch estimator evaluated per
    unordered segment pair — (segment_a, segment_b, n_a, n_b,
    est_distinct_a, est_distinct_b, est_union, jaccard_ppm,
    est_intersect), all bigint ppm arithmetic, exact when both
    segments hold < k distinct members.

    Shape at 100 TB: the corpus is touched ONCE (the per-segment
    sketch build — combiner distinct + one window); the pair matrix is
    a self-join of the <= k-rows-per-segment sketch relation, so its
    cost is |segments|^2 * k, independent of audience sizes. The same
    sketches can come straight from a stream_kmv_distinct store,
    making the matrix a zero-corpus-scan readout."""
    from pyspark.sql.window import Window

    # state feeds FIVE consumers (segs, both union arms, both
    # membership flags) and segs four more — without a cut each one
    # re-runs the corpus-wide sketch build (8 corpus scans in the r12
    # plan audit). The state is |segments| x k rows; one lazy
    # checkpoint makes the corpus pass happen once, and segs (a
    # segment-count-sized aggregate of it) gets its own cut for the
    # four join legs that read it.
    state = (
        kmv_state(df, [segment_col], id_col, k)
        .select(F.col(segment_col).alias("_seg"), "h")
        .localCheckpoint(eager=False)
    )
    segs = state.groupBy("_seg").agg(
        F.count("*").alias("n"), F.max("h").alias("hmax")
    ).localCheckpoint(eager=False)
    pairs = segs.alias("sa").join(
        segs.alias("sb"), F.col("sa._seg") < F.col("sb._seg")
    )
    # merged top-k per pair: union the two sketches, rank, keep k
    u = (
        state.alias("xa")
        .select(F.col("_seg").alias("seg_a"), "h")
        .join(
            segs.select(F.col("_seg").alias("seg_b")),
            F.col("seg_a") < F.col("seg_b"),
        )
        .unionByName(
            state.select(F.col("_seg").alias("seg_b"), "h").join(
                segs.select(F.col("_seg").alias("seg_a")),
                F.col("seg_a") < F.col("seg_b"),
            ).select("seg_a", "h", "seg_b")
        )
        .distinct()
    )
    w = Window.partitionBy("seg_a", "seg_b").orderBy("h")
    merged = u.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= k
    )
    in_a = state.select(F.col("_seg").alias("seg_a"), "h").withColumn(
        "_ia", F.lit(1)
    )
    in_b = state.select(F.col("_seg").alias("seg_b"), "h").withColumn(
        "_ib", F.lit(1)
    )
    flagged = (
        merged.join(in_a, ["seg_a", "h"], "left")
        .join(in_b, ["seg_b", "h"], "left")
        .groupBy("seg_a", "seg_b")
        .agg(
            F.count("*").alias("m"),
            F.max("h").alias("hk"),
            F.sum(
                (F.col("_ia").isNotNull() & F.col("_ib").isNotNull()).cast(
                    "int"
                )
            ).alias("c"),
        )
    )
    est = lambda n, h: F.when(  # noqa: E731
        F.col(n) < k, F.col(n).cast("bigint")
    ).otherwise(
        F.expr(f"CAST({k - 1} AS BIGINT) * {KMV_DOMAIN} div {h}")
    )
    return (
        flagged.join(
            pairs.select(
                F.col("sa._seg").alias("seg_a"),
                F.col("sb._seg").alias("seg_b"),
                F.col("sa.n").alias("na"),
                F.col("sa.hmax").alias("ha"),
                F.col("sb.n").alias("nb"),
                F.col("sb.hmax").alias("hb"),
            ),
            ["seg_a", "seg_b"],
        )
        .select(
            F.col("seg_a").alias("segment_a"),
            F.col("seg_b").alias("segment_b"),
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            est("na", "ha").cast("bigint").alias("est_distinct_a"),
            est("nb", "hb").cast("bigint").alias("est_distinct_b"),
            est("m", "hk").cast("bigint").alias("est_union"),
            F.expr("c * 1000000 div m").cast("bigint").alias("jaccard_ppm"),
            F.when(F.col("m") < k, F.col("c").cast("bigint"))
            .otherwise(
                F.expr(
                    f"c * (CAST({k - 1} AS BIGINT) * {KMV_DOMAIN} div hk)"
                    " div m"
                )
            )
            .cast("bigint")
            .alias("est_intersect"),
        )
    )


def join_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: list[str] | str,
    broadcast_deltas: bool = False,
) -> DataFrame:
    """Incremental view maintenance for an INNER equi-join: given the
    stored snapshots A, B and insert batches dA, dB, the join's delta
    is exactly

        dR = dA >< (B ∪ dB)  ∪  A >< dB

    (the dA><dB cross term rides in the first leg once, never twice),
    so the maintained result R ∪ dR equals a full recompute of
    (A ∪ dA) >< (B ∪ dB) — the algebraic identity the property test
    pins on random data. This is the join twin of the mergeable
    rollup: the expensive A >< B never re-runs when batches land.

    Scale shape: both legs are equi-joins whose ONE side is
    batch-sized. With ``broadcast_deltas=True`` the delta sides are
    hint-broadcast, so maintaining the view costs two map-side joins
    over A and B with ZERO shuffle of the big relations — the right
    call when batches are bounded (the usual ingest contract). Left
    False, AQE picks the strategy from runtime sizes (the bigram-LM
    lesson: never force a broadcast nothing bounds).

    Insert-only by design — deletes/updates belong to the CDC tier
    (scd.table_changes + scd2_apply_batch), whose outputs can feed
    this as (negative) batches under the usual multiset semantics."""
    da = F.broadcast(a_delta) if broadcast_deltas else a_delta
    db = F.broadcast(b_delta) if broadcast_deltas else b_delta
    b_full = b_old.unionByName(b_delta)
    return da.join(b_full, on).unionByName(
        a_old.join(db, on), allowMissingColumns=False
    )
