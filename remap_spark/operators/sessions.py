"""Ordered-event-pattern operators over user event streams: the
generalized conversion funnel (MATCH_RECOGNIZE-lite).

No reference analog (the reference has no ordered-pattern operator);
this generalizes the hand-rolled ext_funnel query (queries/
relational.py) into a reusable operator: arbitrary stage list,
arbitrary conversion window, per-stage conversion-time percentiles.

Semantics — GREEDY first-match, the standard funnel definition:
events sort per user by (ts, event_id); a stage is satisfied by the
FIRST event of its type occurring strictly after the event that
satisfied the previous stage, and (for stages > 1) within ``window``
microseconds of the stage-1 anchor event. One event satisfies at most
its own stage (the previous stage must have been reached by an
EARLIER event — old-accumulator fold semantics).

Scale shape: ONE shuffle keyed by the user column, then a codegen
F.aggregate fold over each user's sorted events — state is K nullable
epoch slots. The equivalent SQL is a K-deep min-after join chain
(2K shuffles of the event table); the fold is why this operator
exists at 100 TB. The per-stage rollup afterwards works on ONE ROW
PER USER PER REACHED STAGE (orders of magnitude smaller than the
event table) and exact percentiles over it are a single aggregation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import ordered


def sessionize(
    df: DataFrame,
    gap_us: int = 1_800_000_000,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
) -> DataFrame:
    """Gaps-and-islands sessionization: append a per-user ``session_id``
    (1-based, increasing with time) that increments whenever the gap
    since the user's previous event exceeds ``gap_us`` microseconds.
    The shared primitive under dq14.

    Shape: ONE user-keyed shuffle; the lag and the running sum share
    the same window partitioning. Gap arithmetic is microsecond-exact
    integer (no float ambiguity at the boundary)."""
    from pyspark.sql.window import Window

    from ..functions import epoch_us

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    gap = epoch_us(ts_col) - F.lag(epoch_us(ts_col)).over(w)
    flagged = df.withColumn(
        "_new_sess",
        F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0),
    )
    return flagged.withColumn(
        "session_id",
        F.sum("_new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).drop("_new_sess")


def cohort_retention(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    period_days: int = 1,
) -> DataFrame:
    """Cohort retention analysis: users are cohorted by the period of
    their FIRST event — the cohort key is the first-seen day floored
    to an epoch-anchored ``period_days`` boundary, so with
    period_days=7 all users first seen in the same (epoch-aligned)
    week share one cohort; for every (cohort, periods-since-cohort)
    cell, the count of distinct active users and the retention rate
    against the cohort's size. Returns (cohort, period_idx, n_active,
    retention) with cohort formatted yyyy-MM-dd (the period's start
    day); period 0 is the cohort period itself (retention 1.0 by
    construction).

    Shape: one user-keyed aggregate for first-seen, a user-keyed join
    back (co-partitioned with the aggregate's shuffle), a distinct on
    (cohort, period, user) — the only corpus-sized shuffle — then a
    tiny per-cell rollup joined against the broadcastable cohort-size
    relation. Retention rounds half-up in the 1e-5 integer domain
    (ROUND(double, 5) is engine-divergent on power-of-two cohort
    sizes, e.g. odd/64 ties)."""
    first = df.groupBy(user_col).agg(F.min(ts_col).alias("_first"))
    fd = F.to_date(F.date_trunc("day", F.col("_first")))
    # floor the first-seen DAY to the epoch-anchored period boundary so
    # the cohort key itself has period granularity (not day granularity
    # with only period_idx scaled)
    off = F.pmod(
        F.datediff(fd, F.to_date(F.lit("1970-01-01"))), F.lit(period_days)
    )
    # cohorts feeds the activity join AND the cohort-size aggregate —
    # each would re-run the corpus first-seen aggregate; one cut makes
    # that a single pass (user-sized relation, two narrow columns)
    cohorts = first.select(
        user_col, F.date_sub(fd, off.cast("int")).alias("_c0")
    ).localCheckpoint(eager=False)
    acts = df.select(
        user_col, F.to_date(F.date_trunc("day", F.col(ts_col))).alias("_d")
    )
    idx = F.floor(F.datediff(F.col("_d"), F.col("_c0")) / period_days)
    active = (
        acts.join(cohorts, user_col)
        .select("_c0", idx.alias("period_idx"), user_col)
        .distinct()
    )
    cells = active.groupBy("_c0", "period_idx").agg(
        F.count("*").alias("n_active")
    )
    sizes = cohorts.groupBy("_c0").agg(F.count("*").alias("_size"))
    retention = (
        F.floor(
            F.col("n_active") * F.lit(100000.0) / F.col("_size") + F.lit(0.5)
        )
        / 100000.0
    )
    return (
        cells.join(F.broadcast(sizes), "_c0")
        .select(
            F.date_format("_c0", "yyyy-MM-dd").alias("cohort"),
            F.col("period_idx").cast("bigint").alias("period_idx"),
            "n_active",
            retention.alias("retention"),
        )
        .transform(ordered, "cohort", "period_idx")
    )


def rolling_active_users(
    df: DataFrame,
    window_days: int = 7,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """DAU / trailing-WAU per day: for every day with >= 1 event, the
    count of distinct users active that day and the count of distinct
    users active in the trailing ``window_days`` window ending that
    day. Returns (day yyyy-MM-dd, dau, wau), one row per day, unordered
    (ext_active_users_approx joins it).

    Shape: COUNT(DISTINCT) over a RANGE window is not expressible as a
    window function, so the standard expansion applies: the (user, day)
    distinct activity relation (corpus -> one row per user-day) is
    exploded k-fold — each active day contributes to the next k days'
    windows — then one distinct + one count per day. Shuffle volume is
    O(user-days x k), bounded by the window length, never by the raw
    event count; the expensive raw-event distinct happens once up
    front with map-side partial aggregation."""
    ud = (
        df.select(
            F.col(user_col).alias("_u"),
            F.to_date(F.date_trunc("day", F.col(ts_col))).alias("_d"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # feeds dau, the expansion, and days
    )
    dau = ud.groupBy("_d").agg(F.count("*").alias("dau"))
    contrib = (
        ud.select(
            "_u",
            F.explode(
                F.sequence(F.lit(0), F.lit(window_days - 1))
            ).alias("_i"),
            "_d",
        )
        .select("_u", F.expr("date_add(_d, _i)").alias("_d"))
        .distinct()
    )
    wau = contrib.groupBy("_d").agg(F.count("*").alias("wau"))
    return (
        dau.join(wau, "_d")
        .select(
            F.date_format("_d", "yyyy-MM-dd").alias("day"), "dau", "wau"
        )
    )


def rolling_active_users_approx(
    df: DataFrame,
    window_days: int = 7,
    ts_col: str = "ts",
    user_col: str = "user_id",
    lg_k: int = 12,
) -> DataFrame:
    """Sketch tier of ``rolling_active_users``: per-day HLL user
    sketches (Apache DataSketches, hll_sketch_agg — mergeable, built
    with map-side partial aggregation straight from RAW events, no
    user-day distinct pass at all), k-fold expanded by DAY ROW (one
    sketch per day feeds the next k days' windows) and merged with
    hll_union_agg. Shuffle volume is O(days x k x 2^lg_k bytes) —
    fully independent of user cardinality, where the exact tier ships
    O(user-days x k) rows; this is the 100 TB WAU path. Typical error
    ~1-2% at lg_k=12. Returns (day yyyy-MM-dd, dau_apx, wau_apx)."""
    day_sk = (
        df.select(
            F.to_date(F.date_trunc("day", F.col(ts_col))).alias("_d"),
            F.col(user_col).alias("_u"),
        )
        .groupBy("_d")
        .agg(F.hll_sketch_agg("_u", F.lit(lg_k)).alias("_sk"))
        .localCheckpoint(eager=True)  # feeds dau, the expansion, and join
    )
    dau = day_sk.select(
        "_d", F.hll_sketch_estimate("_sk").alias("dau_apx")
    )
    contrib = day_sk.select(
        F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias("_i"),
        "_d",
        "_sk",
    ).select(F.expr("date_add(_d, _i)").alias("_d"), "_sk")
    wau = contrib.groupBy("_d").agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("wau_apx")
    )
    return (
        dau.join(wau, "_d")
        .select(
            F.date_format("_d", "yyyy-MM-dd").alias("day"),
            "dau_apx",
            "wau_apx",
        )
        .orderBy("day")
    )


def funnel_stage_times(
    df: DataFrame,
    steps: Sequence[str],
    window_us: int,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-user greedy funnel walk: returns (user, stage_ts) where
    ``stage_ts`` is an array of K nullable epoch-microsecond slots,
    slot i holding the timestamp of the first event satisfying stage
    i (NULL = stage not reached)."""
    per_user = (
        df.where(F.col(type_col).isin(list(steps)))
        .groupBy(user_col)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("ts"),
                        F.col(id_col).alias("eid"),
                        F.col(type_col).alias("et"),
                    )
                )
            ).alias("_evs")
        )
    )
    fold = stage_fold_expr(steps, window_us)
    return per_user.select(F.col(user_col), fold.alias("stage_ts"))


def stage_fold_expr(
    steps: Sequence[str], window_us: int, evs_col: str = "_evs"
):
    """The greedy funnel fold as a Column over a (ts, eid, et)-struct
    array sorted by (ts, eid): K nullable epoch-us stage slots, slot i
    filled by the first event of stage i arriving after slot i-1 was
    set and within ``window_us`` of the stage-1 anchor. Shared by
    funnel_stage_times and pipeline compositions that already hold the
    per-user sorted event array (ext_pipeline_analytics folds it inside
    an existing user-keyed aggregate — no second shuffle)."""
    from ..functions import epoch_us

    k = len(steps)
    steps_arr = F.array(*[F.lit(s) for s in steps])
    init = F.array_repeat(F.lit(None).cast("bigint"), k)
    # old-acc semantics: one event can satisfy only its own stage (the
    # previous stage must have been reached by an EARLIER event)
    return F.aggregate(
        evs_col,
        init,
        lambda acc, e: F.transform(
            acc,
            lambda x, i: F.coalesce(
                x,
                F.when(
                    (e["et"] == F.element_at(steps_arr, i + 1))
                    & (
                        (i == 0)
                        | (
                            F.element_at(acc, i).isNotNull()
                            & (
                                epoch_us(e["ts"]) - F.element_at(acc, 1)
                                <= window_us
                            )
                        )
                    ),
                    epoch_us(e["ts"]),
                ),
            ),
        ),
    )


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    window_us: int,
    percentiles: Sequence[float] = (),
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Conversion-funnel report: one row per stage with the user count
    reaching it and, optionally, exact percentiles of the conversion
    time (seconds elapsed from the stage-1 anchor to the stage's
    first-match event, over users who reached the stage; stage 1 is 0
    by construction). Stages no user reached keep their row with
    n_users = 0 and NULL percentiles.

    Columns: (stage_idx, stage, n_users[, p50_s, p90_s, ...] one per
    requested percentile, named p{100p}_s)."""
    steps_arr = F.array(*[F.lit(s) for s in steps])
    st = funnel_stage_times(
        df, steps, window_us, ts_col, user_col, type_col, id_col
    )
    ex = (
        st.select(
            F.element_at("stage_ts", 1).alias("_t0"),
            F.posexplode("stage_ts").alias("_i", "_t"),
        )
        .where(F.col("_t").isNotNull())
        .select(
            "_i", ((F.col("_t") - F.col("_t0")).cast("double")).alias("_el")
        )
    )
    aggs = [F.count("*").alias("n_users")]
    for p in percentiles:
        # 5-decimal seconds with EXPLICIT half-up in the 10-µs integer
        # domain: ROUND(double, 5) is engine-divergent on .000005 ties
        # (Spark rounds the shortest decimal repr, DuckDB the binary
        # double), and exact-percentile values over integer-µs inputs
        # land on such ties routinely
        aggs.append(
            (
                F.floor(F.expr(f"percentile(_el, {p!r})") / 10.0 + 0.5)
                / 100000.0
            ).alias(f"p{round(p * 100)}_s")
        )
    reached = ex.groupBy("_i").agg(*aggs)
    # literal stage relation keeps zero-user stages present
    stages = df.sparkSession.range(1).select(
        F.posexplode(steps_arr).alias("_i", "stage")
    )
    out_cols = [
        (F.col("_i") + 1).alias("stage_idx"),
        F.col("stage"),
        F.coalesce("n_users", F.lit(0)).alias("n_users"),
    ] + [F.col(f"p{round(p * 100)}_s") for p in percentiles]
    return (
        stages.join(reached, "_i", "left")
        .select(*out_cols)
        .transform(ordered, "stage_idx")
    )


def top_event_paths(
    df: DataFrame,
    n_steps: int = 3,
    topk: int = 20,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Most frequent n-step event paths — consecutive event-type
    sequences in each user's timeline (the product-analytics "user
    flow" report: which step chains dominate). Every consecutive run
    of ``n_steps`` events contributes one path occurrence; ordering
    within a user is (ts, event_id) so ties are deterministic.

    Returns the ``topk`` rows (path_rank, step_1..step_n, n_occurrences)
    ordered by count desc then path lexicographically.

    Shape: ONE user-keyed shuffle for the lead window (the same layout
    sessionize/funnel use — a pipeline computing several per-user
    reports reuses the exchange), then a combiner-style path count
    whose shuffle volume is the distinct-path relation (bounded by
    |event_type|^n, not event volume), and a TakeOrdered for the
    top-k (no global sort). At 100 TB nothing but the distinct-path
    aggregate crosses the second exchange."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    steps = [F.col(type_col).alias("step_1")] + [
        F.lead(type_col, j).over(w).alias(f"step_{j + 1}")
        for j in range(1, n_steps)
    ]
    paths = df.select(*steps).where(
        F.col(f"step_{n_steps}").isNotNull()
    )
    counted = paths.groupBy(
        *[f"step_{j + 1}" for j in range(n_steps)]
    ).agg(F.count("*").alias("n_occurrences"))
    order = [F.desc("n_occurrences")] + [
        F.col(f"step_{j + 1}") for j in range(n_steps)
    ]
    wr = Window.orderBy(*order)
    return (
        counted.select(
            F.row_number().over(wr).alias("path_rank"), "*"
        )
        .where(F.col("path_rank") <= topk)
    )


def attribute_conversions(
    df: DataFrame,
    touch_types: Sequence[str],
    conversion_type: str,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Marketing attribution: credit each conversion event to the
    FIRST touch event in the same user's preceding timeline
    (first-touch attribution). Conversions with no preceding
    touch attribute to NULL (organic). Returns one row per conversion:
    (user, conversion event id + ts, channel) — feed it to a groupBy
    for the per-channel report.

    Shape: ONE user-keyed window (the sessionize/funnel layout —
    composed pipelines reuse the exchange); the running first
    touch is an ignorenulls window aggregate over (ts, event_id)
    ordering, so the operator is a narrow projection after the
    shuffle. No joins, no second corpus pass, scale-invariant."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    touch = F.when(
        F.col(type_col).isin(list(touch_types)), F.col(type_col)
    )
    return (
        df.withColumn("_channel", F.first(touch, ignorenulls=True).over(w))
        .where(F.col(type_col) == conversion_type)
        .select(
            user_col,
            F.col(id_col).alias("conversion_id"),
            F.col(ts_col).alias("conversion_ts"),
            F.col("_channel").alias("channel"),
        )
    )


def markov_transitions(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition table over user event timelines:
    for every consecutive event pair in a user's (ts, event_id)-ordered
    stream, count the (from_event, to_event) transition and report the
    row-normalized transition probability as an exact ppm integer
    (n_transitions * 1e6 DIV row_total). A user's last event has no
    successor and starts no transition.

    The transition matrix is the fitted model behind next-event
    prediction and user-flow Sankey charts; top_event_paths reports the
    same timelines as raw n-grams, this normalizes them per source
    state.

    Shape: ONE user-keyed shuffle for the lead window (the shared
    sessionize/funnel/paths layout — a composed pipeline pays for the
    exchange once), then a combiner-style count whose shuffle volume is
    |event_type|^2 rows at most, a per-from window on that tiny
    relation, and ppm division as bigint DIV (replays bit-for-bit in
    ANSI SQL). Nothing corpus-sized crosses the second exchange.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    nxt = F.lead(type_col, 1).over(w)
    pairs = df.select(
        F.col(type_col).alias("from_event"),
        nxt.alias("to_event"),
    ).where(F.col("to_event").isNotNull())
    counted = pairs.groupBy("from_event", "to_event").agg(
        F.count("*").alias("n_transitions")
    )
    per_from = Window.partitionBy("from_event")
    return counted.select(
        "from_event",
        "to_event",
        "n_transitions",
        F.expr("n_transitions * 1000000")
        .cast("bigint")
        .alias("_num"),
        F.sum("n_transitions").over(per_from).alias("from_total"),
    ).select(
        "from_event",
        "to_event",
        "n_transitions",
        "from_total",
        F.expr("_num div from_total").cast("bigint").alias("prob_ppm"),
    )


def match_pattern(
    df: DataFrame,
    first: str,
    middle: str,
    last: str,
    within_us: int | None = None,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """CEP-style sequence pattern matching with STRICT contiguity and
    a Kleene plus — the Flink-CEP shape ``first middle+ last`` where
    no other event may interleave (the funnel operator's ordered
    SUBSEQUENCE semantics deliberately ignore interleaving; this is
    the complementary contract). A match anchors at the LAST
    ``first``-event immediately preceding a maximal run of
    ``middle``-events whose very next event is a ``last``; with
    ``within_us`` set, the last event must fall within that many
    microseconds of the anchor. The three types must be distinct —
    that makes the greedy maximal-run decomposition the unique parse,
    so results are deterministic and SQL-replayable.

    Returns one row per match: (user, first_us, last_us, n_middle,
    duration_us), timestamps as epoch microseconds.

    Shape: run-length encode each user's timeline (one user-keyed
    window + one (user, run)-keyed aggregate), then lag/lead over the
    RUNS relation — which is at most events-sized and typically far
    smaller, so the second user-keyed exchange moves the compressed
    timeline only. All codegen; no Python, no driver action."""
    if len({first, middle, last}) != 3:
        raise ValueError("pattern types must be pairwise distinct")
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    prev_t = F.lag(type_col).over(w)
    # null-SAFE change test (IS DISTINCT FROM): a NULL event type must
    # open its own run — and therefore BREAK strict contiguity — the
    # same way the oracle's IS DISTINCT FROM does; a bare != would
    # evaluate NULL and silently merge the row into the previous run
    ev = df.select(user_col, ts_col, id_col, type_col).withColumn(
        "_chg",
        F.when(
            ~prev_t.eqNullSafe(F.col(type_col)), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    ev = ev.withColumn("_rg", F.sum("_chg").over(w))
    runs = ev.groupBy(user_col, "_rg").agg(
        F.max(type_col).alias("_t"),  # runs are single-type
        F.min(ts_col).alias("_start_ts"),
        F.max(ts_col).alias("_end_ts"),
        F.count("*").alias("_len"),
    )
    wr = Window.partitionBy(user_col).orderBy("_rg")
    m = (
        runs.select(
            user_col,
            "_t",
            "_len",
            F.lag("_t").over(wr).alias("_pt"),
            F.lag("_end_ts").over(wr).alias("_p_end"),
            F.lead("_t").over(wr).alias("_nt"),
            F.lead("_start_ts").over(wr).alias("_n_start"),
        )
        .where(
            (F.col("_t") == middle)
            & (F.col("_pt") == first)
            & (F.col("_nt") == last)
        )
    )
    from ..functions import epoch_us

    if within_us is not None:
        m = m.where(
            epoch_us("_n_start") - epoch_us("_p_end") <= F.lit(within_us)
        )
    return m.select(
        F.col(user_col),
        epoch_us("_p_end").alias("first_us"),
        epoch_us("_n_start").alias("last_us"),
        F.col("_len").alias("n_middle"),
        (epoch_us("_n_start") - epoch_us("_p_end")).alias("duration_us"),
    )


def cumulative_distinct_users(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Exact distinct-users-to-date per day — the growth-curve metric
    COUNT(DISTINCT) OVER (ORDER BY day) that SQL engines reject on
    unbounded frames: decomposed as first-seen-day per user (one
    user-keyed aggregate), new-user counts per day, and a running sum
    over the DAYS relation. Days with activity but no new users keep
    their row (new_users = 0), so the curve is dense over active
    days.

    Shape: one user-keyed agg + one day agg (both combiner-style)
    and a running sum over a days-sized relation — the single
    unpartitioned window is |days|, thousands of rows at any corpus
    scale, never data-sized."""
    from pyspark.sql.window import Window

    day = F.to_date(ts_col).alias("day")
    first_seen = (
        df.groupBy(user_col)
        .agg(F.min(F.to_date(ts_col)).alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("new_users"))
    )
    active_days = df.select(day).distinct()
    daily = active_days.join(first_seen, "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )
