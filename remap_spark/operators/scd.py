"""Slowly-changing-dimension (Type 2) history construction.

The warehouse-side twin of dq44's CDC merge-upsert: instead of keeping
only the latest state per key, build the FULL validity-interval history
from a change stream — one row per (key, version) with
``valid_from`` / ``valid_to`` / ``is_current``, collapsing consecutive
observations whose tracked attributes did not actually change.

Scale shape: everything is expressed over ONE key-partitioned sort
(lag-based change detection, running version sum) plus a per-(key,
version) combiner aggregate and a second window over the version-level
relation (orders of magnitude smaller than the event stream). No
driver actions, no self-joins; skew is bounded by the hottest key's
event count, same as any sessionization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def scd2_history(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    attr_cols: list[str],
    tiebreak_col: str,
) -> DataFrame:
    """Build Type-2 dimension history from a change stream.

    ``df`` holds one row per observed state (key, ts, attrs...).
    Output: one row per (key, version): the tracked attributes,
    ``valid_from`` (first observation of this state), ``valid_to``
    (start of the next version, NULL for the open current version) and
    ``is_current``. Consecutive rows with identical attributes merge
    into one version — re-observing an unchanged state never opens a
    new interval. ``tiebreak_col`` makes same-timestamp ordering
    deterministic.

    Null-safe comparison: an attribute transitioning NULL -> value (or
    back) IS a change; NULL -> NULL is not (eqNullSafe).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    changed = F.lag(tiebreak_col).over(w).isNull()  # first row per key
    for a in attr_cols:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    versioned = df.withColumn(
        "version",
        F.sum(F.when(changed, 1).otherwise(0)).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # attrs are constant within a version by construction, so they can
    # sit in the grouping key; min(ts) is the version's open edge
    per_version = versioned.groupBy(key_col, "version", *attr_cols).agg(
        F.min(ts_col).alias("valid_from")
    )
    wv = Window.partitionBy(key_col).orderBy("version")
    return per_version.select(
        key_col,
        "version",
        *attr_cols,
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def scd2_apply_batch(
    dim: DataFrame,
    changes: DataFrame,
    key_col: str,
    ts_col: str,
    attr_cols: list[str],
    tiebreak_col: str,
) -> DataFrame:
    """Incrementally apply an APPEND-ONLY batch of change rows to an
    existing Type-2 dimension (a prior ``scd2_history`` output).

    Only keys present in the batch are rebuilt: their existing history
    rows are replayed as a change stream (one pseudo-event per version
    at its ``valid_from``) together with the new events, and re-run
    through ``scd2_history``; every untouched key's rows stream
    through without being rewritten. Because the replayed stream
    reproduces exactly the original change points, the result is
    row-identical to a full recompute over (old events ∪ batch) —
    the equivalence the tests and the ext_scd2_incremental oracle pin.

    Preconditions (the append-only CDC contract):
    - every batch row's ``ts`` is later than the key's last observed
      event (late/backfill events need the full rebuild path);
    - batch ``tiebreak_col`` values are >= 0 (replayed history rows
      take NEGATIVE tiebreaks so a batch event at exactly the open
      version's ``valid_from`` orders after it, as it did in the full
      stream). The replay tiebreak is ``version - 2^31``, not a
      constant: two versions can share one ``valid_from`` when their
      originating events carried identical timestamps, and a constant
      tiebreak made their replay order nondeterministic — the
      hypothesis property caught the resulting history corruption
      (same-ts None/'A' versions swapping, round 6).

    Scale shape: the rebuild input is |touched keys|'s history +
    batch — batch-proportional, not dimension-proportional; the
    untouched side is a key-hash anti-join, no sort, no window. This
    is what makes daily dimension maintenance O(batch) at 100 TB.
    """
    # touched feeds both the anti and the semi join legs; one lazy
    # checkpoint runs the batch key-distinct once instead of once per
    # leg (key-distinct of the batch: batch-bounded, small)
    touched = changes.select(key_col).distinct().localCheckpoint(eager=False)
    keep = dim.join(touched, key_col, "left_anti")
    replay = dim.join(touched, key_col, "left_semi").select(
        key_col,
        F.col("valid_from").alias(ts_col),
        *attr_cols,
        (F.col("version") - F.lit(2_147_483_648))
        .cast("long")
        .alias(tiebreak_col),
    )
    batch = changes.select(
        key_col,
        ts_col,
        *attr_cols,
        F.col(tiebreak_col).cast("long").alias(tiebreak_col),
    )
    rebuilt = scd2_history(
        replay.unionByName(batch),
        key_col=key_col,
        ts_col=ts_col,
        attr_cols=attr_cols,
        tiebreak_col=tiebreak_col,
    )
    return keep.unionByName(rebuilt)


def table_changes(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Row-level snapshot diff — the change-data-feed generator: given
    two snapshots of a keyed table, emit one row per changed key with
    ``op`` in ('insert', 'update', 'delete') and ``changed_cols`` (the
    NULL-SAFE-unequal non-key columns; empty for insert/delete). Value
    columns carry the NEW image for insert/update and the OLD image
    for delete, so the output feeds scd2_apply_batch / a MERGE
    directly. Unchanged keys are dropped. Keys must be unique within
    each snapshot (the same precondition every CDC consumer assumes).

    Shape: ONE full-outer join on the key columns — bucketed or
    co-partitioned snapshots make it exchange-free; AQE handles the
    common skew. The change verdict and column mask are pure codegen
    projections (eqNullSafe per non-key column); nothing but the
    changed rows leaves the operator, so downstream work is
    change-sized, not table-sized.
    """
    compare_cols = [c for c in new.columns if c not in keys]
    o = old.select(
        *keys, *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
        F.lit(1).alias("_in_old"),
    )
    n = new.select(
        *keys, *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
        F.lit(1).alias("_in_new"),
    )
    j = o.join(n, keys, "full_outer")
    diff_flags = [
        F.when(
            ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")), F.lit(c)
        )
        for c in compare_cols
    ]
    changed = F.filter(
        F.array(*diff_flags), lambda x: x.isNotNull()
    ) if compare_cols else F.array().cast("array<string>")
    op = (
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(F.size(changed) > 0, F.lit("update"))
    )
    out_vals = [
        F.when(
            F.col("_in_new").isNull(), F.col(f"_o_{c}")
        ).otherwise(F.col(f"_n_{c}")).alias(c)
        for c in compare_cols
    ]
    return (
        j.withColumn("op", op)
        .where(F.col("op").isNotNull())
        .select(
            *keys,
            *out_vals,
            "op",
            F.when(F.col("op") == "update", changed)
            .otherwise(F.array().cast("array<string>"))
            .alias("changed_cols"),
        )
    )


def scd2_lookup(
    facts: DataFrame,
    dim: DataFrame,
    key_col: str,
    fact_ts_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """AS-OF enrichment against a Type-2 dimension — the READ side of
    the SCD2 family: each fact joins the dimension version whose
    validity interval contains the fact's timestamp
    (valid_from <= ts < valid_to, open current version = NULL
    valid_to). Facts earlier than the key's first version (or with no
    dimension key at all) keep NULL attributes (a left join).

    Shape: ONE equi-join on the key with the interval predicate as a
    post-join filter — never a nested loop (the key IS the equi
    condition; plan-pinned in tests) — and at most one version
    interval can contain any timestamp (intervals tile by
    construction), so no dedup pass is needed. Bucket both sides on
    the key for an exchange-free join at 100 TB; version fan-out is
    bounded by the key's change count, the same skew envelope as any
    dimension join."""
    fa = facts.alias("f")
    d = dim.select(
        F.col(key_col).alias("_dk"),
        *[F.col(a).alias(a) for a in attr_cols],
        "valid_from",
        "valid_to",
    ).alias("d")
    cond = (
        (F.col(f"f.{key_col}") == F.col("d._dk"))
        & (F.col(f"f.{fact_ts_col}") >= F.col("d.valid_from"))
        & (
            F.col("d.valid_to").isNull()
            | (F.col(f"f.{fact_ts_col}") < F.col("d.valid_to"))
        )
    )
    return fa.join(d, cond, "left").select(
        "f.*", *[F.col(f"d.{a}").alias(a) for a in attr_cols]
    )
