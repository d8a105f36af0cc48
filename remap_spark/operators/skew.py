"""Skew-mitigation operators: salting patterns for hot keys.

At 100 TB a handful of hot keys (one viral document id, one null-ish
default user) concentrate a shuffle partition onto one task. AQE's
skew-join splitting handles the JOIN case at runtime; these helpers
cover the AGGREGATION case and pre-planned join salting:

- ``salted_agg``: two-phase aggregate — partial groupBy((key, salt))
  spreads a hot key over ``buckets`` tasks, final groupBy(key) merges
  bucket partials. Exact for any algebraic aggregate (same contract as
  the reference's combiner, /root/reference/daemons/core/remap.py:136-144:
  partial application must be idempotent/algebraic).

Salt derivation is DETERMINISTIC (hash of a row-unique column, not
rand()) so retried tasks re-derive identical salts — rand() salting
breaks exactly-once semantics under task retry, and determinism is
what lets the correctness oracle hash-match the salted plan against
the unsalted SQL.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_column(unique_col: Column | str, buckets: int) -> Column:
    """Deterministic salt in [0, buckets) from a row-unique column."""
    c = F.col(unique_col) if isinstance(unique_col, str) else unique_col
    return F.pmod(F.xxhash64(c), F.lit(buckets)).cast("int")


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: dict[str, Column],
    final_aggs: dict[str, Column],
    salt_from: str,
    buckets: int = 32,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``partial_aggs``: alias -> aggregate over raw rows (phase 1, per
    (keys, salt) group). ``final_aggs``: alias -> aggregate over the
    phase-1 partials (phase 2, per keys). E.g. count: partial
    ``{"c": F.count("*")}``, final ``{"cnt": F.sum("c")}``.

    Spark's own partial aggregation already does map-side combine; the
    explicit salt phase additionally splits a hot REDUCE-side key across
    ``buckets`` tasks — use when one key holds >~1 partition of data.
    """
    salted = df.withColumn("_salt", salt_column(salt_from, buckets))
    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[c.alias(a) for a, c in partial_aggs.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[c.alias(a) for a, c in final_aggs.items()]
    )


def key_skew_report(
    df: DataFrame,
    key: Column | str,
    topk: int = 20,
) -> DataFrame:
    """Heavy-hitter diagnostic for a prospective shuffle key: the
    ``topk`` heaviest key values with their exact row counts, ppm
    shares, and cumulative share, annotated with the global totals a
    partitioning decision needs (total rows, distinct keys, mean rows
    per key). The output is what decides between plain hash
    partitioning, ``salted_agg``, and AQE skew handling — a top key at
    100_000+ ppm of a 1000-task shuffle is a straggler.

    Scale shape: ONE combiner-style groupBy(key) count is the only
    corpus pass; the top-k is TakeOrdered over the key relation
    (count desc, key asc — deterministic under ties); the rank /
    cumulative window and the totals broadcast run on k rows. All
    shares are exact integer ppm (x * 1e6 DIV total).
    """
    kc = F.col(key) if isinstance(key, str) else key
    counts = (
        df.select(kc.cast("string").alias("key"))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    totals = counts.agg(
        F.sum("n_rows").alias("total_rows"),
        F.count(F.lit(1)).alias("distinct_keys"),
    )
    top = counts.orderBy(F.desc("n_rows"), F.asc("key")).limit(topk)
    # rank / cumulative-share windows run on the k-row top relation
    # only — the empty-partitionBy single-task window is fine there
    return (
        top.crossJoin(F.broadcast(totals))
        .withColumn(
            "rank",
            F.expr("ROW_NUMBER() OVER (ORDER BY n_rows DESC, key ASC)"),
        )
        .withColumn(
            "share_ppm", F.expr("n_rows * 1000000 DIV total_rows")
        )
        .withColumn(
            "cum_share_ppm",
            F.expr(
                "SUM(n_rows) OVER (ORDER BY n_rows DESC, key ASC "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
                "* 1000000 DIV total_rows"
            ),
        )
        .withColumn(
            "avg_rows_per_key", F.expr("total_rows DIV distinct_keys")
        )
        .select(
            "rank", "key", "n_rows", "share_ppm", "cum_share_ppm",
            "total_rows", "distinct_keys", "avg_rows_per_key",
        )
    )
