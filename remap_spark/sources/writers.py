"""Sinks (SURVEY.md §2.2).

The reference's final output is ``"k3,v3\\n"`` text lines, one file per
reduce partition (TextReduceWriter, remap.py:178-188) and its
intermediate format is ``"k2,json(list)"`` (TextPartitioner,
remap.py:96-147). Parquet is the engine's real sink; the text modes
exist for reference parity only (the k,v framing breaks on commas in
keys — SURVEY §4.3.4 — which is why wordcount strips punctuation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(df: DataFrame, path: str, partition_cols: list[str] | None = None):
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def write_reduce_text(
    df: DataFrame,
    path: str,
    key_col: str = "k3",
    value_col: str = "v3",
    partition_col: str | None = None,
):
    """TextReduceWriter parity: "k,v" lines; optional directory per
    named partition (reduce_<partition> analog via partitionBy)."""
    line = F.concat_ws(",", F.col(key_col).cast("string"), F.col(value_col).cast("string"))
    if partition_col:
        out = df.select(F.col(partition_col).alias("partition"), line.alias("value"))
        out.write.mode("overwrite").partitionBy("partition").text(path)
    else:
        df.select(line.alias("value")).write.mode("overwrite").text(path)


def write_intermediate_text(df: DataFrame, path: str):
    """TextPartitioner file-format parity: one dir per named partition,
    lines "k2,json(v2_list)" sorted by key within each file
    (remap.py:132-147). Grouping collapses each key to one line, like
    a fully-combined spill."""
    grouped = df.groupBy("partition", "k2").agg(
        F.to_json(F.collect_list("v2")).alias("vals")
    )
    out = grouped.repartition("partition").sortWithinPartitions("k2")
    out.select(
        "partition", F.concat_ws(",", "k2", "vals").alias("value")
    ).write.mode("overwrite").partitionBy("partition").text(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> DataFrame:
    """Persist as a bucketed (and optionally sorted) table — the
    co-located-join primitive: two tables bucketed on the same key with
    the same bucket count join with ZERO exchanges (and zero sorts when
    sortBy matches). At 100 TB, bucketing the fact tables on their join
    keys once at ingest removes the dominant shuffle from every
    downstream join; tests/test_sources.test_bucketed_join_no_exchange
    pins the no-Exchange plan.

    This is the ONE canonical bucketed-write API. ``path`` makes the
    catalog table external; the return value is the re-read table
    handle, whose scans carry the bucket spec (``SelectedBucketsCount``
    in explain)."""
    w = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(name)
    return df.sparkSession.table(name)


def write_json(df: DataFrame, path: str, partition_cols: list[str] | None = None):
    """Newline-delimited JSON sink (one object per line — the splittable
    form; multiLine JSON cannot be split across tasks on read)."""
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.json(path)


def write_orc(df: DataFrame, path: str, partition_cols: list[str] | None = None):
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.orc(path)


def write_csv(df: DataFrame, path: str, header: bool = True):
    """CSV sink (quoted by default — unlike the reference's raw "k,v"
    framing this survives commas in values, SURVEY §4.3.4)."""
    df.write.mode("overwrite").csv(path, header=header)
