"""``functions.ordered``: a final sort of a relation small enough to
broadcast runs over one partition, with no range exchange; rows and
their order are those of ``orderBy``."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from conftest import jobs_of
from pyspark.sql import functions as F

from remap_spark.functions import ordered
from remap_spark.plans import explain_str

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@contextmanager
def _threshold(spark, value):
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, value)
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, old)


def _rows(spark):
    """60 rows over 4 partitions: ``k`` has ties (6 values), ``n`` is
    null on every 5th row, ``id`` is unique."""
    return spark.range(0, 60, numPartitions=4).select(
        "id",
        (F.col("id") % 6).alias("k"),
        F.when(F.col("id") % 5 != 0, F.col("id") % 7).alias("n"),
    )


def _has_coalesce(df) -> bool:
    """The analyzed plan's root Sort reads a one-partition coalesce."""
    return "+- Repartition 1, false" in (
        df._jdf.queryExecution().analyzed().toString()
    )


_SORTS = {
    "asc": lambda: ["k", "id"],
    "desc": lambda: [F.desc("k"), F.desc("id")],
    "nulls_first": lambda: [F.col("n").asc_nulls_first(), "id"],
    "nulls_last": lambda: [F.col("n").desc_nulls_last(), "id"],
}


@pytest.mark.parametrize("case", list(_SORTS))
def test_rows_and_order_match_order_by(spark, case):
    df = _rows(spark)
    got = df.transform(ordered, *_SORTS[case]())
    assert _has_coalesce(got)
    assert got.collect() == df.orderBy(*_SORTS[case]()).collect()


def test_ties_keep_the_key_order(spark):
    """Rows tied on the sort key may come in any order, in either plan;
    the key sequence and the rows are the same."""
    df = _rows(spark)
    got = df.transform(ordered, "k").collect()
    want = df.orderBy("k").collect()
    assert [r["k"] for r in got] == [r["k"] for r in want]
    assert sorted(got) == sorted(want)


@pytest.mark.parametrize("empty", ["filtered", "local"])
def test_zero_rows(spark, empty):
    """A filter that keeps nothing still estimates positive (coalesce
    path); an empty local relation estimates 0 (range path)."""
    from remap_spark.engine import local_frame

    if empty == "filtered":
        df = _rows(spark).where(F.col("id") < 0)
    else:
        df = local_frame(spark, [], "id bigint, k bigint")
    got = df.transform(ordered, "k", "id")
    assert _has_coalesce(got) == (empty == "filtered")
    assert got.collect() == df.orderBy("k", "id").collect() == []


def test_small_relation_sorts_in_one_task(spark):
    """Under the threshold: no range exchange, and 2 jobs fewer (the
    range partitioner's sampling job and the range shuffle's map
    stage)."""
    df = _rows(spark).groupBy("k").agg(F.count("*").alias("cnt"))
    got = df.transform(ordered, "k")
    want = df.orderBy("k")
    rows, jobs = jobs_of(spark, got.collect)
    want_rows, want_jobs = jobs_of(spark, want.collect)
    assert rows == want_rows
    assert _has_coalesce(got)
    assert "rangepartitioning" not in explain_str(got, "simple")
    assert "rangepartitioning" in explain_str(want, "simple")
    assert jobs == want_jobs - 2, (jobs, want_jobs)


@pytest.mark.parametrize("threshold", ["100", "-1"])
def test_range_sort_is_kept(spark, threshold):
    """Over the threshold (100 bytes, against the 60-row relation), and
    for any relation when the threshold is -1, ``ordered`` is
    ``orderBy``."""
    df = _rows(spark)
    with _threshold(spark, threshold):
        got = df.transform(ordered, "k", "id")
        assert not _has_coalesce(got)
        rows, jobs = jobs_of(spark, got.collect)
        want_rows, want_jobs = jobs_of(spark, df.orderBy("k", "id").collect)
    assert "rangepartitioning" in explain_str(got, "simple")
    assert rows == want_rows
    assert jobs == want_jobs
