"""Round-13 pins: the r12 ADVICE guard fixes.

1. Batch operators raise a clear AnalysisException on a streaming
   input: temperature_weights' and lineage_cut's localCheckpoint cut
   and the text operators' _parallel partition count (.rdd) refuse a
   stream at call time.
2. quality_score / redact_pii reject keep_cols entries that collide
   with the columns the operator itself produces (or duplicates),
   instead of silently emitting duplicate column names.
3. incremental_dedup refuses an input that already carries the
   fingerprint column instead of silently overwriting it.
"""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from remap_spark.functions import lineage_cut
from remap_spark.operators.dedup import incremental_dedup
from remap_spark.operators.split import temperature_weights
from remap_spark.operators.text import quality_score, redact_pii, text_stats


def _docs(spark):
    return spark.createDataFrame(
        [(1, "hello the world", "a"), (2, "more of the text here", "b")],
        "doc_id bigint, text string, source string",
    )


# ---------------------------------------------------------------------------
# 1. batch operators on a streaming input


@pytest.mark.parametrize(
    "op",
    [temperature_weights, text_stats, lineage_cut],
    ids=["temperature_weights", "text_stats", "lineage_cut"],
)
def test_streaming_input_raises(spark, op):
    """The operators are batch-only: a streaming input raises a clear
    ``AnalysisException`` at call time (from localCheckpoint, or from
    ``.rdd`` in text._parallel) instead of planning a query that could
    never start."""
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .select(
            F.col("value").alias("doc_id"),
            F.lit("the quick brown fox, again.").alias("text"),
            (F.col("value") % 3).alias("source"),
            F.lit(10).alias("n_chars"),
        )
    )
    with pytest.raises(AnalysisException, match="writeStream"):
        op(src)


def test_temperature_weights_batch_unchanged(spark):
    out = temperature_weights(
        _docs(spark).withColumn("n_chars", F.length("text"))
    )
    rows = {r["grp"]: r for r in out.collect()}
    assert set(rows) == {"a", "b"}
    assert abs(rows["a"]["share"] + rows["b"]["share"] - 1.0) < 1e-6
    assert abs(rows["a"]["weight"] + rows["b"]["weight"] - 1.0) < 1e-6


# ---------------------------------------------------------------------------
# 2. keep_cols collision guards


def test_quality_score_keep_cols_collision(spark):
    docs = _docs(spark)
    with pytest.raises(ValueError, match="collides"):
        quality_score(docs, keep_cols=["score"])
    with pytest.raises(ValueError, match="collides"):
        quality_score(docs, keep_cols=["doc_id"])
    with pytest.raises(ValueError, match="duplicate"):
        quality_score(docs, keep_cols=["source", "source"])
    # a clean carry still works
    out = quality_score(docs, keep_cols=["source"])
    assert out.columns == ["doc_id", "score", "verdict", "source"]


def test_redact_pii_keep_cols_collision(spark):
    docs = _docs(spark)
    with pytest.raises(ValueError, match="collides"):
        redact_pii(docs, keep_cols=["text"])
    with pytest.raises(ValueError, match="collides"):
        redact_pii(docs, keep_cols=["n_email"])
    out = redact_pii(docs, keep_cols=["source"])
    assert out.columns == [
        "doc_id", "text", "n_email", "n_ip", "n_phone", "source",
    ]


# ---------------------------------------------------------------------------
# 3. reserved fingerprint column guards


def test_incremental_dedup_fp_col_collision(spark):
    docs = _docs(spark).withColumn("fingerprint", F.lit(0))
    seen = spark.createDataFrame([(1,)], "fingerprint bigint")
    with pytest.raises(ValueError, match="fingerprint"):
        incremental_dedup(docs, seen)
    # a custom fp_col that does not collide still works
    out = incremental_dedup(
        docs, seen.withColumnRenamed("fingerprint", "fp"), fp_col="fp"
    )
    assert "fp" in out.columns and out.count() == 2


# ---------------------------------------------------------------------------
# 4. lineage_cut escape hatch (r12 verdict item 5: corpus-sized
#    localCheckpoint sites need an opt-out for fault-sensitive clusters)


def test_lineage_cut_conf_opt_out(spark):
    from remap_spark.functions import lineage_cut

    df = spark.range(10)
    try:
        spark.conf.set("spark.remap.lineageCut", "off")
        out = lineage_cut(df)
        # opt-out returns the input plan untouched
        assert out is df
    finally:
        spark.conf.unset("spark.remap.lineageCut")
    # default: a checkpointed (different) plan, same rows
    cut = lineage_cut(df)
    assert cut is not df
    assert sorted(r.id for r in cut.collect()) == list(range(10))


def test_tfidf_topk_identical_with_cuts_off(spark):
    from remap_spark.operators.text import tfidf_topk

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat"), (3, "a cat")],
        "doc_id bigint, text string",
    )
    on = tfidf_topk(docs).collect()
    try:
        spark.conf.set("spark.remap.lineageCut", "off")
        off = tfidf_topk(docs).collect()
    finally:
        spark.conf.unset("spark.remap.lineageCut")
    assert sorted(map(tuple, on)) == sorted(map(tuple, off))
