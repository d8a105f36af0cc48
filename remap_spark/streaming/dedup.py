"""Streaming deduplication (SURVEY §2.10 extension; no batch-only
reference analog — the streaming twin of operators/dedup.exact_dedup).

One definition serves both modes:
- batch: plain ``dropDuplicates(keys)`` — one hash shuffle on the key,
  identical semantics to exact_dedup's keep-one-per-key;
- streaming: ``dropDuplicatesWithinWatermark(keys)`` — the state store
  holds one entry per key only until the watermark passes it, so state
  is bounded by (ingest rate x watermark delay), not by stream
  lifetime. Plain streaming dropDuplicates would grow state forever at
  100 TB/day; the watermark variant is the only shape that survives.

The trade encoded by ``delay``: a duplicate arriving later than the
watermark delay after its first occurrence is re-emitted (its state was
evicted). Size the delay to the real out-of-orderness bound; the
key SET emitted still equals the batch distinct key set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import local_frame
from .windows import restore_ntz, watermarked


def dedup_events(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    delay: str = "30 days",
) -> DataFrame:
    """Keep the first event per key combination. ``df`` may be a batch
    or streaming DataFrame; semantics match ext_dedup_exact (one
    survivor per key)."""
    if df.isStreaming:
        src, was_ntz = watermarked(df, ts_col, delay)
        return restore_ntz(
            src.dropDuplicatesWithinWatermark(keys), [ts_col], was_ntz
        )
    return df.dropDuplicates(keys)


def stream_ingest_dedup(
    stream_df: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> object:
    """Continuous ingestion dedup — the streaming twin of
    operators/dedup.incremental_dedup with a PERSISTENT fingerprint
    store: every micro-batch (1) fingerprints its documents
    (content_fingerprint — normalization-invariant, engine-portable),
    (2) keeps the min-id survivor per fingerprint within the batch,
    (3) anti-joins the store to drop docs seen in ANY earlier batch,
    (4) writes survivors to ``out_path`` and their fingerprints to
    ``store_path``.

    Exactly-once under replay: both writes land in the batch's own
    ``_batch_id`` partition via dynamic partition overwrite, and the
    store read EXCLUDES the current batch id — a replayed batch
    therefore never sees its own half-written fingerprints (which
    would wrongly drop every row) and overwrites, not duplicates, its
    prior output.

    Scale: the store holds one (fingerprint, _batch_id) row per ever-
    kept document — 8 bytes + key, orders smaller than the corpus; the
    anti join shuffles fingerprints, never text. Compact the store's
    per-batch partitions periodically; at very large history put a
    bloom_build relation in front (operators/dedup.bloom_probe) so the
    anti join only sees probable duplicates."""
    def process(batch_df: DataFrame, batch_id: int) -> None:
        ingest_dedup_batch(
            batch_df, batch_id, out_path, store_path, text_col, id_col
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def ingest_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the ingestion-dedup protocol (the foreachBatch
    body of ``stream_ingest_dedup``, exposed so replay-idempotence can
    be property-tested directly): fingerprint, keep min-id survivor per
    fingerprint within the batch, anti-join the persistent store
    (excluding this batch's own id), write survivors + fingerprints to
    the batch's dynamic-overwrite partitions. Replay-idempotent under
    Structured Streaming's re-execution semantics — including a batch
    re-running AFTER later batches committed: a doc this batch
    originally kept was DROPPED by every later batch (its fingerprint
    is in this batch's store partition only, which the read excludes),
    so the replay keeps it again and overwrites identical output."""
    from pyspark.sql.window import Window

    spark = batch_df.sparkSession
    from ..operators.text import content_fingerprint_col

    if "fingerprint" in batch_df.columns:
        # withColumn would silently overwrite a caller-supplied
        # column of the store's reserved name (r12 advice)
        raise ValueError(
            "batch_df already has a 'fingerprint' column; rename it — "
            "the name is reserved for the ingest-dedup store"
        )
    # per-row projection instead of the former (id, fingerprint)
    # join-back — same rewrite as operators/dedup.incremental_dedup
    # (r12): one pass over the micro-batch, no batch self-join
    withfp = batch_df.select(
        id_col, *[c for c in batch_df.columns if c != id_col]
    ).withColumn("fingerprint", content_fingerprint_col(text_col))
    first = F.row_number().over(
        Window.partitionBy("fingerprint").orderBy(id_col)
    )
    batch_unique = (
        withfp.withColumn("_rn", first).where(F.col("_rn") == 1).drop("_rn")
    )
    # Existence is checked EXPLICITLY via the Hadoop FS API: a bare
    # try/except around the read would treat ANY failure (transient
    # IO error, corrupt footer, permissions) as "first batch, no
    # store yet" and silently disable cross-batch dedup — a real
    # read error must fail the micro-batch so Structured Streaming
    # retries it.
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    jpath = jvm.org.apache.hadoop.fs.Path(store_path)
    fs = jpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    )
    # an EMPTY pre-created directory is also "no store yet" (schema
    # inference would fail on it); anything else must read cleanly
    if fs.exists(jpath) and len(fs.listStatus(jpath)) > 0:
        seen = (
            spark.read.parquet(store_path)
            .where(F.col("_batch_id") != batch_id)
            .select("fingerprint")
        )
        survivors = batch_unique.join(seen, "fingerprint", "left_anti")
    else:  # first batch: no store yet
        survivors = batch_unique
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            survivors.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("_batch_id")
            .parquet(out_path)
        )
        (
            survivors.select("fingerprint")
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("_batch_id")
            .parquet(store_path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def stream_ingest_dedup_fuzzy(
    stream_df: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
) -> object:
    """Continuous NEAR-duplicate ingestion dedup — the streaming twin
    of operators/dedup.incremental_dedup_fuzzy with a PERSISTENT
    MinHash signature store: every micro-batch probes the store via
    band-key equality, verifies candidates by the signature-equality
    Jaccard estimate, applies the keep-first rule within the batch,
    then appends the survivors' band rows to the store. Same
    exactly-once protocol as stream_ingest_dedup (per-batch dynamic
    partition overwrite; the store read excludes the current batch
    id, so a replayed batch never sees its own half-written
    signatures)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ingest_dedup_fuzzy_batch(
            batch_df, batch_id, out_path, store_path,
            text_col, id_col, threshold, num_hashes, bands,
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def ingest_dedup_fuzzy_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
) -> None:
    """One micro-batch of the fuzzy ingestion-dedup protocol (the
    foreachBatch body of ``stream_ingest_dedup_fuzzy``, exposed for
    direct replay-idempotence property tests). Store schema =
    signature_store_rows (band, key, doc, sigs) + _batch_id partition;
    bucket the compacted store on (band, key) and the probe join runs
    with zero store-side exchange (test_plans pins the batch analog).

    Scale: the store holds bands rows x 8-byte sig components per
    ever-kept document; the probe join ships band keys + signatures,
    never text. Replay-idempotent: the FS-API existence check and the
    current-batch exclusion follow ingest_dedup_batch exactly."""
    from ..operators.dedup import (
        incremental_dedup_fuzzy,
        signature_store_rows,
    )

    spark = batch_df.sparkSession
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    jpath = jvm.org.apache.hadoop.fs.Path(store_path)
    fs = jpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    )
    if fs.exists(jpath) and len(fs.listStatus(jpath)) > 0:
        store = (
            spark.read.parquet(store_path)
            .where(F.col("_batch_id") != batch_id)
            .select("band", "key", "doc", "sigs")
        )
    else:  # first batch: no store yet (still dedups within the batch)
        store = local_frame(
            spark, [], "band int, key string, doc bigint, sigs array<bigint>"
        )
    survivors = incremental_dedup_fuzzy(
        batch_df, store, threshold, text_col, id_col,
        num_hashes=num_hashes, bands=bands,
    ).localCheckpoint(eager=True)  # feeds both writes once
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            survivors.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("_batch_id")
            .parquet(out_path)
        )
        (
            signature_store_rows(
                survivors.select(F.col(id_col).alias("doc"), "sigs"),
                num_hashes,
                bands,
            )
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("_batch_id")
            .parquet(store_path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def stream_ingest_span_dedup(
    stream_df: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> object:
    """Continuous SUB-DOCUMENT dedup — the streaming twin of
    operators/dedup.incremental_remove_spans, completing the
    ingestion-dedup ladder (exact doc / fuzzy doc / now spans): every
    micro-batch drops tokens covered by a k-window whose gram exists
    in the persistent gram store OR in >= 2 documents of the batch,
    writes the REBUILT texts, and appends the batch's ORIGINAL grams
    to the store — original, not post-removal, so a span that entered
    the corpus once keeps matching every future occurrence. Same
    exactly-once protocol as the doc-level tiers (per-batch dynamic
    partition overwrite; store read excludes the current batch id)."""
    def process(batch_df: DataFrame, batch_id: int) -> None:
        ingest_span_dedup_batch(
            batch_df, batch_id, out_path, store_path, text_col, id_col, k
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def ingest_span_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> None:
    """One micro-batch of the span-dedup protocol (the foreachBatch
    body of ``stream_ingest_span_dedup``, exposed for direct
    replay-idempotence testing). Replay-idempotent including a batch
    re-running after later batches committed: the store read keeps
    STRICTLY-EARLIER gram partitions only, so the replay sees exactly
    the inputs the original run saw and overwrites identical output.
    Scale: the store holds one 8-byte row per distinct corpus gram;
    the probe shuffles gram hashes, never text (bucketize the store
    on ``g`` for a zero-store-exchange probe, the plan-pinned
    contract of incremental_remove_spans)."""
    spark = batch_df.sparkSession
    from ..operators.dedup import (
        incremental_remove_spans,
        span_gram_store_rows,
    )

    jvm = spark.sparkContext._jvm  # noqa: SLF001
    jpath = jvm.org.apache.hadoop.fs.Path(store_path)
    fs = jpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    )
    if fs.exists(jpath) and len(fs.listStatus(jpath)) > 0:
        # STRICTLY-EARLIER partitions only (`<`, not `!=`): the span
        # store carries grams for ALL batch content (unlike the doc
        # tiers' survivor-only fingerprints), so a replayed batch
        # would otherwise see LATER batches' overlapping grams and
        # remove spans its original run kept — `<` restores exactly
        # the original run's inputs. (For the doc tiers `!=` and `<`
        # coincide: a fingerprint a batch kept exists only in its own
        # partition, later copies were dropped unwritten.)
        store = (
            spark.read.parquet(store_path)
            .where(F.col("_batch_id") < batch_id)
            .select("g")
        )
    else:  # first batch: no store yet — only the within-batch tier acts
        store = local_frame(spark, [], "g bigint")
    cleaned = incremental_remove_spans(
        batch_df, store, text_col, id_col, k=k, dedup_within_batch=True
    ).withColumnRenamed("doc", id_col)
    grams = span_gram_store_rows(batch_df, text_col, id_col, k)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            cleaned.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("_batch_id")
            .parquet(out_path)
        )
        (
            grams.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("_batch_id")
            .parquet(store_path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
