"""Scalar-function layer: the reference's de-facto scalar library
(SURVEY.md §2.9) re-expressed as Catalyst-native column expressions,
plus portable hashing used by dedup/fingerprint operators.

Everything here returns Column expressions that stay inside
whole-stage codegen — no Python UDFs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The punctuation set the reference strips before tokenizing
# (/root/reference/examples/wordcount/wordcount.py:21-24).
PUNCT = '.,?:;!"'


def strip_punct(col: Column | str) -> Column:
    """translate '.,?:;!"' -> spaces (wordcount.py:21-24)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, PUNCT, " " * len(PUNCT))


def tokenize(col: Column | str) -> Column:
    """Lower + strip punctuation + whitespace-split -> array<string>,
    empties removed (wordcount.py:20-27 map semantics). Explode the
    result to get one row per token."""
    words = F.split(F.lower(strip_punct(col)), r"\s+")
    return F.filter(words, lambda w: w != "")


def first_char_bucket(col: Column | str) -> Column:
    """The reference's user-directed partition routing
    (wordcount.py:28-37): first char -> a2e / f2n / o2s / t2z / _default.

    In Spark this is a plain expression; actual shuffle routing is the
    optimizer's job (SURVEY.md §4.3.6).
    """
    c = F.col(col) if isinstance(col, str) else col
    first = F.substring(c, 1, 1)
    return (
        F.when(first.between("a", "e"), F.lit("a2e"))
        .when(first.between("f", "n"), F.lit("f2n"))
        .when(first.between("o", "s"), F.lit("o2s"))
        .when(first.between("t", "z"), F.lit("t2z"))
        .otherwise(F.lit("_default"))
    )


# ---------------------------------------------------------------------
# Portable time.
# ---------------------------------------------------------------------


def epoch_us(col: Column | str) -> Column:
    """Integer microseconds since 1970-01-01 00:00:00, naive wall clock.

    ``F.unix_micros`` rejects TIMESTAMP_NTZ — the type Spark 4 infers
    for the testdata's parquet timestamps (isAdjustedToUTC=false) —
    so the naive epoch is computed with ``timestamp_diff`` on NTZ
    operands instead.

    Caveat: Spark's timestamp_diff implicitly coerces NTZ operands back
    to TIMESTAMP via the session time zone, so NTZ wall-clock values
    inside a session-tz DST spring-forward gap shift by the gap width
    (e.g. session tz America/New_York turns NTZ 2024-03-10 02:30 into
    the 03:30 epoch). Exact DuckDB ``epoch_us`` parity therefore relies
    on the UTC session-tz pin in build_session (engine.py); keep
    ``spark.sql.session.timeZone=UTC`` wherever this function feeds an
    oracle comparison. A TIMESTAMP (ltz) input is first cast to NTZ
    (session-tz wall clock), so both storage conventions produce the
    naive epoch.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        c.cast("timestamp_ntz"),
    )


# ---------------------------------------------------------------------
# Portable hashing.
#
# The md5-based hashes below are bit-identical across engines (Spark,
# DuckDB, anything with md5), so the correctness oracle replays every
# fingerprint built on them. md5 is JVM-side codegen — slower than
# xxhash64 but still no Python boundary.
# ---------------------------------------------------------------------


def portable_hash60(col: Column | str) -> Column:
    """First 15 hex digits of md5 as a non-negative bigint (< 2^60).

    DuckDB equivalent: CAST('0x' || substr(md5(x),1,15) AS BIGINT).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def portable_hash32(col: Column | str) -> Column:
    """First 8 hex digits of md5 as a bigint in [0, 2^32).

    Small enough that (a * h + b) stays inside a signed 64-bit for
    a < 2^30 — no overflow under ANSI mode in either engine.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


# Parameters for portable MinHash permutations: h_i(x) = (a_i*x + b_i) % P
# with x = portable_hash32 (< 2^32), a_i < 2^30 -> product < 2^62, safe.
MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs, identical in the oracle SQL."""
    params = []
    a, b = seed * 2654435761 % (1 << 30), seed
    for _ in range(num_hashes):
        a = (a * 1103515245 + 12345) % (1 << 30)
        b = (b * 69069 + 1) % (1 << 30)
        params.append((a | 1, b))
    return params


def dot_product(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over two array<float|double> columns, JVM-side.

    F.zip_with + F.aggregate keep the fold in Catalyst (no UDF); sums
    run in double. For the 100 TB path prefer pre-normalized vectors so
    this reduces to a dot product (see operators/similarity.py).
    """

    def norm(v: Column) -> Column:
        return F.sqrt(
            F.aggregate(
                v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
            )
        )

    return dot_product(a, b) / (norm(a) * norm(b))


def lineage_cut(df):
    """``localCheckpoint`` with a cluster-reliability escape hatch.

    The r12 plan audits replaced re-executed subtrees with
    ``localCheckpoint`` cuts. The trade (guide §5): the cut
    materializes the relation to EXECUTOR-LOCAL, non-replicated
    storage and truncates lineage, so an executor loss mid-query fails
    the job instead of recomputing — the right default for bounded
    relations and short jobs, but on preemptible/long-job clusters a
    corpus-sized cut can be the wrong trade. Set
    ``spark.remap.lineageCut=off`` (session conf) to skip every cut
    routed through this helper: consumers then re-execute the upstream
    subtree (the pre-r12 plan shape) and keep full fault tolerance.
    The cut is lazy: the first action over the result materializes it.
    """
    try:
        enabled = df.sparkSession.conf.get("spark.remap.lineageCut", "on")
    except Exception:
        enabled = "on"
    if str(enabled).lower() in ("off", "false", "0"):
        return df
    return df.localCheckpoint(eager=False)


def ordered(df, *cols):
    """``df.orderBy(*cols)`` for a query's final, presentation sort:
    ``df.transform(ordered, "a", "b")``.

    A global sort plans as ``Exchange rangepartitioning``, and its
    ``RangePartitioner`` first runs a sampling job of its own, which AQE
    cannot skip. When Spark's size estimate of ``df`` (the analyzed
    plan's, well under 1 ms) is positive and at most the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (small enough to broadcast),
    the sort runs over ``df.coalesce(1)`` instead: one partition needs
    no exchange, so the two ordering jobs become none. A threshold of
    -1 keeps the range sort. The rows, in ``cols`` order, are the same
    either way. Not for a sort followed by ``.limit()`` (already a one-job
    ``TakeOrderedAndProject``) nor one whose output feeds more
    operators.
    """
    jspark = df.sparkSession._jsparkSession  # noqa: SLF001
    size = df._jdf.queryExecution().analyzed().stats().sizeInBytes()  # noqa: SLF001
    if 0 < size <= jspark.sessionState().conf().autoBroadcastJoinThreshold():
        return df.coalesce(1).orderBy(*cols)
    return df.orderBy(*cols)
