"""Data-layout optimization: Z-order (Morton) clustering keys and the
min/max data-skipping model they exist to serve.

Why this is a first-class 100 TB operator: a parquet lake is pruned by
per-file (and per-row-group) min/max statistics. A single-column sort
gives tight stats on ONE column only; interleaving the bits of several
bucketized columns into a Z-order key and range-partitioning on it
gives every file a small hyper-rectangle of the key space, so
multi-dimensional box predicates skip most files. The key computation
here is pure Catalyst bit arithmetic (shift/and/or inside whole-stage
codegen — no UDF), and ``skipping_stats`` is the same min/max
relation a table format's footer metadata holds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: list[Column | str], bits: int = 8) -> Column:
    """Interleave the low ``bits`` bits of each (already bucketized,
    non-negative integer) column into a Z-order key. Column j's bit i
    lands at key bit ``i*len(cols) + j``, so equal prefixes of the key
    correspond to aligned hyper-rectangles of the input space. Pure
    bit arithmetic -> stays in whole-stage codegen."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    n = len(cs)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cs):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def skipping_stats(
    df: DataFrame, bucket_col: Column | str, cols: list[str]
) -> DataFrame:
    """Per-bucket min/max/count for the given columns — the exact
    relation a lake format's file-footer statistics hold, and the
    input to any 'how many files must this predicate read' question.
    One combiner-style aggregate."""
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    b = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    return df.groupBy(b.alias("bucket")).agg(*aggs)


def with_hilbert_key(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 8,
    out_col: str = "h_key",
) -> DataFrame:
    """Append a 2-D Hilbert-curve key for (x, y) in [0, 2**bits)².

    Hilbert ordering dominates Morton for data skipping: the curve has
    no long jumps, so a contiguous key range maps to ONE connected,
    near-square region — file min/max boxes are tighter on average
    than Z-order's (which splits across the curve's discontinuities).
    The classic per-bit fold (quadrant extract + reflect/transpose
    rotation) is unrolled into one projection per bit level — each
    level is plain integer/CASE arithmetic on the previous level's
    columns, so the whole key stays in whole-stage codegen with no
    UDF; ``_hilbert_sql`` emits the identical computation as a chained
    SQL CTE for cross-engine verification."""
    x, y = F.col(x_col).cast("long"), F.col(y_col).cast("long")
    cur = df.withColumn("_hx", x).withColumn("_hy", y).withColumn(
        out_col, F.lit(0).cast("long")
    )
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        rx = F.shiftright(F.col("_hx"), level).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col("_hy"), level).bitwiseAND(F.lit(1))
        d = F.col(out_col) + F.lit(s) * F.lit(s) * (
            (F.lit(3) * rx).bitwiseXOR(ry)
        )
        # rotate the sub-quadrant: ry==0 -> (reflect if rx==1) + swap
        refl_x = F.when(rx == 1, F.lit(s - 1) - F.col("_hx")).otherwise(
            F.col("_hx")
        )
        refl_y = F.when(rx == 1, F.lit(s - 1) - F.col("_hy")).otherwise(
            F.col("_hy")
        )
        nx = F.when(ry == 0, refl_y).otherwise(F.col("_hx"))
        ny = F.when(ry == 0, refl_x).otherwise(F.col("_hy"))
        cur = cur.select(
            *[c for c in cur.columns if c not in ("_hx", "_hy", out_col)],
            nx.alias("_hx"),
            ny.alias("_hy"),
            d.alias(out_col),
        )
    return cur.drop("_hx", "_hy")


def hilbert_sql(x_expr: str, y_expr: str, source_sql: str, bits: int = 8) -> str:
    """Emit the with_hilbert_key computation as chained SQL CTEs over
    ``source_sql`` (which must expose columns via x_expr/y_expr plus
    anything else to carry). Returns a query whose final SELECT yields
    the source columns renamed hx/hy at their ORIGINAL values plus
    h_key. Mirrors the Spark fold level-for-level so results are
    integer-identical in any engine."""
    ctes = [
        f"h{bits} AS (SELECT {x_expr} AS ox, {y_expr} AS oy, "
        f"{x_expr} AS hx, {y_expr} AS hy, 0 AS hk FROM {source_sql})"
    ]
    for level in range(bits - 1, -1, -1):
        s = 1 << level
        prev = f"h{level + 1}"
        rx = f"((hx >> {level}) & 1)"
        ry = f"((hy >> {level}) & 1)"
        ctes.append(
            f"h{level} AS (SELECT ox, oy, "
            f"CASE WHEN {ry} = 0 THEN "
            f"  CASE WHEN {rx} = 1 THEN {s - 1} - hy ELSE hy END "
            f"ELSE hx END AS hx, "
            f"CASE WHEN {ry} = 0 THEN "
            f"  CASE WHEN {rx} = 1 THEN {s - 1} - hx ELSE hx END "
            f"ELSE hy END AS hy, "
            f"hk + {s * s} * xor(3 * {rx}, {ry}) AS hk FROM {prev})"
        )
    body = ",\n    ".join(ctes)
    return (
        f"WITH {body}\n"
        f"SELECT ox AS hx, oy AS hy, CAST(hk AS BIGINT) AS h_key FROM h0"
    )
