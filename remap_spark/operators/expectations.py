"""Declarative data-quality expectations — a Deequ-style contract
checker as ONE aggregate pass (the warehouse "assert before you
publish" step a 100 TB pipeline runs between every stage and its
sink).

Each expectation is a named boolean row predicate; the report is one
row per rule with rows_checked / violations / pass. All rules fold
into a SINGLE combiner-style aggregate over one scan (conditional
count-if columns — the same shape as ext_profile_columns), so adding
rules costs expression width, never extra passes or shuffles.

Severity is metadata: the caller decides whether 'error' rows abort
the pipeline while 'warn' rows only report.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..engine import local_frame
from ..functions import ordered


@dataclass(frozen=True)
class Expectation:
    """A named row-level contract: ``condition`` must hold on every
    row (violations = rows where it is false or null)."""

    name: str
    condition: Column
    severity: str = "error"  # 'error' | 'warn'


def expect_report(
    df: DataFrame, expectations: Sequence[Expectation]
) -> DataFrame:
    """One-pass report: (rule, severity, rows_checked, violations,
    pass) per expectation, ordered by rule name."""
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for i, e in enumerate(expectations):
        # null condition = violation: a contract that cannot be
        # evaluated on a row is not satisfied by it
        aggs.append(
            F.sum(
                F.when(F.coalesce(e.condition, F.lit(False)), 0).otherwise(1)
            ).alias(f"_v{i}")
        )
    row = df.agg(*aggs)
    # ONE aggregate row exploded into per-rule rows via a literal
    # struct array — a per-rule select + union would re-plan (and
    # re-SCAN) the aggregate subtree once per rule
    structs = [
        F.struct(
            F.lit(e.name).alias("rule"),
            F.lit(e.severity).alias("severity"),
            F.col(f"_v{i}").cast("bigint").alias("violations"),
        )
        for i, e in enumerate(expectations)
    ]
    return (
        row.select(
            F.col("_rows").cast("bigint").alias("rows_checked"),
            F.explode(F.array(*structs)).alias("_r"),
        )
        .select(
            F.col("_r.rule").alias("rule"),
            F.col("_r.severity").alias("severity"),
            "rows_checked",
            F.col("_r.violations").alias("violations"),
            (F.col("_r.violations") == 0).alias("pass"),
        )
        .transform(ordered, "rule")
    )


# Benford expected first-digit mass, ppm-rounded literals of
# log10(1 + 1/d) — identical constants on both engines by
# construction (the oracle embeds the same table).
BENFORD_PPM: dict[int, int] = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def benford_deviation(
    df: DataFrame, col: str, min_value: float = 1.0
) -> DataFrame:
    """Benford's-law first-digit screen — the forensic data-quality
    check for fabricated or truncated numeric columns (amounts,
    populations, file sizes): naturally-occurring multiplicative data
    puts digit d first with probability log10(1 + 1/d); uniform or
    hand-entered data does not. Returns 9 rows
    (digit, n, observed_ppm, expected_ppm, deviation_ppm).

    The first digit is taken from the INTEGER part (values below
    ``min_value`` are excluded — sub-1 magnitudes need log-domain
    handling that differs per column semantics): floor() on a double
    is exact on both engines, and bigint-to-string is locale-free, so
    the digit extraction replays bit-for-bit — no float log10 at a
    power-of-10 boundary, no double*100 cents rounding hazard (the
    dq44 lesson).

    Shape: one filtered scan -> one 9-group aggregate, left-joined
    onto the 9-row expected table (so unobserved digits still emit);
    the total rides back as a broadcast single-row relation (in-plan,
    the modularity idiom)."""
    if min_value < 1:
        # values in [min_value, 1) floor to first digit 0, which the
        # 9-row expected-table join drops while the total _t still
        # counts it — every observed_ppm silently deflates. Sub-1
        # magnitudes need log-domain digit extraction that differs per
        # column semantics; refuse rather than skew.
        raise ValueError(
            "benford_deviation: min_value must be >= 1 (integer-part "
            f"first-digit extraction), got {min_value!r}"
        )
    digits = df.where(F.col(col) >= F.lit(min_value)).select(
        F.substring(
            F.floor(F.col(col)).cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count("*").alias("_n"))
    total = counts.agg(F.coalesce(F.sum("_n"), F.lit(0)).alias("_t"))
    # ALL NINE digit rows always emit — a digit with zero observations
    # is the loudest Benford anomaly there is (deviation = -expected),
    # so the report is built FROM the expected table and counts join in
    expected = local_frame(
        df.sparkSession,
        sorted(BENFORD_PPM.items()),
        "digit int, expected_ppm bigint",
    )
    return (
        expected.join(counts, "digit", "left")
        .join(F.broadcast(total))
        .select(
            "digit",
            F.coalesce("_n", F.lit(0)).cast("bigint").alias("n"),
            F.expr(
                "CASE WHEN _t > 0 THEN CAST(COALESCE(_n, 0) * 1000000 "
                "div _t AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            ).alias("observed_ppm"),
            "expected_ppm",
        )
        .withColumn(
            "deviation_ppm", F.col("observed_ppm") - F.col("expected_ppm")
        )
        .transform(ordered, "digit")
    )


def fd_violations(
    df: DataFrame,
    determinant: Sequence[str] | str,
    dependent: str,
) -> DataFrame:
    """Functional-dependency violation profile for a claimed FD
    ``determinant -> dependent`` (the Deequ/HoloClean-style dependency
    check a warehouse runs before trusting a key): one row per
    determinant group that maps to MORE than one dependent value,
    with the group size, the number of distinct dependent values, and
    ``repair_rows`` — the minimum rows whose dependent value must
    change for the FD to hold on that group (group size minus the
    modal dependent value's count, the standard FD repair cost).

    Scale shape: ONE combiner groupBy (determinant, dependent) for the
    per-value counts, then ONE groupBy (determinant) folding count /
    distinct / modal-max in the same pass — two key shuffles total,
    both partial-aggregated map-side, no window, no join, no Python.
    Violating groups are typically a tiny fraction of keys, so the
    output is report-sized however large the input.

    Returns (determinant columns..., n_rows, n_distinct, repair_rows)
    ordered by repair_rows desc then the determinant, so the worst
    violations surface first.
    """
    dets = [determinant] if isinstance(determinant, str) else list(determinant)
    per_value = df.groupBy(*dets, dependent).agg(
        F.count(F.lit(1)).alias("_n")
    )
    return (
        per_value.groupBy(*dets)
        .agg(
            F.sum("_n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            (F.sum("_n") - F.max("_n")).alias("repair_rows"),
        )
        .where(F.col("n_distinct") > 1)
        .transform(ordered, F.desc("repair_rows"), *dets)
    )


def inclusion_profile(
    columns: Sequence[tuple[str, "DataFrame", str]],
    min_containment_ppm: int = 0,
) -> DataFrame:
    """Inclusion-dependency discovery (the SPIDER/Binder-style FK
    hunt): for every ordered pair of candidate columns, how much of
    column A's distinct-value set is contained in column B's —
    containment 1e6 ppm means A ⊆ B, the signature of a foreign key
    pointing at B. ``columns`` is a list of (name, dataframe, column)
    candidates; values compare as strings (bigint keys render
    identically in every engine).

    Scale shape: one DISTINCT combiner aggregate per candidate column
    (each map-side-reduced before its shuffle), one union, then ONE
    self-equi-join on the value — a value appears at most once per
    column, so join fanout is bounded by the candidate count squared,
    never by data volume — and one pair-keyed count. The report is
    (candidate-pairs)-sized. No Python, no broadcast of anything
    data-sized.

    Returns (col_a, col_b, n_shared, n_a_distinct, containment_ppm)
    for pairs with n_shared > 0 and containment >= the threshold,
    ordered by containment desc then the pair.
    """
    dists = [
        df.select(
            F.lit(name).alias("col_name"),
            F.col(c).cast("string").alias("val"),
        )
        .where(F.col("val").isNotNull())
        .distinct()
        for name, df, c in columns
    ]
    allv = dists[0]
    for d in dists[1:]:
        allv = allv.unionByName(d)
    # referenced three times below (counts + both join sides): one
    # lazy checkpoint materializes each column's DISTINCT scan once
    allv = allv.localCheckpoint(eager=False)
    counts = allv.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_a_distinct")
    )
    right = allv.select(F.col("col_name").alias("col_b"), "val")
    shared = (
        allv.join(right, "val")
        .where(F.col("col_name") != F.col("col_b"))
        .groupBy(F.col("col_name").alias("col_a"), "col_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            counts.withColumnRenamed("col_name", "col_a"), "col_a"
        )
        .withColumn(
            "containment_ppm",
            F.expr("n_shared * 1000000 div n_a_distinct").cast("bigint"),
        )
        .where(F.col("containment_ppm") >= min_containment_ppm)
        .transform(ordered, F.desc("containment_ppm"), "col_a", "col_b")
    )


def distribution_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    bin_width: int,
) -> DataFrame:
    """Two-sample chi-square drift screen over an equi-width binning —
    the "did this feature's distribution move between the reference
    period and today" check a feature store runs before retraining.
    Values must be integral (fixed-point first); bin = value div
    bin_width.

    Per-bin homogeneity contribution in exact ppm integers:

        contrib_ppm = (c_ref*N_cur - c_cur*N_ref)^2 * 1e6
                      div (N_ref * N_cur * (c_ref + c_cur))

    (the textbook two-sample chi-square statistic, cross-multiplied so
    no per-bin expected-count division happens); held in decimal(38,0)
    — HUGEINT in the replay — so the screen is engine-exact while
    ``(c*N)^2 * 1e6`` fits 38 digits, i.e. per-side totals up to
    ~3e15 row-count-x-bin-count products (comfortably past any single
    table's row count; past that, pre-aggregate to ppm shares first).
    Summing contrib_ppm over bins gives chi2 * 1e6 for a threshold
    test.

    Scale shape: one combiner count per side, a bin-keyed full outer
    join of two report-sized relations, two single-row totals riding
    as broadcasts. Returns (bin, n_ref, n_cur, contrib_ppm) ordered
    by bin.
    """
    for side, df in (("ref", ref), ("cur", cur)):
        dt = df.schema[value_col].dataType.simpleString()
        if dt not in ("bigint", "int", "smallint", "tinyint"):
            raise TypeError(
                f"distribution_drift needs an integral {value_col!r} "
                f"on the {side} side (got {dt})"
            )

    def binned(df: DataFrame) -> DataFrame:
        # FLOOR division, in pure integer arithmetic (`div` truncates
        # toward zero, which would make the bin containing 0 span
        # (-w, w) — double width — for signed data): shift the
        # truncated quotient down by 1 when a negative value has a
        # remainder. Identical expression in the DuckDB oracle
        # (staged_r9 ext_distribution_drift) — no float FLOOR, so it
        # stays exact past 2^53.
        return (
            df.select(
                F.expr(
                    f"{value_col} div {bin_width}"
                    f" - (CASE WHEN {value_col} % {bin_width} != 0"
                    f" AND {value_col} < 0 THEN 1 ELSE 0 END)"
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("_c"))
        )

    bref = binned(ref).withColumnRenamed("_c", "_cr")
    bcur = binned(cur).withColumnRenamed("_c", "_cc")
    # joined feeds the totals aggregate AND the final projection — a
    # cut makes both corpus binning passes run once instead of twice
    # (4 scans in the r12 plan audit); the relation is bin-sized
    joined = (
        bref.join(bcur, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("_cr", F.lit(0)).alias("n_ref"),
            F.coalesce("_cc", F.lit(0)).alias("n_cur"),
        )
        .localCheckpoint(eager=False)
    )
    tot = joined.agg(
        F.sum("n_ref").cast("decimal(38,0)").alias("_nr"),
        F.sum("n_cur").cast("decimal(38,0)").alias("_nc"),
    )
    return (
        joined.join(F.broadcast(tot))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            F.expr(
                "CAST((CAST(n_ref AS DECIMAL(38,0)) * _nc"
                " - CAST(n_cur AS DECIMAL(38,0)) * _nr)"
                " * (CAST(n_ref AS DECIMAL(38,0)) * _nc"
                " - CAST(n_cur AS DECIMAL(38,0)) * _nr)"
                " * 1000000"
                " div (_nr * _nc"
                " * (CAST(n_ref AS DECIMAL(38,0)) + n_cur))"
                " AS BIGINT)"
            ).alias("contrib_ppm"),
        )
        .transform(ordered, "bin")
    )


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
    sensitive_col: str | None = None,
) -> DataFrame:
    """Re-identification risk profile (Sweeney, "k-Anonymity: A Model
    for Protecting Privacy", IJUFKS 2002) over a set of
    quasi-identifier columns — the compliance screen that pairs with
    the PII detector in ``operators/text``: PII finds direct
    identifiers; this finds COMBINATIONS of innocuous columns that
    single records out. One row per present quasi-identifier
    combination with its equivalence-class size ``n_rows`` and
    ``at_risk = n_rows < k`` (the k-anonymity violation flag: a class
    smaller than k lets an attacker who knows the quasi values narrow
    a target to fewer than k candidates — suppress or generalize those
    rows before release).

    ``sensitive_col`` adds the l-diversity companion
    (Machanavajjhala et al., TKDD 2007): ``n_sensitive`` = distinct
    sensitive values inside the class — a class can be k-anonymous yet
    leak the sensitive attribute when all its members share one value.

    Scale shape: ONE combiner-aggregated groupBy on the quasi columns
    (count + count-distinct both partial-aggregate map-side; Spark
    plans the distinct as the standard two-phase expand), output
    bounded by the quasi-combination cardinality — report-sized for
    real quasi-identifiers (region x age-bucket x segment), never
    corpus-sized. No join, no window, no Python. At 100 TB the only
    dial is the combination cardinality itself: a near-unique quasi
    set (e.g. a timestamp) makes the REPORT the corpus — that is a
    finding (everything is at risk), but cap it upstream by bucketing
    continuous columns before profiling, exactly as the k-anonymity
    literature generalizes them.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    if sensitive_col is not None:
        aggs.append(
            F.countDistinct(F.col(sensitive_col)).alias("n_sensitive")
        )
    return (
        df.groupBy(*[F.col(c) for c in quasi_cols])
        .agg(*aggs)
        .withColumn("at_risk", F.col("n_rows") < F.lit(int(k)))
        .transform(ordered, *quasi_cols)
    )
