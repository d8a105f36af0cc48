"""Shared fixtures: one SparkSession per test run + a DuckDB oracle
comparator that mirrors the driver's gate (row-count + schema + order-
insensitive value match, columns sorted by name)."""

from __future__ import annotations

import datetime
import math
import os
import sys
import uuid
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_T2 = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    from remap_spark.engine import build_session

    s = build_session(app_name="remap_spark_tests")
    yield s
    s.stop()


def jobs_of(spark, fn):
    """``fn()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _dtype_class(t: str) -> str:
    """Coarse dtype classes shared by Spark dtype strings and DuckDB type
    names. The driver hashes typed values, so int32 vs int64 vs HUGEINT
    vs double are DIFFERENT even when values print the same (dq15_json
    lesson from round 1) — the local mirror must distinguish them too."""
    t = t.strip().lower()
    if t.startswith(("array", "struct", "map")) or t.endswith("[]"):
        return "nested"
    if t.startswith("decimal"):
        return "dec"
    first = t.split("(")[0]
    return {
        # all machine-int widths hash alike at the driver (dq06's int32
        # row_number passed r1); HUGEINT does NOT — pandas renders it as
        # float64, so it stays a distinct class the oracle must CAST away
        "tinyint": "int", "smallint": "int",
        "int": "int", "integer": "int",
        "bigint": "int", "long": "int", "ubigint": "int",
        "hugeint": "i128", "uhugeint": "i128",
        "float": "f32", "real": "f32",
        "double": "f64",
        "string": "str", "varchar": "str",
        "boolean": "bool",
        "timestamp": "ts", "timestamp_ntz": "ts",
        "timestamp_ns": "ts", "timestamp_ms": "ts", "timestamp_s": "ts",
        "timestamp with time zone": "tstz", "timestamptz": "tstz",
        "date": "date",
    }.get(first, first)


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(v)
    if isinstance(v, datetime.datetime):
        # keep tzinfo: a TIMESTAMPTZ-producing oracle (e.g. DuckDB
        # to_timestamp) must FAIL against Spark's naive timestamps,
        # because the driver's string-hash compare sees them differ
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def canon(rows, colnames):
    """Sort columns by name (driver semantics), normalize values, sort rows."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def assert_driver_shape(sdf, name: str) -> None:
    """Driver-canon output contract (the r7 incident, SURVEY §8): the
    external driver canonicalizes results with pandas ``sort_values``
    over every column, which cannot factorize list/dict cells — an
    ARRAY/MAP/STRUCT column in a registered query's output crashes the
    gate with ``TypeError: unhashable type`` and burns the window slot
    RED (CORRECTNESS_r07: ext_inverted_index, ext_table_changes).
    Query wrappers must serialize nested values (``array_join`` /
    ``to_json``) and mirror in the oracle SQL; operators keep their
    typed arrays — the typed pytest comparator is where arrays are
    compared natively."""
    bad = [
        (c, t)
        for c, t in sdf.dtypes
        if t.startswith(("array", "map", "struct"))
    ]
    assert not bad, (
        f"{name}: driver-facing output has nested columns {bad}; "
        "serialize at the query-wrapper boundary (SURVEY §8 convention)"
    )
    # a final sort of a relation small enough to broadcast runs in one
    # task (functions.ordered): no range-sampling job, no range shuffle
    plan = sdf._jdf.queryExecution().analyzed()
    while plan.nodeName() == "Project":
        plan = plan.child()
    if plan.nodeName() == "Sort" and getattr(plan, "global")():
        child = plan.child()
        conf = sdf.sparkSession._jsparkSession.sessionState().conf()
        if 0 < child.stats().sizeInBytes() <= conf.autoBroadcastJoinThreshold():
            assert (
                child.nodeName() == "Repartition"
                and child.numPartitions() == 1
                and not child.shuffle()
            ), (
                f"{name}: the root sort's input estimates under the "
                "broadcast threshold; sort it with functions.ordered"
            )


def assert_matches_oracle(
    spark, name: str, sf_dir: str = SF_DIR, query_fn=None, oracle=None
):
    """Typed Spark-vs-DuckDB comparison. Looks ``name`` up in the live
    registry by default; pass ``query_fn``/``oracle`` explicitly for
    queries outside it (the retired pytest tier, ad-hoc probes)."""
    from remap_spark.queries import ALL_ORACLES, ALL_QUERIES

    if query_fn is None:
        query_fn = ALL_QUERIES[name]
    if oracle is None:
        oracle = ALL_ORACLES[name]
    sdf = query_fn(spark, sf_dir)
    assert_driver_shape(sdf, name)
    srows = sdf.collect()
    scols = sdf.columns

    con = duck_con(sf_dir)
    try:
        res = con.sql(oracle)
        dcols = res.columns
        dtypes = [str(t) for t in res.types]
        drows = res.fetchall()
    finally:
        con.close()

    stypemap = {c: _dtype_class(t) for c, t in sdf.dtypes}
    dtypemap = {c: _dtype_class(t) for c, t in zip(dcols, dtypes)}
    type_diffs = {
        c: (stypemap.get(c), dtypemap.get(c))
        for c in set(stypemap) | set(dtypemap)
        if stypemap.get(c) != dtypemap.get(c)
    }
    assert not type_diffs, (
        f"{name}: column dtype classes differ (spark, duckdb): {type_diffs}"
    )

    assert sorted(scols) == sorted(dcols), (
        f"{name}: column names differ: spark={scols} duckdb={dcols}"
    )
    assert len(srows) == len(drows), (
        f"{name}: row count {len(srows)} != oracle {len(drows)}"
    )
    s = canon(srows, scols)
    d = canon(drows, dcols)
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s, d)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} value mismatches; first 5: {mismatches[:5]}"
    )
