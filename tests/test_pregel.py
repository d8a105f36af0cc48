"""The flood fixpoint's two tiers (driver-side relaxation for graphs up
to ``_DRIVER_MAX_EDGES`` edges, the Spark block loop above it) and
edge inputs of the connected-components operators.

Every tier-equivalence case runs the same call twice: once as is
(small graphs take the driver tier) and once with the cap patched to
0, which forces the Spark tier. Rows AND schemas must be identical."""

from __future__ import annotations

import random

import pytest

from remap_spark.operators import pregel


def _assert_tiers_equal(monkeypatch, build):
    """Runs ``build()`` on the driver tier and on the Spark tier,
    asserts each tier really ran and both return the same rows and
    schema; returns the rows."""
    calls = []
    real = pregel._flood_local

    def spy(*args, **kw):
        calls.append(1)
        return real(*args, **kw)

    monkeypatch.setattr(pregel, "_flood_local", spy)
    out = []
    for cap in (pregel._DRIVER_MAX_EDGES, 0):
        monkeypatch.setattr(pregel, "_DRIVER_MAX_EDGES", cap)
        calls.clear()
        df = build()
        out.append((sorted(df.collect(), key=repr), df.schema))
        assert bool(calls) == (cap > 0), f"wrong tier ran at cap={cap}"
    (local_rows, local_schema), (spark_rows, spark_schema) = out
    assert local_schema == spark_schema
    assert local_rows == spark_rows
    return local_rows


def _random_edges(seed, n_vertices, n_edges):
    rnd = random.Random(seed)
    return [
        (rnd.randrange(n_vertices), rnd.randrange(n_vertices))
        for _ in range(n_edges)
    ]


@pytest.mark.parametrize("seed", [3, 11])
def test_flood_max_tiers_random_graph(spark, monkeypatch, seed):
    rnd = random.Random(seed)
    verts = spark.createDataFrame(
        [(i, rnd.randrange(1000)) for i in range(30)], "id bigint, value bigint"
    )
    edges = spark.createDataFrame(
        _random_edges(seed, 30, 45), "src bigint, dst bigint"
    )
    _assert_tiers_equal(monkeypatch, lambda: pregel.flood_max(verts, edges))


@pytest.mark.parametrize("seed", [5, 17])
def test_connected_components_tiers_random_graph(spark, monkeypatch, seed):
    edges = spark.createDataFrame(
        _random_edges(seed, 60, 40), "a bigint, b bigint"
    )
    rows = _assert_tiers_equal(
        monkeypatch,
        lambda: pregel.connected_components(edges, src="a", dst="b"),
    )
    assert len({r["component"] for r in rows}) > 1


@pytest.mark.parametrize("wt_type", ["bigint", "double"])
def test_sssp_tiers_int_and_double_weights(spark, monkeypatch, wt_type):
    rnd = random.Random(23)
    cast = float if wt_type == "double" else int
    rows = [
        (u, v, cast(rnd.randrange(1, 9)) + (0.25 if wt_type == "double" else 0))
        for u, v in _random_edges(23, 25, 60)
    ]
    edges = spark.createDataFrame(rows, f"src bigint, dst bigint, wt {wt_type}")
    out = _assert_tiers_equal(monkeypatch, lambda: pregel.sssp(edges, source=0))
    assert out and all(isinstance(r["dist"], cast) for r in out)


def test_flood_tiers_long_chain(spark, monkeypatch):
    """A 20-vertex chain needs 19 rounds: several Spark blocks (2, 4,
    8, 8) and a fixpoint found mid-block."""
    n = 20
    verts = spark.createDataFrame(
        [(i, i) for i in range(n)], "id bigint, value bigint"
    )
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(n - 1)], "src bigint, dst bigint"
    )
    rows = _assert_tiers_equal(monkeypatch, lambda: pregel.flood_max(verts, edges))
    assert {r["value"] for r in rows} == {n - 1}


def test_flood_tiers_max_iter_truncates(spark, monkeypatch):
    """max_iter=3 stops mid-chain (a block of 2, then a block of 1)."""
    verts = spark.createDataFrame(
        [(i, i) for i in range(10)], "id bigint, value bigint"
    )
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(9)], "src bigint, dst bigint"
    )
    rows = _assert_tiers_equal(
        monkeypatch,
        lambda: pregel._flood_fixpoint(verts, edges, "max", max_iter=3),
    )
    assert [r["value"] for r in sorted(rows)] == [3, 4, 5, 6, 7, 8, 9, 9, 9, 9]


def test_flood_tiers_empty_edge_set(spark, monkeypatch):
    verts = spark.createDataFrame([("a", 1), ("b", 2)], "id string, value bigint")
    edges = spark.createDataFrame([], "src string, dst string")
    rows = _assert_tiers_equal(monkeypatch, lambda: pregel.flood_max(verts, edges))
    assert [tuple(r) for r in rows] == [("a", 1), ("b", 2)]


def test_flood_tiers_null_vertex_value(spark, monkeypatch):
    """Null values adopt their inbox, but a null -> x change is not a
    change to the convergence witness (null != x is null): on this
    chain both tiers stop after the first block with 'd' still null."""
    verts = spark.createDataFrame(
        [("a", 5), ("b", None), ("c", None), ("d", None)],
        "id string, value bigint",
    )
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    rows = _assert_tiers_equal(monkeypatch, lambda: pregel.flood_max(verts, edges))
    assert [tuple(r) for r in rows] == [("a", 5), ("b", 5), ("c", 5), ("d", None)]


def test_flood_tiers_dangling_and_null_ids(spark, monkeypatch):
    """Edges into and out of ids absent from ``vertices`` (and a null
    endpoint) carry no message; the null-id vertex keeps its value."""
    verts = spark.createDataFrame(
        [("a", 1), ("b", 2), (None, 9)], "id string, value bigint"
    )
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "ghost"), ("ghost", "a"), ("b", None), (None, "a")],
        "src string, dst string",
    )
    rows = _assert_tiers_equal(monkeypatch, lambda: pregel.flood_max(verts, edges))
    assert {tuple(r) for r in rows} == {(None, 9), ("a", 1), ("b", 2)}


def test_connected_components_star_rejects_nonpositive_rounds(spark):
    """max_rounds <= 0 is a clear ValueError (it used to be a NameError
    when ``_stats`` was passed, and an unflattened result otherwise)."""
    edges = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    for rounds in (0, -1):
        with pytest.raises(ValueError, match="max_rounds"):
            pregel.connected_components_star(edges, max_rounds=rounds, _stats={})
