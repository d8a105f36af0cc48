"""bench.py's environment parsing (no Spark session needed)."""

from __future__ import annotations

import bench


def test_heavy_subset_off_values():
    for raw in (None, "", "  ", "0", " 0 ", "false", "False\n", " , "):
        assert bench.heavy_subset(raw) is None, repr(raw)


def test_heavy_subset_pinned_list():
    for raw in ("1", " 1\n", "true", "TRUE"):
        assert bench.heavy_subset(raw) == sorted(bench.HEAVY_QUERIES), repr(raw)


def test_heavy_subset_name_list_strips_whitespace():
    assert bench.heavy_subset(" dq17_pagerank , ext_graph_sssp,\n") == [
        "dq17_pagerank",
        "ext_graph_sssp",
    ]
