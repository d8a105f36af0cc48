"""bench.py's environment parsing (no Spark session needed)."""

from __future__ import annotations

import pytest

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


def test_fresh_mode_uses_the_same_switch_parser():
    registry = ["dq05_agg", "dq02_filter", "ext_graph_sssp"]
    for raw in (None, "", "0", " 0 ", "false", "FALSE"):
        assert bench.name_subset(raw, registry) is None, repr(raw)
    for raw in ("1", "true", " True\n"):
        assert bench.name_subset(raw, registry) == sorted(registry), repr(raw)
    assert bench.name_subset(" dq05_agg", registry) == ["dq05_agg"]
    assert bench.name_subset("dq05_agg, dq02_filter,", registry) == [
        "dq02_filter",
        "dq05_agg",
    ]


def test_unknown_names_are_refused():
    registry = ["dq05_agg", "dq02_filter"]
    assert bench.registered(["dq05_agg"], registry, "fresh-mode") == ["dq05_agg"]
    with pytest.raises(SystemExit, match=r"unknown fresh-mode queries: \['nope'\]"):
        bench.registered(["dq05_agg", "nope"], registry, "fresh-mode")
