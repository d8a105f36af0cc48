"""Query registry: every declared query (SURVEY.md §2.13) plus the
training-data-pipeline extension queries, with their DuckDB oracles.

``ALL_QUERIES``: name -> (spark, sf_dir) -> DataFrame, in check order
``ALL_ORACLES``: name -> ANSI SQL for DuckDB (absent key = rows-only check)

The external correctness driver hash-checks only the first 50 keys of
``ALL_QUERIES``. At import ``check_order`` sorts the registry over the
driver's ``CORRECTNESS_r*.json`` records: names never checked or red at
their latest row first, then oldest latest recorded round first, ties in
registration order. A landed green record rotates the window by itself.
At the 200 = 50 x 4 ceiling the due group is exactly the 50 rows last
checked four records ago, so no row goes more than four recorded rounds
unchecked; a 201st name without a retirement breaks that bound.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Mapping, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from . import relational
from .graphs import (
    GRAPH_ORACLES,
    dq16_flood_max,
    dq17_pagerank,
    dq40_pointer_jump,
    dq42_star_components,
    ext_graph_sssp,
    ext_graph_triangles,
    ext_pagerank_dangling,
)
from .oracles import DQ_ORACLES

QueryFn = Callable[[SparkSession, str], DataFrame]

ALL_QUERIES: dict[str, QueryFn] = {
    "dq01_project": relational.dq01_project,
    "dq02_filter": relational.dq02_filter,
    "dq03_wordcount": relational.dq03_wordcount,
    "dq04_collation": relational.dq04_collation,
    "dq05_agg": relational.dq05_agg,
    "dq06_secondary_sort": relational.dq06_secondary_sort,
    "dq07_topk": relational.dq07_topk,
    "dq08_join_agg": relational.dq08_join_agg,
    "dq09_multiway_join": relational.dq09_multiway_join,
    "dq10_anti": relational.dq10_anti,
    "dq10_semi": relational.dq10_semi,
    "dq11_intersect": relational.dq11_intersect,
    "dq11_except": relational.dq11_except,
    "dq12_rollup": relational.dq12_rollup,
    "dq13_tumbling": relational.dq13_tumbling,
    "dq14_sessionize": relational.dq14_sessionize,
    "dq15_json": relational.dq15_json,
    "dq15_year": relational.dq15_year,
    "dq16_flood_max": dq16_flood_max,
    "dq17_pagerank": dq17_pagerank,
    "dq40_pointer_jump": dq40_pointer_jump,
    "dq42_star_components": dq42_star_components,
    "ext_pagerank_dangling": ext_pagerank_dangling,
    "ext_graph_triangles": ext_graph_triangles,
    "ext_graph_sssp": ext_graph_sssp,
    "dq18_grouped_udf": relational.dq18_grouped_udf,
    "dq19_buckets": relational.dq19_buckets,
    "dq20_range_join": relational.dq20_range_join,
    "dq21_left_outer": relational.dq21_left_outer,
    "dq21_full_outer": relational.dq21_full_outer,
    # dq21_right_outer: RETIRED to the pytest tier in r8 (duplicate
    # capability — Spark plans right outer AS left outer with the build
    # side swapped; left+full stay registered). See queries/retired.py.
    "dq22_union": relational.dq22_union,
    "dq23_cube": relational.dq23_cube,
    "dq24_asof_join": relational.dq24_asof_join,
    "dq25_window_funcs": relational.dq25_window_funcs,
    "dq26_distinct_agg": relational.dq26_distinct_agg,
    "dq27_sliding": relational.dq27_sliding,
    "dq28_exists": relational.dq28_exists,
    "dq29_scalar_subquery": relational.dq29_scalar_subquery,
    "dq30_grouping_sets": relational.dq30_grouping_sets,
    "dq31_pivot": relational.dq31_pivot,
    "dq32_session_window": relational.dq32_session_window,
    "dq33_percentiles": relational.dq33_percentiles,
    "dq34_array_funcs": relational.dq34_array_funcs,
    "dq35_regexp": relational.dq35_regexp,
    "dq36_conditional_agg": relational.dq36_conditional_agg,
    "dq37_lead_lag": relational.dq37_lead_lag,
    "dq38_sql_api": relational.dq38_sql_api,
    "dq41_recursive_sql": relational.dq41_recursive_sql,
    "dq39_running_total": relational.dq39_running_total,
    "dq45_rank_funcs": relational.dq45_rank_funcs,
    "dq43_rolling_range": relational.dq43_rolling_range,
    "dq44_merge_upsert": relational.dq44_merge_upsert,
    "ext_profile_columns": relational.ext_profile_columns,
    # HLL sketch values differ across engines: the oracle checks an
    # error-band predicate (see relational.ext_approx_distinct)
    "ext_approx_distinct": relational.ext_approx_distinct,
    "ext_approx_percentiles": relational.ext_approx_percentiles,
    # ext_funnel: RETIRED to the pytest tier in r8 (strictly subsumed
    # by ext_funnel_conversion; pipeline flagship also covers it).
    "ext_funnel_conversion": relational.ext_funnel_conversion,
    "ext_cohort_retention": relational.ext_cohort_retention,
    "ext_active_users": relational.ext_active_users,
    "ext_pipeline_analytics": relational.ext_pipeline_analytics,
    "ext_active_users_approx": relational.ext_active_users_approx,
}

ALL_ORACLES: dict[str, str] = {**DQ_ORACLES, **GRAPH_ORACLES}


# (module name, queries attr, oracles attr) for every extension module;
# tests/test_dq.py replays every registered oracle.
_EXTENSION_MODULES = [
    ("extensions", "EXT_QUERIES", "EXT_ORACLES"),
    ("multimodal_q", "MM_QUERIES", "MM_ORACLES"),
    ("staged_r7", "STAGED_QUERIES", "STAGED_ORACLES"),
    ("staged_r8", "STAGED_R8_QUERIES", "STAGED_R8_ORACLES"),
    ("staged_r9", "STAGED_R9_QUERIES", "STAGED_R9_ORACLES"),
    ("staged_r10", "STAGED_R10_QUERIES", "STAGED_R10_ORACLES"),
    ("staged_r11", "STAGED_R11_QUERIES", "STAGED_R11_ORACLES"),
    ("staged_r12", "STAGED_R12_QUERIES", "STAGED_R12_ORACLES"),
]

# Import failures recorded here instead of swallowed: the production
# contract is that a broken extension module never takes down the core
# DQ set (the registry still loads), but the breakage must be LOUD —
# tests/test_registry.py asserts this list is empty, so CI fails the
# moment an extension import breaks rather than silently shrinking the
# registry (and the driver window) by that module's queries.
EXTENSION_IMPORT_ERRORS: list[tuple[str, str]] = []


def register_extensions() -> None:
    """Extension queries (dedup / similarity / text analysis) register
    themselves here as they are implemented; imported lazily so a broken
    extension never takes down the core DQ set. Failures are recorded in
    ``EXTENSION_IMPORT_ERRORS`` (asserted empty by the registry tests)."""
    import importlib

    for mod_name, q_attr, o_attr in _EXTENSION_MODULES:
        try:
            mod = importlib.import_module(f".{mod_name}", __package__)
            ALL_QUERIES.update(getattr(mod, q_attr))
            ALL_ORACLES.update(getattr(mod, o_attr))
        except ImportError as exc:
            EXTENSION_IMPORT_ERRORS.append((mod_name, str(exc)))


register_extensions()


def is_green(row: Mapping[str, object]) -> bool:
    """A driver row passed: rows match, schema and hash match or were not
    checked, and the harness raised no error."""
    return (
        bool(row.get("rows_match"))
        and row.get("schema_match") in (True, None)
        and row.get("hash_match") in (True, None)
        and not row.get("err")
    )


def correctness_records() -> list[dict[str, dict]]:
    """The driver's ``CORRECTNESS_r<N>.json`` records at the repo root,
    oldest round first (none outside a checkout)."""
    root = Path(__file__).resolve().parents[2]
    paths = sorted(
        root.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(p.stem.rsplit("_r", 1)[1]),
    )
    return [json.loads(p.read_text()) for p in paths]


def check_order(
    names: Iterable[str], records: Sequence[Mapping[str, Mapping]]
) -> list[str]:
    """``names`` (registration order) in driver check order: names with
    no recorded row or a red latest row first, then the rest by oldest
    latest recorded round; ties keep registration order. ``records`` are
    the driver records, oldest first; unregistered names in them are
    ignored."""
    due: dict[str, int] = {}
    for rnd, record in enumerate(records):
        for name, row in record.items():
            due[name] = rnd if is_green(row) else -1
    return sorted(names, key=lambda name: due.get(name, -1))


for _name in check_order(ALL_QUERIES, correctness_records()):
    ALL_QUERIES[_name] = ALL_QUERIES.pop(_name)
