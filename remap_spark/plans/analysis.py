"""Physical-plan inspection utilities (SURVEY.md §4: the reference has
no optimizer; our plan QUALITY is Catalyst's, and this module is how we
check Catalyst produced the plan we want at scale).

Used by tests/test_plans.py to lock in the properties that matter at
100 TB:
- filters reach the parquet scan (PushedFilters),
- scans read only needed columns (ReadSchema),
- small dims broadcast instead of shuffling,
- aggregations have a map-side partial pass,
- joins with range predicates don't degrade to cartesian products.

``masked_plan`` is the refactor check: code that only moves leaves
every query's masked plan as it was (``python -m remap_spark.plans``).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_EXPR_ID = re.compile(r"#(\d+)")
# a lambda variable prints as ``lambda <python name>_<session counter>``
_LAMBDA_VAR = re.compile(r"lambda \w+(?=#)")


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """df.explain(...) as a string instead of stdout."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def plan_report(df: DataFrame) -> dict[str, object]:
    """Structured summary of scale-relevant plan properties."""
    plan = explain_str(df, "formatted")
    simple = explain_str(df, "simple")
    return {
        "has_pushed_filters": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan,
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "shuffled_hash_joins": plan.count("ShuffledHashJoin"),
        "cartesian": ("CartesianProduct" in plan)
        or ("BroadcastNestedLoopJoin" in plan),
        "partial_aggs": ("partial_" in simple) or ("partial_" in plan),
        "exchanges": simple.count("Exchange"),
        # codegen explain opens with "Found N WholeStageCodegen subtrees"
        "wholestage_codegen": not explain_str(df, "codegen").lstrip().startswith(
            "Found 0 "
        ),
        "plan": plan,
    }


def _rdd_scan_ids(plan) -> list[int]:
    """RDD ids of the ``LogicalRDD`` leaves (checkpointed or
    RDD-backed scans) under ``plan``, in the order its text prints
    them: a node, then its subqueries, then its children."""
    ids, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "LogicalRDD":
            ids.append(node.rdd().id())
        for group in (node.children(), node.innerChildren()):
            stack.extend(group.apply(i) for i in reversed(range(group.size())))
    return ids


def masked_plan(df: DataFrame) -> str:
    """``df``'s optimized logical plan as text, with what differs between
    two builds of the same query masked: expression ids and the RDD ids
    of ``LogicalRDD`` scans (shown as ``rddN``) are renumbered in order
    of first appearance, and lambda variables lose their names (a
    session counter and the Python parameter name)."""
    plan = df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
    text = _LAMBDA_VAR.sub("lambda ", plan.toString())
    ids: dict[str, int] = {}
    text = _EXPR_ID.sub(lambda m: f"#{ids.setdefault(m.group(1), len(ids))}", text)
    scans = _rdd_scan_ids(plan)
    parts = text.split("LogicalRDD [")
    assert len(parts) == len(scans) + 1, (len(parts) - 1, len(scans))
    rdds: dict[int, int] = {}
    return parts[0] + "".join(
        f"LogicalRDD rdd{rdds.setdefault(rdd, len(rdds))} [{part}"
        for rdd, part in zip(scans, parts[1:])
    )
