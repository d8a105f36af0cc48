"""Plan-shape pins for the round-6 c/d/e operators and the staged r7
queries — the 100 TB audit in executable form (companion to
tests/test_plans.py, which sweeps the registered set)."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR

from remap_spark.engine import load_table
from remap_spark.plans import explain_str, plan_report


def test_no_staged_query_plans_a_cartesian_product(spark):
    """Same sweeping audit as the registered set: no staged query may
    plan a CartesianProduct; BroadcastNestedLoopJoin only for the
    documented single-row normalizing-constant broadcasts."""
    from remap_spark.queries.staged_r7 import STAGED_QUERIES

    bnlj_ok = {
        "ext_basket_rules",  # 1-row basket-count relation
        "ext_rfm_segments",  # 1-row quintile-cuts relation
        "ext_skew_report",  # 1-row totals relation
        "ext_crosstab_chi2",  # 1-row grand-total relation
        "ext_kmv_set_ops",  # <=3k-row sketch-stat relations
        "ext_segment_overlap",  # |segments|-row sketch-stat pair join
        "ext_modularity",  # 1-row in-plan edge-total broadcast
    }
    bad = []
    for name, fn in STAGED_QUERIES.items():
        p = explain_str(fn(spark, SF_DIR), "formatted")
        if "CartesianProduct" in p:
            bad.append((name, "cartesian"))
        if "BroadcastNestedLoopJoin" in p and name not in bnlj_ok:
            bad.append((name, "bnlj"))
    assert not bad, bad


def test_shuffle_for_training_zero_exchange(spark):
    """Shard assignment is a pure projection — the one exchange
    belongs to the writer, not the operator."""
    from remap_spark.operators.split import shuffle_for_training

    docs = load_table(spark, SF_DIR, "documents")
    r = plan_report(shuffle_for_training(docs, "doc_id", 8, seed="s"))
    assert r["exchanges"] == 0, r["plan"]
    assert r["wholestage_codegen"]


def test_markov_transitions_bounded_exchanges(spark):
    """One user-keyed window exchange; everything after operates on
    the |event_type|^2-bounded count relation."""
    from remap_spark.operators.sessions import markov_transitions

    ev = load_table(spark, SF_DIR, "events")
    r = plan_report(markov_transitions(ev))
    assert r["exchanges"] <= 3, r["plan"]
    assert r["partial_aggs"], r["plan"]
    assert not r["cartesian"]


def test_winsorize_broadcast_cuts(spark):
    """The groups-sized cuts relation must come back as a broadcast
    hash join, never a shuffle of the corpus side."""
    from remap_spark.operators.ml import winsorize

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    r = plan_report(
        winsorize(li, "l_extendedprice", group_cols=["l_returnflag"])
    )
    assert r["broadcast_joins"] >= 1, r["plan"]
    assert not r["cartesian"]


def test_table_changes_single_join_no_cartesian(spark):
    from remap_spark.operators.scd import table_changes

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )
    df = table_changes(orders, new, ["o_orderkey"])
    r = plan_report(df)
    assert not r["cartesian"]
    simple = explain_str(df, "simple")
    joins = sum(
        simple.count(j)
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )
    assert joins == 1, simple


def test_cross_matches_no_cartesian(spark):
    from remap_spark.operators.similarity import embedding_cross_matches

    emb = load_table(spark, SF_DIR, "embeddings")
    a = emb.where(F.col("vec_id") >= 100)
    b = emb.where(F.col("vec_id") < 100)
    r = plan_report(embedding_cross_matches(a, b, 0.4))
    assert not r["cartesian"], r["plan"]
