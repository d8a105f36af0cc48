"""Round-11 additions: the ivf_topk assignment plan shape (no
corpus x centroids window) and semdedup's GEMM pair tier pinned
bit-identical to the expression tier."""

from __future__ import annotations

from conftest import SF_DIR

from pyspark.sql import functions as F

from remap_spark.engine import load_table
from remap_spark.operators import similarity as sim


def test_ivf_assignment_plan_has_no_assignment_window(spark):
    """The r10 assignment argmined via a per-vector row_number window
    over a corpus x n_centroids crossJoin — the measured r10 bottleneck
    (68-82 s of an 82 s IVF wall at 100k vectors). Since r12 it is a
    struct-min aggregate with map-side partials (_assign_cells_expr),
    so the only windows left are per query: the n_probe cell pick and
    the final top-k rank. Pin that, so an assignment window cannot
    creep back into ivf_topk."""
    import re

    from remap_spark.plans import explain_str

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    plan = explain_str(
        sim.ivf_topk(queries, emb, k=10, n_centroids=8, n_probe=2), "formatted"
    )
    assert re.findall(r"windowspecdefinition\((\w+)#", plan) == [
        "query_id",
        "query_id",
    ], plan
    assert "CartesianProduct" not in plan


def test_semdedup_gemm_pair_mode_matches_expression(spark):
    """pair_mode='gemm' must produce the BIT-IDENTICAL (vec_id,
    cluster, dropped) set as the expression tier — the int64 matmul +
    exact borderline recheck preserves the decimal(38,0) semantics, on
    both the real fixture corpus and the planted near-dup corpus."""
    emb = load_table(spark, SF_DIR, "embeddings")
    for kwargs in (
        dict(k=8, iters=3, tau_mil=400, max_cluster_size=2000),
        dict(k=4, iters=2, tau_mil=950),
    ):
        e = sorted(map(tuple, sim.semdedup(emb, **kwargs).collect()))
        g = sorted(
            map(tuple, sim.semdedup(emb, pair_mode="gemm", **kwargs).collect())
        )
        assert e == g, kwargs

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (5, [0.999, 0.001, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    e = sorted(map(tuple, sim.semdedup(df, k=4, iters=2, tau_mil=950).collect()))
    g = sorted(
        map(
            tuple,
            sim.semdedup(
                df, k=4, iters=2, tau_mil=950, pair_mode="gemm"
            ).collect(),
        )
    )
    assert e == g
