"""Round-11 additions: the ivf_topk GEMM assignment tier (the r10
verdict's one remaining scale-weak plan) pinned row-identical to the
expression tier, and its plan shape (no corpus x centroids window)."""

from __future__ import annotations

from conftest import SF_DIR

from pyspark.sql import functions as F

from remap_spark.engine import load_table
from remap_spark.operators import similarity as sim


def _ivf(spark, assign):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return sim.ivf_topk(
        queries, emb, k=10, n_centroids=8, n_probe=2, assign=assign
    )


def test_ivf_gemm_assignment_matches_expression(spark):
    """The GEMM tier must reproduce the expression tier's results
    row-for-row on the fixture corpus (real-valued embeddings:
    non-zero-norm, tie-free — the regime the row-identity claim is
    scoped to)."""
    expr_rows = sorted(
        map(tuple, _ivf(spark, "expr").collect())
    )
    gemm_rows = sorted(
        map(tuple, _ivf(spark, "gemm").collect())
    )
    assert len(expr_rows) == len(gemm_rows) > 0
    for a, b in zip(expr_rows, gemm_rows):
        assert a[:3] == b[:3], (a, b)  # query_id, rank, vec_id
        assert abs(a[3] - b[3]) < 1e-9, (a, b)  # cosine (formula drift)


def test_ivf_gemm_assignment_plan_has_no_assignment_window(spark):
    """The r10 expression tier argmined via a per-vector row_number
    window over a corpus x n_centroids crossJoin — the measured r10
    bottleneck (68-82 s of an 82 s IVF wall at 100k vectors). The GEMM
    tier's assignment must stay map-side (no assignment window, no
    CartesianProduct). Since r12 the EXPRESSION tier's assignment is a
    struct-min aggregate rather than a window, so both tiers plan
    exactly the same single row_number (the final per-query rank) —
    pin that equality so an assignment window can't sneak back into
    either tier."""
    from remap_spark.plans import explain_str

    p = explain_str(_ivf(spark, "gemm"), "formatted")
    p_expr = explain_str(_ivf(spark, "expr"), "formatted")
    assert p.count("row_number") == p_expr.count("row_number")
    assert "CartesianProduct" not in p
    assert "CartesianProduct" not in p_expr


def test_ivf_pq_gemm_assignment_matches_expression(spark):
    """Same pin for the IVF-PQ composition: swapping the coarse
    quantizer's expression pass for the map-side GEMM argmax must not
    change a single (query_id, rank, vec_id, dist2) row — ADC
    distances are integer-exact, so even the distances must agree."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)

    def run(assign):
        return sorted(
            map(
                tuple,
                sim.ivf_pq_topk(
                    queries, emb, k=10, n_centroids=8, n_probe=2,
                    assign=assign,
                ).collect(),
            )
        )

    expr_rows, gemm_rows = run("expr"), run("gemm")
    assert len(expr_rows) > 0
    assert expr_rows == gemm_rows


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


def test_ivf_layout_expr_assignment_matches_gemm_layout(spark, tmp_path):
    """Both assignment tiers of write_ivf_layout must place every
    vector in the same cell (the parity the ivf_topk tiers pin,
    re-checked through the layout writer's own code path)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    p1, p2 = str(tmp_path / "g"), str(tmp_path / "e")
    sim.write_ivf_layout(emb, p1, n_centroids=8, assign="gemm")
    sim.write_ivf_layout(emb, p2, n_centroids=8, assign="expr")
    g = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(f"{p1}/corpus").select("vec_id", "cell").collect()
    }
    e = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(f"{p2}/corpus").select("vec_id", "cell").collect()
    }
    assert g == e and len(g) > 0


def test_kmeans_gemm_assignment_matches_expression(spark):
    """kmeans_lloyd assign_mode='gemm' must be bit-identical to the
    expression tier — assignments AND final centroids — on the fixture
    corpus: the int64 distance matmul is exact, and argmin first-hit
    on the cluster-sorted codebook reproduces the min-cluster-id tie
    rule."""
    emb = load_table(spark, SF_DIR, "embeddings")
    for kwargs in (dict(k=8, iters=3), dict(k=4, iters=2)):
        a_e, c_e = sim.kmeans_lloyd(emb, **kwargs)
        a_g, c_g = sim.kmeans_lloyd(emb, assign_mode="gemm", **kwargs)
        assert sorted(map(tuple, a_e.collect())) == sorted(
            map(tuple, a_g.collect())
        ), kwargs
        assert sorted((r["cluster"], tuple(r["centroid"])) for r in c_e.collect()) == sorted(
            (r["cluster"], tuple(r["centroid"])) for r in c_g.collect()
        ), kwargs


def test_semdedup_full_gemm_configuration_matches_expression(spark):
    """The full scale configuration (assign_mode='gemm' +
    pair_mode='gemm') must still be bit-identical to the oracle form."""
    emb = load_table(spark, SF_DIR, "embeddings")
    e = sorted(
        map(
            tuple,
            sim.semdedup(
                emb, k=8, iters=3, tau_mil=400, max_cluster_size=2000
            ).collect(),
        )
    )
    g = sorted(
        map(
            tuple,
            sim.semdedup(
                emb,
                k=8,
                iters=3,
                tau_mil=400,
                max_cluster_size=2000,
                pair_mode="gemm",
                assign_mode="gemm",
            ).collect(),
        )
    )
    assert e == g


def test_bpe_train_local_equals_distributed(spark):
    """The driver-side merge-loop tier must emit the IDENTICAL rule
    sequence as the distributed loop on the canonical Sennrich corpus,
    the tie-rich batching fixture, and random tie/conflict corpora —
    same greedy order, same (cnt DESC, a, b) tie-breaking."""
    import random

    from remap_spark.operators.text import bpe_train, bpe_train_local

    corpora = [
        " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3),
        " ".join(
            ["uvc"] * 3 + ["uvd"] * 2 + ["xya"] * 3 + ["xyb"] * 2
            + ["pqe"] * 3 + ["pqf"] * 2 + ["rsg"] * 3 + ["rsh"] * 2
        ),
    ]
    rng = random.Random(13)
    for _ in range(3):
        words = [
            "".join(rng.choice("abcdef") for _ in range(rng.randint(1, 4)))
            for _ in range(8)
        ]
        corpora.append(" ".join(w for w in words for _ in range(rng.randint(1, 5))))
    for text in corpora:
        df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
        assert bpe_train_local(df, n_merges=6) == bpe_train(
            df, n_merges=6, mode="distributed"
        ), text


def test_bpe_train_local_row_cap_guards_the_collect(spark):
    """The vocabulary-table collect is bounded: a corpus whose
    distinct-word count exceeds max_table_rows must raise instead of
    shipping an unbounded relation to the driver."""
    import pytest as _pytest

    from remap_spark.operators.text import bpe_train_local

    df = spark.createDataFrame(
        [(1, "one two three four five")], "doc_id bigint, text string"
    )
    with _pytest.raises(ValueError, match="max_table_rows"):
        bpe_train_local(df, n_merges=2, max_table_rows=3)


def test_ivf_gemm_zero_norm_vector_assigns_lowest_cid(spark):
    """Degenerate-input contract: a zero-norm vector scores 0 against
    every centroid and assigns to the lowest cid (argmax first-hit on
    the cid-sorted codebook) instead of raising DIVIDE_BY_ZERO like
    the ANSI-mode expression tier would."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.0, 0.0]),  # zero-norm
        (3, [0.9, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid bigint, cv array<double>"
    )
    out = {
        r["vec_id"]: r["cell"]
        for r in sim._assign_cells_gemm(df, cent, "embedding", "vec_id").collect()
    }
    assert out == {0: 0, 1: 1, 2: 0, 3: 0}
