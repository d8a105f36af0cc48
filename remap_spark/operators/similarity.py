"""Similarity search, clustering and dedup over embedding columns.

Every top-k operator is candidate generation, then one exact
verify-and-rank step (REPOSE, ICDE 2021, splits pruning from scoring
the same way). Each generator yields (query_id, vec_id, score):

- brute force: broadcast queries x every candidate, by cosine
  (cosine_topk_bruteforce; hard_negative_topk adds a label filter);
- LSH bucket: random-hyperplane sign buckets, plus the Hamming-1
  buckets with multi-probe (cosine_topk_lsh);
- IVF cell: the query's n_probe nearest coarse cells (ivf_topk);
- PQ codes: asymmetric distance through a per-query lookup table,
  over the corpus (pq_topk) or the probed cells (ivf_pq_topk).

``_topk_per_query`` ranks each query's pairs in one row_number window
under the operator's own tie-break and keeps k.

Beside them: exact all-pairs cosine as block-pair numpy GEMMs in
``applyInPandas`` (embedding_near_dup_pairs, embedding_cross_matches,
semantic_decontaminate), int64 Lloyd k-means (kmeans_lloyd), SemDeDup
(semdedup, expression or int64-GEMM prune) and reciprocal-rank fusion
(rrf_fuse). The quantized paths compute in exact int64, so the DuckDB
oracles replay them bit for bit; nothing collects the corpus to the
driver.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import cosine_similarity, dot_product
from ..worker import on_worker


def _topk_per_query(scored: DataFrame, k: int, *order) -> DataFrame:
    """The verify-and-rank step of every top-k operator: number each
    query's candidates by ``order`` (the operator's tie-break) and keep
    the first ``k``. ``scored`` is (query_id, vec_id, score); returns
    (query_id, rank, vec_id, score), rank dense from 1."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", *scored.columns[1:])
    )


def _cosine_scored(
    pairs: DataFrame, cv: str, keep: Column | None = None
) -> DataFrame:
    """(query_id, vec_id, cosine) of candidate pairs that carry the query
    vector ``qv`` and the candidate vector ``cv``. A query never matches
    itself; ``keep`` drops further pairs."""
    cond = F.col("query_id") != F.col("vec_id")
    if keep is not None:
        cond = cond & keep
    return pairs.where(cond).select(
        "query_id",
        "vec_id",
        cosine_similarity(F.col("qv"), F.col(cv)).alias("cosine"),
    )


def _bruteforce_scored(
    queries: DataFrame,
    candidates: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str | None = None,
) -> DataFrame:
    """Brute-force candidate generation: the broadcast query set crossed
    with every candidate, scored by cosine. With ``label_col``, only
    pairs whose labels differ."""
    qlabel = [F.col(label_col).alias("qlabel")] if label_col else []
    clabel = [F.col(label_col).alias("clabel")] if label_col else []
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), *qlabel
        )
    )
    c = candidates.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"), *clabel
    )
    keep = F.col("qlabel") != F.col("clabel") if label_col else None
    return _cosine_scored(q.crossJoin(c), "cv", keep)


def cosine_topk_bruteforce(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    The query set is broadcast (it must be small — driver-sized);
    candidates stream through map-side; the only shuffle is the
    per-query window. Returns (query_id, rank, vec_id, cosine)."""
    scored = _bruteforce_scored(queries, candidates, vec_col, id_col)
    return _topk_per_query(scored, k, F.desc("cosine"), "vec_id")


def hard_negative_topk(
    anchors: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training
    (the ANCE recipe, Xiong et al. 2021): for each anchor vector, the
    top-k most-similar vectors with a DIFFERENT label — the negatives
    near the decision boundary that actually train it; random
    negatives are trivially separable and teach nothing.

    Shape mirrors cosine_topk_bruteforce: the anchor set is the small,
    broadcast side (per-batch anchor mining is how this runs at scale —
    nobody mines all 10^9 anchors in one pass); candidates stream
    map-side; one per-anchor window ranks. At 100 TB swap the
    crossJoin for the IVF cell-probe join (ivf_topk) — the label
    filter composes unchanged."""
    scored = _bruteforce_scored(anchors, candidates, vec_col, id_col, label_col)
    return _topk_per_query(scored, k, F.desc("cosine"), "vec_id")


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG — no numpy
    dependency on executors, reproducible everywhere)."""
    state = seed * 6364136223846793005 + 1442695040888963407
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            v.append((state / (1 << 63)) * 2.0 - 1.0)
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def lsh_bucket_signatures(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
    *,
    dim: int,
) -> DataFrame:
    """Random-hyperplane (sign) LSH: bucket = n_planes-bit sign
    pattern of the ``dim``-long vector against fixed hyperplanes.
    Collision probability = (1 - θ/π)^n_planes."""
    planes = _hyperplanes(dim, n_planes, seed)
    bucket = None
    for i, p in enumerate(planes):
        plane_col = F.array(*[F.lit(x) for x in p])
        bit = F.when(dot_product(F.col(vec_col), plane_col) >= 0, 1).otherwise(0)
        term = bit * F.lit(1 << i)
        bucket = term if bucket is None else bucket + term
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        bucket.alias("bucket"),
    )


def cosine_topk_lsh(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
    *,
    dim: int,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's LSH
    bucket. Recall < 1 by construction; ``probe_hamming=1`` enables
    MULTI-PROBE — each query additionally probes every bucket whose
    sign signature differs by one bit (the n_planes nearest buckets,
    where a near-neighbor most likely lands when a single hyperplane
    margin was crossed) — lifting recall at fixed n_planes for a
    bounded (n_planes+1)x candidate growth. The probe expansion lives
    on the broadcast QUERY side (an explode of xor'd bucket ids), so
    the corpus is still bucketed once and never rescanned; each
    candidate sits in exactly one bucket and probed buckets are
    distinct, so no pair is scored twice. At 100 TB this turns a
    full-corpus scan per query into n_planes+1 bucket lookups."""
    qsig = (
        lsh_bucket_signatures(queries, vec_col, id_col, n_planes, seed, dim=dim)
        .withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("vec", "qv")
    )
    if probe_hamming >= 1:
        # Hamming<=1 perturbations; higher orders grow combinatorially
        # and are better served by a second hash table (different seed)
        masks = [0] + [1 << i for i in range(n_planes)]
        qsig = qsig.select(
            "query_id",
            "qv",
            F.explode(
                F.array(
                    *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]
                )
            ).alias("bucket"),
        )
    qb = F.broadcast(qsig)
    cb = lsh_bucket_signatures(candidates, vec_col, id_col, n_planes, seed, dim=dim)
    scored = _cosine_scored(qb.join(cb, "bucket"), "vec")
    return _topk_per_query(scored, k, F.desc("cosine"), "vec_id")


def _assign_cells_expr(
    candidates: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    id_col: str,
    include_vec: bool = True,
) -> DataFrame:
    """Nearest-centroid assignment shared by ivf_topk / ivf_pq_topk,
    in a form the oracle replays: candidates x broadcast centroids
    through the Catalyst cosine expression, argmax as a lexicographic
    struct-MIN aggregate with map-side partials (r12; the kmeans argmin
    rewrite): the corpus x n_centroids intermediate collapses to one
    row per vector BEFORE the exchange, and the former row_number
    window's corpus-wide sort disappears. The min key is (-sim, cid)
    with NaN mapped to -infinity so the selection is identical to the
    old orderBy(desc(sim), cid) row_number — Spark sorts NaN above every
    double, so a NaN sim won under desc and must win under min too
    (cosine is in [-1, 1] or NaN, so -inf cannot collide with a real
    key). cid is unique within a vector's group, so the tie chain
    never reaches the carried vector payload. Returns
    (vec_id, vec, cell) or (vec_id, cell)."""
    cent = F.broadcast(centroids.select("cid", "cv"))
    neg_key = F.when(
        F.isnan(F.col("sim")), F.lit(float("-inf"))
    ).otherwise(-F.col("sim"))
    payload = (
        [F.col("cv2").alias("vec")] if include_vec else []
    )
    out_cols = (
        ["vec_id", F.col("_m.vec").alias("vec"), F.col("_m.cid").alias("cell")]
        if include_vec
        else ["vec_id", F.col("_m.cid").alias("cell")]
    )
    return (
        candidates.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv2")
        )
        .crossJoin(cent)
        .select(
            "vec_id",
            "cv2",
            "cid",
            cosine_similarity(F.col("cv2"), F.col("cv")).alias("sim"),
        )
        .groupBy("vec_id")
        .agg(
            F.min(
                F.struct(
                    neg_key.alias("_k"), F.col("cid").alias("cid"), *payload
                )
            ).alias("_m")
        )
        .select(*out_cols)
    )


def _probe_cells(
    queries: DataFrame,
    candidates: DataFrame,
    n_centroids: int,
    n_probe: int,
    vec_col: str,
    id_col: str,
    with_vectors: bool,
) -> tuple[DataFrame, DataFrame]:
    """IVF candidate generation. The coarse quantizer is the
    ``n_centroids`` lowest-id candidate vectors; every candidate sits in
    the cell of its nearest centroid (:func:`_assign_cells_expr`), and
    each query probes the ``n_probe`` cells whose centroids are most
    cosine-similar to it, ties on the lower cell id. Returns (probes,
    cells): probes is (query_id, qv, cell) and cells (vec_id, vec,
    cell), both without their vector when ``with_vectors`` is false."""
    centroids = candidates.where(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    )
    cells = _assign_cells_expr(
        candidates, centroids, vec_col, id_col, include_vec=with_vectors
    )
    qv = ["qv"] if with_vectors else []
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "cid")
    probes = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            *qv,
            "cid",
            cosine_similarity(F.col("qv"), F.col("cv")).alias("sim"),
        )
        .select("*", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= n_probe)
        .select("query_id", *qv, F.col("cid").alias("cell"))
    )
    return probes, cells


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-flat approximate top-k: candidates are pre-assigned to the
    cell of their nearest coarse centroid (one broadcast pass, linear);
    each query scores only the ``n_probe`` cells nearest to it.

    The coarse quantizer is DETERMINISTIC — the ``n_centroids``
    lowest-id candidate vectors — so the oracle can replay it. The
    assignment is :func:`_assign_cells_expr` (candidates x centroids
    through the Catalyst cosine expression, struct-MIN argmax with
    map-side partials, so no assignment window and no corpus-sized
    sort; plan-pinned by
    tests/test_round11.test_ivf_assignment_plan_has_no_assignment_window)."""
    probes, cells = _probe_cells(
        queries, candidates, n_centroids, n_probe, vec_col, id_col,
        with_vectors=True,
    )
    scored = _cosine_scored(F.broadcast(probes).join(cells, "cell"), "vec")
    return _topk_per_query(scored, k, F.desc("cosine"), "vec_id")


_PAIR_SCHEMA = "vec_a bigint, vec_b bigint, cosine double"


# Headroom bound for the exact-integer GEMM tier (semdedup
# pair_mode='gemm'): every intermediate (dot product, squared norm,
# distance combination) must stay under 2^62 so the int64 matmul cannot
# wrap. numpy int64 overflow wraps SILENTLY where the Spark ANSI bigint
# expression tier would raise — the tier's bit-identity contract
# therefore requires checking the bound, not documenting it.
_INT64_GEMM_HEADROOM = 2**62


def _check_int64_gemm_bound(
    max_abs_a: int, max_abs_b: int, dim: int, context: str
) -> None:
    """Raise before an int64 GEMM whose intermediates could exceed
    2^62. The conservative bound covers dots (dim*a*b), squared norms
    (dim*a^2 / dim*b^2), and the distance combination
    |x|^2 - 2x.c + |c|^2 <= dim*(a+b)^2 — computed in Python ints, so
    the check itself cannot overflow. Unit-ish embeddings at the
    default scale=1e6 give max_abs ~1e6 and 64*(2e6)^2 ~ 2.6e14,
    comfortably inside; quantized components beyond ~2.6e8 at dim=64
    trip the guard instead of silently wrapping."""
    bound = dim * (int(max_abs_a) + int(max_abs_b)) ** 2
    if bound >= _INT64_GEMM_HEADROOM:
        raise ValueError(
            f"{context}: int64 GEMM overflow risk — dim={dim}, "
            f"max|component|={max(max_abs_a, max_abs_b)} gives "
            f"intermediate bound {bound} >= 2^62. Reduce the "
            "quantization scale or use the expression tier "
            "(semdedup pair_mode='expr'), which computes in "
            "arbitrary-precision decimal and errors loudly under "
            "ANSI mode instead of wrapping."
        )


def _cosine_matrix(a_mat, b_mat):
    """Dense cosine GEMM: sims[i, j] is the cosine of a_mat row i and
    b_mat row j."""
    import numpy as np

    a_norms = np.sqrt((a_mat * a_mat).sum(axis=1))
    b_norms = np.sqrt((b_mat * b_mat).sum(axis=1))
    return (a_mat @ b_mat.T) / np.outer(a_norms, b_norms)


def _gemm_pairs(a_ids, a_mat, b_ids, b_mat, threshold: float, same: bool):
    """Dense cosine GEMM between two id/matrix sides; emits each
    qualifying unordered pair once as (min_id, max_id, cosine)."""
    import numpy as np
    import pandas as pd

    sims = _cosine_matrix(a_mat, b_mat)
    mask = sims >= threshold
    if same:
        mask &= a_ids[:, None] < b_ids[None, :]
    else:
        mask &= a_ids[:, None] != b_ids[None, :]
    ai, bj = np.nonzero(mask)
    lo = np.minimum(a_ids[ai], b_ids[bj])
    hi = np.maximum(a_ids[ai], b_ids[bj])
    return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": sims[ai, bj]})


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks: int = 8,
) -> DataFrame:
    """All pairs with cosine >= threshold — EXACT, fully distributed.

    Block-pair decomposition: vectors hash into ``n_blocks`` blocks by
    id; every unordered block pair (i <= j) becomes one group that runs
    a single dense numpy GEMM over its two sides. Each vector is
    replicated ``n_blocks`` times (one copy per partner block), so the
    cluster sees O(n·B) rows shuffled and O(n²) flops spread over
    B·(B+1)/2 independent tasks — nothing is ever collected to the
    driver, and no single task holds more than ~2n/B vectors. Grow
    ``n_blocks`` with the corpus so a block side stays executor-sized
    (64-dim float64 → ~0.5 GB per million vectors per side).

    Exactness: a pair lands in exactly one group — (block_a, block_b)
    sorted — so no dedup pass is needed and the output matches the
    naive all-pairs join row for row. The O(n²) flops are inherent to
    the exact tier."""
    import numpy as np

    block = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
    partners = F.explode(F.array(*[F.lit(p) for p in range(n_blocks)])).alias("p")
    exploded = (
        df.select(F.col(id_col), F.col(vec_col), block.alias("block"))
        .select(id_col, vec_col, "block", partners)
        .select(
            F.least("block", "p").alias("bi"),
            F.greatest("block", "p").alias("bj"),
            "block",
            F.col(id_col),
            F.col(vec_col),
        )
        # each vector yields exactly one row per partner block: p == block
        # lands it once in the diagonal group (i,i); p != block lands it
        # once in the off-diagonal (min,max) group — no dedup needed
    )

    def gemm_group(pdf):
        import pandas as pd

        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        a = pdf[pdf["block"] == bi]
        b = a if bi == bj else pdf[pdf["block"] == bj]
        if not len(a) or not len(b):
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        return _gemm_pairs(
            a[id_col].to_numpy(dtype=np.int64),
            np.array(list(a[vec_col]), dtype=np.float64),
            b[id_col].to_numpy(dtype=np.int64),
            np.array(list(b[vec_col]), dtype=np.float64),
            threshold,
            same=bi == bj,
        )

    return exploded.groupBy("bi", "bj").applyInPandas(
        on_worker(gemm_group), schema=_PAIR_SCHEMA
    )


def _quantized(vec_col: str, scale: int) -> Column:
    """int64-quantized vector (the kmeans_lloyd determinism contract:
    identical IEEE double multiply + half-away-from-zero round in
    Spark and DuckDB, so every downstream distance is an exact
    integer)."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * scale).cast("bigint"),
    )


def _int_sq_dist(a: str, b: str) -> Column:
    """Exact squared L2 distance of two int64 vector columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _int_dot(a: str, b: str) -> Column:
    """Exact dot product of two int64 vector columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iters: int = 3,
    scale: int = 1_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic Lloyd k-means over an embedding column — the
    clustering tier of semantic dedup / corpus curation (cluster, then
    sample or drop per cluster). Returns ``(assignment, centroids)``:
    ``assignment`` is (id, cluster) under the FINAL centroids;
    ``centroids`` is (cluster, centroid) as a quantized int array.

    Engine-portable by construction: vectors are quantized to int64 at
    ``scale`` (ROUND(x * scale) — identical IEEE double multiply +
    half-away-from-zero round in Spark and DuckDB), so every distance
    is an exact integer sum, every argmin tie breaks on cluster id, and
    centroid updates use FLOOR(sum/count) in exact arithmetic. No
    float-summation-order nondeterminism anywhere — the same property
    the decimal aggregates give the relational queries.

    Seeding is the k smallest ids' vectors (a real system would use
    k-means|| — the seeding is config, the operator shape is the
    contract). Scale: per iteration, one broadcast of k centroids into
    a map-side distance scan (no shuffle on the points), one argmin per
    point as a struct-MIN aggregate keyed by id (map-side partials), and
    one (cluster, pos)-keyed centroid aggregation of k*dim rows — the
    point table is never reshuffled across iterations. Lineage is cut
    per round with localCheckpoint, the same pattern as
    operators/pregel (pagerank)."""
    # repartition by id BEFORE the iteration: the per-iteration distance
    # scan's parallelism is the point table's partitioning (no shuffle
    # inside the loop — that's the design), and a compact parquet
    # source arrives in file-sized partitions that would serialize the
    # scan onto a few cores (measured 20k x 64-dim points, k=16: 20.1 s
    # at the source's 2 partitions vs 3.4 s after this line). Results
    # are bit-identical: assignment is per-row and the centroid update
    # is an exact integer sum — both order-independent.
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    pts = (
        df.select(F.col(id_col).alias("_pid"), _quantized(vec_col, scale).alias("_q"))
        .repartition(n_part, F.col("_pid"))
        .localCheckpoint(eager=False)
    )
    cents = pts.where(F.col("_pid") < k).select(
        F.col("_pid").alias("cluster"), F.col("_q").alias("_cq")
    )
    dist = _int_sq_dist("_q", "_cq")

    def _assign(cents: DataFrame) -> DataFrame:
        # argmin as MIN(struct(_d, cluster, _q)): struct comparison is
        # lexicographic, so the (min distance, min cluster-id) row wins,
        # in a hash aggregate with map-side partials; (_d, cluster) is
        # unique per point, so _q never decides.
        return (
            pts.crossJoin(F.broadcast(cents))
            .select("_pid", "_q", "cluster", dist.alias("_d"))
            .groupBy("_pid")
            .agg(F.min(F.struct("_d", "cluster", "_q")).alias("_m"))
            .select(
                "_pid",
                F.col("_m._q").alias("_q"),
                F.col("_m.cluster").alias("cluster"),
            )
        )

    for _ in range(iters):
        assign = _assign(cents)
        cents = (
            assign.select("cluster", F.posexplode("_q").alias("_pos", "_v"))
            .groupBy("cluster", "_pos")
            .agg(
                F.floor(
                    F.sum("_v").cast("double") / F.count("*")
                ).alias("_m")
            )
            .groupBy("cluster")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("_pos", "_m"))
                ).alias("_s")
            )
            .select(
                "cluster",
                F.transform("_s", lambda s: s["_m"]).alias("_cq"),
            )
            .localCheckpoint(eager=False)
        )
    final = _assign(cents).select(F.col("_pid").alias(id_col), "cluster")
    centroids = cents.select("cluster", F.col("_cq").alias("centroid"))
    return final, centroids


def _semdedup_prune_gemm(
    prunable: DataFrame,
    tau_mil: int,
    max_gemm_cluster_rows: int = 20_000,
) -> DataFrame:
    """Within-cluster near-duplicate drops via one int64 GEMM per
    cluster — the scale tier of semdedup's pairwise prune, with the
    expression tier's EXACT integer semantics: drop j iff some i < j
    in its cluster has dot > 0 and dot^2 * 10^6 >= tau^2 * n_i^2 *
    n_j^2. The dot matrix is exact (int64 matmul; 64-dim dots of
    ~scale-bounded components are < 2^53); the squared-threshold
    inequality is screened in float64 and any pair inside the 1e-9
    relative borderline band is re-decided with arbitrary-precision
    Python ints, so the drop set is bit-identical to the decimal(38,0)
    expression, not float-approximate. Input: (cluster, _id, _q, _n2)
    restricted to prunable clusters (the caller's max_cluster_size cap
    bounds the per-cluster size^2 matrix). Returns one (_id) row per
    dropped point per cluster.

    ``max_gemm_cluster_rows`` is the enforced skew guard (r11 ADVICE,
    low): a cluster larger than the bound would build an n^2 int64 dot
    matrix inside ONE task (20k rows -> 3.2 GB); instead of OOM-ing that
    executor the group raises with the cap to set. The expression
    tier degrades to a large-but-distributed join for such clusters —
    use it (pair_mode='expr') or pass semdedup(max_cluster_size=...)
    to split them."""
    import numpy as np

    tau2 = tau_mil * tau_mil

    def prune(pdf):
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"_id": np.empty(0, dtype=np.int64)})
        if n > max_gemm_cluster_rows:
            raise ValueError(
                f"semdedup(pair_mode='gemm'): cluster of {n} rows exceeds "
                f"max_gemm_cluster_rows={max_gemm_cluster_rows} — the dense "
                f"n^2 dot matrix ({8 * n * n / 1e9:.1f} GB) would OOM one "
                "executor. Pass max_cluster_size to split skewed clusters, "
                "raise max_gemm_cluster_rows if the executors have room, "
                "or use pair_mode='expr' (distributed join)."
            )
        order = np.argsort(pdf["_id"].to_numpy(dtype=np.int64), kind="stable")
        ids = pdf["_id"].to_numpy(dtype=np.int64)[order]
        mat = np.array(list(pdf["_q"].iloc[order]), dtype=np.int64)
        m_abs = int(np.abs(mat).max()) if mat.size else 0
        _check_int64_gemm_bound(
            m_abs, m_abs, mat.shape[1] if mat.ndim == 2 else 0,
            "semdedup(pair_mode='gemm')",
        )
        n2 = pdf["_n2"].to_numpy(dtype=np.int64)[order]
        dots = mat @ mat.T
        iu, ju = np.triu_indices(n, k=1)
        d = dots[iu, ju]
        pos = d > 0
        df_ = d.astype(np.float64)
        lhs = df_ * df_ * 1e6
        rhs = float(tau2) * n2[iu].astype(np.float64) * n2[ju].astype(np.float64)
        ge = lhs >= rhs
        # ulp-borderline band: re-decide exactly with Python ints
        denom = np.maximum(np.abs(lhs), np.abs(rhs))
        border = np.abs(lhs - rhs) <= 1e-9 * denom
        for t in np.nonzero(border & pos)[0]:
            di = int(d[t])
            ge[t] = di * di * 1_000_000 >= tau2 * int(n2[iu[t]]) * int(
                n2[ju[t]]
            )
        drop_j = np.unique(ju[pos & ge])
        return pd.DataFrame({"_id": ids[drop_j]})

    return prunable.select("cluster", "_id", "_q", "_n2").groupBy(
        "cluster"
    ).applyInPandas(on_worker(prune), schema="_id bigint")


def semdedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
    tau_mil: int = 950,
    scale: int = 1_000_000,
    max_cluster_size: int | None = None,
    pair_mode: str = "expr",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embedding space with :func:`kmeans_lloyd`, then prune near-
    duplicates WITHIN each cluster — a point is dropped iff some
    lower-id point in its cluster has cosine similarity >=
    ``tau_mil``/1000 with it (the deterministic keep-lowest-id form of
    the paper's one-per-duplicate-group rule; no transitive closure).
    Returns (``id_col``, cluster, dropped) for every input point.

    ``pair_mode`` picks the within-cluster pruning tier. ``"expr"``
    (default — the registered oracle query's replayable form) scores
    each candidate pair through the Catalyst zip_with/aggregate dot:
    exact, but ~orders slower than BLAS per element (the r10/r11 probe
    theme). ``"gemm"`` computes the SAME exact integer semantics per
    cluster in numpy: one int64 matmul for all pairwise dots (exact —
    quantized components stay ~<= scale for unit-ish vectors, so
    64-dim dots are < 2^53 and far under int64), a float64 screen on
    the squared-threshold inequality, and an arbitrary-precision
    Python-int recheck for the ulp-borderline band — so drops are
    BIT-IDENTICAL to the expression tier (pinned by
    tests/test_round11.py), not float-approximate. Cluster matrices
    are bounded by ``max_cluster_size`` (the skew dial); a cluster
    that still exceeds the gemm tier's enforced per-task bound
    (``_semdedup_prune_gemm``'s max_gemm_cluster_rows, default 20k
    rows) RAISES with the cap to set instead of building a size^2
    dot matrix that would OOM one executor, and components large
    enough to overflow the int64 dots raise via
    ``_check_int64_gemm_bound`` instead of silently wrapping.

    Exact integer arithmetic throughout, so the DuckDB oracle
    hash-matches: vectors int64-quantized at ``scale``; the cosine
    test  cos >= tau  becomes  dot > 0 AND dot^2 * 10^6 >=
    tau_mil^2 * |a|^2 * |b|^2  in decimal(38,0) — for 64-dim unit-norm
    vectors dot^2*10^6 < 10^32 and tau^2*na*nb < 10^34, both inside
    38 digits; no float comparison anywhere.

    Scale shape: the pairwise stage is the cluster-keyed self-join —
    candidate volume is sum over clusters of size^2, the quantity ``k``
    controls (SemDeDup at corpus scale runs k ~ sqrt(n) so clusters
    stay small). ``max_cluster_size`` is the skew guard: clusters
    above the cap pass through UNPRUNED (conservative — no drops) and
    deterministically, the same dial as blocking's max_block_size;
    the oracle replays the cap. No cartesian, no driver collect; the
    kmeans stage is the documented one-broadcast-per-iteration plan."""
    assign, _cents = kmeans_lloyd(
        df,
        vec_col=vec_col,
        id_col=id_col,
        k=k,
        iters=iters,
        scale=scale,
    )
    # pts feeds both sides of the self-join plus the final output join;
    # no lineage cut here — the exchange is identical on both join
    # sides so ReusedExchange dedupes it, and an explicit
    # localCheckpoint measured SLOWER fresh (6.21 vs 5.59 s at sf0.1:
    # materializing the quantized corpus costs more than replaying the
    # already-checkpointed-centroid assignment scan)
    pts = (
        df.select(
            F.col(id_col).alias("_id"), _quantized(vec_col, scale).alias("_q")
        )
        .join(assign.withColumnRenamed(id_col, "_id"), "_id")
        .withColumn("_n2", _int_dot("_q", "_q"))
    )
    if max_cluster_size is not None:
        sizes = pts.groupBy("cluster").agg(F.count(F.lit(1)).alias("_cs"))
        prunable = pts.join(
            sizes.where(F.col("_cs") <= max_cluster_size).drop("_cs"),
            "cluster",
        )
    else:
        prunable = pts
    if pair_mode == "gemm":
        dropped = (
            _semdedup_prune_gemm(prunable, tau_mil)
            .distinct()
            .withColumn("_dropped", F.lit(True))
        )
    else:
        a = prunable.select(
            "cluster",
            F.col("_id").alias("_ida"),
            F.col("_q").alias("_qa"),
            F.col("_n2").alias("_na2"),
        )
        b = prunable.select(
            "cluster",
            F.col("_id").alias("_idb"),
            F.col("_q").alias("_qb"),
            F.col("_n2").alias("_nb2"),
        )
        dec = "decimal(38,0)"
        dropped = (
            a.join(b, "cluster")
            .where(F.col("_ida") < F.col("_idb"))
            .withColumn("_dot", _int_dot("_qa", "_qb"))
            .where(
                (F.col("_dot") > 0)
                & (
                    F.col("_dot").cast(dec)
                    * F.col("_dot").cast(dec)
                    * F.lit(1_000_000).cast(dec)
                    >= F.lit(tau_mil * tau_mil).cast(dec)
                    * F.col("_na2").cast(dec)
                    * F.col("_nb2").cast(dec)
                )
            )
            .select(F.col("_idb").alias("_id"))
            .distinct()
            .withColumn("_dropped", F.lit(True))
        )
    return (
        pts.join(dropped, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "cluster",
            F.coalesce("_dropped", F.lit(False)).alias("dropped"),
        )
    )


def _pq_subvectors(
    df: DataFrame,
    key: str,
    m: int,
    vec_col: str,
    id_col: str,
    dim: int,
    scale: int,
    name: str = "sq",
) -> DataFrame:
    """One row per (vector, subspace): ``df``'s vectors int64-quantized
    at ``scale`` and cut into ``m`` slices of dim/m, as (``key``, sub,
    ``name``), ``key`` being ``id_col`` renamed."""
    d_sub = dim // m
    q = _quantized(vec_col, scale)
    slices = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(q, s * d_sub + 1, d_sub).alias(name),
            )
            for s in range(m)
        ]
    )
    return df.select(
        F.col(id_col).alias(key), F.explode(slices).alias("x")
    ).select(key, "x.sub", f"x.{name}")


def pq_codebook(
    candidates: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic product-quantization codebook: subspace ``s``'s
    ``k`` centroids are the k lowest-id vectors' s-th dim/m-slices,
    int64-quantized. Returns (sub, cid, cq array<bigint>). Like
    ivf_topk's coarse quantizer, it is deterministic so the oracle can
    replay it."""
    return _pq_subvectors(
        candidates.where(F.col(id_col) < k),
        "cid", m, vec_col, id_col, dim, scale, name="cq",
    ).select("sub", "cid", "cq")


def pq_encode(
    candidates: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    scale: int = 1_000_000,
) -> DataFrame:
    """PQ encode: each vector compressed to m uint8-sized codes (the
    argmin centroid per subspace, ties on cid). Returns (vec_id,
    codes array<int> in sub order) — dim doubles (256 B at dim=64)
    become m bytes; at 100 TB this is the compressed corpus
    representation the ADC scan reads instead of raw vectors."""
    subs = _pq_subvectors(candidates, "_pid", m, vec_col, id_col, dim, scale)
    # per-(vector, subspace) argmin as a struct-MIN aggregate (exact
    # int64 distances, ties on cid): map-side partials collapse the m*k
    # candidate rows to m per vector before the exchange.
    return (
        subs.join(F.broadcast(codebook), "sub")
        .select("_pid", "sub", "cid", _int_sq_dist("sq", "cq").alias("_d"))
        .groupBy("_pid", "sub")
        .agg(F.min(F.struct("_d", "cid")).alias("_m"))
        .groupBy("_pid")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("sub", F.col("_m.cid").alias("cid")))
                ),
                lambda s: s["cid"],
            ).alias("codes")
        )
        .select(F.col("_pid").alias(id_col), "codes")
    )


def _adc_table(
    queries: DataFrame,
    codebook: DataFrame,
    m: int,
    n_cent: int,
    vec_col: str,
    id_col: str,
    dim: int,
    scale: int,
) -> DataFrame:
    """The ADC lookup table: per query, the m*n_cent exact integer
    part-distances (query slice vs centroid) packed into ONE array
    ``_lut``, entry sub*n_cent + cid. Returns (query_id, _lut)."""
    return (
        _pq_subvectors(queries, "query_id", m, vec_col, id_col, dim, scale)
        .join(F.broadcast(codebook), "sub")
        .select(
            "query_id",
            (F.col("sub") * n_cent + F.col("cid")).alias("_key"),
            _int_sq_dist("sq", "cq").alias("_pd"),
        )
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_key", "_pd"))),
                lambda s: s["_pd"],
            ).alias("_lut")
        )
    )


def _adc_dist2(m: int, n_cent: int) -> Column:
    """The ADC scan's score of a row holding a candidate's ``codes`` and
    its query's ``_lut``: the m table entries its codes select, summed
    (exact int64), as ``dist2``."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, s: acc
        + F.element_at(
            "_lut",
            (s * n_cent + F.element_at("codes", (s + 1).cast("int")) + 1).cast(
                "int"
            ),
        ),
    ).alias("dist2")


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    k: int = 10,
    m: int = 8,
    n_cent: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    scale: int = 1_000_000,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: per
    query, an m*n_cent lookup table of exact integer part-distances
    (query slice vs centroid) is packed into ONE array and broadcast;
    each candidate's distance is m array lookups summed over its
    codes — no raw vectors are read in the scan. Returns (query_id,
    rank, vec_id, dist2) with dist2 the EXACT quantized ADC distance
    (engine-portable integer). Self-matches excluded.

    Scale: the corpus side touches only the m-byte codes column
    (dim/m * 8-byte compression of the scan), the LUT is
    queries x m x n_cent tiny rows built broadcast-side, and the
    per-candidate score is computed map-side before the top-k
    shuffle. Compose with ivf_topk cells to prune candidates before
    the ADC scan."""
    lut = _adc_table(queries, codebook, m, n_cent, vec_col, id_col, dim, scale)
    scored = (
        codes.crossJoin(F.broadcast(lut))
        .where(F.col("query_id") != F.col(id_col))
        .select("query_id", F.col(id_col).alias("vec_id"), _adc_dist2(m, n_cent))
    )
    return _topk_per_query(scored, k, "dist2", "vec_id")


def ivf_pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    m: int = 8,
    n_cent: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    scale: int = 1_000_000,
) -> DataFrame:
    """IVF+PQ — the full production ANN composition: the coarse
    quantizer prunes the candidate set to the query's n_probe cells
    (ivf_topk's cosine cells, deterministic default), then the ADC
    scan scores ONLY those candidates' m-byte codes via the broadcast
    lookup table (pq_topk's integer distances). At 100 TB: cell is the
    partition column (probes = partition-pruned scans), codes are the
    only corpus bytes the scan touches, and the per-candidate work is
    m array lookups — the FAISS IVFADC layout expressed as DataFrame
    ops. Returns (query_id, rank, vec_id, dist2), dist2 the exact
    quantized ADC distance."""
    codebook = pq_codebook(candidates, m, n_cent, vec_col, id_col, dim, scale)
    # pq_encode keys its codes by id_col; the cells are keyed by vec_id
    codes = pq_encode(
        candidates, codebook, m, vec_col, id_col, dim, scale
    ).withColumnRenamed(id_col, "vec_id")
    probes, cells = _probe_cells(
        queries, candidates, n_centroids, n_probe, vec_col, id_col,
        with_vectors=False,
    )
    lut = _adc_table(queries, codebook, m, n_cent, vec_col, id_col, dim, scale)
    scored = (
        codes.join(cells, "vec_id")
        .join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("vec_id"))
        .join(F.broadcast(lut), "query_id")
        .select("query_id", "vec_id", _adc_dist2(m, n_cent))
    )
    return _topk_per_query(scored, k, "dist2", "vec_id")


def rrf_fuse(
    rankings: list[DataFrame],
    rrf_k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    topk: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion of N retrieval rankings (Cormack et al.
    SIGIR'09) — the standard hybrid-retrieval combiner for sparse
    (BM25) + dense (embedding) candidate lists feeding RAG or
    training-data mining. Each input holds one (id, rank) row per
    retrieved item, rank 1-based; fusion score(d) = sum over lists of
    1/(rrf_k + rank_d).

    The score is computed in FIXED-POINT: each contribution is
    10^9 // (rrf_k + rank) as a bigint, so fusion is pure integer
    arithmetic — bit-identical across engines and insensitive to
    summation order (the property the DuckDB oracle checks; float RRF
    would hash-diverge on associativity).

    Returns (fused_rank, id, rrf_score, n_lists) for the topk fused
    ids, ordered by (score desc, id). Shape: the inputs are top-k
    relations (k rows each — broadcast-sized by construction), so the
    union + groupBy is a few-KB shuffle regardless of corpus size; the
    heavy lifting happened inside the per-list retrievers, which are
    scale-audited separately (bm25_topk: one combiner-style corpus
    aggregate; cosine_topk_*: banded / broadcast designs)."""
    parts = []
    for r in rankings:
        # FLOOR over the double division (not integer `/`): Spark and
        # DuckDB disagree on what int/int returns, but both produce the
        # identical IEEE double here, and floor of it is exact
        parts.append(
            r.select(
                F.col(id_col).alias("_id"),
                F.floor(
                    F.lit(1_000_000_000)
                    / (F.lit(rrf_k) + F.col(rank_col))
                )
                .cast("bigint")
                .alias("_c"),
            )
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    fused = allp.groupBy("_id").agg(
        F.sum("_c").alias("rrf_score"), F.count("*").alias("n_lists")
    )
    w = Window.orderBy(F.desc("rrf_score"), F.col("_id"))
    return (
        fused.select(
            F.row_number().over(w).alias("fused_rank"),
            F.col("_id").alias(id_col),
            "rrf_score",
            "n_lists",
        )
        .where(F.col("fused_rank") <= topk)
    )


_CROSS_SCHEMA = "a_id bigint, b_id bigint, cosine double"


def embedding_cross_matches(
    a: DataFrame,
    b: DataFrame,
    threshold: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks_a: int = 8,
    n_blocks_b: int = 8,
) -> DataFrame:
    """All cross-corpus pairs (a_id, b_id, cosine >= threshold) —
    EXACT, the A x B twin of embedding_near_dup_pairs' block-pair
    decomposition. Side A hashes into ``n_blocks_a`` blocks and
    replicates once per B-block (and vice versa), so every (i, j)
    block pair is one independent dense-GEMM task: O(|A|·Bb + |B|·Ba)
    rows shuffled, no driver materialization, no cartesian node.
    Size the block counts so each side of a task stays executor-sized;
    the O(|A|·|B|) flops are inherent to the exact tier."""
    import numpy as np

    def tagged(df, n_own, n_other, side):
        block = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_own))
        partner = F.explode(
            F.array(*[F.lit(p) for p in range(n_other)])
        ).alias("_p")
        out = df.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"),
            block.alias("_blk"), partner,
        )
        bi = F.col("_blk") if side == "a" else F.col("_p")
        bj = F.col("_p") if side == "a" else F.col("_blk")
        return out.select(
            bi.alias("bi"), bj.alias("bj"),
            F.lit(side).alias("_side"), "_id", "_vec",
        )

    both = tagged(a, n_blocks_a, n_blocks_b, "a").unionByName(
        tagged(b, n_blocks_b, n_blocks_a, "b")
    )

    def gemm_group(pdf):
        import pandas as pd

        pa = pdf[pdf["_side"] == "a"]
        pb = pdf[pdf["_side"] == "b"]
        if not len(pa) or not len(pb):
            return pd.DataFrame({"a_id": [], "b_id": [], "cosine": []})
        # every qualifying directed (a_id, b_id) pair: no id-inequality
        # filter, the sides are different relations and ids may collide
        sims = _cosine_matrix(
            np.array(list(pa["_vec"]), dtype=np.float64),
            np.array(list(pb["_vec"]), dtype=np.float64),
        )
        ai, bj = np.nonzero(sims >= threshold)
        return pd.DataFrame(
            {
                "a_id": pa["_id"].to_numpy(dtype=np.int64)[ai],
                "b_id": pb["_id"].to_numpy(dtype=np.int64)[bj],
                "cosine": sims[ai, bj],
            }
        )

    return both.groupBy("bi", "bj").applyInPandas(
        on_worker(gemm_group), schema=_CROSS_SCHEMA
    )


def semantic_decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    threshold: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    **kwargs,
) -> DataFrame:
    """Drop training rows whose embedding matches ANY eval-set row at
    cosine >= threshold — the semantic tier of eval-set
    decontamination (the shingle tier is contamination_hits /
    decontaminate in operators/dedup.py; paraphrased contamination
    that shares no n-grams only shows up here). Returns the retained
    train relation, original schema.

    Matching is the exact block-pair GEMM of
    :func:`embedding_cross_matches` (``kwargs`` go to it). The
    flagged-id relation is tiny (bounded by |train|); the final filter
    is one left-anti join that AQE broadcasts in the common small-eval
    case."""
    matches = embedding_cross_matches(
        train, evalset, threshold, vec_col, id_col, **kwargs
    )
    flagged = matches.select(F.col("a_id").alias(id_col)).distinct()
    return train.join(flagged, id_col, "left_anti")
