"""Round-11 staged driver registrations.

The r10 window was full; the r11 window carried the 47 remaining
r07-latest rows, leaving room for TWO promotions plus one spare slot.
Operators added in round 9 therefore staged HERE for those promotion
slots — same contract as staged_r7..r10: a deterministic ``(spark, sf_dir) -> DataFrame`` wrapper plus the exact
DuckDB oracle, replayed at both test scale factors by
``tests/test_staged_r11.py`` and plan-swept for unbounded joins.

Both queries are published LLM-data-pipeline recipes re-expressed
Spark-first:
- SemDeDup (Abbas et al. 2023): cluster the embedding space, prune
  near-duplicates within clusters — the curation tier above pairwise
  near-dup (operators/similarity.semdedup).
- DSIR (Xie et al. 2023): hashed-unigram importance weights of raw
  documents against a target corpus + Gumbel top-k resampling
  (operators/split.dsir_resample).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import load_table
from ..functions import ordered

_SD_K = 8
_SD_ITERS = 3
_SD_TAU_MIL = 400
_SD_CAP = 2000

_DSIR_K = 50
_DSIR_BUCKETS = 256
_DSIR_SALT = "r11"


def ext_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster-then-prune report (operators/similarity.
    semdedup, k=8, 3 Lloyd iterations, tau=0.400): per kmeans cluster,
    how many points it holds, how many are dropped as within-cluster
    near-duplicates of a lower id, and the dropped-id checksum. The
    integer-exact cosine test makes the ITERATIVE clustering + the
    pairwise prune hash-match DuckDB's unrolled replay — the same
    portability property ext_kmeans_embed proves, extended through the
    pruning stage."""
    from ..operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    # r12 OPTIMIZATION: pair_mode='gemm' — the within-cluster prune
    # runs as one int64 matmul per cluster (guide §4.2: whole batches
    # through numpy) instead of the interpreted zip_with/aggregate dot
    # per candidate pair. Drop set BIT-IDENTICAL to the expression tier
    # (exact int64 dots + arbitrary-precision borderline recheck,
    # pinned by tests/test_round11.py); the DuckDB oracle replay is
    # unchanged and re-verified at both SFs. Fresh min-of-3 at sf0.1:
    # 10.13 s -> see OPTIMIZATION_r12.md.
    res = sim.semdedup(
        emb,
        k=_SD_K,
        iters=_SD_ITERS,
        tau_mil=_SD_TAU_MIL,
        max_cluster_size=_SD_CAP,
        pair_mode="gemm",
    )
    return (
        res.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.when(F.col("dropped"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.coalesce(
                F.sum(F.when(F.col("dropped"), F.col("vec_id"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("dropped_id_sum"),
        )
        .transform(ordered, "cluster")
    )


def _semdedup_oracle() -> str:
    from .extensions import _kmeans_assign_cte

    tau2 = _SD_TAU_MIL * _SD_TAU_MIL
    return (
        _kmeans_assign_cte(k=_SD_K, iters=_SD_ITERS)
        + f""", norm AS (
      SELECT vec_id, SUM(q * q) AS n2 FROM qv GROUP BY vec_id
    ), sz AS (
      SELECT cl, COUNT(*) AS csz FROM afin GROUP BY cl
    ), cand AS (
      SELECT a.vec_id AS ida, b.vec_id AS idb
      FROM afin a
      JOIN afin b ON a.cl = b.cl AND a.vec_id < b.vec_id
      JOIN sz ON sz.cl = a.cl
      WHERE sz.csz <= {_SD_CAP}
    ), pd AS (
      SELECT c.ida, c.idb, SUM(pa.q * pb.q) AS dot
      FROM cand c
      JOIN qv pa ON pa.vec_id = c.ida
      JOIN qv pb ON pb.vec_id = c.idb AND pb.ord = pa.ord
      GROUP BY c.ida, c.idb
    ), dropped AS (
      SELECT DISTINCT pd.idb AS vec_id
      FROM pd
      JOIN norm na ON na.vec_id = pd.ida
      JOIN norm nb ON nb.vec_id = pd.idb
      WHERE pd.dot > 0
        AND CAST(pd.dot AS HUGEINT) * CAST(pd.dot AS HUGEINT) * 1000000
            >= {tau2} * CAST(na.n2 AS HUGEINT) * CAST(nb.n2 AS HUGEINT)
    )
    SELECT afin.cl AS cluster,
           COUNT(*) AS n_points,
           CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(COALESCE(SUM(d.vec_id), 0) AS BIGINT) AS dropped_id_sum
    FROM afin LEFT JOIN dropped d ON afin.vec_id = d.vec_id
    GROUP BY afin.cl ORDER BY cluster
"""
    )


def ext_sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/split.dsir_resample):
    select the 50 documents whose hashed-unigram profile looks most
    like the ``source = 'src0'`` target slice, sampling by
    Gumbel-perturbed log importance weight (deterministic hash
    Gumbels, sel_key rounded before the cut so the selected set is
    engine-stable)."""
    from ..operators import split as sp

    docs = load_table(spark, sf_dir, "documents")
    target = docs.where(F.col("source") == "src0")
    return sp.dsir_resample(
        docs,
        target,
        text_col="text",
        id_col="doc_id",
        k=_DSIR_K,
        buckets=_DSIR_BUCKETS,
        salt=_DSIR_SALT,
    ).transform(ordered, "doc_id")


def _dsir_oracle() -> str:
    from .extensions import _TOKS

    b = _DSIR_BUCKETS
    return f"""
    WITH {_TOKS},
    bt AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(word || '|dsir|{_DSIR_SALT}'), 1, 8)
                  AS BIGINT) % {b} AS b
      FROM toks
    ),
    prof AS (SELECT doc_id, b, COUNT(*) AS c FROM bt GROUP BY doc_id, b),
    rc AS (SELECT b, SUM(c) AS rcnt FROM prof GROUP BY b),
    tc AS (
      SELECT bt.b, COUNT(*) AS tcnt
      FROM bt JOIN documents d USING (doc_id)
      WHERE d.source = 'src0' GROUP BY bt.b
    ),
    model AS (
      SELECT COALESCE(rc.b, tc.b) AS b,
             COALESCE(rcnt, 0) AS rcnt, COALESCE(tcnt, 0) AS tcnt
      FROM rc FULL JOIN tc ON rc.b = tc.b
    ),
    tot AS (SELECT SUM(rcnt) AS rt, SUM(tcnt) AS tt FROM model),
    lr AS (
      SELECT b,
             ln((tcnt + 1.0) / (tt + {b})) - ln((rcnt + 1.0) / (rt + {b}))
               AS lr
      FROM model CROSS JOIN tot
    ),
    lw AS (
      SELECT doc_id, SUM(c * lr) AS logw
      FROM prof JOIN lr USING (b) GROUP BY doc_id
    ),
    sel AS (
      SELECT doc_id, logw,
             ROUND(logw + -ln(-ln(
               (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                     || '|dsirg|{_DSIR_SALT}'), 1, 8) AS BIGINT) + 1)
               / 4294967296.0)), 6) AS sel_key
      FROM lw
    ),
    topk AS (
      SELECT doc_id, ROUND(logw, 5) AS log_weight, sel_key
      FROM sel ORDER BY sel_key DESC, doc_id LIMIT {_DSIR_K}
    )
    SELECT doc_id, log_weight, sel_key FROM topk ORDER BY doc_id
"""


STAGED_R11_QUERIES = {
    "ext_dedup_semdedup": ext_dedup_semdedup,
    "ext_sample_dsir": ext_sample_dsir,
}

STAGED_R11_ORACLES = {
    "ext_dedup_semdedup": _semdedup_oracle(),
    "ext_sample_dsir": _dsir_oracle(),
}
