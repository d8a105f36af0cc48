"""Extension queries: dedup / similarity / text analysis over the
documents and embeddings fixtures, each with a DuckDB oracle.

The oracles are *generated* SQL mirroring the Spark operators'
portable-hash formulations exactly (md5-derived hashes, identical
MinHash (a,b) parameters, identical marker lists). The Spark side is
the production operator from remap_spark.operators.*; the wrapper here
only adds rounding, casts, and a total ORDER BY for hash stability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import load_table
from ..functions import MINHASH_PRIME, lineage_cut, minhash_params, ordered
from ..operators import dedup as dd
from ..operators import similarity as sim
from ..operators import split as sp
from ..operators import text as tx

# ---------------------------------------------------------------------
# shared oracle CTE fragments
# ---------------------------------------------------------------------

# tokens with position (filtered empties keep their original index —
# LEAD over the filtered sequence matches Spark's filtered-array grams)
_TOKS = """
toks AS (
  SELECT doc_id, word, i FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\\s+')) AS word,
           generate_subscripts(string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\\s+'), 1) AS i
    FROM documents
  ) WHERE word <> ''
)
"""

_GRAMS = (
    _TOKS
    + """,
grams AS (
  SELECT doc_id,
         word || ' ' || LEAD(word, 1) OVER w || ' ' || LEAD(word, 2) OVER w AS gram
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
shingles AS (
  SELECT DISTINCT doc_id AS doc, gram FROM grams WHERE gram IS NOT NULL
)
"""
)

_H32 = "CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"

_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


# ---------------------------------------------------------------------
# dedup queries
# ---------------------------------------------------------------------


def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.count("*").alias("cnt"), F.min("doc_id").alias("keep_id"))
        .transform(ordered, "keep_id")
    )


_DEDUP_EXACT_SQL = """
    SELECT md5(text) AS h, COUNT(*) AS cnt, MIN(doc_id) AS keep_id
    FROM documents GROUP BY md5(text) ORDER BY keep_id
"""


def ext_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_doc_freq drops grams in >5% of docs BEFORE the self-join —
    the stop-gram guard that keeps the inverted index from going
    quadratic on a hot shingle at 100 TB (a gram in k docs produces
    k² join rows). The oracle replicates the same doc-frequency
    filter, so the answer stays hash-exact."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=0.05)
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", 5).alias("jaccard")
    ).transform(ordered, "doc_a", "doc_b")


_DEDUP_NGRAM_SQL = f"""
    WITH {_GRAMS},
    kept AS (
      SELECT doc, gram FROM shingles
      WHERE gram NOT IN (
        SELECT gram FROM shingles GROUP BY gram
        HAVING COUNT(*) > 0.05 * (SELECT COUNT(*) FROM documents)
      )
    ),
    sizes AS (SELECT doc, COUNT(*) AS n_grams FROM kept GROUP BY doc),
    inter AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
      FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc < b.doc
      GROUP BY a.doc, b.doc
    )
    SELECT doc_a, doc_b,
           ROUND(inter * 1.0 / (na.n_grams + nb.n_grams - inter), 5) AS jaccard
    FROM inter
    JOIN sizes na ON na.doc = inter.doc_a
    JOIN sizes nb ON nb.doc = inter.doc_b
    WHERE inter * 1.0 / (na.n_grams + nb.n_grams - inter) >= 0.5
    ORDER BY doc_a, doc_b
"""


def ext_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(docs, num_hashes=16, bands=4).transform(
        ordered, "doc_a", "doc_b"
    )


def ext_dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-then-verify near-dup (operators/dedup.
    lsh_verified_pairs): MinHash-LSH candidates, exact n-gram Jaccard
    computed ONLY on candidate pairs, threshold 0.5 — the production
    composition whose two tiers (ext_dedup_minhash_lsh and
    ext_dedup_ngram_jaccard) are separately green. The oracle replays
    the banded pairs and the exact hashed-gram Jaccard end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    return dd.lsh_verified_pairs(docs, threshold=0.5).transform(
        ordered, "doc_a", "doc_b"
    )


_H60 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


def _lsh_verified_oracle(threshold: float = 0.5) -> str:
    return f"""
    WITH {_minhash_pairs_ctes()},
    sh60 AS (
      SELECT DISTINCT doc, {_H60.format(x='gram')} AS g FROM shingles
    ),
    sizes AS (SELECT doc, COUNT(*) AS n FROM sh60 GROUP BY doc),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS i
      FROM pairs p
      JOIN sh60 a ON a.doc = p.doc_a
      JOIN sh60 b ON b.doc = p.doc_b AND b.g = a.g
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           FLOOR(i.i * 100000.0 / (na.n + nb.n - i.i) + 0.5) / 100000.0
             AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc = i.doc_a
    JOIN sizes nb ON nb.doc = i.doc_b
    WHERE CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i) >= {threshold}
    ORDER BY doc_a, doc_b
"""


def _minhash_pairs_ctes(num_hashes: int = 16, bands: int = 4, seed: int = 42) -> str:
    """WITH-body (no leading WITH) ending in a ``pairs(doc_a, doc_b)``
    CTE — shared by the pair-emitting oracle and the connected-components
    oracle built on top of it."""
    params = minhash_params(num_hashes, seed)
    sig_exprs = ",\n           ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS sig{i}"
        for i, (a, b) in enumerate(params)
    )
    rows = num_hashes // bands
    band_selects = " UNION ALL ".join(
        "SELECT {bi} AS band, concat_ws('_', {cols}) AS key, doc FROM sigs".format(
            bi=bi,
            cols=", ".join(f"sig{bi * rows + r}" for r in range(rows)),
        )
        for bi in range(bands)
    )
    return f"""{_GRAMS},
    hashed AS (SELECT doc, {_H32.format(x='gram')} AS h FROM shingles),
    sigs AS (SELECT doc, {sig_exprs} FROM hashed GROUP BY doc),
    bands AS ({band_selects}),
    pairs AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc < b.doc
    )"""


def _minhash_oracle(num_hashes: int = 16, bands: int = 4, seed: int = 42) -> str:
    return f"""
    WITH {_minhash_pairs_ctes(num_hashes, bands, seed)}
    SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b
"""


def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        dd.simhash_fingerprints(docs)
        .select(F.col("doc").alias("doc_id"), "simhash")
        .transform(ordered, "doc_id")
    )


def _simhash_oracle(bits: int = 32) -> str:
    bal = ",\n           ".join(
        f"SUM(CASE WHEN ((h >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
    WITH {_TOKS},
    hashed AS (SELECT doc_id AS doc, {_H32.format(x='word')} AS h FROM toks),
    bal AS (SELECT doc, {bal} FROM hashed GROUP BY doc)
    SELECT doc AS doc_id, {fp} AS simhash FROM bal ORDER BY doc_id
"""


def ext_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = sim.embedding_near_dup_pairs(emb, threshold=0.4)
    # lazy cut below the final sort, which matters only when
    # ``ordered`` keeps the range sort: its sampling pass would re-run
    # the Arrow GEMM pair pass (a second full Python boundary crossing
    # — the dq18 shape); cut is match-sized
    return lineage_cut(
        pairs.select("vec_a", "vec_b", F.round("cosine", 5).alias("cosine"))
    ).transform(ordered, "vec_a", "vec_b")


_DEDUP_EMB_SQL = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_COS.format(a='a.v', b='b.v')}, 5) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_COS.format(a='a.v', b='b.v')} >= 0.4
    ORDER BY vec_a, vec_b
"""


# ---------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------


def ext_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    topk = sim.cosine_topk_bruteforce(queries, emb, k=10)
    return topk.select(
        "query_id",
        F.col("rank").cast("bigint").alias("rank"),
        "vec_id",
        F.round("cosine", 5).alias("cosine"),
    ).transform(ordered, "query_id", "rank")


_ANN_TOPK_SQL = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {_COS.format(a='q.v', b='c.v')} AS cosine
      FROM q JOIN e c ON c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rn
      FROM scored
    )
    SELECT query_id, rn AS "rank", vec_id, ROUND(cosine, 5) AS cosine
    FROM ranked WHERE rn <= 10 ORDER BY query_id, rn
"""


# ---------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------


def ext_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = tx.text_stats(docs)
    # n_tokens > 0 mirrors the oracle's inner join to per_doc, which
    # drops token-less docs; without it Spark would emit a null-ratio
    # row for an empty/punctuation-only document and row-counts diverge
    return (
        out.where(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
            "avg_token_len",
            "punct_ratio",
            "stopword_ratio",
        )
        .transform(ordered, "doc_id")
    )


_TEXT_STATS_SQL = f"""
    WITH {_TOKS},
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_tokens, SUM(length(word)) AS token_chars,
             SUM(CASE WHEN word IN ('the','and','of','to','is') THEN 1 ELSE 0 END) AS n_stop
      FROM toks GROUP BY doc_id
    )
    SELECT d.doc_id, p.n_tokens,
           CAST(length(d.text) AS BIGINT) AS n_chars,
           ROUND(p.token_chars * 1.0 / p.n_tokens, 5) AS avg_token_len,
           ROUND((length(d.text) - length(translate(d.text, '.,?:;!"', ''))) * 1.0
                 / length(d.text), 5) AS punct_ratio,
           ROUND(p.n_stop * 1.0 / p.n_tokens, 5) AS stopword_ratio
    FROM documents d JOIN per_doc p ON p.doc_id = d.doc_id
    ORDER BY d.doc_id
"""


def ext_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = tx.language_id(docs)
    return out.select(
        "doc_id",
        *[F.col(f"{l}_hits").cast("bigint").alias(f"{l}_hits") for l in tx.LANG_MARKERS],
        "pred_lang",
    ).transform(ordered, "doc_id")


def _langid_oracle() -> str:
    hit_exprs = ",\n           ".join(
        "CAST(SUM(CASE WHEN word IN ({vals}) THEN 1 ELSE 0 END) AS BIGINT) AS {lang}_hits".format(
            vals=", ".join(f"'{w}'" for w in words), lang=lang
        )
        for lang, words in tx.LANG_MARKERS.items()
    )
    return f"""
    WITH {_TOKS},
    hits AS (SELECT doc_id, {hit_exprs} FROM toks GROUP BY doc_id)
    SELECT doc_id, en_hits, de_hits, es_hits, fr_hits,
           CASE
             WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
             WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
             WHEN es_hits >= fr_hits THEN 'es'
             ELSE 'fr'
           END AS pred_lang
    FROM hits ORDER BY doc_id
"""


def ext_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tx.content_fingerprint(docs).transform(ordered, "doc_id")


_FINGERPRINT_SQL = """
    SELECT doc_id,
           CAST('0x' || substr(md5(
             trim(regexp_replace(lower(translate(text, '.,?:;!"', '       ')),
                                 '\\s+', ' ', 'g'))
           ), 1, 15) AS BIGINT) AS fingerprint
    FROM documents ORDER BY doc_id
"""


def ext_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH — the 100 TB scale
    path for ext_ann_topk: candidates come only from the query's sign
    bucket, turning a full-corpus scan per query into a bucket join.
    The oracle replays the identical hyperplanes as SQL literals, so
    recall loss vs brute force is deterministic and hash-checked.
    probe_hamming=1 (round 5): each query also probes the n_planes
    Hamming-1 buckets, mirrored in the oracle with an xor mask list."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    topk = sim.cosine_topk_lsh(
        queries, emb, k=10, n_planes=8, seed=42, dim=64, probe_hamming=1
    )
    return topk.select(
        "query_id",
        F.col("rank").cast("bigint").alias("rank"),
        "vec_id",
        F.round("cosine", 5).alias("cosine"),
    ).transform(ordered, "query_id", "rank")


def _ann_lsh_oracle(dim: int = 64, n_planes: int = 8, seed: int = 42) -> str:
    planes = sim._hyperplanes(dim, n_planes, seed)
    masks = ", ".join(str(m) for m in [0] + [1 << i for i in range(n_planes)])
    bucket = " + ".join(
        "(CASE WHEN list_dot_product(v, [{vals}]) >= 0 THEN {w} ELSE 0 END)".format(
            vals=", ".join(repr(x) for x in p), w=1 << i
        )
        for i, p in enumerate(planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
    q0 AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
    q AS (
      SELECT query_id, qv, xor(bucket, m.mask) AS bucket
      FROM q0 CROSS JOIN (
        SELECT unnest([{masks}]) AS mask
      ) m
    ),
    scored AS (
      SELECT q.query_id, c.vec_id,
             {_COS.format(a='q.qv', b='c.v')} AS cosine
      FROM q JOIN b c USING (bucket) WHERE c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rn
      FROM scored
    )
    SELECT query_id, rn AS "rank", vec_id, ROUND(cosine, 5) AS cosine
    FROM ranked WHERE rn <= 10 ORDER BY query_id, rn
"""


def ext_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.pq_codebook /
    pq_encode / pq_topk): the compressed-domain tier — corpus vectors
    become m=8 codes against a 16-centroid-per-subspace codebook, and
    each query scans only codes via an ADC lookup table. All
    arithmetic is int64-quantized (the kmeans_lloyd contract), so the
    ADC distances are EXACT integers the DuckDB oracle reproduces
    bit-for-bit — no error band needed."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    cb = sim.pq_codebook(emb, m=8, k=16, dim=64)
    codes = sim.pq_encode(emb, cb, m=8, dim=64)
    topk = sim.pq_topk(queries, codes, cb, k=10, m=8, n_cent=16, dim=64)
    return topk.select(
        "query_id",
        F.col("rank").cast("bigint").alias("rank"),
        "vec_id",
        "dist2",
    ).transform(ordered, "query_id", "rank")


_ANN_PQ_SQL = """
    WITH qv AS (
      SELECT vec_id, ord,
             CAST(ROUND(CAST(val AS DOUBLE) * 1000000) AS BIGINT) AS q
      FROM (
        SELECT vec_id, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS ord
        FROM embeddings
      )
    ),
    sub AS (
      SELECT vec_id, CAST(FLOOR((ord - 1) / 8) AS INTEGER) AS sub, ord, q
      FROM qv
    ),
    cent AS (
      SELECT vec_id AS cid, sub, ord, q FROM sub WHERE vec_id < 16
    ),
    enc AS (
      SELECT vec_id, sub, cid FROM (
        SELECT p.vec_id, p.sub, c.cid,
               SUM((p.q - c.q) * (p.q - c.q)) AS d
        FROM sub p JOIN cent c ON c.sub = p.sub AND c.ord = p.ord
        GROUP BY p.vec_id, p.sub, c.cid
        QUALIFY ROW_NUMBER() OVER (PARTITION BY p.vec_id, p.sub
                                   ORDER BY d, cid) = 1
      )
    ),
    lut AS (
      SELECT p.vec_id AS query_id, p.sub, c.cid,
             SUM((p.q - c.q) * (p.q - c.q)) AS pd
      FROM sub p JOIN cent c ON c.sub = p.sub AND c.ord = p.ord
      WHERE p.vec_id < 5
      GROUP BY p.vec_id, p.sub, c.cid
    ),
    scored AS (
      SELECT l.query_id, e.vec_id, CAST(SUM(l.pd) AS BIGINT) AS dist2
      FROM enc e JOIN lut l ON l.sub = e.sub AND l.cid = e.cid
      WHERE l.query_id <> e.vec_id
      GROUP BY l.query_id, e.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, dist2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dist2, vec_id) AS rn
      FROM scored
    )
    SELECT query_id, rn AS "rank", vec_id, dist2
    FROM ranked WHERE rn <= 10 ORDER BY query_id, rn
"""


def ext_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composition (operators/similarity.ivf_pq_topk): coarse
    cosine cells prune candidates (2 of 8 probed), PQ/ADC integer
    distances score only the probed candidates' codes — the FAISS
    IVFADC layout as DataFrame ops. Distances are int64-exact, so the
    oracle reproduces the full composition bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    topk = sim.ivf_pq_topk(
        queries, emb, k=10, n_centroids=8, n_probe=2, m=8, n_cent=16, dim=64
    )
    return topk.select(
        "query_id",
        F.col("rank").cast("bigint").alias("rank"),
        "vec_id",
        "dist2",
    ).transform(ordered, "query_id", "rank")


def _ann_ivf_pq_oracle(
    n_centroids: int = 8, n_probe: int = 2, k: int = 10
) -> str:
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {n_centroids}),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_COS.format(a='e.v', b='c.cv')} DESC, c.cid) AS rn
        FROM e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, cid AS cell FROM (
        SELECT q.vec_id AS query_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_COS.format(a='q.v', b='c.cv')} DESC, c.cid) AS rn
        FROM e q CROSS JOIN cent c WHERE q.vec_id < 5
      ) WHERE rn <= {n_probe}
    ),
    qv AS (
      SELECT vec_id, ord,
             CAST(ROUND(CAST(val AS DOUBLE) * 1000000) AS BIGINT) AS q
      FROM (
        SELECT vec_id, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS ord
        FROM embeddings
      )
    ),
    subq AS (
      SELECT vec_id, CAST(FLOOR((ord - 1) / 8) AS INTEGER) AS sub, ord, q
      FROM qv
    ),
    pqcent AS (
      SELECT vec_id AS cid, sub, ord, q FROM subq WHERE vec_id < 16
    ),
    enc AS (
      SELECT vec_id, sub, cid FROM (
        SELECT p.vec_id, p.sub, c.cid,
               SUM((p.q - c.q) * (p.q - c.q)) AS d
        FROM subq p JOIN pqcent c ON c.sub = p.sub AND c.ord = p.ord
        GROUP BY p.vec_id, p.sub, c.cid
        QUALIFY ROW_NUMBER() OVER (PARTITION BY p.vec_id, p.sub
                                   ORDER BY d, cid) = 1
      )
    ),
    lut AS (
      SELECT p.vec_id AS query_id, p.sub, c.cid,
             SUM((p.q - c.q) * (p.q - c.q)) AS pd
      FROM subq p JOIN pqcent c ON c.sub = p.sub AND c.ord = p.ord
      WHERE p.vec_id < 5
      GROUP BY p.vec_id, p.sub, c.cid
    ),
    scored AS (
      SELECT pr.query_id, a.vec_id, CAST(SUM(l.pd) AS BIGINT) AS dist2
      FROM enc e
      JOIN assign a ON a.vec_id = e.vec_id
      JOIN probes pr ON pr.cell = a.cell
      JOIN lut l ON l.query_id = pr.query_id
               AND l.sub = e.sub AND l.cid = e.cid
      WHERE a.vec_id <> pr.query_id
      GROUP BY pr.query_id, a.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, dist2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dist2, vec_id) AS rn
      FROM scored
    )
    SELECT query_id, rn AS "rank", vec_id, dist2
    FROM ranked WHERE rn <= {k} ORDER BY query_id, rn
"""


def ext_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (operators.similarity.ivf_topk): the partition-
    pruned scale path — cell assignment is one linear broadcast pass,
    each query probes 2 of 8 cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    topk = sim.ivf_topk(queries, emb, k=10, n_centroids=8, n_probe=2)
    return topk.select(
        "query_id",
        F.col("rank").cast("bigint").alias("rank"),
        "vec_id",
        F.round("cosine", 5).alias("cosine"),
    ).transform(ordered, "query_id", "rank")


def _ann_ivf_oracle(n_centroids: int = 8, n_probe: int = 2, k: int = 10) -> str:
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {n_centroids}),
    assign AS (
      SELECT vec_id, v, cid AS cell FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_COS.format(a='e.v', b='c.cv')} DESC, c.cid) AS rn
        FROM e CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qv, cid AS cell FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_COS.format(a='q.v', b='c.cv')} DESC, c.cid) AS rn
        FROM e q CROSS JOIN cent c WHERE q.vec_id < 5
      ) WHERE rn <= {n_probe}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id,
             {_COS.format(a='p.qv', b='a.v')} AS cosine
      FROM probes p JOIN assign a USING (cell)
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rn
      FROM scored
    )
    SELECT query_id, rn AS "rank", vec_id, ROUND(cosine, 5) AS cosine
    FROM ranked WHERE rn <= {k} ORDER BY query_id, rn
"""


# BPE-ish tokenizer regex: letter runs, digit runs, single other glyphs
# (the shape GPT-2-style pre-tokenizers use before merges).
BPE_TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def ext_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens and BPE-ish regex tokens per
    document — the cost accounting a training-data pipeline runs over
    every shard. Pure Catalyst expressions (regexp_extract_all is
    JVM-side), no shuffle at all until the final ORDER BY."""
    docs = load_table(spark, sf_dir, "documents")
    from ..functions import tokenize

    bpe = F.regexp_extract_all(F.lower("text"), F.lit(BPE_TOKEN_RE), F.lit(0))
    n_bpe = F.size(bpe).cast("bigint")
    return docs.select(
        "doc_id",
        F.size(tokenize("text")).cast("bigint").alias("ws_tokens"),
        n_bpe.alias("bpe_tokens"),
        F.round(
            F.length("text") / F.greatest(n_bpe, F.lit(1)), 5
        ).alias("chars_per_token"),
    ).transform(ordered, "doc_id")


_TEXT_TOKENS_SQL = r"""
    SELECT doc_id,
           len(list_filter(
             string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\s+'),
             w -> w <> '')) AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_tokens,
           ROUND(length(text) * 1.0 /
                 GREATEST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')), 1),
                 5) AS chars_per_token
    FROM documents ORDER BY doc_id
"""


def ext_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality gate (Gopher/C4-style rule filter) — see
    operators.text.quality_score."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.quality_score(docs).transform(ordered, "doc_id")


_TEXT_QUALITY_SQL = r"""
    WITH m AS (
      SELECT doc_id,
             CAST(len(list_filter(
               string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\s+'),
               w -> w <> '')) AS DOUBLE) AS n_tokens,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(text) - length(translate(text, '.,?:;!"', '')) AS DOUBLE) AS n_punct,
             CAST(len(list_filter(
               string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\s+'),
               w -> w IN ('the','and','of','to','is'))) AS DOUBLE) AS n_stop
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             LEAST(n_tokens / 200.0, 1.0) * 0.5
             + LEAST(n_stop / n_tokens * 4.0, 1.0) * 0.3
             + (1.0 - LEAST(n_punct / n_chars * 10.0, 1.0)) * 0.2 AS score
      FROM m
    )
    SELECT doc_id, ROUND(score, 5) AS score,
           CASE WHEN score >= 0.6 THEN 'keep'
                WHEN score >= 0.3 THEN 'review'
                ELSE 'drop' END AS verdict
    FROM s ORDER BY doc_id
"""


def ext_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (operators.skew.salted_agg):
    heavy-hitter counts + sums per event_type where one hot type would
    otherwise pin a reduce task. Result is EXACTLY the plain groupBy
    (salting is a physical rewrite, not a semantic one) — which is what
    the oracle checks."""
    from ..operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        keys=["event_type"],
        partial_aggs={
            "c": F.count("*"),
            "s": F.sum(F.col("value").cast("decimal(28,10)")),
        },
        final_aggs={
            "cnt": F.sum("c"),
            "sum_value": F.round(F.sum("s"), 5).cast("double"),
        },
        salt_from="event_id",
        buckets=32,
    )
    return out.select("event_type", "cnt", "sum_value").transform(ordered, "event_type")


_SALTED_AGG_SQL = """
    SELECT event_type, COUNT(*) AS cnt,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 5) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
"""


def ext_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class rebalancing (operators/split.stratified_sample):
    keep all purchases, half the signups, 10% of everything else —
    the keep-fraction is a WHEN chain over the stratum column, so the
    whole sample is one codegen'd narrow predicate with no shuffle and
    no RNG. Same-bucket nesting means raising a class's fraction later
    only ADDs rows — the previously selected examples stay selected."""
    ev = load_table(spark, sf_dir, "events")
    out = sp.stratified_sample(
        ev,
        "event_id",
        "event_type",
        {"purchase": 1.0, "signup": 0.5},
        salt="r1",
        default=0.1,
    )
    return (
        out.groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum(F.col("value").cast("decimal(28,10)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .transform(ordered, "event_type")
    )


_STRAT_SQL = f"""
    WITH sampled AS (
      SELECT event_type, value FROM events
      WHERE {_H32.format(x="concat(CAST(event_id AS VARCHAR), '|r1')")} % 10000
            < CASE event_type WHEN 'purchase' THEN 10000
                              WHEN 'signup'   THEN 5000
                              ELSE 1000 END
    )
    SELECT event_type, COUNT(*) AS cnt,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_value
    FROM sampled GROUP BY event_type ORDER BY event_type
"""


def ext_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from MinHash-LSH candidate pairs via
    connected components (operators/pregel.connected_components):
    transitive closure collapses chains A~B, B~C into one cluster keyed
    by its min doc_id. This is the step that makes pair-emitting dedup
    actually usable — the keep/drop decision is per cluster, not per
    pair. The oracle recomputes the identical pairs then closes them
    with a recursive CTE."""
    from ..operators.pregel import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, num_hashes=16, bands=4)
    # The candidate-pair graph is a small fraction of the corpus; size
    # the per-round shuffle to the corpus scan width (planning metadata,
    # no job) instead of the global shuffle default — at sf0.1 that is a
    # handful of tasks per round, at 100 TB it grows with the input.
    n_parts = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        max(4, docs.rdd.getNumPartitions()),
    )
    cc = connected_components(
        pairs, src="doc_a", dst="doc_b", num_partitions=n_parts
    )
    return (
        cc.groupBy("component")
        .agg(F.count("*").alias("n_docs"))
        .transform(ordered, "component")
    )


def _components_oracle() -> str:
    return f"""
    WITH RECURSIVE {_minhash_pairs_ctes()},
    cedges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION
      SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach(s, d) AS (
      SELECT s, d FROM cedges
      UNION
      SELECT reach.s, cedges.d FROM reach JOIN cedges ON reach.d = cedges.s
    ),
    comp AS (
      SELECT s AS node, LEAST(s, MIN(d)) AS component FROM reach GROUP BY s
    )
    SELECT component, COUNT(*) AS n_docs
    FROM comp GROUP BY component ORDER BY component
"""


def ext_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leak-free train/val/test split keyed on doc_id
    (operators/split.hash_split): per-split document count and total
    chars. The oracle recomputes the identical md5-bucket CDF walk in
    SQL — proving the assignment is engine-portable, not a Spark RNG."""
    docs = load_table(spark, sf_dir, "documents")
    out = sp.hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="v1"
    )
    return (
        out.groupBy("split")
        .agg(F.count("*").alias("cnt"), F.sum("n_chars").alias("total_chars"))
        .transform(ordered, "split")
    )


_SPLIT_BUCKET = (
    _H32.format(x="concat(CAST(doc_id AS VARCHAR), '|v1')") + " % 10000"
)

_SPLIT_SQL = f"""
    WITH assigned AS (
      SELECT n_chars,
             CASE WHEN {_SPLIT_BUCKET} < 8000 THEN 'train'
                  WHEN {_SPLIT_BUCKET} < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, COUNT(*) AS cnt, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY split ORDER BY split
"""


def ext_sample_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample of lineitem by l_orderkey hash
    (operators/split.deterministic_sample): membership is a pure
    function of the key — stable across reruns, partition layouts, and
    engines (unlike df.sample). Sampling by ORDER key keeps whole
    orders together (all lineitems of an order in or out)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = sp.deterministic_sample(li, "l_orderkey", 0.1, salt="s1")
    return out.agg(
        F.count("*").alias("cnt"),
        F.round(F.sum(F.col("l_quantity").cast("decimal(28,10)")), 2)
        .cast("double")
        .alias("sum_qty"),
    )


_SAMPLE_SQL = f"""
    SELECT COUNT(*) AS cnt,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE {_H32.format(x="concat(CAST(l_orderkey AS VARCHAR), '|s1')")} % 10000 < 1000
"""


def ext_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.contamination_hits):
    docs with doc_id % 97 == 0 stand in for an eval suite; every other
    document is scored by how many distinct eval 3-grams it contains.
    The probe shingle set is broadcast, so the corpus-side check is
    map-side — no shuffle beyond the shingling exchange itself."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    hits = dd.contamination_hits(corpus, bench, n=3)
    return hits.select(
        F.col("doc").alias("doc_id"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
    ).transform(ordered, "doc_id")


_DECONTAM_SQL = f"""
    WITH {_GRAMS},
    bench AS (SELECT DISTINCT gram FROM shingles WHERE doc % 97 = 0),
    corp AS (SELECT doc, gram FROM shingles WHERE doc % 97 <> 0)
    SELECT corp.doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM corp JOIN bench ON corp.gram = bench.gram
    GROUP BY corp.doc ORDER BY doc_id
"""


def ext_text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-line removal (operators/text.dedup_lines,
    C4-style). The fixture corpus is single-line with no repetition, so
    the query CONSTRUCTS duplicates deterministically — every doc_id
    divisible by 3 gets its first 80 chars appended twice as extra
    lines — and the oracle mirrors the construction; the dedup then
    provably removes exactly one of the two injected copies (rows with
    n_kept=2), making the capability check non-vacuous."""
    from ..operators.text import dedup_lines

    docs = load_table(spark, sf_dir, "documents")
    head80 = F.substring("text", 1, 80)
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat("text", F.lit("\n"), head80, F.lit("\n"), head80),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = dedup_lines(aug)
    return out.select(
        "doc_id",
        F.col("n_kept").cast("bigint").alias("n_kept"),
        F.md5("text").alias("fp"),
    ).transform(ordered, "doc_id")


_LINE_DEDUP_SQL = """
    WITH aug AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN text || chr(10) || substr(text, 1, 80)
                              || chr(10) || substr(text, 1, 80)
                    ELSE text END AS text
        FROM documents
    ), split AS (
        SELECT doc_id, string_split(text, chr(10)) AS ls FROM aug
    ), lines AS (
        SELECT doc_id, unnest(ls) AS line,
               unnest(generate_series(1, len(ls))) AS pos
        FROM split
    ), firsts AS (
        SELECT doc_id, line, MIN(pos) AS pos
        FROM lines GROUP BY doc_id, line
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
           md5(string_agg(line, chr(10) ORDER BY pos)) AS fp
    FROM firsts GROUP BY doc_id ORDER BY doc_id
"""


def ext_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing (operators/pack.py): lay each
    source's documents end-to-end in doc_id order, cut the BPE-ish
    token stream every 2048 tokens, and report the packing layout per
    source — docs packed, sequences produced, boundary-spanning docs,
    and the widest span. One window shuffle per shard; exact integer
    arithmetic end-to-end, so the layout hash-matches DuckDB."""
    from ..operators.pack import concat_chunk_pack

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(BPE_TOKEN_RE), F.lit(0))
    ).cast("bigint")
    toks = docs.select("doc_id", "source", n_tok.alias("n_tok")).where(
        F.col("n_tok") > 0
    )
    packed = concat_chunk_pack(
        toks, "n_tok", "doc_id", seq_len=2048, shard_col="source"
    )
    return (
        packed.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            (F.max("last_seq") + F.lit(1)).alias("n_seqs"),
            F.sum(
                (F.col("first_seq") != F.col("last_seq")).cast("bigint")
            ).alias("boundary_docs"),
            F.max(F.col("last_seq") - F.col("first_seq") + F.lit(1)).alias(
                "max_span"
            ),
        )
        .transform(ordered, "source")
    )


def ext_pipeline_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenization FLAGSHIP (the third composition, after
    ext_pipeline_curate and ext_pipeline_analytics): quality gate ->
    overlapping chunking -> sequence packing in ONE lineage — the
    intake-to-training-examples shape. Docs surviving the quality gate
    (verdict != 'drop') are chunked (32-token windows, 4 overlap), and
    the chunk stream is packed into 256-token sequences per source;
    the report is the per-source packing layout plus total tokens.
    Exact integer arithmetic end-to-end (chunk ordinals, prefix sums),
    so the full composition hash-matches the oracle."""
    from ..operators.pack import concat_chunk_pack

    docs = load_table(spark, sf_dir, "documents")
    # the gate carries text through its projection (keep_cols, r12) —
    # the former kept_ids ⋈ docs join re-read the full text and
    # shuffled the corpus by id just to recover what the scoring pass
    # already had (same rewrite as ext_quality_classifier §6)
    kept = (
        tx.quality_score(docs, keep_cols=["text"])
        .where(F.col("verdict") != "drop")
        .select("doc_id", "text")
    )
    chunks = tx.chunk_documents(kept, chunk_size=32, overlap=4)
    withsrc = chunks.join(docs.select("doc_id", "source"), "doc_id")
    toks = withsrc.select(
        "source",
        (F.col("doc_id") * 10000 + F.col("chunk_id")).alias("ord"),
        F.col("n_tokens").cast("bigint").alias("n_tok"),
    ).where(F.col("n_tok") > 0)
    packed = concat_chunk_pack(
        toks, "n_tok", "ord", seq_len=256, shard_col="source"
    )
    return (
        packed.groupBy("source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_tok").alias("total_tokens"),
            (F.max("last_seq") + F.lit(1)).alias("n_seqs"),
            F.sum(
                (F.col("first_seq") != F.col("last_seq")).cast("bigint")
            ).alias("boundary_chunks"),
            F.max(F.col("last_seq") - F.col("first_seq") + F.lit(1)).alias(
                "max_span"
            ),
        )
        .transform(ordered, "source")
    )


_PRETOKENIZE_SQL = r"""
    WITH m AS (
      SELECT doc_id,
             CAST(len(list_filter(
               string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\s+'),
               w -> w <> '')) AS DOUBLE) AS n_tokens,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(text) - length(translate(text, '.,?:;!"', '')) AS DOUBLE) AS n_punct,
             CAST(len(list_filter(
               string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\s+'),
               w -> w IN ('the','and','of','to','is'))) AS DOUBLE) AS n_stop
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             LEAST(n_tokens / 200.0, 1.0) * 0.5
             + LEAST(n_stop / n_tokens * 4.0, 1.0) * 0.3
             + (1.0 - LEAST(n_punct / n_chars * 10.0, 1.0)) * 0.2 AS score
      FROM m
    ),
    kept AS (SELECT doc_id FROM s WHERE score >= 0.3),
    toks AS (
      SELECT doc_id, word, i FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\s+')) AS word,
               generate_subscripts(string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\s+'), 1) AS i
        FROM documents
      ) WHERE word <> ''
    ),
    ord2 AS (
      SELECT t.doc_id, t.word,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY t.i) AS o
      FROM toks t JOIN kept USING (doc_id)
    ),
    n AS (SELECT doc_id, COUNT(*) AS n FROM ord2 GROUP BY doc_id),
    chunks AS (
      SELECT doc_id,
             unnest(generate_series(0,
               CAST(FLOOR((GREATEST(n - 4, 1) + 27) / 28.0) AS INT) - 1)) AS ci
      FROM n
    ),
    chtok AS (
      SELECT c.doc_id, c.ci, COUNT(*) AS n_tok
      FROM chunks c JOIN ord2 o
        ON o.doc_id = c.doc_id
       AND o.o > c.ci * 28 AND o.o <= c.ci * 28 + 32
      GROUP BY c.doc_id, c.ci
    ),
    withsrc AS (
      SELECT d.source, ch.doc_id * 10000 + ch.ci AS ord, ch.n_tok
      FROM chtok ch JOIN documents d USING (doc_id)
      WHERE ch.n_tok > 0
    ),
    pos AS (
      SELECT source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY ord
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off
      FROM withsrc
    ),
    seqs AS (
      SELECT source, n_tok,
             (end_off - n_tok) // 256 AS first_seq,
             (end_off - 1) // 256 AS last_seq
      FROM pos
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(MAX(last_seq) + 1 AS BIGINT) AS n_seqs,
           CAST(SUM(CASE WHEN first_seq <> last_seq THEN 1 ELSE 0 END)
                AS BIGINT) AS boundary_chunks,
           CAST(MAX(last_seq - first_seq + 1) AS BIGINT) AS max_span
    FROM seqs GROUP BY source ORDER BY source
"""


_PACK_SQL = r"""
    WITH toks AS (
        SELECT doc_id, source,
               len(regexp_extract_all(lower(text),
                   '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_tok
        FROM documents
    ), pos AS (
        SELECT source, n_tok,
               SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off
        FROM toks WHERE n_tok > 0
    ), seqs AS (
        SELECT source,
               (end_off - n_tok) // 2048 AS first_seq,
               (end_off - 1) // 2048 AS last_seq
        FROM pos
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(last_seq) + 1 AS BIGINT) AS n_seqs,
           CAST(SUM(CASE WHEN first_seq <> last_seq THEN 1 ELSE 0 END)
                AS BIGINT) AS boundary_docs,
           CAST(MAX(last_seq - first_seq + 1) AS BIGINT) AS max_span
    FROM seqs GROUP BY source ORDER BY source
"""


def ext_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators/text.redact_pii). The fixture corpus has no
    PII, so the query CONSTRUCTS it deterministically — every doc_id
    divisible by 5 gets an email, an IPv4, and a phone number derived
    from its own id appended — and the oracle mirrors the construction;
    the scrub then provably finds and masks exactly the injected
    tokens (n_email=n_ip=n_phone=1 on those rows, 0 elsewhere), making
    the capability check non-vacuous."""
    docs = load_table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact a"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com via 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(" or 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, injected)
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = tx.redact_pii(aug)
    return out.select(
        "doc_id", "n_email", "n_ip", "n_phone", F.md5("text").alias("fp")
    ).transform(ordered, "doc_id")


_PII_SQL = f"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN text || ' contact a' || CAST(doc_id AS VARCHAR)
                       || '@example.com via 10.0.'
                       || CAST(doc_id % 256 AS VARCHAR) || '.'
                       || CAST(doc_id % 100 AS VARCHAR) || ' or 555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{tx.PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '{tx.PII_IPV4}')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(text, '{tx.PII_PHONE}')) AS BIGINT) AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{tx.PII_EMAIL}', '<EMAIL>', 'g'),
               '{tx.PII_IPV4}', '<IP>', 'g'),
               '{tx.PII_PHONE}', '<PHONE>', 'g')) AS fp
    FROM aug ORDER BY doc_id
"""


def ext_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality metrics
    (operators/text.repetition_stats): distinct-token ratio, top-bigram
    mass, duplicate-bigram fraction — the rule-filter family used to
    drop boilerplate/spam before training. Non-vacuous on the fixture:
    the word-salad corpus has heavy natural token repetition."""
    docs = load_table(spark, sf_dir, "documents")
    out = tx.repetition_stats(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "uniq_token_ratio",
        "top_bigram_frac",
        "dup_bigram_frac",
    ).transform(ordered, "doc_id")


_REPETITION_SQL = f"""
    WITH {_TOKS},
    base AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             ROUND(CAST(COUNT(DISTINCT word) AS DOUBLE) / COUNT(*), 5)
               AS uniq_token_ratio
      FROM toks GROUP BY doc_id HAVING COUNT(*) >= 2
    ),
    bg AS (
      SELECT doc_id,
             word || ' ' || LEAD(word, 1)
               OVER (PARTITION BY doc_id ORDER BY i) AS bigram
      FROM toks
    ),
    bgc AS (
      SELECT doc_id, bigram, COUNT(*) AS cnt
      FROM bg WHERE bigram IS NOT NULL GROUP BY doc_id, bigram
    ),
    pd AS (
      SELECT doc_id, MAX(cnt) AS max_cnt, SUM(cnt) AS n_bg,
             COUNT(*) AS n_dist
      FROM bgc GROUP BY doc_id
    )
    SELECT base.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           uniq_token_ratio,
           ROUND(CAST(max_cnt AS DOUBLE) / n_bg, 5) AS top_bigram_frac,
           ROUND(1.0 - CAST(n_dist AS DOUBLE) / n_bg, 5) AS dup_bigram_frac
    FROM base JOIN pd ON base.doc_id = pd.doc_id
    ORDER BY base.doc_id
"""


def ext_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build (operators/text.vocab_topn): top-50
    tokens by frequency, (cnt DESC, word ASC) tie-break — the exact
    heavy-hitters tier under a tokenizer-vocab pipeline. The plan is
    partial-agg -> one token-keyed shuffle -> TakeOrderedAndProject, so
    result size is O(n) independent of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    out = tx.vocab_topn(docs, n=50)
    return out.select(
        F.col("rank").cast("bigint").alias("rnk"), "word", "cnt"
    ).transform(ordered, "rnk")


_VOCAB_SQL = f"""
    WITH {_TOKS},
    c AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS BIGINT)
             AS rnk,
           word, cnt
    FROM c ORDER BY cnt DESC, word LIMIT 50
"""


def ext_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END dedup keep-decision — the full pipeline a training
    corpus actually runs: MinHash-LSH candidate pairs -> connected
    components -> keep the HIGHEST-QUALITY document per duplicate
    cluster (quality_score rank, doc_id tie-break), drop the rest.
    Composes three operator families (dedup, graph, text quality) into
    one lineage; the oracle replays pairs + recursive-CTE closure +
    the score formula and picks the same winner."""
    from ..operators.pregel import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, num_hashes=16, bands=4)
    n_parts = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        max(4, docs.rdd.getNumPartitions()),
    )
    cc = connected_components(
        pairs, src="doc_a", dst="doc_b", num_partitions=n_parts
    )
    scored = tx.quality_score(docs).select("doc_id", "score")
    j = cc.join(scored, cc.id == scored.doc_id)
    # the winner under (score DESC, doc_id ASC) is the lexicographic
    # max of (score, -doc_id) — one hash aggregate with map-side
    # partials replaces the row_number window + its sort (same r12
    # rewrite as kmeans' struct-min argmin); ties impossible because
    # doc_id is unique within a component
    best = F.max(F.struct(F.col("score"), (-F.col("doc_id")).alias("_nid")))
    # lazy cut below the final sort, which matters only when
    # ``ordered`` keeps the range sort: the range exchange's sampling
    # pass re-executes the score scan + join + aggregate segment
    # (RDD-level; see ext_winsorize). Cut is component-count-sized.
    return lineage_cut(
        j.groupBy("component")
        .agg(
            (-best.getField("_nid")).alias("kept_doc"),
            F.count("*").alias("n_docs"),
            (F.count("*") - 1).alias("n_dropped"),
        )
    ).transform(ordered, "component")


def _canonical_oracle() -> str:
    return f"""
    WITH RECURSIVE {_minhash_pairs_ctes()},
    cedges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION
      SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach(s, d) AS (
      SELECT s, d FROM cedges
      UNION
      SELECT reach.s, cedges.d FROM reach JOIN cedges ON reach.d = cedges.s
    ),
    comp AS (
      SELECT s AS node, LEAST(s, MIN(d)) AS component FROM reach GROUP BY s
    ),
    qm AS (
      SELECT doc_id,
             CAST(len(list_filter(
               string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\\s+'),
               w -> w <> '')) AS DOUBLE) AS n_tokens,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(text) - length(translate(text, '.,?:;!"', '')) AS DOUBLE) AS n_punct,
             CAST(len(list_filter(
               string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\\s+'),
               w -> w IN ('the','and','of','to','is'))) AS DOUBLE) AS n_stop
      FROM documents
    ),
    qs AS (
      SELECT doc_id,
             ROUND(LEAST(n_tokens / 200.0, 1.0) * 0.5
             + LEAST(n_stop / n_tokens * 4.0, 1.0) * 0.3
             + (1.0 - LEAST(n_punct / n_chars * 10.0, 1.0)) * 0.2, 5) AS score
      FROM qm
    ),
    ranked AS (
      SELECT comp.component, comp.node AS doc_id, qs.score,
             ROW_NUMBER() OVER (PARTITION BY comp.component
                                ORDER BY qs.score DESC, comp.node) AS rn
      FROM comp JOIN qs ON comp.node = qs.doc_id
    )
    SELECT component,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM ranked GROUP BY component ORDER BY component
"""


def ext_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-incremental ingestion dedup
    (operators/dedup.incremental_dedup): even doc_ids play the
    already-ingested corpus (fingerprint store), odd doc_ids arrive as
    the new batch. The fixture has no cross-doc exact duplicates, so
    the query CONSTRUCTS them — every odd doc_id ≡ 1 (mod 5) takes its
    even predecessor's text — and the oracle mirrors the construction;
    the anti join then provably drops exactly the planted rows."""
    docs = load_table(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") % 2 == 0)
    base_new = docs.where(F.col("doc_id") % 2 == 1)
    donor = docs.select(
        (F.col("doc_id") + 1).alias("_nid"), F.col("text").alias("_dtext")
    )
    new = base_new.join(
        donor, base_new.doc_id == donor._nid, "left"
    ).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 1, F.coalesce("_dtext", "text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    seen_fps = tx.content_fingerprint(seen).select("fingerprint")
    kept = dd.incremental_dedup(new, seen_fps)
    return kept.select("doc_id", "fingerprint").transform(ordered, "doc_id")


_FP_EXPR = """CAST('0x' || substr(md5(
             trim(regexp_replace(lower(translate({t}, '.,?:;!"', '       ')),
                                 '\\s+', ' ', 'g'))
           ), 1, 15) AS BIGINT)"""

_INCR_DEDUP_SQL = f"""
    WITH new AS (
      SELECT n.doc_id,
             CASE WHEN n.doc_id % 5 = 1
                  THEN COALESCE(d.text, n.text) ELSE n.text END AS text
      FROM documents n
      LEFT JOIN documents d ON d.doc_id + 1 = n.doc_id
      WHERE n.doc_id % 2 = 1
    ),
    seen_fps AS (
      SELECT {_FP_EXPR.format(t='text')} AS fp
      FROM documents WHERE doc_id % 2 = 0
    )
    SELECT doc_id, {_FP_EXPR.format(t='text')} AS fingerprint
    FROM new
    WHERE {_FP_EXPR.format(t='text')} NOT IN (SELECT fp FROM seen_fps)
    ORDER BY doc_id
"""


def ext_dedup_incremental_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-incremental NEAR-dup ingestion dedup
    (operators/dedup.incremental_dedup_fuzzy): even doc_ids form the
    persistent MinHash signature store (signature_store_rows), odd
    doc_ids arrive as the new batch. The fixture has no cross-doc
    near-duplicates, so the query CONSTRUCTS them: odd ids ≡ 1 (mod 5)
    take their even predecessor's text plus a 3-token tail (a near-dup
    of a STORED doc), odd ids ≡ 7 (mod 10) copy the text of batch doc
    id-2 (a dup of an EARLIER batch doc, exercising keep-first). The
    oracle recomputes the identical portable signatures, band keys,
    and signature-equality Jaccard estimates in DuckDB, so the check
    is exact — survivors AND their sig0 component must match."""
    docs = load_table(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    base_new = docs.where(F.col("doc_id") % 2 == 1)
    de = docs.select(
        (F.col("doc_id") + 1).alias("_nid"), F.col("text").alias("_dtext")
    )
    do = docs.select(
        (F.col("doc_id") + 2).alias("_pid"), F.col("text").alias("_ptext")
    )
    new = (
        base_new.join(de, base_new.doc_id == de._nid, "left")
        .join(do, base_new.doc_id == do._pid, "left")
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 1,
                F.coalesce(
                    F.concat(F.col("_dtext"), F.lit(" graft extra tail")),
                    F.col("text"),
                ),
            )
            .when(
                F.col("doc_id") % 10 == 7,
                F.coalesce(F.col("_ptext"), F.col("text")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    sig = dd.minhash_signatures(seen)
    docsigs = sig.select(
        "doc", F.array(*[F.col(f"sig{i}") for i in range(16)]).alias("sigs")
    )
    store = dd.signature_store_rows(docsigs)
    kept = dd.incremental_dedup_fuzzy(new, store, threshold=0.5)
    # NOTE r13: a pre-sort lazy cut A/B-measured clearly slower (3.76
    # vs 2.61 s fresh min) — the anti-join segment re-reads shuffle
    # files cheaply; the cut only added materialization.
    return kept.select(
        "doc_id", F.element_at("sigs", 1).alias("sig0")
    ).transform(ordered, "doc_id")


def _sig_ctes_for(src: str, p: str, num_hashes: int = 16) -> str:
    """toks/grams/shingle-hash/sigs CTE chain (prefix ``p``) over an
    arbitrary (doc_id, text) relation ``src`` — the portable MinHash
    pipeline parameterized so the fuzzy-incremental oracle can run it
    over both the constructed batch and the store side."""
    params = minhash_params(num_hashes, 42)
    sig_exprs = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS sig{i}"
        for i, (a, b) in enumerate(params)
    )
    split = (
        "string_split_regex(lower(translate(text, '.,?:;!\"', '       ')), "
        "'\\s+')"
    )
    return f"""{p}toks AS (
      SELECT doc_id, word, i FROM (
        SELECT doc_id, unnest({split}) AS word,
               generate_subscripts({split}, 1) AS i
        FROM {src}
      ) WHERE word <> ''
    ),
    {p}grams AS (
      SELECT doc_id,
             word || ' ' || LEAD(word, 1) OVER w || ' ' ||
             LEAD(word, 2) OVER w AS gram
      FROM {p}toks WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    {p}hashed AS (
      SELECT doc_id AS doc, {_H32.format(x='gram')} AS h
      FROM {p}grams WHERE gram IS NOT NULL
    ),
    {p}sigs AS (SELECT doc, {sig_exprs} FROM {p}hashed GROUP BY doc)"""


def _fuzzy_incr_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    rows = num_hashes // bands
    def bands_sql(p: str) -> str:
        cols = ", ".join(f"sig{i}" for i in range(num_hashes))
        return " UNION ALL ".join(
            "SELECT {bi} AS band, concat_ws('_', {keys}) AS key, doc, {cols}"
            " FROM {p}sigs".format(
                bi=bi,
                keys=", ".join(f"sig{bi * rows + r}" for r in range(rows)),
                cols=cols,
                p=p,
            )
            for bi in range(bands)
        )
    est = " + ".join(
        f"CASE WHEN a.sig{i} = b.sig{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""
    WITH newdocs AS (
      SELECT n.doc_id,
             CASE WHEN n.doc_id % 5 = 1
                    THEN COALESCE(d.text || ' graft extra tail', n.text)
                  WHEN n.doc_id % 10 = 7
                    THEN COALESCE(p.text, n.text)
                  ELSE n.text END AS text
      FROM documents n
      LEFT JOIN documents d ON d.doc_id + 1 = n.doc_id
      LEFT JOIN documents p ON p.doc_id + 2 = n.doc_id
      WHERE n.doc_id % 2 = 1
    ),
    seendocs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ),
    {_sig_ctes_for('newdocs', 'n_')},
    {_sig_ctes_for('seendocs', 's_')},
    n_bands AS ({bands_sql('n_')}),
    s_bands AS ({bands_sql('s_')}),
    hit_store AS (
      SELECT DISTINCT a.doc
      FROM n_bands a JOIN s_bands b
        ON a.band = b.band AND a.key = b.key
      WHERE ({est}) / {float(num_hashes)} >= 0.5
    ),
    hit_batch AS (
      SELECT DISTINCT a.doc
      FROM n_bands a JOIN n_bands b
        ON a.band = b.band AND a.key = b.key AND a.doc > b.doc
      WHERE ({est}) / {float(num_hashes)} >= 0.5
    )
    SELECT n.doc_id, ns.sig0 AS sig0
    FROM newdocs n LEFT JOIN n_sigs ns ON ns.doc = n.doc_id
    WHERE n.doc_id NOT IN (SELECT doc FROM hit_store)
      AND n.doc_id NOT IN (SELECT doc FROM hit_batch)
    ORDER BY doc_id
"""


def ext_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture report: ROLLUP over (source, lang) with document
    counts and BPE-ish token totals — the table a data-mixture plan is
    drawn from (how many tokens does each source×language cell hold,
    with source and grand totals). One shuffle with partial aggs; the
    rollup adds no extra pass (Catalyst expands grouping sets in the
    same aggregation)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(BPE_TOKEN_RE), F.lit(0))
    ).cast("bigint")
    return (
        docs.select("source", "lang", n_tok.alias("n_tok"))
        .rollup("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
        .select(
            F.coalesce("source", F.lit("ALL")).alias("source"),
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            "n_docs",
            "total_tokens",
        )
        .transform(ordered, "source", "lang")
    )


_CORPUS_REPORT_SQL = r"""
    WITH toks AS (
      SELECT source, lang,
             len(regexp_extract_all(lower(text),
                 '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_tok
      FROM documents
    )
    SELECT COALESCE(source, 'ALL') AS source,
           COALESCE(lang, 'ALL') AS lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM toks GROUP BY ROLLUP (source, lang)
    ORDER BY source, lang
"""


def ext_sample_quality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted mixture resampling — the operator COMPOSITION a
    curated training mix needs: score every doc
    (operators/text.quality_score), then keep a per-verdict fraction
    deterministically (operators/split.stratified_sample, rates
    keep=1.0 / review=0.5 / drop=0.1). Membership is a pure function of
    (doc_id, salt), so the curated mix is reproducible across reruns
    and engines; the oracle replays the score, the verdict, and the
    md5-CDF filter in SQL. Zero-shuffle until the final reporting agg."""
    docs = load_table(spark, sf_dir, "documents")
    # n_chars rides the gate's projection (keep_cols, r12) — the
    # former docs ⋈ scored id join re-read the corpus for one column
    joined = tx.quality_score(docs, keep_cols=["n_chars"]).select(
        "doc_id", "n_chars", "verdict"
    )
    sampled = sp.stratified_sample(
        joined,
        key="doc_id",
        strata="verdict",
        fractions={"keep": 1.0, "review": 0.5, "drop": 0.1},
        salt="mix1",
    )
    return (
        sampled.groupBy("verdict")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .transform(ordered, "verdict")
    )


def _quality_mix_oracle() -> str:
    bucket = _H32.format(x="concat(CAST(doc_id AS VARCHAR), '|mix1')") + " % 10000"
    # verdict CTEs reused verbatim from the quality oracle (same score)
    return f"""
    WITH m AS (
      SELECT doc_id, n_chars AS doc_chars,
             CAST(len(list_filter(
               string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\\s+'),
               w -> w <> '')) AS DOUBLE) AS n_tokens,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(text) - length(translate(text, '.,?:;!"', '')) AS DOUBLE) AS n_punct,
             CAST(len(list_filter(
               string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\\s+'),
               w -> w IN ('the','and','of','to','is'))) AS DOUBLE) AS n_stop
      FROM documents
    ),
    s AS (
      SELECT doc_id, doc_chars,
             LEAST(n_tokens / 200.0, 1.0) * 0.5
             + LEAST(n_stop / n_tokens * 4.0, 1.0) * 0.3
             + (1.0 - LEAST(n_punct / n_chars * 10.0, 1.0)) * 0.2 AS score
      FROM m
    ),
    v AS (
      SELECT doc_id, doc_chars,
             CASE WHEN score >= 0.6 THEN 'keep'
                  WHEN score >= 0.3 THEN 'review'
                  ELSE 'drop' END AS verdict
      FROM s
    )
    SELECT verdict, COUNT(*) AS n_docs,
           CAST(SUM(doc_chars) AS BIGINT) AS total_chars
    FROM v
    WHERE {bucket} < CASE verdict WHEN 'keep' THEN 10000
                                  WHEN 'review' THEN 5000
                                  ELSE 1000 END
    GROUP BY verdict ORDER BY verdict
"""


def ext_kmeans_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding clustering via deterministic quantized Lloyd k-means
    (operators/similarity.kmeans_lloyd, k=4, 3 iterations) — the
    semantic-dedup / corpus-curation tier above pairwise near-dup:
    cluster the space, then curate per cluster. The oracle replays the
    identical integer-quantized iterations as unrolled CTEs, proving an
    ITERATIVE numeric algorithm hash-matches across engines — the same
    portability property the relational queries get from decimals."""
    emb = load_table(spark, sf_dir, "embeddings")
    assign, cents = sim.kmeans_lloyd(
        emb, vec_col="embedding", id_col="vec_id", k=4, iters=3
    )
    counts = assign.groupBy("cluster").agg(F.count("*").alias("n_points"))
    l1 = cents.select(
        "cluster",
        F.aggregate(
            F.transform("centroid", lambda x: F.abs(x)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("c_l1"),
    )
    return (
        l1.join(counts, "cluster", "left")
        .select(
            "cluster",
            F.coalesce("n_points", F.lit(0).cast("bigint")).alias("n_points"),
            "c_l1",
        )
        .transform(ordered, "cluster")
    )


def _kmeans_assign_cte(
    k: int = 4, iters: int = 3, scale: int = 1_000_000
) -> str:
    """WITH-prefix replaying kmeans_lloyd's quantized iterations as
    unrolled CTEs, ending at ``afin`` (vec_id, cl) — the final
    assignment. Shared by _kmeans_oracle and the staged_r11 SemDeDup
    oracle (which prunes within the afin clusters)."""
    sql = f"""
    WITH qv AS (
      SELECT vec_id, ord, CAST(ROUND(CAST(val AS DOUBLE) * {scale}) AS BIGINT) AS q
      FROM (
        SELECT vec_id, unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS ord
        FROM embeddings
      )
    ), cent0 AS (
      SELECT vec_id AS cl, ord, q FROM qv WHERE vec_id < {k}
    )"""
    prev = "cent0"
    for i in range(1, iters + 1):
        sql += f""",
    d{i} AS (
      SELECT p.vec_id, c.cl, SUM((p.q - c.q) * (p.q - c.q)) AS d
      FROM qv p JOIN {prev} c ON p.ord = c.ord
      GROUP BY p.vec_id, c.cl
    ), a{i} AS (
      SELECT vec_id, cl FROM d{i}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cl) = 1
    ), cent{i} AS (
      SELECT a.cl, p.ord,
             CAST(FLOOR(CAST(SUM(p.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS q
      FROM a{i} a JOIN qv p ON a.vec_id = p.vec_id
      GROUP BY a.cl, p.ord
    )"""
        prev = f"cent{i}"
    return (
        sql
        + f""",
    dfin AS (
      SELECT p.vec_id, c.cl, SUM((p.q - c.q) * (p.q - c.q)) AS d
      FROM qv p JOIN {prev} c ON p.ord = c.ord
      GROUP BY p.vec_id, c.cl
    ), afin AS (
      SELECT vec_id, cl FROM dfin
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cl) = 1
    )"""
    )


def _kmeans_oracle(k: int = 4, iters: int = 3, scale: int = 1_000_000) -> str:
    return (
        _kmeans_assign_cte(k, iters, scale)
        + f""", cnt AS (
      SELECT cl, COUNT(*) AS n_points FROM afin GROUP BY cl
    ), l1 AS (
      SELECT cl, SUM(ABS(q)) AS c_l1 FROM cent{iters} GROUP BY cl
    )
    SELECT l1.cl AS cluster,
           CAST(COALESCE(cnt.n_points, 0) AS BIGINT) AS n_points,
           CAST(l1.c_l1 AS BIGINT) AS c_l1
    FROM l1 LEFT JOIN cnt ON l1.cl = cnt.cl ORDER BY cluster
"""
    )


def ext_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords (operators/text.tfidf_topk):
    keyword extraction for corpus exploration / topic routing. score =
    tf * ln(N/df), rank by (score DESC, word ASC). The corpus size
    enters as a broadcast single-row relation — no driver action."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.tfidf_topk(docs, k=3).transform(ordered, "doc_id", "rank")


_TFIDF_SQL = f"""
    WITH {_TOKS},
    tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY doc_id, word
    ),
    dfreq AS (SELECT word, COUNT(*) AS dfc FROM tf GROUP BY word),
    n AS (SELECT COUNT(*) AS nd FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word,
             tf.tf * ln(nd * 1.0 / dfc) AS score,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln(nd * 1.0 / dfc) DESC, tf.word
             ) AS rank
      FROM tf JOIN dfreq ON dfreq.word = tf.word CROSS JOIN n
    )
    SELECT doc_id, rank, word, ROUND(score, 5) AS score
    FROM scored WHERE rank <= 3 ORDER BY doc_id, rank
"""


def ext_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (operators/text.
    boilerplate_lines): lines occurring in >= 3 distinct docs — license
    headers / site chrome. The single-line fixture corpus shares no
    lines naturally, so the query CONSTRUCTS a per-source header line
    on every even doc_id (mirrored by the oracle), which the detector
    must recover exactly — one (header, count) row per source."""
    docs = load_table(spark, sf_dir, "documents")
    header = F.concat(F.lit("NOTICE "), F.col("source"), F.lit(" TERMS"))
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(header, F.lit("\n"), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return tx.boilerplate_lines(aug, min_docs=3)


_BOILERPLATE_SQL = """
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN 'NOTICE ' || source || ' TERMS' || chr(10) || text
                  ELSE text END AS text
      FROM documents
    ), lines AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, chr(10))) AS line
      FROM aug
    )
    SELECT line, COUNT(*) AS n_docs
    FROM lines GROUP BY line HAVING COUNT(*) >= 3 ORDER BY line
"""


def ext_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest normalization (operators/text.clean_text): strip HTML
    tags + control chars, collapse space runs. The fixture is already
    clean, so noise is CONSTRUCTED on every doc_id % 4 == 0 (a <p> tag
    pair, a control byte, doubled spaces — oracle mirrors it); the
    cleaner must produce the original text back (fp equality proves
    byte-exact restoration) and count what it removed."""
    docs = load_table(spark, sf_dir, "documents")
    noisy = F.concat(
        F.lit("<p  class='x'> "),
        F.col("text"),
        F.lit(" </p>"),
        F.lit("\x01"),
    )
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0, noisy)
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = tx.clean_text(aug)
    return out.select(
        "doc_id", F.md5("text").alias("fp"), "n_tags", "n_ctrl"
    ).transform(ordered, "doc_id")


_CLEAN_SQL = r"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0
                  THEN '<p  class=''x''> ' || text || ' </p>' || chr(1)
                  ELSE text END AS text
      FROM documents
    ), cleaned AS (
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(
                 regexp_replace(text, '<[^>]*>', ' ', 'g'),
                 '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g'),
               '[ \t]+', ' ', 'g')) AS t,
             CAST(len(regexp_extract_all(text, '<[^>]*>')) AS BIGINT)
               AS n_tags,
             CAST(len(regexp_extract_all(text,
               '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS BIGINT) AS n_ctrl
      FROM aug
    )
    SELECT doc_id, md5(t) AS fp, n_tags, n_ctrl
    FROM cleaned ORDER BY doc_id
"""


def ext_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional downsampling (operators/split.
    weighted_sample): keep probability = (doc_id % 10 + 1)/10 — a
    deterministic stand-in for a per-row quality weight, spread across
    the full range so every decile is exercised. Reports kept counts
    and chars per language; membership is a pure hash predicate the
    oracle replays exactly."""
    docs = load_table(spark, sf_dir, "documents")
    weight = ((F.col("doc_id") % 10 + 1) / F.lit(10.0)).cast("double")
    kept = sp.weighted_sample(docs, "doc_id", weight, salt="w1")
    return (
        kept.groupBy("lang")
        .agg(F.count("*").alias("cnt"), F.sum("n_chars").alias("total_chars"))
        .transform(ordered, "lang")
    )


_WEIGHTED_BUCKET = _H32.format(x="concat(CAST(doc_id AS VARCHAR), '|w1')") + " % 10000"

_WEIGHTED_SQL = f"""
    WITH kept AS (
      SELECT lang, n_chars FROM documents
      WHERE {_WEIGHTED_BUCKET}
            < FLOOR(((doc_id % 10 + 1) / 10.0) * 10000)
    )
    SELECT lang, COUNT(*) AS cnt,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM kept GROUP BY lang ORDER BY lang
"""


def ext_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights per source (operators/split.
    temperature_weights, alpha=0.5): the multilingual-rebalancing rule
    (share ∝ mass^alpha) that decides how many tokens each corpus
    contributes to a training mix. Two broadcast single-row joins carry
    the normalizing constants — no driver action, #sources-sized."""
    docs = load_table(spark, sf_dir, "documents")
    return sp.temperature_weights(docs, "source", "n_chars", alpha=0.5)


_MIX_SQL = """
    WITH sizes AS (
      SELECT source AS grp, CAST(SUM(n_chars) AS BIGINT) AS mass
      FROM documents GROUP BY source
    ), tot AS (SELECT SUM(mass) AS t FROM sizes),
    scaled AS (
      SELECT grp, mass, mass * 1.0 / t AS share_raw,
             POWER(mass * 1.0 / t, 0.5) AS w
      FROM sizes CROSS JOIN tot
    ), ws AS (SELECT SUM(w) AS sw FROM scaled)
    SELECT grp, mass, ROUND(share_raw, 5) AS share,
           ROUND(w / sw, 5) AS weight
    FROM scaled CROSS JOIN ws ORDER BY grp
"""


def ext_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/test split: near-duplicate documents (MinHash
    LSH pairs -> connected components) must land in the SAME split, or
    test contamination leaks through paraphrases exact-dedup misses.
    Split key = the doc's duplicate-cluster id (own id when unique);
    the oracle closes the identical pair graph with a recursive CTE and
    replays the hash-CDF walk. Output: per-split docs and clusters."""
    from ..operators.pregel import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, num_hashes=16, bands=4)
    n_parts = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        max(4, docs.rdd.getNumPartitions()),
    )
    cc = connected_components(
        pairs, src="doc_a", dst="doc_b", num_partitions=n_parts
    )
    keyed = docs.join(
        cc.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).withColumn("ckey", F.coalesce("component", "doc_id"))
    assigned = sp.hash_split(
        keyed, "ckey", {"train": 0.9, "test": 0.1}, salt="cl"
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("ckey").alias("n_clusters"),
        )
        .transform(ordered, "split")
    )


def _leakage_split_oracle() -> str:
    ckey_bucket = _H32.format(x="concat(CAST(ckey AS VARCHAR), '|cl')") + " % 10000"
    return f"""
    WITH RECURSIVE {_minhash_pairs_ctes()},
    cedges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION
      SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach(s, d) AS (
      SELECT s, d FROM cedges
      UNION
      SELECT reach.s, cedges.d FROM reach JOIN cedges ON reach.d = cedges.s
    ),
    comp AS (
      SELECT s AS node, LEAST(s, MIN(d)) AS component FROM reach GROUP BY s
    ),
    ck AS (
      SELECT d.doc_id, COALESCE(comp.component, d.doc_id) AS ckey
      FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    ),
    assign AS (
      SELECT doc_id, ckey,
             CASE WHEN {ckey_bucket} < 9000 THEN 'train' ELSE 'test' END
               AS split
      FROM ck
    )
    SELECT split, COUNT(*) AS n_docs,
           COUNT(DISTINCT ckey) AS n_clusters
    FROM assign GROUP BY split ORDER BY split
"""


def ext_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking (operators/text.
    chunk_documents, chunk=8 tokens / overlap=2 at fixture scale so
    multi-chunk docs are exercised): every doc becomes ceil(max(n-2,1)/6)
    chunks; fp pins the exact token content of each chunk. Zero-shuffle
    narrow generator — the oracle reproduces ordinal slicing in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    out = tx.chunk_documents(docs, chunk_size=8, overlap=2)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.md5("text").alias("fp"),
    ).transform(ordered, "doc_id", "chunk_id")


_CHUNK_SQL = f"""
    WITH {_TOKS},
    ord AS (
      SELECT doc_id, word,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS o
      FROM toks
    ),
    n AS (SELECT doc_id, COUNT(*) AS n FROM ord GROUP BY doc_id),
    chunks AS (
      SELECT doc_id,
             unnest(generate_series(0,
               CAST(FLOOR((GREATEST(n - 2, 1) + 5) / 6.0) AS INT) - 1)) AS ci
      FROM n
    ),
    assigned AS (
      SELECT c.doc_id, c.ci, o.word, o.o
      FROM chunks c JOIN ord o
        ON o.doc_id = c.doc_id
       AND o.o > c.ci * 6 AND o.o <= c.ci * 6 + 8
    )
    SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
           COUNT(*) AS n_tokens,
           md5(string_agg(word, ' ' ORDER BY o)) AS fp
    FROM assigned GROUP BY doc_id, ci ORDER BY doc_id, chunk_id
"""


def ext_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup clusters: embedding near-dup PAIRS (block-pair
    GEMM, operators/similarity.embedding_near_dup_pairs) closed into
    duplicate CLUSTERS by connected components — the embedding-space
    counterpart of ext_dedup_canonical's text-LSH pipeline, catching
    paraphrases that share no shingles. Keep-id = min vec_id per
    cluster (the component label)."""
    from ..operators.pregel import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = sim.embedding_near_dup_pairs(emb, threshold=0.4)
    n_parts = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        max(4, emb.rdd.getNumPartitions()),
    )
    cc = connected_components(
        pairs, src="vec_a", dst="vec_b", num_partitions=n_parts
    )
    return (
        cc.groupBy("component")
        .agg(F.count("*").alias("n_vecs"))
        .transform(ordered, "component")
    )


_SEMANTIC_SQL = f"""
    WITH RECURSIVE
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    spairs AS (
      SELECT a.vec_id AS pa, b.vec_id AS pb
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE {_COS.format(a='a.v', b='b.v')} >= 0.4
    ),
    cedges AS (
      SELECT pa AS s, pb AS d FROM spairs
      UNION
      SELECT pb AS s, pa AS d FROM spairs
    ),
    reach(s, d) AS (
      SELECT s, d FROM cedges
      UNION
      SELECT reach.s, cedges.d FROM reach JOIN cedges ON reach.d = cedges.s
    ),
    comp AS (
      SELECT s AS node, LEAST(s, MIN(d)) AS component FROM reach GROUP BY s
    )
    SELECT component, COUNT(*) AS n_vecs
    FROM comp GROUP BY component ORDER BY component
"""


def ext_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation FLAGSHIP: one pipeline chaining the quality
    gate (quality_score), PII census (redact_pii counts), embedding
    LSH bucket grouping (lsh_bucket_signatures % 4), and the
    deterministic hash split — the shape of a real pre-training intake
    job. Reports per (split, verdict, bucket-group): doc count, exact
    integer-scaled score mass (avg would be FP-order-dependent), PII
    hits. Joins are all keyed on doc id; the only non-doc-keyed work is
    the 4-plane signature projection (narrow)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # quality gate and PII census are both pure per-row projections —
    # CHAIN them (keep_cols, r12) instead of computing each from docs
    # and joining on doc_id, which read the corpus twice and paid a
    # corpus x corpus id join for columns one pass produces
    qpii = tx.redact_pii(
        tx.quality_score(docs, keep_cols=["text"]),
        keep_cols=["score", "verdict"],
    ).select(
        "doc_id",
        "score",
        "verdict",
        (F.col("n_email") + F.col("n_ip") + F.col("n_phone")).alias("n_pii"),
    )
    sig = sim.lsh_bucket_signatures(emb, n_planes=4, dim=64).select(
        F.col("vec_id").alias("doc_id"), (F.col("bucket") % 4).alias("bgroup")
    )
    joined = qpii.join(sig, "doc_id")
    assigned = sp.hash_split(
        joined, "doc_id", {"train": 0.9, "test": 0.1}, salt="cur"
    )
    return (
        assigned.groupBy("split", "verdict", "bgroup")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.round(F.col("score") * 100000).cast("bigint")).alias(
                "score_sum_e5"
            ),
            F.sum("n_pii").alias("n_pii"),
        )
        .transform(ordered, "split", "verdict", "bgroup")
    )


def _pipeline_curate_oracle(dim: int = 64, n_planes: int = 4, seed: int = 42) -> str:
    planes = sim._hyperplanes(dim, n_planes, seed)
    bucket = " + ".join(
        "(CASE WHEN list_dot_product(v, [{vals}]) >= 0 THEN {w} ELSE 0 END)".format(
            vals=", ".join(repr(x) for x in p), w=1 << i
        )
        for i, p in enumerate(planes)
    )
    split_bucket = _H32.format(x="concat(CAST(doc_id AS VARCHAR), '|cur')")
    return rf"""
    WITH m AS (
      SELECT doc_id,
             CAST(len(list_filter(
               string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\s+'),
               w -> w <> '')) AS DOUBLE) AS n_tokens,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(text) - length(translate(text, '.,?:;!"', '')) AS DOUBLE) AS n_punct,
             CAST(len(list_filter(
               string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\s+'),
               w -> w IN ('the','and','of','to','is'))) AS DOUBLE) AS n_stop
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             LEAST(n_tokens / 200.0, 1.0) * 0.5
             + LEAST(n_stop / n_tokens * 4.0, 1.0) * 0.3
             + (1.0 - LEAST(n_punct / n_chars * 10.0, 1.0)) * 0.2 AS score
      FROM m
    ),
    q AS (
      SELECT doc_id, ROUND(score, 5) AS score,
             CASE WHEN score >= 0.6 THEN 'keep'
                  WHEN score >= 0.3 THEN 'review'
                  ELSE 'drop' END AS verdict
      FROM s
    ),
    pii AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{tx.PII_EMAIL}'))
             + len(regexp_extract_all(text, '{tx.PII_IPV4}'))
             + len(regexp_extract_all(text, '{tx.PII_PHONE}')) AS n_pii
      FROM documents
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id AS doc_id, ({bucket}) % 4 AS bgroup FROM e),
    j AS (
      SELECT q.doc_id, q.score, q.verdict, pii.n_pii, b.bgroup
      FROM q JOIN pii USING (doc_id) JOIN b USING (doc_id)
    ),
    a AS (
      SELECT *, CASE WHEN {split_bucket} % 10000 < 9000
                     THEN 'train' ELSE 'test' END AS split
      FROM j
    )
    SELECT split, verdict, bgroup,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(ROUND(score * 100000) AS BIGINT)) AS BIGINT)
             AS score_sum_e5,
           CAST(SUM(n_pii) AS BIGINT) AS n_pii
    FROM a GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def ext_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM perplexity scoring (operators/text.unigram_lm_scores):
    per-doc cross-entropy and perplexity under the corpus unigram model
    — the CCNet/RedPajama perplexity-filter tier. The model is built
    and broadcast inside the operator; no driver action."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.unigram_lm_scores(docs).transform(ordered, "doc_id")


_LM_SCORE_SQL = f"""
    WITH {_TOKS},
    model AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word),
    tot AS (SELECT SUM(cnt) AS t FROM model)
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(AVG(-LN(CAST(cnt AS DOUBLE) / t)), 5) AS xent,
           ROUND(EXP(AVG(-LN(CAST(cnt AS DOUBLE) / t))), 4) AS ppl
    FROM toks JOIN model USING (word) CROSS JOIN tot
    GROUP BY doc_id ORDER BY doc_id
"""


def ext_dedup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication profile
    (operators/dedup.span_duplication): per-doc fraction of 5-token
    windows shared with another document — the exact-substring-dedup
    decision metric (Lee et al. 2022) at fixed-k granularity."""
    docs = load_table(spark, sf_dir, "documents")
    out = dd.span_duplication(docs, k=5, min_docs=2)
    return out.select(
        F.col("doc").alias("doc_id"), "n_windows", "n_dup_windows", "dup_frac"
    ).transform(ordered, "doc_id")


_SPAN_GRAM = " || ' ' || ".join(
    ["word"] + [f"LEAD(word, {j}) OVER w" for j in range(1, 5)]
)

_SPAN_SQL = f"""
    WITH {_TOKS},
    g5 AS (
      SELECT doc_id, {_SPAN_GRAM} AS gram
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    sh AS (
      SELECT DISTINCT doc_id AS doc,
             CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS g
      FROM g5 WHERE gram IS NOT NULL
    ),
    dup AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) >= 2),
    tot AS (SELECT doc, COUNT(*) AS n_windows FROM sh GROUP BY doc),
    d AS (
      SELECT doc, COUNT(*) AS n_dup_windows
      FROM sh JOIN dup USING (g) GROUP BY doc
    )
    SELECT tot.doc AS doc_id, n_windows,
           COALESCE(n_dup_windows, 0) AS n_dup_windows,
           ROUND(CAST(COALESCE(n_dup_windows, 0) AS DOUBLE) / n_windows, 5)
             AS dup_frac
    FROM tot LEFT JOIN d USING (doc) ORDER BY doc_id
"""


def ext_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup with removal
    (operators/dedup.remove_duplicate_spans): tokens covered by any
    cross-document duplicated 5-token window are dropped and the text
    rebuilt — the action step whose decision metric is
    ext_dedup_span."""
    docs = load_table(spark, sf_dir, "documents")
    out = dd.remove_duplicate_spans(docs, k=5, min_docs=2)
    return out.select(
        F.col("doc").alias("doc_id"), "text", "n_tokens", "n_removed"
    ).transform(ordered, "doc_id")


_SPAN_REMOVAL_SQL = f"""
    WITH {_TOKS},
    t AS (
      SELECT doc_id, word,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS pos
      FROM toks
    ),
    g5 AS (
      SELECT doc_id, pos, {_SPAN_GRAM} AS gram
      FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (
      SELECT doc_id, pos,
             CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS g
      FROM g5 WHERE gram IS NOT NULL
    ),
    dup AS (
      SELECT g FROM (SELECT DISTINCT doc_id, g FROM sh)
      GROUP BY g HAVING COUNT(*) >= 2
    ),
    cov AS (
      SELECT DISTINCT sh.doc_id, sh.pos + r.u AS pos
      FROM sh JOIN dup USING (g) CROSS JOIN range(5) AS r(u)
    ),
    marked AS (
      SELECT t.doc_id, t.pos, t.word, c.pos IS NOT NULL AS covered
      FROM t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
    )
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN NOT covered THEN word END,
                               ' ' ORDER BY pos), '') AS text,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed
    FROM marked GROUP BY doc_id ORDER BY doc_id
"""


def ext_dedup_span_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated spans (operators/dedup.duplicate_span_
    lengths): adjacent duplicated 5-token windows merged into maximal
    contiguous runs with start + length — the variable-length span
    list of Lee et al.'s suffix-array formulation, recovered from the
    fixed-k tiling. Oracle: the same positional CTE chain as
    ext_dedup_span_removal up to the covered set, then a
    gaps-and-islands merge (pos - ROW_NUMBER)."""
    docs = load_table(spark, sf_dir, "documents")
    out = dd.duplicate_span_lengths(docs, k=5, min_docs=2)
    return out.select(
        F.col("doc").alias("doc_id"), "span_start", "span_len"
    ).transform(ordered, "doc_id", "span_start")


_SPAN_LENGTHS_SQL = f"""
    WITH {_TOKS},
    t AS (
      SELECT doc_id, word,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS pos
      FROM toks
    ),
    g5 AS (
      SELECT doc_id, pos, {_SPAN_GRAM} AS gram
      FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (
      SELECT doc_id, pos,
             CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS g
      FROM g5 WHERE gram IS NOT NULL
    ),
    dup AS (
      SELECT g FROM (SELECT DISTINCT doc_id, g FROM sh)
      GROUP BY g HAVING COUNT(*) >= 2
    ),
    cov AS (
      SELECT DISTINCT sh.doc_id, sh.pos + r.u AS pos
      FROM sh JOIN dup USING (g) CROSS JOIN range(5) AS r(u)
    ),
    isl AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM cov
    )
    SELECT doc_id, MIN(pos) AS span_start, COUNT(*) AS span_len
    FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start
"""


def ext_dedup_paragraph_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide segment dedup (operators/dedup.dedup_paragraphs_
    global): a line occurring anywhere else in the corpus survives only
    at its first (min doc, min pos) occurrence; texts rebuilt from
    survivors. The fixture corpus has no cross-document duplicate
    lines, so the query CONSTRUCTS boilerplate deterministically —
    every doc_id % 4 == 0 gets a shared footer line, every
    doc_id % 7 == 0 a shared header line (mirrored in the oracle) —
    and the dedup provably keeps each exactly once, corpus-wide."""
    docs = load_table(spark, sf_dir, "documents")
    footer = F.lit("subscribe to our newsletter for updates")
    header = F.lit("cookie notice this site uses cookies")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 7 == 0, F.concat(header, F.lit("\n")))
            .otherwise(F.lit("")),
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("\n"), footer))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = dd.dedup_paragraphs_global(aug)
    return out.select(
        F.col("doc").alias("doc_id"), "text", "n_segments", "n_removed"
    ).transform(ordered, "doc_id")


_PARA_GLOBAL_SQL = """
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN 'cookie notice this site uses cookies' || chr(10)
                  ELSE '' END
             || text
             || CASE WHEN doc_id % 4 = 0
                     THEN chr(10) || 'subscribe to our newsletter for updates'
                     ELSE '' END AS text
      FROM documents
    ),
    segs AS (
      SELECT doc_id AS doc, i AS pos, seg
      FROM (
        SELECT doc_id,
               unnest(string_split(text, chr(10))) AS seg,
               generate_subscripts(string_split(text, chr(10)), 1) AS i
        FROM aug
      ) WHERE trim(seg) <> ''
    ),
    marked AS (
      SELECT doc, pos, seg,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY seg
                                          ORDER BY doc, pos) = 1
                  THEN 1 ELSE 0 END AS keep
      FROM segs
    )
    SELECT doc AS doc_id,
           COALESCE(string_agg(CASE WHEN keep = 1 THEN seg END,
                               chr(10) ORDER BY pos), '') AS text,
           COUNT(*) AS n_segments,
           CAST(SUM(1 - keep) AS BIGINT) AS n_removed
    FROM marked GROUP BY doc ORDER BY doc_id
"""


def ext_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (operators/split.cap_per_group): keep at
    most 15 docs per source by deterministic hash order — the domain
    rate limiter — and audit kept counts + kept chars per source (the
    chars sum pins WHICH rows survived, not just how many)."""
    docs = load_table(spark, sf_dir, "documents")
    kept = sp.cap_per_group(docs, "source", "doc_id", n=15, salt="v1")
    tot = docs.groupBy("source").agg(F.count("*").alias("n_total"))
    per = kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
    )
    return tot.join(per, "source").transform(ordered, "source")


_CAP_BUCKET = _H32.format(x="concat(CAST(doc_id AS VARCHAR), '|v1')") + " % 10000"

_SOURCE_CAP_SQL = f"""
    WITH ranked AS (
      SELECT source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY {_CAP_BUCKET}, doc_id) AS rn
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN rn <= 15 THEN n_chars ELSE 0 END) AS BIGINT)
             AS kept_chars
    FROM ranked GROUP BY source ORDER BY source
"""


_CLF_FEATURES = ["x1", "x2", "x3"]


def _clf_features(docs: DataFrame) -> DataFrame:
    """Distillation setup: the expensive rule gate (quality_score's
    drop boundary, verdict != 'drop') becomes the LABEL; the model learns to
    approximate it from three cheaper surface features — capped char
    length, space density, punctuation density. This is the standard
    filter-distillation pattern (train a cheap classifier to mimic a
    costly rule/model, then run only the classifier at full scale).
    All features are exact rational arithmetic from integer counts —
    identical doubles in both engines."""
    # features and label in ONE projection over the gate's carried
    # columns (keep_cols, r12) — the former feats ⋈ y id join read the
    # corpus twice and shuffled it by id to pair two per-row
    # projections of the same rows
    q = tx.quality_score(docs, keep_cols=["text", "n_chars"])
    t = F.col("text")
    ln = F.length(t).cast("double")
    n_spaces = ln - F.length(F.replace(t, F.lit(" "), F.lit("")))
    stop_hits = F.regexp_count(
        F.lower(t), F.lit(r"\b(the|and|of|to|is)\b")
    ).cast("double")
    return q.select(
        "doc_id",
        F.least(F.col("n_chars") / 2000.0, F.lit(1.0)).alias("x1"),
        (stop_hits / (n_spaces + 1.0)).alias("x2"),
        (n_spaces / ln).alias("x3"),
        (F.col("verdict") != "drop").cast("int").alias("y"),
    )


def ext_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality/language filter (operators/ml): 5 rounds of
    batch-GD logistic regression on engine-portable features, then
    score every document — the classifier-filter tier (fastText-style
    quality models, CCNet language routing) as ONE aggregate per
    training round plus a codegen scoring pass. The oracle replays the
    identical unrolled GD walk as chained CTEs (kmeans-style)."""
    from ..operators.ml import (
        logistic_score_relation,
        logistic_train_relation,
        standardize,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = standardize(_clf_features(docs), _CLF_FEATURES)
    # the model stays IN-PLAN as a 1-row relation: 12 GD rounds unroll
    # into one job instead of one driver action per round
    wrel = logistic_train_relation(feats, _CLF_FEATURES, "y", lr=4.0, iters=12)
    # y rides through the scoring projection (keep_cols) — the former
    # scored-back-to-feats join on doc_id was a corpus x corpus
    # sort-merge recovering a column the scoring pass already had
    scored = logistic_score_relation(
        feats.select("doc_id", "y", *_CLF_FEATURES),
        _CLF_FEATURES,
        wrel,
        keep_cols=("y",),
    )
    return scored.select(
        "doc_id",
        F.round("p", 5).alias("p_en"),
        (F.col("p") >= 0.5).cast("int").alias("pred"),
        F.col("y").alias("label"),
    ).transform(ordered, "doc_id")


def _classifier_oracle(iters: int = 5, lr: float = 1.0) -> str:
    z = "(b + w1*x1 + w2*x2 + w3*x3)"
    p = f"(1.0 / (1.0 + EXP(-{z})))"
    ctes = [
        r"""m AS (
      SELECT doc_id,
             CAST(len(list_filter(
               string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\s+'),
               w -> w <> '')) AS DOUBLE) AS n_tokens,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(text) - length(translate(text, '.,?:;!"', '')) AS DOUBLE) AS n_punct,
             CAST(len(list_filter(
               string_split_regex(lower(translate(text, '.,?:;!"', '       ')), '\s+'),
               w -> w IN ('the','and','of','to','is'))) AS DOUBLE) AS n_stop
      FROM documents
    )""",
        """lab AS (
      SELECT doc_id,
             CAST(LEAST(n_tokens / 200.0, 1.0) * 0.5
                  + LEAST(n_stop / n_tokens * 4.0, 1.0) * 0.3
                  + (1.0 - LEAST(n_punct / n_chars * 10.0, 1.0)) * 0.2
                  >= 0.3 AS INT) AS y
      FROM m
    )""",
        r"""fr AS (
      SELECT d.doc_id, lab.y,
             LEAST(d.n_chars / 2000.0, 1.0) AS x1,
             LEN(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b'))
               / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1.0) AS x2,
             (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')))
               / CAST(LENGTH(text) AS DOUBLE) AS x3
      FROM documents d JOIN lab ON lab.doc_id = d.doc_id
    )""",
        """st AS (
      SELECT AVG(x1) AS m1, STDDEV_POP(x1) AS s1,
             AVG(x2) AS m2, STDDEV_POP(x2) AS s2,
             AVG(x3) AS m3, STDDEV_POP(x3) AS s3
      FROM fr
    )""",
        # zero-stddev guard mirrors ml.standardize's `sd or 1.0`: a
        # constant feature at some scale factor must degrade both
        # engines identically (centered, not divided) instead of the
        # oracle emitting inf/NaN while Spark stays finite
        """f AS MATERIALIZED (
      SELECT doc_id, y,
             (x1 - m1) / CASE WHEN s1 = 0 OR s1 IS NULL THEN 1.0 ELSE s1 END AS x1,
             (x2 - m2) / CASE WHEN s2 = 0 OR s2 IS NULL THEN 1.0 ELSE s2 END AS x2,
             (x3 - m3) / CASE WHEN s3 = 0 OR s3 IS NULL THEN 1.0 ELSE s3 END AS x3
      FROM fr CROSS JOIN st
    )""",
        "w0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS b)",
    ]
    for k in range(iters):
        # MATERIALIZED: each round references the previous one twice
        # (gradient + update); inlined CTEs would double the expression
        # tree per round — 2^iters planning blowup
        ctes.append(
            f"""g{k} AS MATERIALIZED (
      SELECT AVG(({p} - y) * x1) AS g1,
             AVG(({p} - y) * x2) AS g2,
             AVG(({p} - y) * x3) AS g3,
             AVG({p} - y) AS gb
      FROM f CROSS JOIN w{k}
    )"""
        )
        ctes.append(
            f"""w{k + 1} AS MATERIALIZED (
      SELECT w1 - {lr} * g1 AS w1, w2 - {lr} * g2 AS w2,
             w3 - {lr} * g3 AS w3, b - {lr} * gb AS b
      FROM w{k} CROSS JOIN g{k}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT doc_id, ROUND({p}, 5) AS p_en,
           CAST({p} >= 0.5 AS INT) AS pred, y AS label
    FROM f CROSS JOIN w{iters} ORDER BY doc_id
    """
    )


def ext_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge round (operators/text.bpe_pair_stats): top-20
    adjacent symbol pairs over the corpus word-frequency table with
    terminal '</w>' markers, frequency-weighted — the distributed core
    of tokenizer training (Sennrich et al. 2016)."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.bpe_pair_stats(docs, top_n=20).transform(ordered, "rnk")


_BPE_SQL = f"""
    WITH {_TOKS},
    wf AS (SELECT word, COUNT(*) AS freq FROM toks GROUP BY word),
    idx AS (
      SELECT word, freq,
             unnest(generate_series(1, length(word))) AS i
      FROM wf
    ),
    chars AS (
      SELECT word, freq, i, substring(word, i, 1) AS sym FROM idx
      UNION ALL
      SELECT word, freq, length(word) + 1, '</w>' FROM wf
    ),
    pairs AS (
      SELECT freq,
             sym || ' ' || LEAD(sym) OVER (PARTITION BY word ORDER BY i)
               AS pair
      FROM chars
    ),
    pc AS (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM pairs WHERE pair IS NOT NULL GROUP BY pair
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS BIGINT)
             AS rnk,
           pair, cnt
    FROM pc ORDER BY rnk LIMIT 20
"""


def ext_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE range join (no equality key) via bin bucketing
    (operators/joins.interval_join_binned): events falling inside any
    of 200 order-derived 7-day windows, counted per priority. The
    naive BETWEEN-only join plans BroadcastNestedLoopJoin —
    O(|events| x |intervals|) and broadcast-bound; the binned form
    plans an ordinary equi-join on the bin (asserted in
    tests/test_plans.py). Oracle = the naive BETWEEN join in SQL."""
    from ..functions import epoch_us
    from ..operators.joins import interval_join_binned

    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    shifted = F.col("o_orderdate") + F.expr("INTERVAL 26 YEARS")
    iv = orders.where(F.col("o_orderkey") < 200).select(
        "o_orderpriority",
        epoch_us(shifted).alias("s_us"),
        epoch_us(shifted + F.expr("INTERVAL 7 DAYS")).alias("e_us"),
    )
    pts = ev.select("event_id", epoch_us("ts").alias("p_us"))
    j = interval_join_binned(
        pts, iv, "p_us", "s_us", "e_us", 7 * 86400 * 10**6
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(F.count("*").alias("cnt"))
        .transform(ordered, "o_orderpriority")
    )


_RANGE_BINNED_SQL = """
    WITH iv AS (
      SELECT o_orderpriority,
             epoch_us(o_orderdate + INTERVAL 26 YEAR) AS s_us,
             epoch_us(o_orderdate + INTERVAL 26 YEAR + INTERVAL 7 DAY)
               AS e_us
      FROM orders WHERE o_orderkey < 200
    )
    SELECT o_orderpriority, COUNT(*) AS cnt
    FROM events e JOIN iv
      ON epoch_us(e.ts) BETWEEN iv.s_us AND iv.e_us
    GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def ext_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the dataset-versioning audit run between
    two corpus releases: which documents were added, removed, changed
    (same id, different normalized content fingerprint), or unchanged.
    v1 = doc_id % 4 != 3; v2 drops ids ≡ 1 (mod 4), adds ids ≡ 3, and
    edits the text of ids ≡ 2 (mod 7). ONE full-outer shuffle join on
    the id comparing engine-portable fingerprints (text itself never
    crosses the join), then a verdict rollup — the exact shape that
    scales to a 100 TB snapshot pair, since fingerprints are 8 bytes
    per doc and the join prunes text columns (check ReadSchema)."""
    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.where(F.col("doc_id") % 4 != 3)
    v2 = docs.where(F.col("doc_id") % 4 != 1).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 2, F.concat(F.col("text"), F.lit(" EDITED"))
        ).otherwise(F.col("text")),
    )
    f1 = tx.content_fingerprint(v1).select(
        "doc_id", F.col("fingerprint").alias("fp1")
    )
    f2 = tx.content_fingerprint(v2).select(
        "doc_id", F.col("fingerprint").alias("fp2")
    )
    verdict = (
        F.when(F.col("fp1").isNull(), F.lit("added"))
        .when(F.col("fp2").isNull(), F.lit("removed"))
        .when(F.col("fp1") != F.col("fp2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        f1.join(f2, "doc_id", "full_outer")
        .select(verdict.alias("verdict"))
        .groupBy("verdict")
        .agg(F.count("*").alias("n_docs"))
        .transform(ordered, "verdict")
    )


_CORPUS_DIFF_SQL = f"""
    WITH v1 AS (
      SELECT doc_id, {_FP_EXPR.format(t='text')} AS fp1
      FROM documents WHERE doc_id % 4 != 3
    ),
    v2 AS (
      SELECT doc_id,
             {_FP_EXPR.format(
                 t="CASE WHEN doc_id % 7 = 2 THEN text || ' EDITED' "
                   "ELSE text END")} AS fp2
      FROM documents WHERE doc_id % 4 != 1
    )
    SELECT CASE WHEN fp1 IS NULL THEN 'added'
                WHEN fp2 IS NULL THEN 'removed'
                WHEN fp1 != fp2 THEN 'changed'
                ELSE 'unchanged' END AS verdict,
           COUNT(*) AS n_docs
    FROM v1 FULL JOIN v2 USING (doc_id)
    GROUP BY 1 ORDER BY 1
"""


def ext_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.hard_negative_topk):
    for each anchor (vec_id % 100 == 0), the 5 nearest-by-cosine
    vectors whose LABEL differs — contrastive-training negatives from
    the decision boundary."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.where(F.col("vec_id") % 100 == 0)
    out = sim.hard_negative_topk(anchors, emb, k=5)
    return out.select(
        "query_id",
        F.col("rank").cast("bigint").alias("rank"),
        "vec_id",
        F.round("cosine", 5).alias("cosine"),
    ).transform(ordered, "query_id", "rank")


_HARD_NEG_SQL = f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             {_COS.format(a='q.v', b='c.v')} AS cosine
      FROM q JOIN e c
        ON c.vec_id <> q.vec_id AND c.label <> q.label
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, vec_id) AS rn
      FROM scored
    )
    SELECT query_id, rn AS "rank", vec_id, ROUND(cosine, 5) AS cosine
    FROM ranked WHERE rn <= 5 ORDER BY query_id, rn
"""


def ext_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental dedup (operators/dedup.bloom_build
    + bloom_probe): even doc_ids play the historical corpus, odd
    doc_ids arrive as the batch with planted duplicates (the same
    construction as ext_dedup_incremental); the corpus fingerprints
    build a 2^16-bit / k=5 Bloom relation that the batch probes
    map-side (broadcast ~8 KiB, zero shuffle of the batch). The exact
    verdict is computed alongside, so the row-level hash compare pins
    the no-false-negative contract (is_dup=1 ⇒ bloom_hit=1 on every
    row) in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") % 2 == 0)
    base_new = docs.where(F.col("doc_id") % 2 == 1)
    donor = docs.select(
        (F.col("doc_id") + 1).alias("_nid"), F.col("text").alias("_dtext")
    )
    new = base_new.join(
        donor, base_new.doc_id == donor._nid, "left"
    ).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 1, F.coalesce("_dtext", "text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # both fingerprint relations feed TWO consumers (the Bloom leg and
    # the exact-verdict leg) — without a cut each consumer re-ran the
    # corpus fingerprint pass (6 documents scans in the r12 plan
    # audit); the materialized relations are narrow (id + 16-byte fp)
    seen_fp = tx.content_fingerprint(seen).select(
        F.col("fingerprint").cast("string").alias("fp")
    ).localCheckpoint(eager=False)
    new_fp = tx.content_fingerprint(new).select(
        "doc_id", F.col("fingerprint").cast("string").alias("fp")
    ).localCheckpoint(eager=False)
    bloom = dd.bloom_build(seen_fp, "fp")
    probed = dd.bloom_probe(new_fp, "fp", bloom)
    dup_ids = new_fp.join(seen_fp.distinct(), "fp", "left_semi").select(
        "doc_id", F.lit(1).alias("_dup")
    )
    return (
        probed.join(dup_ids, "doc_id", "left")
        .select(
            "doc_id",
            F.col("hit").alias("bloom_hit"),
            F.coalesce("_dup", F.lit(0)).alias("is_dup"),
        )
        .transform(ordered, "doc_id")
    )


def _bloom_oracle(m_bits: int = 1 << 16, k: int = 5, seed: int = 7) -> str:
    h32 = _H32.format(x="CAST(fp AS VARCHAR)")
    seen_pos = " UNION ALL ".join(
        f"SELECT (((CAST({a} AS BIGINT) * h + {b}) % {MINHASH_PRIME})"
        f" % {m_bits}) AS pos FROM seen_h"
        for a, b in minhash_params(k, seed)
    )
    new_pos = " UNION ALL ".join(
        f"SELECT doc_id, fp, (((CAST({a} AS BIGINT) * h + {b})"
        f" % {MINHASH_PRIME}) % {m_bits}) AS pos FROM new_h"
        for a, b in minhash_params(k, seed)
    )
    return f"""
    WITH new AS (
      SELECT n.doc_id,
             CASE WHEN n.doc_id % 5 = 1
                  THEN COALESCE(d.text, n.text) ELSE n.text END AS text
      FROM documents n
      LEFT JOIN documents d ON d.doc_id + 1 = n.doc_id
      WHERE n.doc_id % 2 = 1
    ),
    seen AS (
      SELECT CAST({_FP_EXPR.format(t='text')} AS VARCHAR) AS fp
      FROM documents WHERE doc_id % 2 = 0
    ),
    seen_h AS (SELECT fp, {h32} AS h FROM seen),
    seen_pos AS ({seen_pos}),
    bloom AS (
      SELECT pos // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
      FROM seen_pos GROUP BY pos // 32
    ),
    new_h AS (
      SELECT doc_id, fp, {h32} AS h FROM (
        SELECT doc_id, CAST({_FP_EXPR.format(t='text')} AS VARCHAR) AS fp
        FROM new
      )
    ),
    new_pos AS ({new_pos}),
    probed AS (
      SELECT doc_id,
             CASE WHEN COALESCE(bits, 0)
                       & (CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) != 0
                  THEN 1 ELSE 0 END AS m,
             fp
      FROM new_pos LEFT JOIN bloom ON new_pos.pos // 32 = bloom.word
    )
    SELECT doc_id,
           CAST(CASE WHEN SUM(m) = {k} THEN 1 ELSE 0 END AS INT)
             AS bloom_hit,
           CAST(CASE WHEN MIN(fp) IN (SELECT fp FROM seen)
                THEN 1 ELSE 0 END AS INT) AS is_dup
    FROM probed GROUP BY doc_id ORDER BY doc_id
    """


def ext_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scores (operators/text.bm25_topk) for a fixed
    3-term query over the documents corpus: Okapi tf saturation +
    length normalization, top-20 by (rounded score, doc_id). The
    oracle replays the identical formula; the ORDER BY is on the
    ROUNDED score so the cut is engine-stable."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.bm25_topk(docs, ["hash", "vector", "spark"], topk=20)


_BM25_SQL = f"""
    WITH {_TOKS},
    lens AS (SELECT doc_id, COUNT(*) AS dlen FROM toks GROUP BY doc_id),
    tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM toks
      WHERE word IN ('hash', 'vector', 'spark') GROUP BY doc_id, word
    ),
    dfreq AS (SELECT word, COUNT(*) AS dfc FROM tf GROUP BY word),
    consts AS (
      SELECT COUNT(*) AS nd, AVG(dlen) AS avgdl FROM lens
    ),
    scored AS (
      SELECT tf.doc_id,
             ln(1.0 + (nd - dfc + 0.5) / (dfc + 0.5))
               * tf * (1.2 + 1.0)
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dlen / avgdl)) AS s
      FROM tf
      JOIN dfreq ON dfreq.word = tf.word
      JOIN lens ON lens.doc_id = tf.doc_id
      CROSS JOIN consts
    )
    SELECT doc_id, ROUND(SUM(s), 5) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 20
"""


def ext_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history (operators/scd.
    scd2_history) of each user's event_type state over the events
    stream: change detection is null-safe lag comparison, consecutive
    identical states collapse into one validity interval, the open
    version carries valid_to NULL / is_current 1. Interval edges are
    exported as epoch microseconds (integer-exact cross-engine)."""
    from ..functions import epoch_us
    from ..operators.scd import scd2_history

    ev = load_table(spark, sf_dir, "events")
    hist = scd2_history(
        ev.select("user_id", "ts", "event_type", "event_id"),
        key_col="user_id",
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak_col="event_id",
    )
    return hist.select(
        "user_id",
        F.col("version").cast("bigint").alias("version"),
        F.col("event_type").alias("state"),
        epoch_us("valid_from").alias("valid_from_us"),
        epoch_us("valid_to").alias("valid_to_us"),
        F.col("is_current").cast("int").alias("is_current"),
    ).transform(ordered, "user_id", "version")


_SCD2_SQL = """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(event_id) OVER w IS NULL
                       OR event_type IS DISTINCT FROM LAG(event_type) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    versioned AS (
      SELECT user_id, ts, event_type,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS version
      FROM ordered
    ),
    per_version AS (
      SELECT user_id, version, event_type AS state, MIN(ts) AS valid_from
      FROM versioned GROUP BY user_id, version, event_type
    ),
    hist AS (
      SELECT user_id, version, state, valid_from,
             LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
               AS valid_to
      FROM per_version
    )
    SELECT user_id, CAST(version AS BIGINT) AS version, state,
           epoch_us(valid_from) AS valid_from_us,
           epoch_us(valid_to) AS valid_to_us,
           CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT)
             AS is_current
    FROM hist ORDER BY user_id, version
"""


def ext_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance (operators/scd.scd2_apply_batch):
    the dimension is built from events up to 2024-01-21, then the
    remaining events are applied as an append-only CDC batch — only
    touched keys rebuild, untouched rows stream through. The oracle is
    the FULL-recompute SQL (_SCD2_SQL): the incremental path must be
    row-identical to rebuilding history from the complete stream,
    which is precisely the invariant that makes it safe to run daily
    at 100 TB."""
    from ..functions import epoch_us
    from ..operators.scd import scd2_apply_batch, scd2_history

    cutoff_us = 1705795200000000  # 2024-01-21 00:00:00 in naive micros
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    # scd2_apply_batch consumes the dimension twice (anti + semi legs) —
    # correct for its production contract where dim is a STORED table
    # (two pruned scans beat materializing 100 TB of history), but this
    # fixture RECOMPUTES dim from events, so without a cut the whole
    # 4-window history build ran twice (8 Window nodes / 3 events scans
    # in the r12 plan audit). One lazy localCheckpoint of the
    # recomputed dimension halves the build (same pattern as the
    # decompose_additive caller cut, §13).
    dim = scd2_history(
        ev.where(epoch_us("ts") <= cutoff_us),
        key_col="user_id",
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak_col="event_id",
    ).localCheckpoint(eager=False)
    hist = scd2_apply_batch(
        dim,
        ev.where(epoch_us("ts") > cutoff_us),
        key_col="user_id",
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak_col="event_id",
    )
    return hist.select(
        "user_id",
        F.col("version").cast("bigint").alias("version"),
        F.col("event_type").alias("state"),
        epoch_us("valid_from").alias("valid_from_us"),
        epoch_us("valid_to").alias("valid_to_us"),
        F.col("is_current").cast("int").alias("is_current"),
    ).transform(ordered, "user_id", "version")


def ext_percentile_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable percentile state (operators/rollup.histogram_state):
    per-returnflag quantity histograms built from pre-cutoff lineitem
    rows, MERGED with the post-cutoff batch (plain count addition),
    then p50/p90/p99 read off the cumulative bins. Every step is
    integer arithmetic, so the oracle reproduces the ESTIMATES
    bit-for-bit from the full data — verifying both the merge
    (state ⊕ delta == full) and the percentile extraction."""
    from ..functions import epoch_us
    from ..operators.rollup import (
        histogram_percentiles,
        histogram_state,
        merge_histogram_state,
    )

    cutoff_us = 915148800000000  # 1999-01-01, as in ext_rollup_incremental
    lo, hi, bins = 100, 5000, 64
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_shipdate",
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("qty_c"),
    )
    state = histogram_state(
        li.where(epoch_us("l_shipdate") <= cutoff_us),
        ["l_returnflag"], "qty_c", lo, hi, bins,
    )
    delta = histogram_state(
        li.where(epoch_us("l_shipdate") > cutoff_us),
        ["l_returnflag"], "qty_c", lo, hi, bins,
    )
    merged = merge_histogram_state(state, delta, ["l_returnflag"])
    out = histogram_percentiles(
        merged, ["l_returnflag"], lo, hi, bins,
        {"p50": (1, 2), "p90": (9, 10), "p99": (99, 100)},
    )
    return out.select(
        "l_returnflag",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        "p50", "p90", "p99",
    ).transform(ordered, "l_returnflag")


_PCT_STATE_SQL = """
    WITH c AS (
      SELECT l_returnflag AS f,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS v
      FROM lineitem
    ),
    b AS (
      SELECT f,
             LEAST(63, GREATEST(0,
               CAST(FLOOR((v - 100) * 64 / 4901) AS BIGINT))) AS bin,
             COUNT(*) AS cnt
      FROM c GROUP BY 1, 2
    ),
    cum AS (
      SELECT f, bin, cnt,
             SUM(cnt) OVER (PARTITION BY f ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY f) AS tot
      FROM b
    )
    SELECT f AS l_returnflag, CAST(SUM(cnt) AS BIGINT) AS n_rows,
           100 + CAST(FLOOR(MIN(CASE WHEN cum * 2 >= tot * 1
                                     THEN bin END) * 4901 / 64) AS BIGINT)
             AS p50,
           100 + CAST(FLOOR(MIN(CASE WHEN cum * 10 >= tot * 9
                                     THEN bin END) * 4901 / 64) AS BIGINT)
             AS p90,
           100 + CAST(FLOOR(MIN(CASE WHEN cum * 100 >= tot * 99
                                     THEN bin END) * 4901 / 64) AS BIGINT)
             AS p99
    FROM cum GROUP BY f ORDER BY f
"""


def ext_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-threshold set-similarity join via prefix filtering
    (operators/dedup.prefix_filter_pairs, AllPairs/PPJoin family) at
    Jaccard >= 0.99 over document word sets. The oracle is the
    BRUTE-FORCE quadratic all-pairs Jaccard — so the driver gate
    verifies the prefix-filter theorem end-to-end: the pruned index
    must lose NOTHING versus comparing every pair. Scoped to a
    quarter of the corpus: the synthetic fixture's tiny vocabulary
    makes the TRUE pair count quadratic (median Jaccard 0.63 — every
    doc resembles every doc), so output volume, not the algorithm,
    dominates; real corpora at 0.99 are sparse."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 4 == 0
    )
    out = dd.prefix_filter_pairs(docs, threshold=0.99)
    return out.transform(ordered, "doc_a", "doc_b")


_PREFIX_FILTER_SQL = f"""
    WITH {_TOKS},
    sets AS (
      SELECT DISTINCT doc_id, word FROM toks WHERE doc_id % 4 = 0
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sets GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sets a JOIN sets b
        ON a.word = b.word AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter,
           CAST(sa.sz + sb.sz - inter AS BIGINT) AS uni
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE inter * 1000000 >= 990000 * (sa.sz + sb.sz - inter)
    ORDER BY doc_a, doc_b
"""


def ext_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/rollup): the
    per-part rollup state is built from lineitem shipped before
    1999-01-01, then the remaining rows merge in as a batch (one
    full-outer key join, mergeable combines only). The oracle is the
    FULL GROUP BY over all rows — the merge must be row-identical,
    which is the invariant that lets a 100 TB dashboard table update
    from deltas. Money/quantity in integer cents (explicit round) so
    the arithmetic is engine-exact."""
    from ..functions import epoch_us
    from ..operators.rollup import aggregate_state, merge_aggregate_state

    cutoff_us = 915148800000000  # 1999-01-01 00:00:00 in naive micros
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_shipdate",
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("qty_c"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("price_c"),
    )
    specs = {
        "n_rows": ("count", "qty_c"),
        "qty_sum_c": ("sum", "qty_c"),
        "price_min_c": ("min", "price_c"),
        "price_max_c": ("max", "price_c"),
    }
    state = aggregate_state(
        li.where(epoch_us("l_shipdate") <= cutoff_us), ["l_partkey"], specs
    )
    merged = merge_aggregate_state(
        state,
        li.where(epoch_us("l_shipdate") > cutoff_us),
        ["l_partkey"],
        specs,
    )
    return merged.select(
        "l_partkey",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("qty_sum_c").cast("bigint").alias("qty_sum_c"),
        "price_min_c",
        "price_max_c",
    ).transform(ordered, "l_partkey")


_ROLLUP_SQL = """
    WITH c AS (
      SELECT l_partkey,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS qty_c,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c
      FROM lineitem
    )
    SELECT l_partkey, COUNT(*) AS n_rows,
           CAST(SUM(qty_c) AS BIGINT) AS qty_sum_c,
           MIN(price_c) AS price_min_c, MAX(price_c) AS price_max_c
    FROM c GROUP BY l_partkey ORDER BY l_partkey
"""


def ext_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key + data-skipping stats (operators/layout):
    lineitem (l_partkey, l_suppkey) bucketized mod 256, bits
    interleaved into a 16-bit Morton key, top-8-bits bucket = the file
    a range-partitioned write would place the row in. Output is the
    per-bucket min/max/count stats relation — the footer metadata a
    stats-pruned scan reads — proving every bucket covers a tight
    16x16 tile of the (partkey, suppkey) plane. Integer-exact."""
    from ..operators.layout import skipping_stats, zorder_key

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("x"),
        (F.col("l_suppkey") % 256).alias("y"),
    )
    keyed = li.withColumn("z_key", zorder_key(["x", "y"], bits=8))
    stats = skipping_stats(
        keyed.withColumn("bucket", F.shiftright("z_key", 8)),
        "bucket",
        ["x", "y"],
    )
    return stats.transform(ordered, "bucket")


def ext_layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering stats (operators/layout.
    with_hilbert_key): same bucketization as ext_layout_zorder but
    keyed by the jump-free Hilbert order — every 256-key curve segment
    is one connected region, so per-bucket min/max boxes are tighter
    than Morton's on average (pinned by test_hilbert_locality). The
    oracle replays the identical per-bit fold via hilbert_sql's CTE
    chain; integer-exact."""
    from ..operators.layout import skipping_stats, with_hilbert_key

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("x"),
        (F.col("l_suppkey") % 256).alias("y"),
    )
    keyed = with_hilbert_key(li, "x", "y", bits=8)
    stats = skipping_stats(
        keyed.withColumn("bucket", F.shiftright("h_key", 8)),
        "bucket",
        ["x", "y"],
    )
    return stats.transform(ordered, "bucket")


def _hilbert_oracle() -> str:
    from ..operators.layout import hilbert_sql

    hq = hilbert_sql(
        "x",
        "y",
        "(SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem)",
        bits=8,
    )
    return f"""
    SELECT CAST(h_key >> 8 AS BIGINT) AS bucket, COUNT(*) AS n_rows,
           MIN(hx) AS min_x, MAX(hx) AS max_x,
           MIN(hy) AS min_y, MAX(hy) AS max_y
    FROM ({hq}) GROUP BY 1 ORDER BY bucket
    """


_Z_TERMS = " + ".join(
    [f"(((x >> {i}) & 1) << {2 * i})" for i in range(8)]
    + [f"(((y >> {i}) & 1) << {2 * i + 1})" for i in range(8)]
)

_ZORDER_SQL = f"""
    WITH xy AS (
      SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem
    ),
    z AS (SELECT x, y, {_Z_TERMS} AS z_key FROM xy)
    SELECT CAST(z_key >> 8 AS BIGINT) AS bucket, COUNT(*) AS n_rows,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y
    FROM z GROUP BY 1 ORDER BY bucket
"""


EXT_QUERIES = {
    "ext_dedup_exact": ext_dedup_exact,
    "ext_dedup_ngram_jaccard": ext_dedup_ngram_jaccard,
    "ext_dedup_minhash_lsh": ext_dedup_minhash_lsh,
    "ext_dedup_lsh_verified": ext_dedup_lsh_verified,
    "ext_dedup_simhash": ext_dedup_simhash,
    "ext_dedup_embedding": ext_dedup_embedding,
    "ext_ann_topk": ext_ann_topk,
    "ext_ann_lsh": ext_ann_lsh,
    "ext_ann_pq": ext_ann_pq,
    "ext_ann_ivf_pq": ext_ann_ivf_pq,
    "ext_ann_ivf": ext_ann_ivf,
    "ext_text_tokens": ext_text_tokens,
    "ext_text_quality": ext_text_quality,
    "ext_salted_agg": ext_salted_agg,
    "ext_text_stats": ext_text_stats,
    "ext_text_langid": ext_text_langid,
    "ext_text_fingerprint": ext_text_fingerprint,
    "ext_split_train_test": ext_split_train_test,
    # ext_sample_det: RETIRED to the pytest tier in r9 —
    # deterministic_sample(frac) is hash_split's first CDF segment
    # (same split_bucket primitive, proven by ext_split_train_test).
    # See queries/retired.py.
    "ext_sample_stratified": ext_sample_stratified,
    "ext_dedup_components": ext_dedup_components,
    "ext_pack_sequences": ext_pack_sequences,
    "ext_text_line_dedup": ext_text_line_dedup,
    "ext_text_decontaminate": ext_text_decontaminate,
    "ext_text_pii": ext_text_pii,
    "ext_text_repetition": ext_text_repetition,
    "ext_text_vocab": ext_text_vocab,
    "ext_kmeans_embed": ext_kmeans_embed,
    "ext_sample_quality_mix": ext_sample_quality_mix,
    "ext_dedup_canonical": ext_dedup_canonical,
    "ext_dedup_incremental": ext_dedup_incremental,
    "ext_dedup_incremental_fuzzy": ext_dedup_incremental_fuzzy,
    "ext_pipeline_pretokenize": ext_pipeline_pretokenize,
    "ext_corpus_report": ext_corpus_report,
    "ext_text_tfidf": ext_text_tfidf,
    "ext_text_boilerplate": ext_text_boilerplate,
    "ext_text_clean": ext_text_clean,
    "ext_sample_weighted": ext_sample_weighted,
    "ext_mix_temperature": ext_mix_temperature,
    "ext_split_leakage_safe": ext_split_leakage_safe,
    "ext_text_chunk": ext_text_chunk,
    "ext_dedup_semantic": ext_dedup_semantic,
    "ext_pipeline_curate": ext_pipeline_curate,
    "ext_text_lm_score": ext_text_lm_score,
    "ext_dedup_span": ext_dedup_span,
    "ext_dedup_span_removal": ext_dedup_span_removal,
    "ext_dedup_span_lengths": ext_dedup_span_lengths,
    "ext_dedup_paragraph_global": ext_dedup_paragraph_global,
    "ext_source_cap": ext_source_cap,
    "ext_dedup_bloom": ext_dedup_bloom,
    "ext_ann_hard_negatives": ext_ann_hard_negatives,
    "ext_corpus_diff": ext_corpus_diff,
    "ext_range_join_binned": ext_range_join_binned,
    "ext_text_bpe_pairs": ext_text_bpe_pairs,
    "ext_quality_classifier": ext_quality_classifier,
    "ext_text_bm25": ext_text_bm25,
    "ext_scd2_history": ext_scd2_history,
    "ext_scd2_incremental": ext_scd2_incremental,
    "ext_layout_zorder": ext_layout_zorder,
    "ext_layout_hilbert": ext_layout_hilbert,
    "ext_rollup_incremental": ext_rollup_incremental,
    "ext_dedup_prefix_filter": ext_dedup_prefix_filter,
    "ext_percentile_state": ext_percentile_state,
}

EXT_ORACLES = {
    "ext_dedup_exact": _DEDUP_EXACT_SQL,
    "ext_dedup_ngram_jaccard": _DEDUP_NGRAM_SQL,
    "ext_dedup_minhash_lsh": _minhash_oracle(),
    "ext_dedup_lsh_verified": _lsh_verified_oracle(),
    "ext_dedup_simhash": _simhash_oracle(),
    "ext_dedup_embedding": _DEDUP_EMB_SQL,
    "ext_ann_topk": _ANN_TOPK_SQL,
    "ext_ann_lsh": _ann_lsh_oracle(),
    "ext_ann_pq": _ANN_PQ_SQL,
    "ext_ann_ivf_pq": _ann_ivf_pq_oracle(),
    "ext_ann_ivf": _ann_ivf_oracle(),
    "ext_text_tokens": _TEXT_TOKENS_SQL,
    "ext_text_quality": _TEXT_QUALITY_SQL,
    "ext_salted_agg": _SALTED_AGG_SQL,
    "ext_text_stats": _TEXT_STATS_SQL,
    "ext_text_langid": _langid_oracle(),
    "ext_text_fingerprint": _FINGERPRINT_SQL,
    "ext_split_train_test": _SPLIT_SQL,
    # ext_sample_det retired in r9: _SAMPLE_SQL replays from
    # queries/retired.py (tests/test_retired.py)
    "ext_sample_stratified": _STRAT_SQL,
    "ext_dedup_components": _components_oracle(),
    "ext_pack_sequences": _PACK_SQL,
    "ext_text_line_dedup": _LINE_DEDUP_SQL,
    "ext_text_decontaminate": _DECONTAM_SQL,
    "ext_text_pii": _PII_SQL,
    "ext_text_repetition": _REPETITION_SQL,
    "ext_text_vocab": _VOCAB_SQL,
    "ext_kmeans_embed": _kmeans_oracle(),
    "ext_sample_quality_mix": _quality_mix_oracle(),
    "ext_dedup_canonical": _canonical_oracle(),
    "ext_dedup_incremental": _INCR_DEDUP_SQL,
    "ext_dedup_incremental_fuzzy": _fuzzy_incr_oracle(),
    "ext_pipeline_pretokenize": _PRETOKENIZE_SQL,
    "ext_corpus_report": _CORPUS_REPORT_SQL,
    "ext_text_tfidf": _TFIDF_SQL,
    "ext_text_boilerplate": _BOILERPLATE_SQL,
    "ext_text_clean": _CLEAN_SQL,
    "ext_sample_weighted": _WEIGHTED_SQL,
    "ext_mix_temperature": _MIX_SQL,
    "ext_split_leakage_safe": _leakage_split_oracle(),
    "ext_text_chunk": _CHUNK_SQL,
    "ext_dedup_semantic": _SEMANTIC_SQL,
    "ext_pipeline_curate": _pipeline_curate_oracle(),
    "ext_text_lm_score": _LM_SCORE_SQL,
    "ext_dedup_span": _SPAN_SQL,
    "ext_dedup_span_removal": _SPAN_REMOVAL_SQL,
    "ext_dedup_span_lengths": _SPAN_LENGTHS_SQL,
    "ext_dedup_paragraph_global": _PARA_GLOBAL_SQL,
    "ext_source_cap": _SOURCE_CAP_SQL,
    "ext_dedup_bloom": _bloom_oracle(),
    "ext_ann_hard_negatives": _HARD_NEG_SQL,
    "ext_corpus_diff": _CORPUS_DIFF_SQL,
    "ext_range_join_binned": _RANGE_BINNED_SQL,
    "ext_text_bpe_pairs": _BPE_SQL,
    "ext_quality_classifier": _classifier_oracle(iters=12, lr=4.0),
    "ext_text_bm25": _BM25_SQL,
    "ext_scd2_history": _SCD2_SQL,
    # incremental apply must be row-identical to the full recompute —
    # the oracle IS the full-history SQL
    "ext_scd2_incremental": _SCD2_SQL,
    "ext_layout_zorder": _ZORDER_SQL,
    "ext_layout_hilbert": _hilbert_oracle(),
    # incremental merge must equal the full recompute — the oracle IS
    # the plain GROUP BY over all rows
    "ext_rollup_incremental": _ROLLUP_SQL,
    # brute-force all-pairs oracle: the prefix-filtered join must be
    # lossless versus comparing every pair
    "ext_dedup_prefix_filter": _PREFIX_FILTER_SQL,
    # full-data histogram oracle: merged state and percentile reads
    # are integer arithmetic, reproduced bit-for-bit
    "ext_percentile_state": _PCT_STATE_SQL,
}


# ---------------------------------------------------------------------
# round 6: hybrid retrieval, time-series repair, path mining, bigram
# LM, KMV distinct state, soft dedup, mixture recipe
# ---------------------------------------------------------------------


def ext_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 bag-of-terms ranking over documents
    fused with a dense cosine ranking over embeddings by
    reciprocal-rank fusion (operators/similarity.rrf_fuse, fixed-point
    integer scores). The sparse list is ext_text_bm25's exact query;
    the dense list is vec 0's brute-force cosine top-20; fusion keeps
    the top 15. The oracle replays both retrievers AND the integer
    fusion, so ranks, scores, and membership must all agree."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    sparse = tx.bm25_topk(docs, ["hash", "vector", "spark"], topk=20)
    ws = Window.orderBy(F.desc("score"), "doc_id")
    sparse_r = sparse.select(
        "doc_id", F.row_number().over(ws).alias("rank")
    )
    dense = sim.cosine_topk_bruteforce(
        emb.where(F.col("vec_id") == 0), emb, k=20
    )
    dense_r = dense.select(F.col("vec_id").alias("doc_id"), "rank")
    fused = sim.rrf_fuse([sparse_r, dense_r], rrf_k=60, topk=15)
    return fused.transform(ordered, "fused_rank")


_RRF_SQL = f"""
    WITH {_TOKS},
    lens AS (SELECT doc_id, COUNT(*) AS dlen FROM toks GROUP BY doc_id),
    tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM toks
      WHERE word IN ('hash', 'vector', 'spark') GROUP BY doc_id, word
    ),
    dfreq AS (SELECT word, COUNT(*) AS dfc FROM tf GROUP BY word),
    consts AS (SELECT COUNT(*) AS nd, AVG(dlen) AS avgdl FROM lens),
    scored AS (
      SELECT tf.doc_id,
             ln(1.0 + (nd - dfc + 0.5) / (dfc + 0.5))
               * tf * (1.2 + 1.0)
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dlen / avgdl)) AS s
      FROM tf
      JOIN dfreq ON dfreq.word = tf.word
      JOIN lens ON lens.doc_id = tf.doc_id
      CROSS JOIN consts
    ),
    sparse AS (
      SELECT doc_id, ROUND(SUM(s), 5) AS score
      FROM scored GROUP BY doc_id
      ORDER BY score DESC, doc_id LIMIT 20
    ),
    sparse_r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM sparse
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT * FROM e WHERE vec_id = 0),
    dscored AS (
      SELECT c.vec_id, {_COS.format(a='q.v', b='c.v')} AS cosine
      FROM q JOIN e c ON c.vec_id <> q.vec_id
    ),
    dense_r AS (
      SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rnk
      FROM dscored QUALIFY rnk <= 20
    ),
    contribs AS (
      SELECT doc_id, CAST(FLOOR(1000000000 / (60 + rnk)) AS BIGINT) AS c
      FROM sparse_r
      UNION ALL
      SELECT doc_id, CAST(FLOOR(1000000000 / (60 + rnk)) AS BIGINT) AS c
      FROM dense_r
    ),
    fused AS (
      SELECT doc_id, SUM(c) AS rrf_score, COUNT(*) AS n_lists
      FROM contribs GROUP BY doc_id
    )
    SELECT ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id)
             AS fused_rank,
           doc_id, CAST(rrf_score AS BIGINT) AS rrf_score, n_lists
    FROM fused
    QUALIFY fused_rank <= 15
    ORDER BY fused_rank
"""


def ext_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification + repair (operators/timeseries.
    fill_date_gaps): daily high-value event rollups per type are
    sparse (value > 220 keeps ~half the days), the grid restores every
    day in each type's span, counts zero-fill, and the peak-value
    gauge forward-fills from the last observed day. is_gap marks
    synthesized rows, making the repair itself part of the checked
    contract."""
    from ..operators.timeseries import fill_date_gaps

    ev = load_table(spark, sf_dir, "events").where(F.col("value") > 220)
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
    ).agg(
        F.count("*").alias("n_events"),
        F.max(F.round(F.col("value") * 100).cast("bigint")).alias(
            "peak_cents"
        ),
    )
    filled = fill_date_gaps(
        daily,
        ["event_type"],
        "day",
        zero_cols=["n_events"],
        carry_cols=["peak_cents"],
    )
    return filled.select(
        "event_type", "day", "is_gap", "n_events", "peak_cents"
    ).transform(ordered, "event_type", "day")


_TS_GAPFILL_SQL = """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS n_events,
             MAX(CAST(ROUND(value * 100) AS BIGINT)) AS peak_cents
      FROM events WHERE value > 220 GROUP BY 1, 2
    ),
    ext AS (
      SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
      FROM daily GROUP BY 1
    ),
    grid AS (
      SELECT event_type,
             CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
               AS day
      FROM ext
    ),
    joined AS (
      SELECT g.event_type, g.day,
             CASE WHEN d.day IS NULL THEN 1 ELSE 0 END AS is_gap,
             COALESCE(d.n_events, 0) AS n_events,
             d.peak_cents
      FROM grid g
      LEFT JOIN daily d
        ON d.event_type = g.event_type AND d.day = g.day
    )
    SELECT event_type, day, is_gap, n_events,
           last_value(peak_cents IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS peak_cents
    FROM joined
    ORDER BY event_type, day
"""


def ext_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing EWMA smoothing (operators/timeseries.ewma_trailing,
    alpha=0.5 over the last 8 observations) of daily order revenue per
    priority class across 1995. Every weight is an exact binary
    fraction and the oracle mirrors the identical left-associated
    term chain, so the smoothed values are bit-reproducible; the
    final half-up quantization to 1e-4 is the repo's standard
    ROUND-divergence guard."""
    from ..operators.timeseries import ewma_trailing

    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1996-01-01")
    )
    daily = o.groupBy("o_orderpriority", "o_orderdate").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    sm = ewma_trailing(
        daily, ["o_orderpriority"], "o_orderdate", "cents",
        alpha=0.5, n=8,
    )
    return sm.select(
        "o_orderpriority",
        "o_orderdate",
        "cents",
        (F.floor(F.col("ewma") * 10000 + 0.5) / 10000).alias("ewma"),
    ).transform(ordered, "o_orderpriority", "o_orderdate")


def _ewma_oracle() -> str:
    from ..operators.timeseries import ewma_weights

    ws = ewma_weights(0.5, 8)
    lag = (
        lambda j: "cents"
        if j == 0
        else f"LAG(cents, {j}) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate)"
    )
    num = " + ".join(
        f"COALESCE({lag(j)} * {w!r}, 0.0)" for j, w in enumerate(ws)
    )
    den = " + ".join(
        f"CASE WHEN {lag(j)} IS NOT NULL THEN {w!r} ELSE 0.0 END"
        for j, w in enumerate(ws)
    )
    return f"""
    WITH daily AS (
      SELECT o_orderpriority, o_orderdate,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders
      WHERE o_orderdate >= DATE '1995-01-01'
        AND o_orderdate < DATE '1996-01-01'
      GROUP BY 1, 2
    ),
    sm AS (
      SELECT o_orderpriority, o_orderdate, cents,
             ({num}) / ({den}) AS ewma
      FROM daily
    )
    SELECT o_orderpriority, o_orderdate, cents,
           FLOOR(ewma * 10000 + 0.5) / 10000 AS ewma
    FROM sm
    ORDER BY o_orderpriority, o_orderdate
"""


def ext_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event paths (operators/sessions.top_event_paths): the 20
    most frequent 3-step consecutive event-type sequences across all
    user timelines, ordered by occurrence count — the product-
    analytics user-flow report. Tie order is (count desc, path),
    per-user event order is (ts, event_id)."""
    from ..operators.sessions import top_event_paths

    ev = load_table(spark, sf_dir, "events")
    return top_event_paths(ev, n_steps=3, topk=20).transform(ordered, "path_rank")


_USER_PATHS_SQL = """
    WITH seq AS (
      SELECT event_type AS step_1,
             LEAD(event_type, 1) OVER w AS step_2,
             LEAD(event_type, 2) OVER w AS step_3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT step_1, step_2, step_3, COUNT(*) AS n_occurrences
      FROM seq WHERE step_3 IS NOT NULL
      GROUP BY 1, 2, 3
    )
    SELECT ROW_NUMBER() OVER (
             ORDER BY n_occurrences DESC, step_1, step_2, step_3
           ) AS path_rank,
           step_1, step_2, step_3, n_occurrences
    FROM paths
    QUALIFY path_rank <= 20
    ORDER BY path_rank
"""


def ext_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring (operators/text.bigram_lm_scores,
    add-one smoothing): per-document cross-entropy over token PAIRS
    against the corpus bigram model. The oracle rebuilds the same
    model from the same tokenizer and must match the rounded xent/ppl
    per document."""
    docs = load_table(spark, sf_dir, "documents")
    out = tx.bigram_lm_scores(docs)
    return out.select(
        "doc_id", "n_bigrams", "xent", "ppl"
    ).transform(ordered, "doc_id")


_BIGRAM_LM_SQL = f"""
    WITH {_TOKS},
    bg AS (
      SELECT doc_id, word AS w1,
             LEAD(word) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM toks
    ),
    bg2 AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
    model AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM bg2 GROUP BY 1, 2
    ),
    ctx AS (SELECT w1, COUNT(*) AS c1 FROM bg2 GROUP BY 1),
    voc AS (SELECT COUNT(DISTINCT word) AS v FROM toks),
    scored AS (
      SELECT b.doc_id,
             -ln(CAST(c12 + 1 AS DOUBLE) / (c1 + v)) AS nll
      FROM bg2 b
      JOIN model ON model.w1 = b.w1 AND model.w2 = b.w2
      JOIN ctx ON ctx.w1 = b.w1
      CROSS JOIN voc
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_bigrams, AVG(nll) AS xent
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           ROUND(xent, 5) AS xent, ROUND(exp(xent), 4) AS ppl
    FROM agg ORDER BY doc_id
"""


def ext_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count state (operators/rollup.kmv_state /
    kmv_estimate, k=64 over a 2^52 md5-derived hash domain): per
    event_type distinct-user estimates alongside the exact counts.
    Unlike the HLL tier (error-band oracle only), every KMV step is
    portable integer arithmetic, so the DuckDB oracle reproduces the
    ESTIMATE bit-for-bit — the estimator itself is part of the checked
    contract. Merge-equivalence (state ⊕ state == full) is pinned in
    tests/test_rollup_state.py."""
    from ..operators.rollup import kmv_estimate, kmv_state

    ev = load_table(spark, sf_dir, "events")
    state = kmv_state(ev, ["event_type"], "user_id", k=64)
    est = kmv_estimate(state, ["event_type"], k=64)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return (
        est.join(exact, "event_type")
        .select("event_type", "n_hashes", "est_distinct", "exact_distinct")
        .transform(ordered, "event_type")
    )


_KMV_SQL = """
    WITH hashed AS (
      SELECT DISTINCT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)
                  AS BIGINT) AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hashed
    ),
    state AS (SELECT event_type, h FROM ranked WHERE rn <= 64),
    est AS (
      SELECT event_type, COUNT(*) AS n_hashes,
             CASE WHEN COUNT(*) < 64 THEN COUNT(*)
                  ELSE 63 * 4503599627370496 // MAX(h) END AS est_distinct
      FROM state GROUP BY event_type
    ),
    exact AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT est.event_type, n_hashes,
           CAST(est_distinct AS BIGINT) AS est_distinct,
           exact.exact_distinct
    FROM est JOIN exact ON est.event_type = exact.event_type
    ORDER BY est.event_type
"""


def ext_dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (operators/dedup.soft_dedup_weights): near-duplicate
    clusters from MinHash-LSH candidate pairs, every document assigned
    loss weight 1/|cluster| in exact ppm instead of being dropped —
    the downweight-don't-delete curation policy. One row per corpus
    document; singletons carry weight 1.0. The oracle replays pairs +
    recursive closure + the integer weight formula."""
    from ..operators.dedup import soft_dedup_weights

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_lsh_pairs(docs, num_hashes=16, bands=4)
    n_parts = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        max(4, docs.rdd.getNumPartitions()),
    )
    out = soft_dedup_weights(
        docs, pairs, num_partitions=n_parts
    )
    return out.select(
        "doc_id", "cluster", "cluster_size", "weight_ppm"
    ).transform(ordered, "doc_id")


def _soft_weights_oracle() -> str:
    return f"""
    WITH RECURSIVE {_minhash_pairs_ctes()},
    cedges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION
      SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach(s, d) AS (
      SELECT s, d FROM cedges
      UNION
      SELECT reach.s, cedges.d FROM reach JOIN cedges ON reach.d = cedges.s
    ),
    comp AS (
      SELECT s AS node, LEAST(s, MIN(d)) AS component FROM reach GROUP BY s
    ),
    sizes AS (
      SELECT component, COUNT(*) AS csize FROM comp GROUP BY component
    ),
    cmap AS (
      SELECT comp.node, comp.component, sizes.csize
      FROM comp JOIN sizes ON comp.component = sizes.component
    )
    SELECT d.doc_id,
           COALESCE(cmap.component, d.doc_id) AS cluster,
           COALESCE(cmap.csize, 1) AS cluster_size,
           CAST(FLOOR(1000000 / COALESCE(cmap.csize, 1)) AS BIGINT)
             AS weight_ppm
    FROM documents d
    LEFT JOIN cmap ON cmap.node = d.doc_id
    ORDER BY d.doc_id
"""


def ext_recipe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture planning (operators/split.token_budget_recipe):
    per-source epoch factors to hit a 150k-token budget under
    relative source weights with a 4-epoch repetition cap — the
    weighted-mixture recipe step of a training-data pipeline. All
    integer arithmetic (epochs in basis points); the oracle replays
    the same tokenizer, weights, and integer division."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.size(tx.tokenize(F.col("text"))).alias("n_tokens"),
    )
    return sp.token_budget_recipe(
        per_doc,
        budget_tokens=150_000,
        weights={"src0": 5, "src1": 5, "src2": 3, "src3": 3, "src4": 2},
        max_epochs_bp=40_000,
    )


_RECIPE_SQL = f"""
    WITH {_TOKS},
    per_doc AS (
      SELECT d.source, COUNT(toks.word) AS n_tokens
      FROM documents d LEFT JOIN toks ON toks.doc_id = d.doc_id
      GROUP BY d.source, d.doc_id
    ),
    per_source AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
             CAST(CASE source
               WHEN 'src0' THEN 5 WHEN 'src1' THEN 5
               WHEN 'src2' THEN 3 WHEN 'src3' THEN 3
               WHEN 'src4' THEN 2 ELSE 1 END AS BIGINT) AS weight
      FROM per_doc GROUP BY source
    ),
    sized AS (
      SELECT *, SUM(weight) OVER () AS wtot FROM per_source
    ),
    planned AS (
      SELECT source, n_docs, n_tokens, weight,
             150000 * weight // wtot AS target_tokens,
             LEAST(CAST(40000 AS BIGINT),
                   (150000 * weight // wtot) * 10000 // n_tokens)
               AS epochs_bp
      FROM sized
    )
    SELECT source, n_docs, n_tokens, weight,
           CAST(target_tokens AS BIGINT) AS target_tokens,
           CAST(epochs_bp AS BIGINT) AS epochs_bp,
           CAST(n_tokens * epochs_bp // 10000 AS BIGINT) AS planned_tokens
    FROM planned ORDER BY source
"""


EXT_QUERIES.update(
    {
        "ext_retrieval_rrf": ext_retrieval_rrf,
        "ext_ts_gapfill": ext_ts_gapfill,
        "ext_ts_ewma": ext_ts_ewma,
        "ext_user_paths": ext_user_paths,
        "ext_text_bigram_lm": ext_text_bigram_lm,
        "ext_kmv_distinct": ext_kmv_distinct,
        "ext_dedup_soft_weights": ext_dedup_soft_weights,
        "ext_recipe_token_budget": ext_recipe_token_budget,
    }
)

EXT_ORACLES.update(
    {
        "ext_retrieval_rrf": _RRF_SQL,
        "ext_ts_gapfill": _TS_GAPFILL_SQL,
        "ext_ts_ewma": _ewma_oracle(),
        "ext_user_paths": _USER_PATHS_SQL,
        "ext_text_bigram_lm": _BIGRAM_LM_SQL,
        "ext_kmv_distinct": _KMV_SQL,
        "ext_dedup_soft_weights": _soft_weights_oracle(),
        "ext_recipe_token_budget": _RECIPE_SQL,
    }
)
