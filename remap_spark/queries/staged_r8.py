"""Round-8 staged driver registrations.

Round 7 froze registry growth (169 registered against the 50x4 = 200
staleness ceiling — see the ``queries/__init__`` docstring), so operators added in round 7 stage HERE exactly the way the round-6
operators staged in ``staged_r7.py``: a deterministic ``(spark,
sf_dir) -> DataFrame`` wrapper plus the exact DuckDB oracle, replayed
at both test scale factors by ``tests/test_staged_r8.py`` and
plan-swept for unbounded joins, so the r8 promotion is again a pure
dict merge with zero new correctness risk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import load_table, local_frame
from ..functions import ordered
from ..operators.dedup import (
    cross_corpus_match_spans,
    maximal_match_spans,
    remove_duplicate_spans_keep_one,
)
from ..operators.linkage import resolve_entities_multi
from ..worker import on_worker
from .extensions import _SPAN_GRAM, _TOKS


def ext_entity_resolution_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key blocked entity resolution: candidate pairs from the
    UNION of two blocking keys — the name prefix through the 7th
    customer-number digit (catches typos in the trailing digits, the
    single-key r7 query's coverage) plus the LAST-7-digit suffix
    (catches typos in the leading digits, which change the prefix
    block and were invisible to the single key). Recall-vs-brute-force
    is pinned by tests/test_round7.py on a constructed typo corpus;
    here the DuckDB oracle replays the exact same key union, lev<=2
    edge predicate, and min-label closure."""
    cust = load_table(spark, sf_dir, "customer")
    out = resolve_entities_multi(
        cust,
        "c_custkey",
        "c_name",
        [F.substring("c_name", 1, 16), F.substring("c_name", -7, 7)],
        max_distance=2,
    )
    return out.select("c_custkey", "entity_id").transform(ordered, "c_custkey")


_ENTITY_RESOLUTION_MULTI_SQL = """
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM customer a JOIN customer b
        ON (substr(a.c_name, 1, 16) = substr(b.c_name, 1, 16)
            OR substr(a.c_name, length(a.c_name) - 6, 7)
             = substr(b.c_name, length(b.c_name) - 6, 7))
       AND a.c_custkey < b.c_custkey
       AND levenshtein(a.c_name, b.c_name) <= 2
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(u, lbl) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v
    ),
    comp AS (SELECT u, MIN(lbl) AS ent FROM walk GROUP BY u)
    SELECT c.c_custkey, COALESCE(comp.ent, c.c_custkey) AS entity_id
    FROM customer c LEFT JOIN comp ON comp.u = c.c_custkey
    ORDER BY c_custkey
"""


_MAX_GRAM_DOCS = 30


def ext_dedup_span_maximal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array-faithful maximal duplicated spans
    (operators/dedup.maximal_match_spans): every row is an exact
    contiguous cross-document match with a specific partner
    occurrence, maximal in the stringology sense — unlike
    ext_dedup_span_lengths' island merge, overlapping repeats with
    different partners stay separate rows with their true lengths.
    Stop-grams in more than 30 documents are dropped (the documented
    pair-blowup bound); the oracle replays the identical cap."""
    docs = load_table(spark, sf_dir, "documents")
    out = maximal_match_spans(docs, k=5, max_gram_docs=_MAX_GRAM_DOCS)
    return out.select(
        F.col("doc").alias("doc_id"), "span_start", "span_len"
    ).transform(ordered, "doc_id", "span_start", "span_len")


_SPAN_PAIR_CTES = f"""
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
    sh AS (SELECT doc_id, pos, gram FROM g5 WHERE gram IS NOT NULL),
    hot AS (
      SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM sh)
      GROUP BY gram HAVING COUNT(*) > {_MAX_GRAM_DOCS}
    ),
    shc AS (
      SELECT * FROM sh WHERE gram NOT IN (SELECT gram FROM hot)
    ),
    anch AS (
      SELECT a.doc_id AS da, a.pos AS ia, b.doc_id AS db, b.pos AS ib
      FROM shc a JOIN shc b
        ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT da, db, ia, ib,
             ia - ROW_NUMBER() OVER (
               PARTITION BY da, db, ia - ib ORDER BY ia) AS grp
      FROM anch
    ),
    m AS (
      SELECT da, db, MIN(ia) AS sa, MIN(ib) AS sb,
             COUNT(*) + 4 AS span_len
      FROM runs GROUP BY da, db, ia - ib, grp
    )
"""

_SPAN_MAXIMAL_SQL = (
    _SPAN_PAIR_CTES
    + """
    SELECT DISTINCT doc_id, span_start, CAST(span_len AS BIGINT) AS span_len
    FROM (
      SELECT da AS doc_id, sa AS span_start, span_len FROM m
      UNION ALL
      SELECT db AS doc_id, sb AS span_start, span_len FROM m
    )
    ORDER BY doc_id, span_start, span_len
"""
)


def ext_dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor-preserving exact-substring dedup (operators/dedup.
    remove_duplicate_spans_keep_one): each maximal cross-document
    duplicated span is removed from the later occurrence of every
    witnessing pair and kept at its first — a 2-way duplicate is
    removed exactly once, an N-way duplicate keeps exactly its first
    copy (vs ext_dedup_span_removal, which removes ALL copies)."""
    docs = load_table(spark, sf_dir, "documents")
    out = remove_duplicate_spans_keep_one(
        docs, k=5, max_gram_docs=_MAX_GRAM_DOCS
    )
    return out.select(
        F.col("doc").alias("doc_id"), "text", "n_tokens", "n_removed"
    ).transform(ordered, "doc_id")


_KEEP_ONE_SQL = (
    _SPAN_PAIR_CTES
    + """,
    cov AS (
      SELECT DISTINCT db AS doc_id, unnest(range(sb, sb + span_len)) AS pos
      FROM m WHERE span_len >= 5
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
)


def _mp3_fixture_blob(i: int) -> bytes:
    """Deterministic spec-valid MPEG-1 Layer III frame chain for
    doc_id ``i`` (pure header arithmetic — payload bytes are filler;
    the PARSER under test never needs codec data): 2 + i%9 frames,
    sample rate by i%3, stereo on even ids, per-frame padding bit
    alternating, a VBR 64/128 alternation on i%4==0 (else CBR by
    i%3), an ID3v2 prefix on i%5==0 and an ID3v1 tail on i%7==0 so
    the tag-skip paths are exercised in-query."""
    rates = (44100, 48000, 32000)
    br_table = [
        None, 32, 40, 48, 56, 64, 80, 96, 112, 128,
        160, 192, 224, 256, 320, None,
    ]
    n = 2 + i % 9
    sr_idx = i % 3
    rate = rates[sr_idx]
    mode = 1 if i % 2 == 0 else 3  # joint stereo / mono
    out = []
    if i % 5 == 0:
        out.append(b"ID3\x04\x00\x00\x00\x00\x00\x10" + bytes(16))
    for j in range(n):
        if i % 4 == 0:
            kbps = 64 if j % 2 == 0 else 128
        else:
            kbps = (64, 128, 192)[i % 3]
        padding = j % 2
        flen = 144 * (kbps * 1000) // rate + padding
        hdr = bytes(
            [
                0xFF,
                0xE0 | (3 << 3) | (1 << 1),
                (br_table.index(kbps) << 4) | (sr_idx << 2) | (padding << 1),
                mode << 6,
            ]
        )
        out.append(hdr + bytes([0x5A]) * (flen - 4))
    if i % 7 == 0:
        out.append(b"TAG" + bytes(125))
    return b"".join(out)


def ext_mm_audio_mp3_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE MP3 container parse, driver-checkable: each document id
    becomes a deterministic spec-valid Layer III frame chain (built in
    the same Arrow batch — the construction is fixture synthesis, the
    PARSE is the operator under test: operators/multimodal.
    parse_mp3_frames), and the query emits the raw integer parse
    results so the oracle is pure modular arithmetic over doc_id —
    no float rounding seam. Exercises the frame-sync walk, the
    §2.4.3.1 length formula with per-frame padding, VBR detection,
    and both ID3 tag-skip paths, on real bytes."""
    from ..operators.multimodal import parse_mp3_frames

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < 500)
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                i = int(d)
                nf, sr, ch, tot, brs, vbr = parse_mp3_frames(
                    _mp3_fixture_blob(i)
                )
                rows.append((i, nf, sr, ch, tot, brs, bool(vbr)))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_frames", "sample_rate", "channels",
                    "total_samples", "bitrate_sum", "is_vbr",
                ],
            )

    schema = (
        "media_id bigint, n_frames bigint, sample_rate bigint, "
        "channels bigint, total_samples bigint, bitrate_sum bigint, "
        "is_vbr boolean"
    )
    return docs.mapInPandas(on_worker(run), schema).transform(ordered, "media_id")


_MP3_META_SQL = """
    SELECT doc_id AS media_id,
      2 + doc_id % 9 AS n_frames,
      CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                      ELSE 32000 END AS sample_rate,
      CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS channels,
      1152 * (2 + doc_id % 9) AS total_samples,
      CASE WHEN doc_id % 4 = 0
           THEN 64 * ((2 + doc_id % 9 + 1) // 2)
              + 128 * ((2 + doc_id % 9) // 2)
           ELSE (CASE doc_id % 3 WHEN 0 THEN 64 WHEN 1 THEN 128
                 ELSE 192 END) * (2 + doc_id % 9)
      END AS bitrate_sum,
      doc_id % 4 = 0 AS is_vbr
    FROM documents WHERE doc_id < 500
    ORDER BY media_id
"""


def ext_dedup_incremental_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time exact-substring dedup (operators/dedup.
    incremental_remove_spans): the even-doc half of the corpus plays
    the ALREADY-INDEXED gram store, the odd-doc half the incoming
    batch — tokens inside any 5-window whose gram exists in the store
    or in >= 2 batch documents are dropped and texts rebuilt.
    tests/test_round7 pins the equivalence to the union-corpus full
    recompute and the zero-store-exchange bucketed probe plan."""
    from ..operators.dedup import (
        incremental_remove_spans,
        span_gram_store_rows,
    )

    docs = load_table(spark, sf_dir, "documents")
    store = span_gram_store_rows(docs.where(F.col("doc_id") % 2 == 0), k=5)
    new = docs.where(F.col("doc_id") % 2 == 1)
    out = incremental_remove_spans(new, store, k=5)
    # NOTE r13: a pre-sort lazy cut A/B-measured slower (3.00 vs 2.71 s
    # fresh min) — wide text rows make the materialization dearer than
    # the sampling pass's re-read (the ext_winsorize rule's flip side);
    # the sampling pass runs only when ``ordered`` keeps the range sort
    return out.select(
        F.col("doc").alias("doc_id"), "text", "n_tokens", "n_removed"
    ).transform(ordered, "doc_id")


_INCREMENTAL_SPANS_SQL = f"""
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
    sh AS (SELECT doc_id, pos, gram FROM g5 WHERE gram IS NOT NULL),
    store AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 2 = 0),
    batch AS (SELECT * FROM sh WHERE doc_id % 2 = 1),
    dupb AS (
      SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM batch)
      GROUP BY gram HAVING COUNT(*) >= 2
    ),
    hits AS (
      SELECT doc_id, pos FROM batch
      WHERE gram IN (SELECT gram FROM store)
      UNION
      SELECT doc_id, pos FROM batch
      WHERE gram IN (SELECT gram FROM dupb)
    ),
    cov AS (
      SELECT DISTINCT doc_id, pos + r.u AS pos
      FROM hits CROSS JOIN range(5) AS r(u)
    ),
    marked AS (
      SELECT t.doc_id, t.pos, t.word, c.pos IS NOT NULL AS covered
      FROM t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.pos = t.pos
      WHERE t.doc_id % 2 = 1
    )
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN NOT covered THEN word END,
                               ' ' ORDER BY pos), '') AS text,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed
    FROM marked GROUP BY doc_id ORDER BY doc_id
"""


_TRI_M3, _TRI_M2 = 500, 300


def ext_text_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram Stupid Backoff scoring (operators/text.
    trigram_backoff_scores) with the models CAPPED at top-500
    trigrams / top-300 bigrams so the backoff chain is non-vacuous at
    every test SF: in-model trigrams score c3/ctx3, capped-out ones
    fall to 0.4 x bigram, then 0.4² x unigram. The oracle replays the
    identical deterministic truncation (count desc, ngram asc)."""
    from ..operators.text import trigram_backoff_scores

    docs = load_table(spark, sf_dir, "documents")
    out = trigram_backoff_scores(
        docs, max_model_trigrams=_TRI_M3, max_model_bigrams=_TRI_M2
    )
    return out.transform(ordered, "doc_id")


_TRIGRAM_BACKOFF_SQL = f"""
    WITH {_TOKS},
    t AS (
      SELECT doc_id, word,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS pos
      FROM toks
    ),
    tri AS (
      SELECT doc_id, word AS w1,
             LEAD(word, 1) OVER w AS w2, LEAD(word, 2) OVER w AS w3
      FROM t WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY w2 IS NOT NULL AND w3 IS NOT NULL
    ),
    m3 AS (
      SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri GROUP BY 1, 2, 3
      ORDER BY c3 DESC, w1, w2, w3 LIMIT {_TRI_M3}
    ),
    cx3 AS (SELECT w1, w2, COUNT(*) AS cx3 FROM tri GROUP BY 1, 2),
    m2 AS (
      SELECT w2, w3, COUNT(*) AS c2 FROM tri GROUP BY 1, 2
      ORDER BY c2 DESC, w2, w3 LIMIT {_TRI_M2}
    ),
    cx2 AS (SELECT w2, COUNT(*) AS cx2 FROM tri GROUP BY 1),
    uni AS (SELECT w3, COUNT(*) AS c1 FROM tri GROUP BY 1),
    n AS (SELECT COUNT(*) AS nn FROM tri),
    sc AS (
      SELECT tri.doc_id,
        CASE WHEN m3.c3 IS NOT NULL THEN m3.c3 * 1.0 / cx3.cx3
             WHEN m2.c2 IS NOT NULL THEN 0.4 * m2.c2 / cx2.cx2
             ELSE 0.4 * 0.4 * uni.c1 / n.nn END AS s
      FROM tri
      LEFT JOIN m3 USING (w1, w2, w3)
      JOIN cx3 USING (w1, w2)
      LEFT JOIN m2 USING (w2, w3)
      JOIN cx2 USING (w2)
      JOIN uni USING (w3)
      CROSS JOIN n
    )
    SELECT doc_id, COUNT(*) AS n_trigrams,
           ROUND(AVG(ln(s)), 5) AS score_log_mean,
           ROUND(exp(-AVG(ln(s))), 4) AS ppl_proxy
    FROM sc GROUP BY doc_id ORDER BY doc_id
"""


def ext_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities on the reference pagerank fixture graph
    (graph1+graph2 adjacency, FIXTURES.md A2): 8 L1-normalized
    iterations, scores rounded to 5 decimals. The classical L2 norm
    only rescales the power iteration on A^T.A, so the L1 variant
    ranks identically while keeping the normalizer a broadcast
    single-row SUM both engines replay exactly (see operators/pregel
    ``hits`` — two key shuffles + two in-plan normalizers per
    iteration, the pagerank per-superstep profile)."""
    from ..operators.pregel import hits
    from .graphs import PAGERANK_ADJ, _edges_df

    edges = _edges_df(spark, PAGERANK_ADJ)
    verts = local_frame(spark, [(v,) for v in PAGERANK_ADJ], "id string")
    scores = hits(verts, edges, iters=8, num_partitions=2)
    return scores.select(
        F.col("id").alias("vertex_id"),
        F.round("hub", 5).alias("hub"),
        F.round("auth", 5).alias("auth"),
    ).transform(ordered, "vertex_id")


def _hits_oracle(iters: int = 8) -> str:
    """Unrolled per-iteration MATERIALIZED CTEs (the ext_pagerank_*
    pattern): auth from the CURRENT hub vector, hub from the NEW auth
    vector, each L1-normalized by a scalar CROSS JOIN — the exact
    computation ``operators/pregel.hits`` runs, double arithmetic,
    ROUND(,5) absorbing summation-order ulps."""
    from .graphs import PAGERANK_ADJ, _edge_values, _values_sql

    ctes = [
        f"verts(id) AS (VALUES {_values_sql([(v,) for v in PAGERANK_ADJ])})",
        f"edges(src, dst) AS (VALUES {_edge_values(PAGERANK_ADJ)})",
        "h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM verts)",
    ]
    for k in range(iters):
        ctes.append(
            f"""ar{k} AS MATERIALIZED (
          SELECT e.dst AS id, SUM(h.hub) AS s
          FROM h{k} h JOIN edges e ON e.src = h.id GROUP BY e.dst)"""
        )
        ctes.append(
            f"at{k} AS MATERIALIZED (SELECT SUM(s) AS t FROM ar{k})"
        )
        ctes.append(
            f"""a{k} AS MATERIALIZED (
          SELECT v.id,
                 CASE WHEN t.t > 0
                      THEN COALESCE(ar.s, CAST(0.0 AS DOUBLE)) / t.t
                      ELSE CAST(0.0 AS DOUBLE) END AS auth
          FROM verts v
          LEFT JOIN ar{k} ar ON ar.id = v.id
          CROSS JOIN at{k} t)"""
        )
        ctes.append(
            f"""hr{k} AS MATERIALIZED (
          SELECT e.src AS id, SUM(a.auth) AS s
          FROM a{k} a JOIN edges e ON e.dst = a.id GROUP BY e.src)"""
        )
        ctes.append(
            f"ht{k} AS MATERIALIZED (SELECT SUM(s) AS t FROM hr{k})"
        )
        ctes.append(
            f"""h{k + 1} AS MATERIALIZED (
          SELECT v.id,
                 CASE WHEN t.t > 0
                      THEN COALESCE(hr.s, CAST(0.0 AS DOUBLE)) / t.t
                      ELSE CAST(0.0 AS DOUBLE) END AS hub
          FROM verts v
          LEFT JOIN hr{k} hr ON hr.id = v.id
          CROSS JOIN ht{k} t)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT h.id AS vertex_id, ROUND(h.hub, 5) AS hub,
               ROUND(a.auth, 5) AS auth
        FROM h{iters} h JOIN a{iters - 1} a ON a.id = h.id
        ORDER BY vertex_id"""
    )


_HITS_SQL = _hits_oracle()


def ext_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with span evidence (operators/dedup.
    cross_corpus_match_spans): documents with doc_id % 19 == 3 play
    the EVAL benchmark, the rest the TRAINING corpus; every maximal
    verbatim token run of length >= 5 a training document shares with
    any eval document is reported with its exact start/length and the
    count of witnessing eval docs — the maximal-match fidelity tier
    above ext_text_decontaminate's n-gram membership flag. The
    hot-gram cap (> 30 docs, joint across both corpora) replays in
    the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 19 != 3)
    evald = docs.where(F.col("doc_id") % 19 == 3)
    out = cross_corpus_match_spans(
        train, evald, k=5, max_gram_docs=_MAX_GRAM_DOCS
    )
    # NOTE r13: a pre-sort lazy cut A/B-measured a wash (2.33/2.64 vs
    # 2.51/2.51 s) — the segment below the sort is a final aggregate
    # over existing shuffle files; nothing expensive to save. Left
    # uncut so the plan stays the r12 shape.
    return out.select(
        F.col("doc").alias("doc_id"),
        "span_start",
        "span_len",
        F.col("n_probe_docs").alias("n_eval_docs"),
    ).transform(ordered, "doc_id", "span_start", "span_len")


_DECONTAM_SPANS_SQL = (
    _SPAN_PAIR_CTES.replace(
        """anch AS (
      SELECT a.doc_id AS da, a.pos AS ia, b.doc_id AS db, b.pos AS ib
      FROM shc a JOIN shc b
        ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),""",
        """anch AS (
      SELECT a.doc_id AS da, a.pos AS ia, b.doc_id AS db, b.pos AS ib
      FROM shc a JOIN shc b ON a.gram = b.gram
      WHERE a.doc_id % 19 <> 3 AND b.doc_id % 19 = 3
    ),""",
    )
    + """
    SELECT da AS doc_id, sa AS span_start,
           CAST(span_len AS BIGINT) AS span_len,
           CAST(COUNT(DISTINCT db) AS BIGINT) AS n_eval_docs
    FROM m GROUP BY da, sa, span_len
    ORDER BY doc_id, span_start, span_len
"""
)

# the .replace() surgery above silently no-ops if _SPAN_PAIR_CTES
# drifts — fail at import time instead of with a confusing replay
# mismatch far from the cause
if "b.doc_id % 19 = 3" not in _DECONTAM_SPANS_SQL:
    raise RuntimeError(
        "_DECONTAM_SPANS_SQL anchor-CTE surgery no longer matches "
        "_SPAN_PAIR_CTES — re-derive the cross-corpus anchor predicate"
    )


def ext_text_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (operators/text.rake_keywords) over
    the documents corpus: candidate phrases between stopwords,
    degree/frequency word scores, ppm-exact integer scoring, corpus
    top-20 under a total (score, phrase) order."""
    from ..operators.text import rake_keywords

    docs = load_table(spark, sf_dir, "documents")
    return rake_keywords(docs, top_n=20)


def _rake_stop_in() -> str:
    # the ONE stopword list: the operator default, rendered for SQL —
    # a second literal copy here would silently drift from the query
    from ..operators.text import RAKE_STOPWORDS

    return ", ".join(repr(w) for w in RAKE_STOPWORDS)


_RAKE_STOP_IN = _rake_stop_in()

_RAKE_SQL = f"""
    WITH {_TOKS},
    t AS (
      SELECT doc_id, word,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS pos
      FROM toks
    ),
    c AS (
      SELECT doc_id, word, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM t WHERE word NOT IN ({_RAKE_STOP_IN})
    ),
    pl AS (
      SELECT doc_id, grp, COUNT(*) AS plen FROM c GROUP BY doc_id, grp
    ),
    wp AS (
      SELECT c.doc_id, c.grp, c.word, c.pos, pl.plen
      FROM c JOIN pl USING (doc_id, grp)
    ),
    ws AS (
      SELECT word,
             CAST((SUM(plen) * 1000000) // COUNT(*) AS BIGINT)
               AS wscore
      FROM wp GROUP BY word
    ),
    ps AS (
      SELECT wp.doc_id, wp.grp,
             CAST(SUM(ws.wscore) AS BIGINT) AS score_ppm,
             string_agg(wp.word, ' ' ORDER BY wp.pos) AS phrase
      FROM wp JOIN ws USING (word)
      GROUP BY wp.doc_id, wp.grp
    )
    SELECT phrase, MAX(score_ppm) AS score_ppm,
           COUNT(*) AS n_occurrences
    FROM ps GROUP BY phrase
    ORDER BY score_ppm DESC, phrase LIMIT 20
"""


def ext_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP strict-contiguity pattern match (operators/sessions.
    match_pattern): every ``signup click+ purchase`` run in a user's
    timeline with NO interleaving event — the Flink-CEP contract the
    funnel's ordered-subsequence walk deliberately relaxes. One row
    per match with epoch-us anchors, middle-run length, and
    duration."""
    from ..operators.sessions import match_pattern

    ev = load_table(spark, sf_dir, "events")
    return match_pattern(
        ev, first="signup", middle="click", last="purchase"
    ).transform(ordered, "user_id", "first_us")


_CEP_PATTERN_SQL = """
    WITH e AS (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS seq
      FROM events
    ),
    chg AS (
      SELECT *, CASE WHEN LAG(event_type) OVER (
                        PARTITION BY user_id ORDER BY seq)
                     IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS c
      FROM e
    ),
    r0 AS (
      SELECT *, SUM(c) OVER (PARTITION BY user_id ORDER BY seq) AS rg
      FROM chg
    ),
    runs AS (
      SELECT user_id, rg, MAX(event_type) AS t, MIN(ts) AS start_ts,
             MAX(ts) AS end_ts, COUNT(*) AS rlen
      FROM r0 GROUP BY user_id, rg
    ),
    m AS (
      SELECT user_id, t, rlen,
             LAG(t) OVER w AS pt, LAG(end_ts) OVER w AS p_end,
             LEAD(t) OVER w AS nt, LEAD(start_ts) OVER w AS n_start
      FROM runs WINDOW w AS (PARTITION BY user_id ORDER BY rg)
    )
    SELECT user_id, epoch_us(p_end) AS first_us,
           epoch_us(n_start) AS last_us,
           CAST(rlen AS BIGINT) AS n_middle,
           epoch_us(n_start) - epoch_us(p_end) AS duration_us
    FROM m
    WHERE t = 'click' AND pt = 'signup' AND nt = 'purchase'
    ORDER BY user_id, first_us
"""


def ext_ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental join maintenance (operators/rollup.join_delta):
    orders/lineitem each split into snapshot + insert batch by a key
    hash; the query returns the JOIN DELTA — exactly the joined pairs
    at least one of whose sides is new, aggregated per
    (returnflag, priority). The oracle is the closed form
    ``WHERE a.is_new OR b.is_new`` over the full join, which the
    dA><(B∪dB) ∪ A><dB decomposition provably equals."""
    from ..operators.rollup import join_delta

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    a_new = F.col("o_orderkey") % 10 == 7
    b_new = (F.col("l_orderkey") + F.col("l_linenumber")) % 10 == 4
    delta = join_delta(
        orders.where(~a_new).withColumnRenamed("o_orderkey", "k"),
        orders.where(a_new).withColumnRenamed("o_orderkey", "k"),
        li.where(~b_new).withColumnRenamed("l_orderkey", "k"),
        li.where(b_new).withColumnRenamed("l_orderkey", "k"),
        on="k",
        broadcast_deltas=True,
    )
    return (
        delta.groupBy("l_returnflag", "o_orderpriority")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )
        .transform(ordered, "l_returnflag", "o_orderpriority")
    )


_IVM_JOIN_DELTA_SQL = """
    SELECT l_returnflag, o_orderpriority, COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey % 10 = 7
       OR (l_orderkey + l_linenumber) % 10 = 4
    GROUP BY l_returnflag, o_orderpriority
    ORDER BY l_returnflag, o_orderpriority
"""


def ext_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen (operators/expectations.
    benford_deviation) over order totals: 9 rows of observed vs
    expected ppm mass. TPC-H-ish uniform prices are exactly the kind
    of column Benford flags — the query demonstrates the detector,
    not conformance."""
    from ..operators.expectations import benford_deviation

    orders = load_table(spark, sf_dir, "orders")
    return benford_deviation(orders, "o_totalprice")


_BENFORD_SQL = """
    WITH d AS (
      SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1.0
    ),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT COALESCE(SUM(n), 0) AS tt FROM c),
    e(digit, expected_ppm) AS (VALUES
      (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
      (6, 66947), (7, 57992), (8, 51153), (9, 45757)),
    -- all nine digit rows always emit: an unobserved digit is the
    -- loudest anomaly (deviation = -expected), never a missing row
    o AS (
      SELECT e.digit, COALESCE(c.n, 0) AS n, e.expected_ppm,
             CASE WHEN t.tt > 0
                  THEN COALESCE(c.n, 0) * 1000000 // t.tt
                  ELSE 0 END AS obs
      FROM e LEFT JOIN c USING (digit) CROSS JOIN t
    )
    SELECT digit, CAST(n AS BIGINT) AS n,
           CAST(obs AS BIGINT) AS observed_ppm,
           CAST(expected_ppm AS BIGINT) AS expected_ppm,
           CAST(obs - expected_ppm AS BIGINT) AS deviation_ppm
    FROM o ORDER BY digit
"""


def ext_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-users-to-date per active day (operators/
    sessions.cumulative_distinct_users) — the COUNT(DISTINCT) OVER
    unbounded frame SQL engines reject, decomposed via first-seen
    days; dense over active days."""
    from ..operators.sessions import cumulative_distinct_users

    ev = load_table(spark, sf_dir, "events")
    return cumulative_distinct_users(ev).transform(ordered, "day")


_CUMULATIVE_USERS_SQL = """
    WITH fs AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS day
      FROM events GROUP BY user_id
    ),
    nu AS (SELECT day, COUNT(*) AS new_users FROM fs GROUP BY day),
    ad AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    d AS (
      SELECT ad.day, COALESCE(nu.new_users, 0) AS new_users
      FROM ad LEFT JOIN nu USING (day)
    )
    SELECT day, CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM d ORDER BY day
"""


def ext_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the lineitem order-part co-occurrence graph folded
    onto 1500 vertices (operators/pregel.k_truss): every surviving
    edge closes >= 2 triangles within the truss — the edge-level
    community backbone above ext_k_core's vertex-level peel.

    FIXTURE SIZING: the fold modulus is data-adaptive (one planning
    count, documented) — 1500 keeps a real multi-round peel at the
    driver scale factors, but at sf0.1 the same fold would densify
    the folded graph toward K1500 (~1.7e9 wedge rows per peel round);
    above 100k lineitems the fold widens to 60000, keeping the wedge
    volume bounded. The oracle always runs at driver SFs, where the
    branch pins fold = 1500."""
    from ..operators.pregel import k_truss

    li = load_table(spark, sf_dir, "lineitem")
    fold = 1500 if li.count() <= 100_000 else 60_000
    g = li.select(
        (F.col("l_orderkey") % fold).alias("src"),
        (F.col("l_partkey") % fold).alias("dst"),
    )
    return k_truss(g, k=4).transform(ordered, "src", "dst")


def _ktruss_oracle(rounds: int = 10, fold: int = 1500, k: int = 4) -> str:
    """Unrolled MATERIALIZED peel rounds (recursive CTEs allow only
    ONE reference to the recursive relation — triangle support needs
    three, so the ext_pagerank_* unroll pattern applies), with the
    ext_k_core convergence sentinel: a not-yet-converged edge set at
    the unroll bound emits (-1,-1,-1) and fails the replay loudly."""
    tri = (
        "SELECT e1.a AS a, e1.b AS b, e2.b AS c "
        "FROM t{i} e1 JOIN t{i} e2 ON e1.b = e2.a "
        "JOIN t{i} e3 ON e3.a = e1.a AND e3.b = e2.b"
    )
    sup = (
        "SELECT a, b, COUNT(*) AS s FROM ("
        "SELECT a, b FROM tri{i} "
        "UNION ALL SELECT b AS a, c AS b FROM tri{i} "
        "UNION ALL SELECT a, c AS b FROM tri{i}) GROUP BY a, b"
    )
    ctes = [
        f"""t0 AS MATERIALIZED (
          SELECT DISTINCT
            LEAST(l_orderkey % {fold}, l_partkey % {fold}) AS a,
            GREATEST(l_orderkey % {fold}, l_partkey % {fold}) AS b
          FROM lineitem
          WHERE l_orderkey % {fold} != l_partkey % {fold})"""
    ]
    for i in range(rounds):
        ctes.append(f"tri{i} AS MATERIALIZED ({tri.format(i=i)})")
        ctes.append(f"sup{i} AS MATERIALIZED ({sup.format(i=i)})")
        ctes.append(
            f"""t{i + 1} AS MATERIALIZED (
          SELECT t.a, t.b FROM t{i} t JOIN sup{i} s
            ON s.a = t.a AND s.b = t.b
          WHERE s.s >= {k - 2})"""
        )
    ctes.append(f"trif AS MATERIALIZED ({tri.format(i=rounds)})")
    ctes.append("supf AS MATERIALIZED (" + sup.format(i="f") + ")")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT t.a AS src, t.b AS dst, CAST(s.s AS BIGINT) AS support
        FROM t{rounds} t JOIN supf s ON s.a = t.a AND s.b = t.b
        UNION ALL
        SELECT -1 AS src, -1 AS dst, CAST(-1 AS BIGINT) AS support
        WHERE (SELECT COUNT(*) FROM t{rounds})
           != (SELECT COUNT(*) FROM t{rounds - 1})
        ORDER BY src, dst"""
    )


_K_TRUSS_SQL = _ktruss_oracle()


def _exif_fixture_blob(i: int) -> bytes:
    """Deterministic spec-valid JPEG+EXIF blob for doc_id ``i``:
    little-endian TIFF on even ids, big-endian on odd; IFD0 holds
    Make/Model/Orientation/DateTime/ExifIFD (5 entries, ASCII values
    offset-stored, SHORTs in-line left-justified); the EXIF sub-IFD
    holds 1 + i%4 dummy SHORT entries; a JFIF APP0 precedes the APP1
    on i%3==0 so the marker walk skips a segment."""
    import struct

    e = "<" if i % 2 == 0 else ">"
    bo = b"II" if i % 2 == 0 else b"MM"
    make = f"Make{i % 5}".encode() + b"\x00"
    model = f"Cam{i % 7}".encode() + b"\x00"
    dt = f"2023:01:{1 + i % 28:02d} 10:00:00".encode() + b"\x00"
    n_sub = 1 + i % 4
    ifd0_off = 8
    ifd0_size = 2 + 5 * 12 + 4
    sub_off = ifd0_off + ifd0_size
    sub_size = 2 + n_sub * 12 + 4
    data_off = sub_off + sub_size
    off_make = data_off
    off_model = off_make + len(make)
    off_dt = off_model + len(model)

    def entry(tag, typ, cnt, raw4):
        return struct.pack(e + "HHI", tag, typ, cnt) + raw4

    short_raw = lambda v: struct.pack(e + "H", v) + b"\x00\x00"
    long_raw = lambda v: struct.pack(e + "I", v)
    ifd0 = struct.pack(e + "H", 5)
    ifd0 += entry(0x010F, 2, len(make), long_raw(off_make))
    ifd0 += entry(0x0110, 2, len(model), long_raw(off_model))
    ifd0 += entry(0x0112, 3, 1, short_raw(1 + i % 8))
    ifd0 += entry(0x0132, 2, len(dt), long_raw(off_dt))
    ifd0 += entry(0x8769, 4, 1, long_raw(sub_off))
    ifd0 += long_raw(0)
    sub = struct.pack(e + "H", n_sub)
    for t in range(n_sub):
        sub += entry(0x9000 + t, 3, 1, short_raw(t + 1))
    sub += long_raw(0)
    tiff = bo + struct.pack(e + "H", 42) + long_raw(ifd0_off)
    tiff += ifd0 + sub + make + model + dt
    app1_body = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + (len(app1_body) + 2).to_bytes(2, "big") + app1_body
    out = b"\xff\xd8"
    if i % 3 == 0:
        jfif = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
        out += b"\xff\xe0" + (len(jfif) + 2).to_bytes(2, "big") + jfif
    return out + app1 + b"\xff\xd9"


def ext_mm_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE EXIF parse, driver-checkable (operators/multimodal.
    parse_exif): deterministic JPEG+EXIF blobs per document id —
    both TIFF byte orders, offset-stored ASCII vs in-line SHORT
    values, a skipped JFIF segment, and the EXIF sub-IFD pointer —
    with a pure modular-arithmetic oracle over doc_id (the MP3-meta
    contract: fixture synthesis in the Arrow batch, the PARSE is the
    operator under test, on real bytes)."""
    from ..operators.multimodal import parse_exif

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < 500)
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                i = int(d)
                bo, n0, make, model, orient, dt, n_exif = parse_exif(
                    _exif_fixture_blob(i)
                )
                rows.append((i, bo, n0, make, model, orient, dt, n_exif))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "byte_order", "n_ifd0", "make", "model",
                    "orientation", "taken_at", "n_exif",
                ],
            )

    schema = (
        "media_id bigint, byte_order string, n_ifd0 bigint, "
        "make string, model string, orientation bigint, "
        "taken_at string, n_exif bigint"
    )
    return docs.mapInPandas(on_worker(run), schema).transform(ordered, "media_id")


_EXIF_SQL = """
    SELECT doc_id AS media_id,
      CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
      5 AS n_ifd0,
      'Make' || CAST(doc_id % 5 AS VARCHAR) AS make,
      'Cam' || CAST(doc_id % 7 AS VARCHAR) AS model,
      1 + doc_id % 8 AS orientation,
      '2023:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
        || ' 10:00:00' AS taken_at,
      1 + doc_id % 4 AS n_exif
    FROM documents WHERE doc_id < 500
    ORDER BY media_id
"""


def ext_weighted_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted price percentiles per returnflag
    (operators/ml.weighted_percentiles): the left-continuous
    inverse-CDF with integer ppm threshold arithmetic — the
    size-weighted stat percentile_approx cannot express."""
    from ..operators.ml import weighted_percentiles

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_percentiles(
        li,
        value_col="l_extendedprice",
        weight_col="l_quantity",
        group_cols=["l_returnflag"],
        qs={"wp50": 500000, "wp90": 900000},
    ).transform(ordered, "l_returnflag")


_WEIGHTED_PCT_SQL = """
    WITH c AS (
      SELECT l_returnflag, l_extendedprice AS v,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag ORDER BY l_extendedprice) AS cw,
             SUM(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS tw
      FROM lineitem
    )
    SELECT l_returnflag,
           MIN(CASE WHEN cw * 1000000 >= 500000 * tw THEN v END) AS wp50,
           MIN(CASE WHEN cw * 1000000 >= 900000 * tw THEN v END) AS wp90
    FROM c GROUP BY l_returnflag ORDER BY l_returnflag
"""


def ext_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (operators/pregel.
    clustering_coefficient) on the folded order-part co-occurrence
    graph: per-vertex degree, triangle count, and ppm-exact
    2T/d(d-1)."""
    from ..operators.pregel import clustering_coefficient

    li = load_table(spark, sf_dir, "lineitem")
    # same data-adaptive fold as ext_k_truss: 1500 densifies toward
    # K1500 at sf0.1 (~5.6e8 triangles in one wedge pass)
    fold = 1500 if li.count() <= 100_000 else 60_000
    g = li.select(
        (F.col("l_orderkey") % fold).alias("src"),
        (F.col("l_partkey") % fold).alias("dst"),
    )
    # NOTE r13: a lazy cut below this sort was A/B-measured SLOWER
    # (2.93 vs 2.55 s fresh min) — the sampling pass's re-executed
    # segment is an SMJ over already-shuffled legs (cheap shuffle-file
    # re-read), so materialization costs more than the recompute. The
    # sampling pass runs only when ``ordered`` keeps the range sort.
    return clustering_coefficient(g).transform(ordered, "vertex_id")


_CLUSTERING_SQL = """
    WITH und AS (
      SELECT DISTINCT
        LEAST(l_orderkey % 1500, l_partkey % 1500) AS a,
        GREATEST(l_orderkey % 1500, l_partkey % 1500) AS b
      FROM lineitem
      WHERE l_orderkey % 1500 != l_partkey % 1500
    ),
    deg AS (
      SELECT v, COUNT(*) AS degree FROM (
        SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
      ) GROUP BY v
    ),
    tri AS (
      SELECT e1.a AS a, e1.b AS b, e2.b AS c
      FROM und e1 JOIN und e2 ON e1.b = e2.a
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    tv AS (
      SELECT v, COUNT(*) AS triangles FROM (
        SELECT a AS v FROM tri UNION ALL SELECT b AS v FROM tri
        UNION ALL SELECT c AS v FROM tri
      ) GROUP BY v
    )
    SELECT deg.v AS vertex_id, CAST(deg.degree AS BIGINT) AS degree,
           CAST(COALESCE(tv.triangles, 0) AS BIGINT) AS triangles,
           CASE WHEN deg.degree >= 2
                THEN CAST(2 * COALESCE(tv.triangles, 0) * 1000000
                          // (deg.degree * (deg.degree - 1)) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS lcc_ppm
    FROM deg LEFT JOIN tv ON tv.v = deg.v
    ORDER BY vertex_id
"""


def ext_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-representative dedup policy (operators/dedup.
    dedup_canonical): MinHash-LSH candidate pairs close into clusters
    and each cluster keeps its highest-n_chars document (ties by min
    id) — the keep-the-best-copy production policy above
    ext_dedup_components' min-id convention. Singletons survive.

    Renamed from ``ext_dedup_canonical`` at r8 promotion time: the
    registry already holds a DIFFERENT r04-green query under that name
    (queries/extensions.py ext_dedup_canonical — cluster-level report,
    quality_score ranking), and promotion is a dict merge, so the
    staged name would have silently overwritten the registered one."""
    from ..operators.dedup import dedup_canonical, minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=4)
    n_parts = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        max(4, docs.rdd.getNumPartitions()),
    )
    # NOTE r13: a pre-sort lazy cut A/B-measured slower (2.85 vs
    # 2.49 s fresh min) — the below-sort window reads existing shuffle
    # files; materializing the full keep-decision relation costs more.
    return dedup_canonical(
        docs, pairs, quality_col="n_chars", num_partitions=n_parts
    ).transform(ordered, "doc_id")


def _canonical_oracle() -> str:
    from .extensions import _minhash_pairs_ctes

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
    tagged AS (
      SELECT d.doc_id, d.n_chars,
             COALESCE(c.component, d.doc_id) AS cluster
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    )
    SELECT doc_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY cluster
                              ORDER BY n_chars DESC, doc_id) = 1 AS keep
    FROM tagged ORDER BY doc_id
"""


_DEDUP_CANONICAL_SQL = _canonical_oracle()


def ext_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency violation profile (operators/expectations.
    fd_violations) for the claimed FD l_partkey -> l_suppkey on
    lineitem — false by construction (TPC-H gives each part several
    suppliers), so every multi-supplier part reports its group size,
    distinct suppliers, and minimum repair rows. Two combiner
    aggregates, no join, no window."""
    from ..operators.expectations import fd_violations

    li = load_table(spark, sf_dir, "lineitem")
    return fd_violations(li, "l_partkey", "l_suppkey")


_FD_VIOLATIONS_SQL = """
    SELECT l_partkey, n_rows, n_distinct, repair_rows FROM (
      SELECT l_partkey,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             COUNT(*) AS n_distinct,
             CAST(SUM(n) - MAX(n) AS BIGINT) AS repair_rows
      FROM (
        SELECT l_partkey, l_suppkey, COUNT(*) AS n
        FROM lineitem GROUP BY l_partkey, l_suppkey
      ) GROUP BY l_partkey
    ) WHERE n_distinct > 1
    ORDER BY repair_rows DESC, l_partkey
"""


# fixed query phrases: chosen once from the corpus vocabulary so both
# test scale factors return at least one match (probed at staging time)
_PHRASES = (
    "data row column",
    "join sort agg",
    "merge data row",
    "small part order",
    "table scan merge",
)


def ext_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search (operators/text.phrase_search): exact
    n-word phrase matches over the positional postings, five fixed
    query phrases, one broadcast of the query-sized (phrase, offset,
    word) relation + one distinct-offset anchor aggregate — never the
    (n-1)-way postings self-join."""
    from ..operators.text import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, list(_PHRASES))


def _phrase_values() -> str:
    rows = []
    for ph in _PHRASES:
        ws = ph.split()
        for off, w in enumerate(ws):
            rows.append(f"('{ph}', {off}, '{w}', {len(ws)})")
    return ", ".join(rows)


_PHRASE_SEARCH_SQL = f"""
    WITH {_TOKS},
    t AS (
      SELECT doc_id, word,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS pos
      FROM toks
    ),
    ph(phrase, wofs, word, plen) AS (VALUES {_phrase_values()}),
    anch AS (
      SELECT t.doc_id, ph.phrase, ph.plen,
             t.pos - ph.wofs AS anchor, ph.wofs
      FROM t JOIN ph USING (word)
    ),
    full_m AS (
      SELECT doc_id, phrase, anchor
      FROM anch
      GROUP BY doc_id, phrase, plen, anchor
      HAVING COUNT(DISTINCT wofs) = plen
    )
    SELECT phrase, doc_id, COUNT(*) AS n_matches
    FROM full_m GROUP BY phrase, doc_id
    ORDER BY phrase, doc_id
"""


def ext_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line maximum concurrency (operators/timeseries.
    interval_concurrency): orders as half-open day intervals
    [orderdate, orderdate + (orderkey mod 30 + 1) days), per-priority
    peak simultaneous open orders and the first day the peak is
    reached — the +1/-1 event running sum, never the quadratic
    interval self-join."""
    from ..operators.timeseries import interval_concurrency

    orders = load_table(spark, sf_dir, "orders")
    iv = orders.select(
        "o_orderpriority",
        F.to_date("o_orderdate").alias("s"),
        F.date_add(
            F.to_date("o_orderdate"),
            (F.col("o_orderkey") % 30 + 1).cast("int"),
        ).alias("e"),
    )
    return interval_concurrency(iv, ["o_orderpriority"], "s", "e")


_INTERVAL_CONCURRENCY_SQL = """
    WITH iv AS (
      SELECT o_orderpriority,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE)
               + CAST(o_orderkey % 30 + 1 AS INT) AS e
      FROM orders
    ),
    ev AS (
      SELECT o_orderpriority, s AS t, 1 AS d FROM iv
      UNION ALL
      SELECT o_orderpriority, e, -1 FROM iv
    ),
    net AS (
      SELECT o_orderpriority, t, d, SUM(d) AS net
      FROM ev GROUP BY o_orderpriority, t, d
    ),
    run AS (
      SELECT o_orderpriority, t,
             SUM(net) OVER (
               PARTITION BY o_orderpriority ORDER BY t, d
             ) AS alive
      FROM net
    ),
    pk AS (
      SELECT o_orderpriority, MAX(alive) AS mx
      FROM run GROUP BY o_orderpriority
    )
    SELECT r.o_orderpriority,
           CAST(p.mx AS BIGINT) AS max_concurrent,
           MIN(r.t) AS peak_at
    FROM run r
    JOIN pk p ON p.o_orderpriority = r.o_orderpriority
             AND r.alive = p.mx
    GROUP BY r.o_orderpriority, p.mx
    ORDER BY r.o_orderpriority
"""


def ext_ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal-trend decomposition
    (operators/timeseries.decompose_additive) of daily order revenue
    in exact integer cents: 7-row centered-moving-average trend,
    re-centered weekly seasonal component, residual — signed integer
    division truncates toward zero in both engines (probed), so the
    replay is bit-exact with no shift arithmetic."""
    from ..operators.timeseries import decompose_additive

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("cents")
    )
    out = decompose_additive(daily, "day", "cents", period=7)
    return out.transform(ordered, "day").select(
        "day",
        F.col("value").alias("cents"),
        "trend_ppm",
        "seasonal_ppm",
        "resid_ppm",
    )


def _ts_decompose_oracle() -> str:
    return """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT day, cents,
             date_diff('day', DATE '1970-01-01', day) % 7 AS phase,
             CAST(SUM(cents) OVER w AS BIGINT) AS wsum,
             COUNT(cents) OVER w AS wcnt
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT day, cents, phase,
             CASE WHEN wcnt = 7
                  THEN CAST(wsum * 1000000 // 7 AS BIGINT) END AS trend_ppm,
             CASE WHEN wcnt = 7
                  THEN cents * 1000000 - wsum * 1000000 // 7 END AS detr
      FROM t
    ),
    pp AS (
      SELECT phase,
             CAST(SUM(detr) // COUNT(detr) AS BIGINT) AS raw
      FROM det WHERE detr IS NOT NULL GROUP BY phase
    ),
    c AS (
      SELECT CAST(SUM(raw) // COUNT(*) AS BIGINT) AS m FROM pp
    )
    SELECT d.day, d.cents, d.trend_ppm,
           CAST(p.raw - (SELECT m FROM c) AS BIGINT) AS seasonal_ppm,
           CAST(d.cents * 1000000 - d.trend_ppm
                - (p.raw - (SELECT m FROM c)) AS BIGINT) AS resid_ppm
    FROM det d LEFT JOIN pp p USING (phase)
    ORDER BY d.day
"""


_TS_DECOMPOSE_SQL = _ts_decompose_oracle()


def ext_text_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords (operators/text.textrank_keywords): window-2
    co-occurrence graph over the corpus vocabulary, 8 weighted-PageRank
    power iterations in exact ppm integer arithmetic, top 15 words.
    The oracle unrolls the identical iterations as MATERIALIZED CTEs
    (the _hits_oracle pattern) in the same integer arithmetic."""
    from ..operators.text import textrank_keywords

    docs = load_table(spark, sf_dir, "documents")
    return textrank_keywords(
        docs, window=2, iters=8, top_k=15
    )


def _textrank_oracle(iters: int = 8) -> str:
    ctes = [
        _TOKS.strip(),
        """t AS (
      SELECT doc_id, word,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS pos
      FROM toks)""",
        """pairs AS (
      SELECT least(a.word, b.word) AS a, greatest(a.word, b.word) AS b
      FROM t a JOIN t b
        ON a.doc_id = b.doc_id AND b.pos > a.pos
       AND b.pos <= a.pos + 2 AND a.word <> b.word)""",
        """edges AS MATERIALIZED (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS w FROM pairs GROUP BY a, b)""",
        """adj AS MATERIALIZED (
      SELECT a, b, w FROM edges UNION ALL SELECT b, a, w FROM edges)""",
        """deg AS MATERIALIZED (
      SELECT a, CAST(SUM(w) AS BIGINT) AS wdeg FROM adj GROUP BY a)""",
        "nodes AS MATERIALIZED (SELECT DISTINCT a AS word FROM adj)",
        "s0 AS (SELECT word, CAST(1000000 AS BIGINT) AS score FROM nodes)",
    ]
    for k in range(iters):
        ctes.append(
            f"""c{k} AS MATERIALIZED (
      SELECT adj.b AS word, SUM(s.score * adj.w // d.wdeg) AS s
      FROM s{k} s
      JOIN adj ON adj.a = s.word
      JOIN deg d ON d.a = adj.a
      GROUP BY adj.b)"""
        )
        ctes.append(
            f"""s{k + 1} AS MATERIALIZED (
      SELECT n.word,
             CAST(150000 + COALESCE(c.s, 0) * 850000 // 1000000
                  AS BIGINT) AS score
      FROM nodes n LEFT JOIN c{k} c ON c.word = n.word)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT word, score AS score_ppm
    FROM s{iters}
    ORDER BY score_ppm DESC, word
    LIMIT 15"""
    )


_TEXTRANK_SQL = _textrank_oracle()


def ext_inclusion_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency discovery (operators/expectations.
    inclusion_profile) over six candidate key columns: every true
    TPC-H foreign key surfaces at containment 1e6 ppm (o_custkey in
    c_custkey, l_orderkey = o_orderkey both ways, l_suppkey in
    s_suppkey) while numerically-overlapping-but-unrelated key ranges
    report their true partial containment — the full report, no
    threshold."""
    from ..operators.expectations import inclusion_profile

    return inclusion_profile(
        [
            ("customer.c_custkey", load_table(spark, sf_dir, "customer"), "c_custkey"),
            ("orders.o_custkey", load_table(spark, sf_dir, "orders"), "o_custkey"),
            ("orders.o_orderkey", load_table(spark, sf_dir, "orders"), "o_orderkey"),
            ("lineitem.l_orderkey", load_table(spark, sf_dir, "lineitem"), "l_orderkey"),
            ("supplier.s_suppkey", load_table(spark, sf_dir, "supplier"), "s_suppkey"),
            ("lineitem.l_suppkey", load_table(spark, sf_dir, "lineitem"), "l_suppkey"),
        ]
    )


_INCLUSION_SQL = """
    WITH allv AS (
      SELECT DISTINCT 'customer.c_custkey' AS col_name,
             CAST(c_custkey AS VARCHAR) AS val
      FROM customer WHERE c_custkey IS NOT NULL
      UNION ALL
      SELECT DISTINCT 'orders.o_custkey', CAST(o_custkey AS VARCHAR)
      FROM orders WHERE o_custkey IS NOT NULL
      UNION ALL
      SELECT DISTINCT 'orders.o_orderkey', CAST(o_orderkey AS VARCHAR)
      FROM orders WHERE o_orderkey IS NOT NULL
      UNION ALL
      SELECT DISTINCT 'lineitem.l_orderkey', CAST(l_orderkey AS VARCHAR)
      FROM lineitem WHERE l_orderkey IS NOT NULL
      UNION ALL
      SELECT DISTINCT 'supplier.s_suppkey', CAST(s_suppkey AS VARCHAR)
      FROM supplier WHERE s_suppkey IS NOT NULL
      UNION ALL
      SELECT DISTINCT 'lineitem.l_suppkey', CAST(l_suppkey AS VARCHAR)
      FROM lineitem WHERE l_suppkey IS NOT NULL
    ),
    counts AS (
      SELECT col_name, COUNT(*) AS n_a_distinct
      FROM allv GROUP BY col_name
    ),
    shared AS (
      SELECT a.col_name AS col_a, b.col_name AS col_b,
             COUNT(*) AS n_shared
      FROM allv a JOIN allv b
        ON a.val = b.val AND a.col_name <> b.col_name
      GROUP BY 1, 2
    )
    SELECT s.col_a, s.col_b, s.n_shared, c.n_a_distinct,
           CAST(s.n_shared * 1000000 // c.n_a_distinct AS BIGINT)
             AS containment_ppm
    FROM shared s JOIN counts c ON c.col_name = s.col_a
    ORDER BY containment_ppm DESC, col_a, col_b
"""


def ext_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap repair (operators/timeseries.
    interpolate_gaps): per-priority daily revenue punched sparse
    (only days with day-of-epoch mod 5 < 2 survive), then every
    missing day filled with the exact ppm-integer point on the line
    between its observed neighbors."""
    from ..operators.timeseries import interpolate_gaps

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("cents")
    )
    sparse = daily.where(
        F.pmod(F.datediff("day", F.lit("1970-01-01")), 5) < 2
    )
    return interpolate_gaps(
        sparse, ["o_orderpriority"], "day", "cents"
    )


_TS_INTERPOLATE_SQL = """
    WITH daily AS (
      SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    sparse AS (
      SELECT * FROM daily
      WHERE date_diff('day', DATE '1970-01-01', day) % 5 < 2
    ),
    ext AS (
      SELECT o_orderpriority, MIN(day) AS d0, MAX(day) AS d1
      FROM sparse GROUP BY 1
    ),
    grid AS (
      SELECT e.o_orderpriority, CAST(u.g AS DATE) AS day
      FROM ext e, LATERAL (
        SELECT unnest(generate_series(e.d0, e.d1, INTERVAL 1 DAY)) AS g
      ) u
    ),
    j AS (
      SELECT g.o_orderpriority, g.day, s.cents AS v
      FROM grid g LEFT JOIN sparse s
        ON s.o_orderpriority = g.o_orderpriority AND s.day = g.day
    ),
    w AS (
      SELECT *,
        last_value(v IGNORE NULLS) OVER wp AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
          OVER wp AS pd,
        first_value(v IGNORE NULLS) OVER wn AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
          OVER wn AS nd
      FROM j
      WINDOW wp AS (PARTITION BY o_orderpriority ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY o_orderpriority ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT o_orderpriority, day,
           CAST(CASE WHEN v IS NOT NULL THEN v * 1000000
                ELSE pv * 1000000
                     + (nv - pv) * 1000000
                       * date_diff('day', pd, day)
                       // date_diff('day', pd, nd)
                END AS BIGINT) AS value_ppm,
           CASE WHEN v IS NOT NULL THEN 'obs' ELSE 'interp' END AS src
    FROM w ORDER BY o_orderpriority, day
"""


def ext_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend (operators/timeseries.trend_slopes): the
    revenue drift of each order priority as an exact integer slope —
    daily revenue in whole dollars against the 0-based day index, all
    five moment sums in decimal(38,0) (HUGEINT replay), closed-form
    slope and intercept with truncating division both engines share."""
    from ..operators.timeseries import trend_slopes

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("bigint")
        ).alias("cents")
    )
    dollars = daily.select(
        "o_orderpriority",
        "day",
        F.expr("cents div 100").alias("dollars"),
    )
    return trend_slopes(
        dollars, ["o_orderpriority"], "day", "dollars"
    )


_TREND_SLOPES_SQL = """
    WITH daily AS (
      SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) // 100 AS dollars
      FROM orders GROUP BY 1, 2
    ),
    pts AS (
      SELECT o_orderpriority,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority ORDER BY day
             ) - 1 AS HUGEINT) AS x,
             CAST(dollars AS HUGEINT) AS y
      FROM daily
    ),
    m AS (
      SELECT o_orderpriority, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM pts GROUP BY 1
    ),
    sl AS (
      SELECT o_orderpriority, n, sx, sy,
             CAST((n * sxy - sx * sy) * 1000000
                  // (n * sxx - sx * sx) AS BIGINT) AS slope_ppm
      FROM m WHERE n * sxx - sx * sx > 0
    )
    SELECT o_orderpriority, CAST(n AS BIGINT) AS n_obs, slope_ppm,
           CAST((sy * 1000000 - CAST(slope_ppm AS HUGEINT) * sx) // n
                AS BIGINT) AS intercept_ppm
    FROM sl ORDER BY o_orderpriority
"""


STAGED_R8_QUERIES = {
    "ext_entity_resolution_multi": ext_entity_resolution_multi,
    "ext_dedup_span_maximal": ext_dedup_span_maximal,
    "ext_dedup_keep_one": ext_dedup_keep_one,
    "ext_mm_audio_mp3_meta": ext_mm_audio_mp3_meta,
    "ext_text_trigram_backoff": ext_text_trigram_backoff,
    "ext_dedup_incremental_spans": ext_dedup_incremental_spans,
    "ext_graph_hits": ext_graph_hits,
    "ext_decontaminate_spans": ext_decontaminate_spans,
    "ext_text_rake": ext_text_rake,
    "ext_cep_pattern": ext_cep_pattern,
    "ext_ivm_join_delta": ext_ivm_join_delta,
    "ext_benford": ext_benford,
    "ext_cumulative_users": ext_cumulative_users,
    "ext_k_truss": ext_k_truss,
    "ext_mm_exif": ext_mm_exif,
    "ext_weighted_percentiles": ext_weighted_percentiles,
    "ext_clustering_coeff": ext_clustering_coeff,
    "ext_dedup_keep_best": ext_dedup_keep_best,
    "ext_fd_violations": ext_fd_violations,
    "ext_phrase_search": ext_phrase_search,
    "ext_interval_concurrency": ext_interval_concurrency,
    "ext_ts_decompose": ext_ts_decompose,
    "ext_text_textrank": ext_text_textrank,
    "ext_inclusion_profile": ext_inclusion_profile,
    "ext_ts_interpolate": ext_ts_interpolate,
    "ext_trend_slopes": ext_trend_slopes,
}

STAGED_R8_ORACLES = {
    "ext_entity_resolution_multi": _ENTITY_RESOLUTION_MULTI_SQL,
    "ext_dedup_span_maximal": _SPAN_MAXIMAL_SQL,
    "ext_dedup_keep_one": _KEEP_ONE_SQL,
    "ext_mm_audio_mp3_meta": _MP3_META_SQL,
    "ext_text_trigram_backoff": _TRIGRAM_BACKOFF_SQL,
    "ext_dedup_incremental_spans": _INCREMENTAL_SPANS_SQL,
    "ext_graph_hits": _HITS_SQL,
    "ext_decontaminate_spans": _DECONTAM_SPANS_SQL,
    "ext_text_rake": _RAKE_SQL,
    "ext_cep_pattern": _CEP_PATTERN_SQL,
    "ext_ivm_join_delta": _IVM_JOIN_DELTA_SQL,
    "ext_benford": _BENFORD_SQL,
    "ext_cumulative_users": _CUMULATIVE_USERS_SQL,
    "ext_k_truss": _K_TRUSS_SQL,
    "ext_mm_exif": _EXIF_SQL,
    "ext_weighted_percentiles": _WEIGHTED_PCT_SQL,
    "ext_clustering_coeff": _CLUSTERING_SQL,
    "ext_dedup_keep_best": _DEDUP_CANONICAL_SQL,
    "ext_fd_violations": _FD_VIOLATIONS_SQL,
    "ext_phrase_search": _PHRASE_SEARCH_SQL,
    "ext_interval_concurrency": _INTERVAL_CONCURRENCY_SQL,
    "ext_ts_decompose": _TS_DECOMPOSE_SQL,
    "ext_text_textrank": _TEXTRANK_SQL,
    "ext_inclusion_profile": _INCLUSION_SQL,
    "ext_ts_interpolate": _TS_INTERPOLATE_SQL,
    "ext_trend_slopes": _TREND_SLOPES_SQL,
}
