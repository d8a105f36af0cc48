"""Deduplication operators for large-scale training-data pipelines.

Families, all DataFrame-native (no Python in the hot path):

- n-gram Jaccard : inverted-index self-join on shingles (exact near-dup)
- MinHash + LSH  : signature -> banded bucket join (approx near-dup,
                   the 100 TB path — candidate pairs without O(n²))
- SimHash        : 32-bit bitwise fingerprint
- spans, paragraphs, Bloom filters and incremental stores; embedding
  near-dup lives in operators/similarity.py

Hashing: md5-derived hashes (functions.portable_hash32/60) that are
bit-identical in DuckDB, so the correctness oracle replays every
signature; they stay inside whole-stage codegen.

Scale notes (100 TB):
- the shingle explode multiplies rows ~100x; everything downstream is
  a groupBy on gram/doc — AQE handles skew, but stop-gram hotspots
  (shingles present in a large fraction of docs) should be dropped
  with ``max_doc_freq`` before the self-join: a gram shared by 1M
  docs creates a 10^12-row join partition otherwise.
- MinHash replaces the quadratic gram self-join with #bands bucket
  joins; band keys are short strings, shuffle volume ~ docs*bands.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import (
    MINHASH_PRIME,
    minhash_params,
    portable_hash32,
    portable_hash60,
    tokenize,
)


def _doc_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_doc_freq: float | None = None,
    dedup: bool = True,
) -> DataFrame:
    """(doc, gram) relation — distinct when ``dedup`` (Jaccard needs
    set semantics; MinHash's min-aggregate doesn't, and skipping the
    distinct saves a whole shuffle); optional stop-gram removal.

    Implementation note: tokens are materialized with ONE posexplode
    (tokenize evaluated once per row) and grams assembled with lead()
    windows over the token stream. The tempting alternative —
    transform(sequence, i -> concat(words[i..i+n])) — re-evaluates the
    whole tokenize subtree per element in interpreted mode (HOF lambdas
    don't reach codegen), which measured ~10x slower. The input is
    repartitioned BY THE ID HASH: a small parquet file is one split,
    and — more importantly at any scale — the window's
    partitionBy(doc) and every downstream groupBy(doc) reuse that
    hash partitioning instead of shuffling again (check .explain: one
    Exchange, not three).
    """
    from pyspark.sql.window import Window

    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    toks = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokenize(F.col(text_col))).alias("i", "w"),
    )
    w = Window.partitionBy("doc").orderBy("i")
    gram = F.concat_ws(
        " ", F.col("w"), *[F.lead("w", j).over(w) for j in range(1, n)]
    )
    # concat_ws skips NULLs, so trailing (n-1) windows would emit short
    # grams — count parts explicitly to drop them
    n_parts_expr = sum(
        F.when(F.lead("w", j).over(w).isNotNull(), 1).otherwise(0)
        for j in range(1, n)
    )
    s = (
        toks.select("doc", gram.alias("gram"), n_parts_expr.alias("_np"))
        .where(F.col("_np") == n - 1)
        .select("doc", "gram")
    )
    if dedup:
        s = s.distinct()
    if max_doc_freq is not None:
        # corpus size arrives via a broadcast single-row crossJoin (the
        # tfidf_topk idiom) — a driver-side df.count() here would be an
        # extra full scan of the corpus at 100 TB
        n_docs = df.select(F.count("*").alias("_nd"))
        hot = (
            s.groupBy("gram")
            .agg(F.count("*").alias("df"))
            .crossJoin(F.broadcast(n_docs))
            .where(F.col("df") > max_doc_freq * F.col("_nd"))
            .select("gram")
        )
        s = s.join(F.broadcast(hot), "gram", "left_anti")
    return s


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT-threshold word-set similarity join via PREFIX FILTERING
    (the AllPairs/PPJoin family): every pair with set-Jaccard >=
    threshold, NO false negatives, without the full quadratic
    self-join. Returns (doc_a, doc_b, inter, uni) with doc_a < doc_b.

    How: order the vocabulary globally by ascending document frequency
    (rare first); a doc of set size s only needs its first
    s - ceil(t*s) + 1 tokens in the inverted index — two docs with
    Jaccard >= t MUST share a token inside these prefixes (the prefix-
    filter theorem), so the candidate join runs over prefix postings
    only. Candidates then pass the size filter (t*sa <= sb <= sa/t)
    and exact intersection verification.

    All threshold arithmetic is INTEGER (t scaled to micros): a float
    ceil(t*s) can land one ulp high and shorten the prefix below the
    theorem's bound — a silent false-negative class this formulation
    makes impossible. The final predicate is inter*1e6 >= t_u*union,
    exact in any engine.

    Scale: this is the exact-result complement to minhash_lsh_pairs.
    The index is prefix postings only — rare tokens with short
    lists; a hot stopword enters prefixes only for docs where it
    ranks within the first s-ceil(t*s)+1 rarest tokens (long docs),
    so its posting list shrinks by orders of magnitude vs the full
    inverted index. The verify join touches candidate pairs, not all
    pairs; everything is equi-join + combiner aggregates."""
    from pyspark.sql.window import Window

    t_u = int(round(threshold * 1_000_000))
    # toks feeds FIVE consumers (sizes, the rarity rank, the prefix
    # build, and both verify-join sides) — without a cut each one
    # re-runs the corpus tokenize+distinct (8 document scans in the
    # r12 plan audit). One lazy checkpoint makes that corpus pass
    # happen once; everything downstream reads the materialized
    # (doc, word) set.
    toks = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(tokenize(F.col(text_col))).alias("word"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = toks.groupBy("doc").agg(F.count("*").alias("sz"))
    # global rarity rank (vocabulary-sized -> broadcast)
    rank = (
        toks.groupBy("word")
        .agg(F.count("*").alias("dfc"))
        .withColumn(
            "w_rank",
            F.row_number().over(Window.orderBy("dfc", "word")),
        )
        .select("word", "w_rank")
    )
    # prefix length = sz - ceil(t*sz) + 1, in exact integer arithmetic
    pref_len = F.col("sz") - F.floor(
        (t_u * F.col("sz") + 999_999) / 1_000_000
    ) + 1
    # the prefix relation feeds both self-join sides; cut it once so
    # the rank/size joins + prefix window run one time, not two (same
    # fix as the r12 blocked-pair operators)
    ranked = (
        toks.join(F.broadcast(rank), "word")
        .join(sizes, "doc")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc").orderBy("w_rank")
            ),
        )
        .where(F.col("pos") <= pref_len)
        .select("doc", "word", "sz")
        .localCheckpoint(eager=False)
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.doc") < F.col("b.doc"))
            # size filter: t*sa <= sb <= sa/t (integer form)
            & (F.col("b.sz") * 1_000_000 >= F.col("a.sz") * t_u)
            & (F.col("b.sz") * t_u <= F.col("a.sz") * 1_000_000),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sz").alias("sa"),
            F.col("b.sz").alias("sb"),
        )
        .distinct()
    )
    ta = toks.select(F.col("doc").alias("doc_a"), "word")
    tb = toks.select(F.col("doc").alias("doc_b"), "word")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "word"])
        .groupBy("doc_a", "doc_b", "sa", "sb")
        .agg(F.count("*").alias("inter"))
    )
    uni = F.col("sa") + F.col("sb") - F.col("inter")
    return (
        inter.where(F.col("inter") * 1_000_000 >= t_u * uni)
        .select("doc_a", "doc_b", "inter", uni.alias("uni"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: float | None = None,
) -> DataFrame:
    """Exact n-gram-set Jaccard via inverted-index self-join:
    |A∩B| from the gram join, |A|,|B| from per-doc gram counts.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    Quadratic in the worst case — use minhash_lsh_pairs at scale and
    this as the verifier on the candidate set."""
    s = _doc_shingles(df, text_col, id_col, n, max_doc_freq)
    sizes = s.groupBy("doc").agg(F.count("*").alias("n_grams"))
    a, b = s.alias("a"), s.alias("b")
    inter = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("doc").alias("doc_a"), F.col("n_grams").alias("na"))
    nb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_grams").alias("nb"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Per-doc MinHash signature: sig_i = min over shingles of
    (a_i*h(shingle)+b_i) mod P. Duplicate shingles are left in (min is
    multiset-insensitive), saving the distinct's shuffle.

    Layout: _doc_shingles repartitions by doc-id hash up front, so the
    gram stream stays narrow and this groupBy(doc) reuses the
    partitioning — no shuffle of the ~100x exploded rows.

    A fully-narrow array_min(transform(...)) formulation was tried and
    is ~9x SLOWER at sf0.1: higher-order functions are interpreted (no
    whole-stage codegen), so no common-subexpression elimination —
    after projection collapse every one of the 16 sig expressions
    re-evaluates the whole md5 transform tree per row."""
    s = _doc_shingles(df, text_col, id_col, n, None, dedup=False)
    h = portable_hash32("gram")
    withh = s.select("doc", h.alias("h"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
            f"sig{i}"
        )
        for i, (a, b) in enumerate(minhash_params(num_hashes, seed))
    ]
    return withh.groupBy("doc").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """LSH banding: docs sharing any band of their signature are
    candidate near-duplicates. Returns distinct (doc_a, doc_b).

    The scale path: shuffle ~ n_docs*bands tiny rows; no quadratic
    join. With 16 hashes / 4 bands, P(candidate) = 1-(1-j^4)^4 —
    ~1.0 at j=0.9, ~0.04 at j=0.3."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes, seed)
    # one band-struct array exploded in place — the signature subtree is
    # computed once (a per-band union would rescan it #bands times
    # unless exchange reuse happens to fire)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"sig{bi * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("key"),
            )
            for bi in range(bands)
        ]
    )
    buckets = sig.select(
        "doc", F.explode(band_structs).alias("bk")
    ).select(F.col("bk.band").alias("band"), F.col("bk.key").alias("key"), "doc")
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """32-bit SimHash over word tokens (occurrence-weighted): bit b of
    the fingerprint = sign of Σ_tokens (±1 by bit b of token hash).
    One explode + one groupBy with 32 codegen'd aggregates."""
    # repartition by id hash: explode is narrow, so the groupBy(doc)
    # below reuses this partitioning — no second shuffle
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("doc"), F.explode(tokenize(F.col(text_col))).alias("w")
    )
    h = portable_hash32("w")
    withh = toks.select("doc", h.alias("h"))
    balance = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    per_doc = withh.groupBy("doc").agg(*balance)
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return per_doc.select("doc", fp.cast("bigint").alias("simhash"))


def span_duplication(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level duplication profile — the decision metric of
    exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better") at k-token granularity: for
    every document, the fraction of its distinct k-token windows that
    also occur in at least ``min_docs - 1`` OTHER documents.
    Cross-document repeated spans are how boilerplate and templated
    spam survive document-level dedup. Returns
    (doc, n_windows, n_dup_windows, dup_frac).

    Shape: the k-gram stream comes from _doc_shingles (one posexplode
    + lead window over an id-hash repartition, distinct per (doc,
    gram)); gram keys ship as 60-bit hashes, not k-token strings (~5x
    fewer shuffle bytes at k=5). The cross-corpus document count per
    gram is a ``groupBy(g).count()`` filtered to duplicated grams and
    LEFT-joined back onto the gram stream — NOT a count() window over
    ``partitionBy(g)``: a window puts every row of one gram into a
    single window partition, so a boilerplate stop-gram present in
    ~all documents serializes ~n_docs rows onto one task, and AQE can
    split skewed JOIN partitions but never window partitions. The
    groupBy path is partial-aggregated map-side (the hot gram
    collapses to one row per input partition before the exchange) and
    the join back is an ENSURE_REQUIREMENTS shuffle that AQE's skew
    rule can split; the right side carries only grams with doc-count
    >= min_docs, typically a small fraction of the gram universe. The
    gram stream is localCheckpointed once (eagerly) so the two
    consumers (count build, join probe) don't each recompute the
    explode+window shingle build. The suffix-array formulation of the
    paper finds arbitrary-length spans; fixed-k windowing is the
    standard distributed relaxation (any duplicated span >= k tokens
    is caught by its windows)."""
    s = _doc_shingles(df, text_col, id_col, k, None, dedup=True)
    # distinct per (doc, gram) above, so a plain count per gram hash
    # == distinct-doc count for the gram
    dg = s.select("doc", portable_hash60("gram").alias("g")).localCheckpoint(
        eager=True
    )
    dup_grams = (
        dg.groupBy("g")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") >= min_docs)
        .select("g", F.lit(1).alias("_dup1"))
    )
    annotated = dg.join(dup_grams, "g", "left").select(
        "doc", F.coalesce(F.col("_dup1"), F.lit(0)).alias("_dup")
    )
    return annotated.groupBy("doc").agg(
        F.count("*").alias("n_windows"),
        F.sum("_dup").alias("n_dup_windows"),
        F.round(
            F.sum("_dup").cast("double") / F.count("*"), 5
        ).alias("dup_frac"),
    )


def _covered_positions(
    df: DataFrame, text_col: str, id_col: str, k: int, min_docs: int
):
    """Shared stream under the exact-substring-dedup action operators:
    the distinct (doc, i) set of token positions tiled by any k-window
    occurring in >= min_docs documents, duplicated-material-sized. See
    remove_duplicate_spans for the full scale rationale (hashed gram
    keys, partial-agg dup count, no gram-keyed window, k-fold explode
    of duplicated starts only)."""
    from pyspark.sql.window import Window

    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # token stream is single-consumer (the gram build) since the r10
    # rebuild rework (_rebuild_without_covered) — no checkpoint
    toks = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokenize(F.col(text_col))).alias("i", "w"),
    )
    w = Window.partitionBy("doc").orderBy("i")
    gram = F.concat_ws(
        " ", F.col("w"), *[F.lead("w", j).over(w) for j in range(1, k)]
    )
    n_parts_expr = sum(
        F.when(F.lead("w", j).over(w).isNotNull(), 1).otherwise(0)
        for j in range(1, k)
    )
    grams = (
        toks.select("doc", "i", gram.alias("gram"), n_parts_expr.alias("_np"))
        .where(F.col("_np") == k - 1)
        .select("doc", "i", portable_hash60("gram").alias("g"))
        .localCheckpoint(eager=True)  # feeds the count AND the probe
    )
    dup = (
        grams.select("doc", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") >= min_docs)
        .select("g")
    )
    covered = (
        grams.join(dup, "g")
        .select(
            "doc",
            F.explode(F.sequence(F.col("i"), F.col("i") + F.lit(k - 1))).alias(
                "i"
            ),
        )
        .distinct()
    )
    return covered


def _rebuild_without_covered(
    df: DataFrame, text_col: str, id_col: str, covered: DataFrame
) -> DataFrame:
    """Rebuild every document's text from the tokens NOT in ``covered``
    (the distinct (doc, i) set of duplicated positions) — the shared
    action step of the span-removal operators. Returns
    (doc, text, n_tokens, n_removed) for documents with >= 1 token.

    Shape: the covered set is DUPLICATED-MATERIAL-sized, not
    corpus-sized, so it folds to one array per affected doc (tiny
    doc-keyed aggregate) and joins the DOCUMENT relation — doc-sized
    rows, one exchange each side. The former shape joined covered to
    the 5M-row token stream on (doc, i) and re-aggregated per doc:
    two full corpus-sized token shuffles that this rebuild removes
    entirely (r10 50k-doc/5M-token probe, SCALE.md:
    remove_duplicate_spans 53.4 -> 17.9 s, incremental_remove_spans
    25.2 -> 6.5 s; outputs token-identical vs a pure-Python ground
    truth). The per-token array_contains probe is map-side and
    O(|covered(doc)|), bounded by the doc length."""
    cov = covered.groupBy("doc").agg(
        F.array_sort(F.collect_list("i")).alias("_cov")
    )
    kept = F.when(F.col("_cov").isNull(), F.col("_toks")).otherwise(
        F.filter(
            F.col("_toks"),
            lambda w, i: ~F.array_contains(F.col("_cov"), i),
        )
    )
    return (
        df.select(
            F.col(id_col).alias("doc"), tokenize(F.col(text_col)).alias("_toks")
        )
        .where(F.size("_toks") > 0)
        .join(cov, "doc", "left")
        .select(
            "doc",
            F.concat_ws(" ", kept).alias("text"),
            F.size("_toks").cast("bigint").alias("n_tokens"),
            F.coalesce(F.size("_cov"), F.lit(0))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def duplicate_span_lengths(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """MAXIMAL duplicated spans — the variable-length fidelity step of
    exact-substring dedup (Lee et al. 2022): adjacent/overlapping
    duplicated k-windows are merged into maximal contiguous runs, so
    every cross-document duplicated span of length >= k surfaces as
    ONE row with its start position and total length (the suffix-array
    formulation's span list, recovered from the fixed-k tiling since a
    length-L duplicated span is tiled by L-k+1 windows that merge back
    into one run). Returns (doc, span_start, span_len).

    Shape: the covered-position stream of remove_duplicate_spans, then
    a gaps-and-islands merge — one doc-keyed row_number window (i -
    rank is constant within a contiguous run) and one (doc, island)
    aggregate, both reusing the id-hash partitioning; no extra
    corpus-sized exchange beyond the shared covered build."""
    from pyspark.sql.window import Window

    covered = _covered_positions(df, text_col, id_col, k, min_docs)
    w = Window.partitionBy("doc").orderBy("i")
    islands = covered.select(
        "doc", "i", (F.col("i") - F.row_number().over(w)).alias("_isl")
    )
    return (
        islands.groupBy("doc", "_isl")
        .agg(
            F.min("i").alias("span_start"),
            F.count("*").alias("span_len"),
        )
        .select("doc", "span_start", "span_len")
    )


def _positional_grams(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    max_gram_docs: int | None,
    checkpoint: bool = True,
):
    """Positional k-gram stream (doc, i, g) with g = portable 60-bit
    gram hash, eagerly checkpointed (it feeds both sides of the
    occurrence self-join in maximal_match_spans). ``max_gram_docs``
    drops grams present in more than that many distinct documents
    BEFORE any pairing — the stop-gram pathology bound (a gram in 1M
    docs would otherwise pair 10^12 occurrence rows); dropped grams
    are exactly the ones whose matches are boilerplate noise, and the
    cap is deterministic so the DuckDB oracle replays it."""
    from pyspark.sql.window import Window

    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    toks = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokenize(F.col(text_col))).alias("i", "w"),
    )
    w = Window.partitionBy("doc").orderBy("i")
    gram = F.concat_ws(
        " ", F.col("w"), *[F.lead("w", j).over(w) for j in range(1, k)]
    )
    n_parts_expr = sum(
        F.when(F.lead("w", j).over(w).isNotNull(), 1).otherwise(0)
        for j in range(1, k)
    )
    grams = (
        toks.select("doc", "i", gram.alias("gram"), n_parts_expr.alias("_np"))
        .where(F.col("_np") == k - 1)
        .select("doc", "i", portable_hash60("gram").alias("g"))
    )
    if max_gram_docs is not None:
        hot = (
            grams.select("doc", "g")
            .distinct()
            .groupBy("g")
            .agg(F.count("*").alias("_nd"))
            .where(F.col("_nd") > max_gram_docs)
            .select("g")
        )
        grams = grams.join(hot, "g", "left_anti")
    # checkpoint=False for single-consumer callers (the store builder):
    # materializing the full (doc, i, g) stream to executor storage
    # only pays off when the self-join reads it twice
    return grams.localCheckpoint(eager=True) if checkpoint else grams


def _diagonal_matches(grams, k: int):
    """Shared core of the maximal-match operators: self-join the
    positional gram stream on the 60-bit hash, restrict to ordered
    cross-document pairs (doc_a < doc_b), and merge consecutive
    anchors along each (doc_a, doc_b, diagonal) into maximal runs.
    Returns the match relation
    (doc_a, doc_b, _diag, _grp, _sa, _sb, span_len)."""
    a = grams.select(
        "g", F.col("doc").alias("doc_a"), F.col("i").alias("i_a")
    )
    b = grams.select(
        "g", F.col("doc").alias("doc_b"), F.col("i").alias("i_b")
    )
    anchors = (
        a.join(b, "g")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "i_a", "doc_b", "i_b")
    )
    return _runs_from_anchors(anchors, k)


def _runs_from_anchors(anchors: DataFrame, k: int) -> DataFrame:
    """Merge consecutive window anchors along each (doc_a, doc_b,
    diagonal) into maximal runs — the gaps-and-islands core shared by
    the intra-corpus (``maximal_match_spans``) and cross-corpus
    (``cross_corpus_match_spans``) tiers. anchors: (doc_a, i_a,
    doc_b, i_b); returns (doc_a, doc_b, _diag, _grp, _sa, _sb,
    span_len)."""
    from pyspark.sql.window import Window

    wd = Window.partitionBy(
        "doc_a", "doc_b", F.col("i_a") - F.col("i_b")
    ).orderBy("i_a")
    runs = anchors.withColumn(
        "_grp", F.col("i_a") - F.row_number().over(wd)
    )
    return runs.groupBy(
        "doc_a", "doc_b", (F.col("i_a") - F.col("i_b")).alias("_diag"), "_grp"
    ).agg(
        F.min("i_a").alias("_sa"),
        F.min("i_b").alias("_sb"),
        (F.count("*") + F.lit(k - 1)).alias("span_len"),
    )


def cross_corpus_match_spans(
    corpus_df: DataFrame,
    probe_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    max_gram_docs: int | None = None,
) -> DataFrame:
    """Decontamination with SPAN EVIDENCE: every maximal contiguous
    token run of length >= k in a corpus (training) document that
    appears verbatim in at least one probe (evaluation) document —
    the maximal-match fidelity tier of ``contamination_hits``, which
    only reports that SOME n-gram overlapped. Each output row
    (doc, span_start, span_len, n_probe_docs) is an exact match with
    a specific probe occurrence, maximal in the stringology sense
    (extending one token in either direction breaks that match), with
    the count of distinct probe documents witnessing it.

    The hot-gram cap is JOINT: a gram present in more than
    ``max_gram_docs`` distinct documents across corpus AND probe is
    dropped before pairing (callers must pass relations with disjoint
    document ids — the split-one-table decontamination setting).

    Shape: one equi-join keyed on the 60-bit gram hash whose build
    side is probe-sized (the eval corpus is orders of magnitude
    smaller than the training corpus in every real decontamination
    run, so at 100 TB the join broadcasts or shuffles a tiny
    relation), one (doc_a, doc_b, diagonal)-keyed window, one
    aggregate. No train x train pairing ever happens — the blowup
    bound is sum over grams of occ_corpus x occ_probe."""
    # with a hot-gram cap each gram stream feeds TWO consumers (the
    # joint hot aggregate and the anchor join), so the expensive
    # tokenize/window/hash subtree is checkpointed exactly then;
    # uncapped, each stream has one consumer and stays lazy
    ckpt = max_gram_docs is not None
    cg = _positional_grams(
        corpus_df, text_col, id_col, k, None, checkpoint=ckpt
    )
    pg = _positional_grams(
        probe_df, text_col, id_col, k, None, checkpoint=ckpt
    )
    if max_gram_docs is not None:
        hot = (
            cg.select("doc", "g")
            .distinct()
            .unionByName(pg.select("doc", "g").distinct())
            .groupBy("g")
            .agg(F.count("*").alias("_nd"))
            .where(F.col("_nd") > max_gram_docs)
            .select("g")
        )
        cg = cg.join(hot, "g", "left_anti")
        pg = pg.join(hot, "g", "left_anti")
    anchors = (
        cg.select(
            "g", F.col("doc").alias("doc_a"), F.col("i").alias("i_a")
        )
        .join(
            pg.select(
                "g", F.col("doc").alias("doc_b"), F.col("i").alias("i_b")
            ),
            "g",
        )
        .select("doc_a", "i_a", "doc_b", "i_b")
    )
    return _runs_from_anchors(anchors, k).groupBy(
        F.col("doc_a").alias("doc"),
        F.col("_sa").alias("span_start"),
        "span_len",
    ).agg(F.countDistinct("doc_b").alias("n_probe_docs"))


def maximal_match_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    max_gram_docs: int | None = None,
) -> DataFrame:
    """TRUE maximal duplicated spans — the suffix-array-faithful
    fidelity step beyond ``duplicate_span_lengths``'s island merge:
    every output row (doc, span_start, span_len) is an EXACT
    contiguous match of length >= k with a specific occurrence in
    another document, maximal in the stringology sense (extending one
    token left or right breaks THAT match). The island merge cannot
    make this distinction: when doc A's tokens [0,10) match doc B and
    [5,15) match doc C, the k-window tiling unions them into one
    [0,15) run that occurs contiguously NOWHERE else;
    maximal_match_spans reports the two real repeats (Lee et al.
    2022's suffix-array formulation lists duplicated substrings, not
    coverage unions — this recovers that list distributedly).

    Method — diagonal runs over window-anchor pairs: two positional
    k-windows (a, i) ~ (b, j) with equal gram hashes witness a length-k
    match; matches between the same document pair lying on the same
    alignment DIAGONAL (i - j constant) at consecutive start positions
    are one longer match. Anchor-pair equality is EXACTLY extendability
    (starts (i-1, j-1) match iff tokens a[i-1] == b[j-1] given the
    following k-1 already match), so gaps-and-islands along each
    (doc_a, doc_b, diagonal) recovers maximal matches of length
    run_len + k - 1 with no relaxation. Pairs are cross-document
    (doc_a < doc_b): a repeat within one document is not a match. A
    span is listed once per distinct (start, len) even when several
    partners witness it.

    Shape: one gram self-join keyed on the 60-bit hash (occurrence
    pairs — sum over grams of occ_a x occ_b rows, bounded by
    ``max_gram_docs`` exactly as the blocked-join operators bound
    their worst block), one (doc_a, doc_b, diag)-keyed window, one
    aggregate. This is the exact tier; the k-window coverage path
    (remove_duplicate_spans) remains the removal workhorse — its
    covered-position set provably equals the union of all >= k
    duplicated substrings, so removal loses nothing by tiling."""
    grams = _positional_grams(df, text_col, id_col, k, max_gram_docs)
    matches = _diagonal_matches(grams, k).localCheckpoint(eager=True)
    # ^ the union below scans matches TWICE (a-side + b-side); the cut
    # makes the anchor join + diagonal window run once — the relation
    # is match-sized, so the checkpoint is cheap
    return (
        matches.select(
            F.col("doc_a").alias("doc"),
            F.col("_sa").alias("span_start"),
            "span_len",
        )
        .unionByName(
            matches.select(
                F.col("doc_b").alias("doc"),
                F.col("_sb").alias("span_start"),
                "span_len",
            )
        )
        .distinct()
    )


def remove_duplicate_spans_keep_one(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_len: int | None = None,
    max_gram_docs: int | None = None,
) -> DataFrame:
    """Survivor-preserving exact-substring dedup: each maximal
    cross-document duplicated span (>= ``min_len`` tokens, default k)
    is removed from the LATER occurrence of every witnessing pair and
    kept at the earlier one — so a span duplicated across two
    documents is removed exactly once, and an N-way duplicate keeps
    exactly its first (minimum doc id) copy (every pair (first, other)
    marks the other side). ``remove_duplicate_spans`` removes ALL
    copies (the Lee et al. EXACTSUBSTR action); this variant is the
    keep-one policy the paper discusses — boilerplate disappears from
    the corpus without the canonical document losing content. A
    repeat within one document is not a duplicate here and stays.

    Shape: maximal matches as in :func:`maximal_match_spans` (same
    bounds), then only the doc_b side explodes to covered positions
    (span-length-fold on duplicated material only) and the rebuild is
    the doc-keyed covered-array join of :func:`_rebuild_without_covered`.
    Returns (doc, text, n_tokens, n_removed)."""
    if min_len is None:
        min_len = k
    grams = _positional_grams(df, text_col, id_col, k, max_gram_docs)
    matches = _diagonal_matches(grams, k)
    covered = (
        matches.where(F.col("span_len") >= min_len)
        .select(
            F.col("doc_b").alias("doc"),
            F.explode(
                F.sequence(
                    F.col("_sb"), F.col("_sb") + F.col("span_len") - 1
                )
            ).alias("i"),
        )
        .distinct()
    )
    return _rebuild_without_covered(df, text_col, id_col, covered)


def span_gram_store_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Distinct positional k-gram hashes of an indexed corpus — the
    persistent store for incremental exact-substring dedup (one
    ``g bigint`` row per distinct gram). Write it bucketed on ``g``
    (sources.write_bucketed_table) and every future ingest probe
    co-locates with zero store-side exchange, the same contract as
    the fuzzy signature store. Update after a batch = union of the
    batch's grams, distinct — O(batch), never a corpus rescan."""
    return (
        _positional_grams(df, text_col, id_col, k, None, checkpoint=False)
        .select("g")
        .distinct()
    )


def incremental_remove_spans(
    new_docs: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Exact-substring dedup AT INGEST TIME — the Lee et al. action
    step against an already-indexed corpus, without recomputing
    corpus-wide spans per batch: every token of a NEW document that
    sits inside a k-window whose gram exists in the ``store`` or in
    >= 2 documents of the incoming batch itself is dropped and the
    text rebuilt. Completes the incremental family (exact doc / fuzzy
    doc / Bloom / decontaminate — now sub-document spans). Returns
    (doc, text, n_tokens, n_removed).

    Shape: the batch's positional grams probe the store with ONE
    equi join on the 60-bit hash — batch-sized left side, and with
    the store bucketed on ``g`` ZERO store-side exchange
    (plan-pinned); the within-batch count reuses the batch gram
    relation for a partial-aggregated distinct-doc count exactly like
    remove_duplicate_spans. Coverage explodes duplicated starts only;
    the rebuild is the doc-keyed covered-array join of
    :func:`_rebuild_without_covered`."""
    grams = _positional_grams(new_docs, text_col, id_col, k, None)
    hits = grams.join(store.select("g"), "g", "left_semi")
    dup_in_batch = (
        grams.select("doc", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") >= 2)
        .select("g")
    )
    hits = hits.unionByName(grams.join(dup_in_batch, "g", "left_semi"))
    covered = (
        hits.select(
            "doc",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + F.lit(k - 1))
            ).alias("i"),
        )
        .distinct()
    )
    return _rebuild_without_covered(new_docs, text_col, id_col, covered)


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring dedup with REMOVAL — the action step of Lee et
    al. 2022 that ``span_duplication`` only scores: every token covered
    by a k-token window occurring in >= ``min_docs - 1`` OTHER
    documents is dropped, and each document's text is rebuilt from the
    surviving tokens in order. Because any duplicated span of length
    >= k is tiled by its k-windows, this removes full cross-document
    boilerplate spans (the suffix-array formulation finds max-length
    spans exactly; fixed-k tiling is the standard distributed
    relaxation and removes a superset of every >=k duplicated span).
    Returns (doc, text, n_tokens, n_removed) for documents with >= 1
    token.

    Shape: gram starts ship as 60-bit hashes; the duplicated-gram set
    comes from a partial-aggregated distinct-doc count (no gram-keyed
    window — same skew reasoning as span_duplication) and is joined
    back to gram START POSITIONS; coverage explodes only the
    DUPLICATED starts k-fold and stays duplicated-material-sized; the
    rebuild is the doc-keyed covered-array join of
    :func:`_rebuild_without_covered` (r10 probe: the former
    token-keyed rebuild added two corpus-sized shuffles). Everything
    is corpus-proportional; the k-fold explode touches only
    duplicated material."""
    covered = _covered_positions(df, text_col, id_col, k, min_docs)
    return _rebuild_without_covered(df, text_col, id_col, covered)


def dedup_paragraphs_global(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """CROSS-document paragraph/line dedup (the C4 §2.2 three-sentence
    rule at segment granularity, applied corpus-wide as in Dolma): a
    segment occurring in multiple documents survives only at its
    FIRST occurrence — the (min doc_id, then min position) one — and
    every other copy is dropped; each document's text is rebuilt from
    its surviving segments in order. Complements ``dedup_lines``
    (intra-document) and ``remove_duplicate_spans`` (sub-segment
    windows). Returns (doc, text, n_segments, n_removed) for documents
    with >= 1 segment.

    ``sep`` is a LITERAL separator string (regex metacharacters are
    escaped before the split), matching the oracle's string_split.

    Shape: segments ship as 60-bit hashes into ONE global
    first-occurrence aggregate (min struct(doc, pos) per hash —
    partial-aggregated map-side, so a boilerplate segment present in
    ~every doc collapses to one row per input partition before the
    exchange), joined back to the segment stream on the hash
    (AQE-skew-splittable), then one per-doc rebuild on the id-hash
    partitioning. Segment text itself never crosses an exchange except
    inside its own document's rebuild row."""
    from ..functions import portable_hash60 as _h60  # noqa: F401 (doc link)

    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    segs = (
        df.repartition(n_part, F.col(id_col))
        .select(
            F.col(id_col).alias("doc"),
            # F.split takes a Java regex: escape so a metacharacter
            # separator ('.', '|') splits literally like the oracle
            F.posexplode(
                F.split(F.col(text_col), re.escape(sep))
            ).alias("pos", "seg"),
        )
        .where(F.trim(F.col("seg")) != "")
        .select("doc", "pos", "seg", portable_hash60("seg").alias("h"))
        .localCheckpoint(eager=True)  # feeds first-occurrence AND probe
    )
    firsts = segs.groupBy("h").agg(
        F.min(F.struct("doc", "pos")).alias("_first")
    )
    marked = segs.join(firsts, "h").select(
        "doc",
        "pos",
        "seg",
        (
            (F.col("_first.doc") == F.col("doc"))
            & (F.col("_first.pos") == F.col("pos"))
        ).cast("int").alias("_keep"),
    )
    kept_segs = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("_keep") == 1, F.struct("pos", "seg"))
            )
        ),
        lambda s: s["seg"],
    )
    return marked.groupBy("doc").agg(
        F.concat_ws(sep, kept_segs).alias("text"),
        F.count("*").alias("n_segments"),
        F.sum(F.lit(1) - F.col("_keep")).alias("n_removed"),
    )


def dedup_paragraphs_per_host(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """PER-SITE paragraph dedup — the crawl-curation middle policy
    between ``dedup_lines`` (intra-document) and
    ``dedup_paragraphs_global`` (corpus-wide): the first-occurrence
    rule of the global variant, scoped to the URL HOST
    (operators/text.url_host over normalize_url). Removes within-site
    boilerplate — nav bars, footers, cookie banners repeated across
    one site's pages — while leaving legitimate cross-site repetition
    (quotes, licenses, syndicated ledes) untouched, which the global
    policy would strip. A segment survives at its first occurrence
    within EACH host — the (min doc_id, then min position) one per
    (host, segment) — and every other same-host copy is dropped.
    Scheme-less AND NULL URLs scope to host '' (they dedup against
    each other only — the host is coalesced so null-url documents
    flow through the inner join instead of vanishing on a null key).
    Returns (doc, host, text, n_segments, n_removed) for documents
    with >= 1 segment.

    Shape: identical to dedup_paragraphs_global — segments ship as
    60-bit hashes into ONE first-occurrence aggregate, now keyed by
    (host, hash) so a boilerplate segment shared by MANY sites splits
    across host keys instead of concentrating on one (the per-host
    key is a free skew guard); one hash-keyed join back; one per-doc
    rebuild on the id-hash partitioning."""
    from .text import normalize_url, url_host

    spark = df.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    segs = (
        df.repartition(n_part, F.col(id_col))
        .select(
            F.col(id_col).alias("doc"),
            # coalesce: url_host(NULL) is NULL, and null keys never
            # match an inner join — null-url docs would silently drop
            F.coalesce(
                url_host(normalize_url(F.col(url_col))), F.lit("")
            ).alias("host"),
            F.posexplode(
                F.split(F.col(text_col), re.escape(sep))
            ).alias("pos", "seg"),
        )
        .where(F.trim(F.col("seg")) != "")
        .select("doc", "host", "pos", "seg", portable_hash60("seg").alias("h"))
        .localCheckpoint(eager=True)  # feeds first-occurrence AND probe
    )
    firsts = segs.groupBy("host", "h").agg(
        F.min(F.struct("doc", "pos")).alias("_first")
    )
    marked = segs.join(firsts, ["host", "h"]).select(
        "doc",
        "host",
        "pos",
        "seg",
        (
            (F.col("_first.doc") == F.col("doc"))
            & (F.col("_first.pos") == F.col("pos"))
        ).cast("int").alias("_keep"),
    )
    kept_segs = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("_keep") == 1, F.struct("pos", "seg"))
            )
        ),
        lambda s: s["seg"],
    )
    return marked.groupBy("doc", "host").agg(
        F.concat_ws(sep, kept_segs).alias("text"),
        F.count("*").alias("n_segments"),
        F.sum(F.lit(1) - F.col("_keep")).alias("n_removed"),
    )


def contamination_hits(
    corpus: DataFrame,
    probes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Eval-set decontamination: for every corpus document, count the
    distinct probe n-grams it contains (probes = benchmark/eval texts;
    any hit means the document leaks evaluation data into training).
    Returns (doc, n_hits) for documents with >= 1 hit.

    Scale shape: benchmark suites are tiny relative to a 100 TB corpus,
    so the probe shingle set is broadcast — the contamination join is
    map-side (no shuffle of the corpus gram stream), and the final
    groupBy(doc) reuses the id-hash partitioning _doc_shingles already
    established, so the whole check adds ZERO extra exchanges beyond
    shingling itself (verify with .explain: one Exchange total)."""
    pg = _doc_shingles(probes, text_col, id_col, n, None).select("gram").distinct()
    cg = _doc_shingles(corpus, text_col, id_col, n, None)
    return (
        cg.join(F.broadcast(pg), "gram")
        # cg is already distinct per (doc, gram), so a plain count is a
        # distinct-gram count without the count_distinct rewrite
        .groupBy("doc")
        .agg(F.count("*").alias("n_hits"))
    )


def _bloom_positions(col: Column, m_bits: int, k: int, seed: int) -> Column:
    """array<bigint> of the k Bloom bit positions for a key: pos_i =
    ((a_i*h(x)+b_i) mod P) mod m — same portable (a,b) family as
    MinHash, bit-identical in the SQL oracle."""
    h = portable_hash32(col)
    return F.array(
        *[
            ((F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME)) % F.lit(m_bits)
            for a, b in minhash_params(k, seed)
        ]
    )


def bloom_build(
    df: DataFrame,
    col: str,
    m_bits: int = 1 << 16,
    k: int = 5,
    seed: int = 7,
) -> DataFrame:
    """Distributed Bloom-filter BUILD as a relation: the m-bit array is
    stored sparse as (word, bits) rows — 32-bit words, only words with
    at least one set bit — built with one explode (k positions per key)
    and one bit_or aggregate. Everything stays an ordinary DataFrame:
    persist it like any table, union partial filters from incremental
    batches (bit_or is associative/mergeable), and broadcast it for
    probes — at the default m = 2^16 the dense filter is 8 KiB; even
    m = 2^32 (good for ~3e9 keys at 1% FPR with k=5) is half a GiB
    sharded, of which a probe only joins the words it needs.

    Spark's own runtime bloom pushdown covers joins it can see through;
    this operator makes the filter a first-class, persistable artifact
    for INCREMENTAL pipelines (probe today's batch against last month's
    corpus without re-scanning it)."""
    pos = df.select(
        F.explode(_bloom_positions(F.col(col), m_bits, k, seed)).alias("pos")
    )
    return (
        pos.select(
            F.floor(F.col("pos") / 32).cast("bigint").alias("word"),
            (F.col("pos") % 32).cast("int").alias("_bit"),
        )
        .groupBy("word")
        .agg(
            F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), _bit))").alias("bits")
        )
    )


def bloom_probe(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    id_col: str = "doc_id",
    m_bits: int = 1 << 16,
    k: int = 5,
    seed: int = 7,
) -> DataFrame:
    """Probe keys against a bloom_build relation: a row HITS iff all k
    of its bit positions are set. Returns (id, hit) with hit ∈ {0,1} —
    no false negatives ever; false-positive rate ~ fill_ratio^k.

    Shape: explode k probe positions, broadcast-join the (tiny) filter
    relation on the word index, verify the bit with a mask AND, then
    count matches per key — map-side only, zero shuffle of the probe
    stream beyond the final id-keyed aggregate (which reuses upstream
    partitioning when the caller already keyed by id). The standard
    deployment: bloom_probe prunes the 99% of a new batch that can't
    possibly be duplicate, the surviving 1% goes through the exact
    anti-join (incremental_dedup)."""
    pos = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            _bloom_positions(F.col(col), m_bits, k, seed)
        ).alias("_i", "pos"),
    ).select(
        "_id",
        F.floor(F.col("pos") / 32).cast("bigint").alias("word"),
        (F.col("pos") % 32).cast("int").alias("_bit"),
    )
    joined = pos.join(F.broadcast(bloom), "word", "left")
    matched = (
        F.coalesce(F.col("bits"), F.lit(0))
        .bitwiseAND(F.expr("shiftleft(CAST(1 AS BIGINT), _bit)"))
        != 0
    ).cast("int")
    return (
        joined.select("_id", matched.alias("_m"))
        .groupBy(F.col("_id").alias(id_col))
        .agg((F.sum("_m") == k).cast("int").alias("hit"))
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_fps: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Ingestion-time dedup: drop arriving documents whose normalized
    content fingerprint (text.content_fingerprint — lowercase, strip
    punct, collapse whitespace, 60-bit portable hash) already exists in
    the historical store. Returns surviving rows of ``new_docs`` plus
    their fingerprint column.

    This is the snapshot-incremental pattern a continuously-ingesting
    corpus needs: the seen-store is an append-only fingerprint table
    (tiny relative to the corpus — 8 bytes + key per EVER-seen doc);
    each batch is one left_anti join against it. At 100 TB of history
    the join shuffles only fingerprints, never text; bucket the store
    on ``fp_col`` at write time and the anti join co-locates with zero
    store-side exchange (sources.write_bucketed_table)."""
    from .text import content_fingerprint_col

    if fp_col in new_docs.columns:
        # the old join-back errored on the ambiguity; the withColumn
        # would silently overwrite the caller's column (r12 advice)
        raise ValueError(
            f"new_docs already has a column named {fp_col!r}; pass a "
            "different fp_col or drop/rename the existing column"
        )
    # the fingerprint is a pure per-row projection — attach it with a
    # withColumn instead of building the (id, fingerprint) relation
    # and 1:1-joining it back, which executed the batch subtree twice
    # and shuffled the batch by id for nothing (r12 plan audit: 5
    # scans -> 3 on the registered fixture; at 100 TB it removes a
    # full batch self-join). Column order matches the former join
    # output (id first, then the rest, fingerprint last).
    withfp = new_docs.select(
        id_col, *[c for c in new_docs.columns if c != id_col]
    ).withColumn(fp_col, content_fingerprint_col(text_col))
    return withfp.join(
        seen_fps.select(F.col(fp_col)), on=fp_col, how="left_anti"
    )


def signature_store_rows(
    docsigs: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Explode a (doc, sigs array<bigint>) relation into persistent
    signature-store rows (band, key, doc, sigs) — one row per band,
    key = the band's signature components joined with '_' (identical
    strings to minhash_lsh_pairs' in-batch band keys). Write the store
    bucketed on (band, key) (sources.write_bucketed_table) and every
    future probe join co-locates with zero store-side exchange."""
    rows = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.element_at(F.col("sigs"), bi * rows + r + 1).cast(
                            "string"
                        )
                        for r in range(rows)
                    ],
                ).alias("key"),
            )
            for bi in range(bands)
        ]
    )
    return (
        # a NULL sigs row (doc too short for shingles) has no band
        # keys — without this filter the struct array still explodes
        # into rows with empty-string keys
        docsigs.where(F.col("sigs").isNotNull())
        .select(F.explode(band_structs).alias("_bk"), "doc", "sigs")
        .select(
            F.col("_bk.band").alias("band"), F.col("_bk.key").alias("key"),
            "doc", "sigs",
        )
    )


def _est_jaccard(a: Column, b: Column, num_hashes: int) -> Column:
    """MinHash Jaccard estimate: fraction of equal signature
    components. Evaluated only on band-collision candidates — cheap
    array work, never a corpus-sized computation."""
    eq = F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v)
    return F.size(eq) / F.lit(float(num_hashes))


def incremental_dedup_fuzzy(
    new_docs: DataFrame,
    store: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Ingestion-time NEAR-duplicate dedup — the fuzzy analog of
    ``incremental_dedup``: arriving documents are dropped when their
    MinHash signature estimates Jaccard >= ``threshold`` against (a)
    any document in the persistent signature ``store`` (schema =
    signature_store_rows: band, key, doc, sigs) or (b) any EARLIER
    (smaller id) document in the same batch. Returns surviving
    ``new_docs`` rows plus their ``sigs`` column; append
    ``signature_store_rows`` of the survivors to the store to complete
    the upsert.

    The within-batch rule is the standard keep-first relaxation: a doc
    is dropped if it collides-and-verifies against ANY earlier batch
    doc, even one itself dropped (chains a~b~c drop b and c) — the
    same greedy order-dependence as C4's reservoir dedup, documented
    rather than paying a components pass per micro-batch.

    Scale shape: candidates come ONLY from band-key equality (shuffle
    ~ docs x bands short rows; no O(n^2) scan); each candidate row is
    verified in place by the signature-equality estimate — no second
    shuffle to dedup pairs before verification, only a narrow distinct
    on surviving doc ids. The store join shuffles the probe side on
    (band, key); with the store bucketed on those keys its side needs
    zero exchange regardless of history size. Hot band keys (a
    boilerplate signature shared by many stored docs) are
    AQE-skew-splittable since sigs ride as payload, not key."""
    sig = minhash_signatures(new_docs, text_col, id_col, n, num_hashes, seed)
    docsigs = sig.select(
        "doc",
        F.array(*[F.col(f"sig{i}") for i in range(num_hashes)]).alias("sigs"),
    ).localCheckpoint(eager=False)  # feeds probe, self-join, and join-back
    probe = signature_store_rows(docsigs, num_hashes, bands)
    est_ok = (
        _est_jaccard(F.col("a"), F.col("b"), num_hashes)
        >= F.lit(threshold)
    )
    hit_store = (
        probe.alias("p")
        .join(store.alias("s"), ["band", "key"])
        .select(
            F.col("p.doc").alias("doc"),
            F.col("p.sigs").alias("a"),
            F.col("s.sigs").alias("b"),
        )
        .where(est_ok)
        .select("doc")
        .distinct()
    )
    hit_batch = (
        probe.alias("pa")
        .join(
            probe.alias("pb"),
            (F.col("pa.band") == F.col("pb.band"))
            & (F.col("pa.key") == F.col("pb.key"))
            & (F.col("pa.doc") > F.col("pb.doc")),
        )
        .select(
            F.col("pa.doc").alias("doc"),
            F.col("pa.sigs").alias("a"),
            F.col("pb.sigs").alias("b"),
        )
        .where(est_ok)
        .select("doc")
        .distinct()
    )
    dropped = hit_store.union(hit_batch).distinct()
    return (
        # left join: a doc too short to produce shingles has no
        # signature row — it can't match anything and must SURVIVE
        # (sigs NULL; signature_store_rows drops it from the upsert)
        new_docs.join(
            docsigs.withColumnRenamed("doc", id_col), id_col, "left"
        )
        .join(dropped.withColumnRenamed("doc", id_col), id_col, "left_anti")
    )


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    seed: int = 42,
    threshold: float = 0.5,
) -> DataFrame:
    """Approximate-then-verify near-dup — the production composition:
    MinHash-LSH banding proposes candidate pairs (linear shuffles, no
    O(n^2) scan), then EXACT n-gram Jaccard is computed for those
    pairs ONLY and pairs below ``threshold`` are discarded. Unlike
    ngram_jaccard_pairs (exact but quadratic) this verifies a
    candidate set whose size is corpus-proportional, so the exact
    arithmetic never touches non-colliding pairs. Returns
    (doc_a, doc_b, jaccard) with doc_a < doc_b.

    Shape: candidates are checkpointed once (they feed the doc-set
    restriction and the intersection join); the CORPUS is cut down to
    candidate docs BEFORE shingling (broadcast of the bounded
    candidate-doc set — swap for a shuffle semi-join if candidates
    ever stop fitting), so the verify tier tokenizes only docs that
    can appear in a pair; intersections come from one
    (pair x shared-gram) join keyed by 60-bit gram hashes, and sizes
    join back per side. Shuffle volume ~ candidate pairs x doc gram
    count — subquadratic end-to-end."""
    cands = minhash_lsh_pairs(
        df, text_col, id_col, n, num_hashes, bands, seed
    ).localCheckpoint(eager=True)
    # restrict the CORPUS to candidate docs BEFORE shingling: the
    # verify tier tokenizes + windows only the docs that can appear in
    # a pair, not the whole corpus (the former shingle-then-join form
    # ran tokenize/lead over every document and threw the non-candidate
    # grams away at the join — r12, guide "filter early")
    cdocs = (
        cands.select(F.col("doc_a").alias(id_col))
        .union(cands.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    dfc = df.select(id_col, text_col).join(F.broadcast(cdocs), id_col)
    sc = (
        _doc_shingles(dfc, text_col, id_col, n, None, dedup=True)
        .select("doc", portable_hash60("gram").alias("g"))
        .localCheckpoint(eager=True)
    )
    sizes = sc.groupBy("doc").agg(F.count("*").alias("n"))
    a = sc.select(F.col("doc").alias("doc_a"), "g")
    b = sc.select(F.col("doc").alias("doc_b"), "g")
    inter = (
        cands.join(a, "doc_a")
        .join(b, ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("_inter"))
    )
    # sizes is candidate-doc-bounded (the same bound that lets cdocs
    # broadcast above), so both per-side attach joins broadcast —
    # without the hint they planned as two SortMergeJoin exchanges
    # over the pair relation (r12; the "struct-packed sizes" item of
    # the round's deferred list, resolved as plain broadcasts)
    na = F.broadcast(
        sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("_na"))
    )
    nb = F.broadcast(
        sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("_nb"))
    )
    jac = F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter"))
    # half-up in the 1e-5 integer domain (ROUND(double) ties diverge
    # across engines); the threshold compares the UNROUNDED quotient —
    # identical IEEE division in both engines
    jac5 = (
        F.floor(
            F.col("_inter") * 100000.0
            / (F.col("_na") + F.col("_nb") - F.col("_inter"))
            + F.lit(0.5)
        )
        / 100000.0
    )
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", jac5.alias("jaccard"))
    )


def soft_dedup_weights(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
    num_partitions: int | None = None,
) -> DataFrame:
    """SOFT dedup: instead of dropping near-duplicates, assign every
    document a training-loss weight 1/|cluster| (fixed-point ppm) so a
    cluster of near-identical pages contributes one document's worth
    of gradient in aggregate — the downweight-don't-delete policy
    (UniMax-style) that keeps rare in-cluster variation available to
    the model. Singletons (no near-dup edge) keep weight 1.0.

    Returns one row PER INPUT DOCUMENT: (doc_id, cluster, cluster_size,
    weight_ppm) with weight_ppm = floor(1e6 / cluster_size) and
    cluster = the component's canonical min-id (the doc's own id for
    singletons).

    Shape: connected components over the candidate pairs (O(log n)
    star rounds — pair-relation-sized, not corpus-sized), a
    components-keyed size aggregate (combiner-style), and ONE left
    join from the corpus to the component map. The component map is
    duplicate-cluster-members only — at 100 TB it is orders smaller
    than the corpus and AQE takes the join broadcast when it fits."""
    from .pregel import connected_components

    kw = {"num_partitions": num_partitions} if num_partitions else {}
    cc = connected_components(pairs, src=src, dst=dst, **kw)
    sizes = cc.groupBy("component").agg(F.count("*").alias("_csize"))
    cmap = cc.join(sizes, "component").select(
        F.col("id").alias(id_col),
        F.col("component").alias("cluster"),
        F.col("_csize").alias("cluster_size"),
    )
    out = docs.select(id_col).join(cmap, id_col, "left")
    return out.select(
        id_col,
        F.coalesce("cluster", F.col(id_col)).alias("cluster"),
        F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
        F.floor(
            F.lit(1_000_000) / F.coalesce("cluster_size", F.lit(1))
        )
        .cast("bigint")
        .alias("weight_ppm"),
    )


# position cap for the winnowing pos/hash integer encoding: 2^20 chars
# per document keeps hash32 * 2^20 + pos inside 2^52 (exact in both
# engines' integer and double domains)
_WINNOW_MAX_POS = 1 << 20


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the
    MOSS algorithm): hash every character k-gram, slide a window of
    ``window`` consecutive grams, and select each window's minimal
    hash (rightmost on ties — the density guarantee). Guarantees every
    shared substring of length >= k + window - 1 contributes at least
    one SHARED selected fingerprint, which is what makes the local
    fingerprint robust to content shifting where fixed-stride
    fingerprints break. Returns (doc, fp_hash, pos), distinct.

    Engine-portable selection trick: (hash, rightmost-pos) minima are
    ordered as ONE integer key hash32 * 2^20 + (2^20 - 1 - pos) — a
    plain MIN over a ROWS window in any engine; documents are capped
    at 2^20 characters (longer text is fingerprinted on its prefix;
    chunk first if full coverage matters). Shape: the k-gram explode
    every shingle pipeline pays, ONE doc-keyed window, one distinct —
    no Python anywhere.
    """
    from pyspark.sql.window import Window

    from ..functions import portable_hash32

    text = F.substring(F.col(text_col), 1, _WINNOW_MAX_POS)
    # pos is the 0-based k-gram index (posexplode); char offset = pos+1
    grams = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length(text) - (k - 1), F.lit(1)),
                ),
                lambda i: text.substr(i, F.lit(k)),
            )
        ).alias("pos", "gram"),
    )
    key = portable_hash32("gram") * F.lit(_WINNOW_MAX_POS) + (
        F.lit(_WINNOW_MAX_POS - 1) - F.col("pos")
    )
    w = (
        Window.partitionBy("doc")
        .orderBy("pos")
        .rowsBetween(-(window - 1), 0)
    )
    sel = (
        grams.select("doc", "pos", key.alias("key"))
        .withColumn("_sel", F.min("key").over(w))
        .where(F.col("pos") >= window - 1)  # full windows only
        .select("doc", F.col("_sel").alias("key"))
        .distinct()
    )
    return sel.select(
        "doc",
        F.expr(f"key div {_WINNOW_MAX_POS}").cast("bigint").alias("fp_hash"),
        (
            F.lit(_WINNOW_MAX_POS - 1)
            - F.expr(f"key % {_WINNOW_MAX_POS}")
        ).cast("int").alias("pos"),
    )


def dedup_canonical(
    df: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Canonical-representative selection — the PRODUCTION keep/drop
    policy on top of pair-emitting dedup: candidate pairs close into
    clusters (connected components), and each cluster keeps its
    HIGHEST-QUALITY document (ties broken by smallest id) instead of
    the arbitrary first occurrence — the curation policy that
    preserves the best copy of boilerplate-heavy near-dup families.
    Documents in no pair are their own singleton clusters and always
    survive. Returns one row per input document:
    (id, cluster, keep).

    Shape: the component closure runs on the PAIR graph only (tiny
    next to the corpus — near-clique blobs, O(diameter) rounds); the
    per-cluster winner is decided on the MEMBERS relation (same tiny
    pair-graph cardinality) with two hash aggregates, and the corpus
    only ever left-joins two cluster-sized relations (membership +
    winners — AQE broadcasts both when they fit). The corpus itself
    never crosses an exchange: the r12 rewrite of the previous
    corpus-wide row_number window, whose partition-and-sort touched
    every input row just to flag the non-winners."""
    from .pregel import connected_components

    cc = connected_components(
        pairs, src="doc_a", dst="doc_b", num_partitions=num_partitions
    ).select(F.col("id").alias(id_col), "component")
    # winner per cluster under (quality DESC, id ASC), computed on
    # cluster MEMBERS only: max quality, then min id among the rows
    # that attain it (type-generic — no negation trick, so any
    # orderable quality/id columns keep working)
    members = df.select(id_col, quality_col).join(cc, id_col)
    best_q = members.groupBy(F.col("component").alias("_bc")).agg(
        F.max(quality_col).alias("_bq")
    )
    winners = (
        members.join(
            best_q,
            (F.col("component") == F.col("_bc"))
            & (F.col(quality_col) == F.col("_bq")),
        )
        .groupBy(F.col("component").alias("cluster"))
        .agg(F.min(id_col).alias("_winner"))
    )
    tagged = df.select(id_col).join(cc, id_col, "left").select(
        id_col,
        F.coalesce("component", F.col(id_col)).alias("cluster"),
    )
    return tagged.join(winners, "cluster", "left").select(
        id_col,
        "cluster",
        (
            F.col("_winner").isNull()
            | (F.col("_winner") == F.col(id_col))
        ).alias("keep"),
    )
