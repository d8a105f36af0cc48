"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic, content fingerprinting.

All pure column expressions (whole-stage codegen; zero Python).
Each has a matching DuckDB oracle in queries/extensions.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..engine import local_frame
from ..functions import PUNCT, lineage_cut, ordered, portable_hash60, tokenize

# deliberately small, fixed marker lists — the heuristic is the
# operator; the lists are config
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "de", "y", "es"],
    "fr": ["le", "la", "de", "et", "est"],
}


def _count_in(words: Column, vocab: list[str]) -> Column:
    vocab_arr = F.array(*[F.lit(w) for w in vocab])
    return F.size(F.filter(words, lambda w: F.array_contains(vocab_arr, w)))


def _parallel(df: DataFrame) -> DataFrame:
    """Small parquet files arrive as ONE split; expression-heavy
    per-row work needs a repartition to use the cluster. Conditional:
    an input that already has enough splits (the 100 TB case) passes
    through untouched — the round-robin shuffle would be pure waste.
    getNumPartitions is planning metadata, not a job.

    Batch only: on a streaming DataFrame ``.rdd`` raises
    ``AnalysisException`` (pinned by test_round13's
    test_streaming_input_raises)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def text_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc quality metrics: token count, char count, mean token
    length, punctuation ratio, stopword ratio. The classic cheap
    quality filters (length/punct/stopword) for corpus cleaning."""
    df = _parallel(df)
    words = tokenize(F.col(text_col))
    n_tokens = F.size(words)
    n_chars = F.length(F.col(text_col))
    token_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    n_punct = n_chars - F.length(F.translate(F.col(text_col), PUNCT, ""))
    n_stop = _count_in(words, LANG_MARKERS["en"])
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        F.round(token_chars.cast("double") / n_tokens, 5).alias("avg_token_len"),
        F.round(n_punct.cast("double") / n_chars, 5).alias("punct_ratio"),
        F.round(n_stop.cast("double") / n_tokens, 5).alias("stopword_ratio"),
    )


def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Marker-word language heuristic: count hits per language list,
    predict the argmax (ties broken en > de > es > fr). A real system
    swaps in char-n-gram profiles; the operator shape (vector of
    per-class scores -> argmax, all codegen) is identical."""
    df = _parallel(df)
    words = tokenize(F.col(text_col))
    hits = {lang: _count_in(words, v) for lang, v in LANG_MARKERS.items()}
    pred = (
        F.when(
            (hits["en"] >= hits["de"])
            & (hits["en"] >= hits["es"])
            & (hits["en"] >= hits["fr"]),
            F.lit("en"),
        )
        .when((hits["de"] >= hits["es"]) & (hits["de"] >= hits["fr"]), F.lit("de"))
        .when(hits["es"] >= hits["fr"], F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        hits["en"].alias("en_hits"),
        hits["de"].alias("de_hits"),
        hits["es"].alias("es_hits"),
        hits["fr"].alias("fr_hits"),
        pred.alias("pred_lang"),
    )


def _check_keep_cols(keep_cols: Sequence[str], produced: Sequence[str]) -> None:
    """keep_cols appends plain ``F.col(c)`` projections — a name that
    collides with one the operator itself produces (or a duplicate in
    the list) yields a duplicate output column and ambiguous downstream
    references (r12 advice). Fail loudly at plan time instead."""
    seen: set[str] = set()
    for c in keep_cols:
        if c in produced:
            raise ValueError(
                f"keep_cols entry {c!r} collides with an operator output "
                f"column {tuple(produced)}; rename or drop it"
            )
        if c in seen:
            raise ValueError(f"duplicate keep_cols entry {c!r}")
        seen.add(c)


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Composite keep/review/drop quality gate: bounded mix of length,
    stopword density, and punctuation noise — the shape of a Gopher/
    C4-style rule filter. Weights are config; the operator contract is
    (doc_id, score, verdict[, *keep_cols]) with score in [0,1], all
    codegen.

    The verdict thresholds compare UNROUNDED doubles (the oracle does
    the same arithmetic — bitwise-identical, so the CASE branches
    agree); only the reported score is rounded.

    ``keep_cols`` carries named INPUT columns through the projection
    (the r12 logistic_score_relation pattern): the gate is a pure
    per-row projection, so a caller that needs the verdict alongside
    other columns should carry them here instead of joining the
    (id, score, verdict) relation back to the corpus — that join
    re-reads the corpus and shuffles it by id for nothing."""
    _check_keep_cols(keep_cols, ("doc_id", "score", "verdict"))
    df = _parallel(df)
    words = tokenize(F.col(text_col))
    n_tokens = F.size(words).cast("double")
    n_chars = F.length(F.col(text_col)).cast("double")
    n_punct = n_chars - F.length(F.translate(F.col(text_col), PUNCT, ""))
    n_stop = _count_in(words, LANG_MARKERS["en"]).cast("double")
    len_term = F.least(n_tokens / F.lit(200.0), F.lit(1.0))
    stop_term = F.least(n_stop / n_tokens * 4.0, F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(n_punct / n_chars * 10.0, F.lit(1.0))
    score = len_term * 0.5 + stop_term * 0.3 + punct_term * 0.2
    verdict = (
        F.when(score >= 0.6, F.lit("keep"))
        .when(score >= 0.3, F.lit("review"))
        .otherwise(F.lit("drop"))
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.round(score, 5).alias("score"),
        verdict.alias("verdict"),
        *[F.col(c) for c in keep_cols],
    )


def content_fingerprint_col(text_col: str = "text") -> Column:
    """The content fingerprint as a COLUMN expression — a pure per-row
    projection, so callers that need the fingerprint alongside other
    columns attach it with ``withColumn`` instead of computing the
    (id, fingerprint) relation and joining it back (a corpus-sized
    1:1 self-join the r12 plan audit found in the incremental-dedup
    paths)."""
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.translate(F.col(text_col), PUNCT, " " * len(PUNCT))),
            r"\s+",
            " ",
        )
    )
    return portable_hash60(norm)


def content_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Normalization-invariant content fingerprint: lowercase, strip
    punctuation, collapse whitespace, then a 60-bit portable hash —
    identical across engines (DuckDB:
    CAST('0x'||substr(md5(norm),1,15) AS BIGINT)). The cheap first
    pass before any fuzzy dedup."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        content_fingerprint_col(text_col).alias("fingerprint"),
    )


# PII patterns shared with the DuckDB oracle — both engines' regex
# dialects (Java / RE2) interpret these identically: no backrefs, no
# lookaround, ASCII word boundaries only.
PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{4}\b"


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """PII scrubbing for training corpora: count and mask emails, IPv4
    addresses, and short phone numbers. Counts are taken on the ORIGINAL
    text; masking is sequential email -> ip -> phone (the patterns are
    disjoint on well-formed text, so order only matters for pathological
    overlaps and is part of the contract). Returns
    (id, text, n_email, n_ip, n_phone[, *keep_cols]) — all codegen,
    zero shuffle. ``keep_cols`` carries named input columns through
    the projection (see quality_score) so composing pipelines chain
    per-row passes instead of joining them back on id."""
    _check_keep_cols(
        keep_cols, ("doc_id", text_col, "n_email", "n_ip", "n_phone")
    )
    t = F.col(text_col)
    red = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, PII_IPV4, "<IP>")
    red = F.regexp_replace(red, PII_PHONE, "<PHONE>")
    return df.select(
        F.col(id_col).alias("doc_id"),
        red.alias(text_col),
        F.regexp_count(t, F.lit(PII_EMAIL)).cast("bigint").alias("n_email"),
        F.regexp_count(t, F.lit(PII_IPV4)).cast("bigint").alias("n_ip"),
        F.regexp_count(t, F.lit(PII_PHONE)).cast("bigint").alias("n_phone"),
        *[F.col(c) for c in keep_cols],
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition metrics (Rae et al. 2021 Table A1): the
    distinct-token ratio and the mass of the single most frequent bigram
    / the duplicate-bigram fraction. Docs with fewer than 2 tokens have
    no bigrams and are dropped (documented contract; real corpora gate
    on length first).

    Shape: ONE exchange total. Tokens are materialized with a single
    posexplode over an id-hash repartition and bigrams assembled with a
    lead() window — the same pattern as dedup._doc_shingles, which
    documents why the transform(sequence, i -> concat(words[i],
    words[i+1])) alternative is ~10x slower (HOF lambdas stay
    interpreted and re-evaluate the tokenize subtree per element).
    Every downstream groupBy / join is keyed by doc (or doc+bigram,
    which hash(doc) co-locates), so the window sort, both rollups, and
    the final join all reuse the one id-hash partitioning. Skew is
    bounded by a single document's bigram vocabulary, never the
    corpus."""
    from pyspark.sql.window import Window

    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokenize(F.col(text_col))).alias("i", "w"),
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    toks = toks.select("doc_id", "w", F.lead("w", 1).over(w).alias("w2"))
    # 0-token docs vanish in the posexplode; 1-token docs are filtered —
    # same "no bigrams -> dropped" contract as before
    tok_stats = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.count_distinct("w").alias("_n_uniq"),
    ).where(F.col("n_tokens") >= 2)
    counts = (
        toks.where(F.col("w2").isNotNull())
        .groupBy("doc_id", F.concat_ws(" ", "w", "w2").alias("bigram"))
        .agg(F.count("*").alias("cnt"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.max("cnt").alias("_max_cnt"),
        F.sum("cnt").alias("_n_bigrams"),
        F.count("*").alias("_n_distinct"),
    )
    return tok_stats.join(per_doc, "doc_id").select(
        "doc_id",
        "n_tokens",
        F.round(
            F.col("_n_uniq").cast("double") / F.col("n_tokens"), 5
        ).alias("uniq_token_ratio"),
        F.round(
            F.col("_max_cnt").cast("double") / F.col("_n_bigrams"), 5
        ).alias("top_bigram_frac"),
        F.round(
            F.lit(1.0)
            - F.col("_n_distinct").cast("double") / F.col("_n_bigrams"),
            5,
        ).alias("dup_bigram_frac"),
    )


def vocab_topn(df: DataFrame, text_col: str = "text", n: int = 100) -> DataFrame:
    """Corpus vocabulary / heavy hitters: top-n tokens by frequency with
    a deterministic (cnt DESC, word ASC) tie-break. The exact tier of a
    tokenizer-vocab build: explode -> partial-aggregated groupBy (one
    shuffle on the token) -> TakeOrderedAndProject, so the driver only
    ever sees n rows regardless of corpus size."""
    words = df.select(F.explode(tokenize(F.col(text_col))).alias("word"))
    counts = words.groupBy("word").agg(F.count("*").alias("cnt"))
    from pyspark.sql import Window

    rank = F.row_number().over(
        Window.orderBy(F.col("cnt").desc(), F.col("word"))
    )
    return (
        counts.orderBy(F.col("cnt").desc(), "word")
        .limit(n)
        .select(rank.alias("rank"), "word", "cnt")
    )


def unigram_lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unigram language-model scoring — the perplexity-filter tier of
    CCNet/RedPajama-style curation with the n-gram KenLM swapped for a
    corpus unigram model (the operator shape is identical: token stream
    ⋈ broadcast model → per-doc mean NLL). For each document:
    xent = -mean ln p(w) with p(w) = corpus_count(w)/total_tokens, and
    ppl = exp(xent). Low-probability token mixes (OCR noise, code
    dumps, wrong-language fragments) surface as high perplexity.

    Shape: the token stream is ONE posexplode over an id-hash
    repartition; the model is a combiner-style groupBy(word) — shuffle
    bytes ~ vocabulary per partition, not corpus; the model (and the
    single-row total) join back via broadcast, so scoring is map-side
    and the per-doc aggregate reuses the id-hash layout (no driver
    action anywhere). At 100 TB cap the broadcast model at top-V words
    + an OOV floor probability — heavy-hitter vocab is MBs while the
    full tail is not; the fixture vocabulary is small enough to use
    whole."""
    from pyspark.sql.window import Window

    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(F.col(text_col))).alias("word"),
    )
    # the normalizing total rides ON the model relation via a global
    # window over the (vocabulary-sized) counts — one extra exchange of
    # the SMALL relation, instead of recomputing the corpus token
    # subtree for a single-row crossJoin (which also planned a
    # BroadcastNestedLoopJoin)
    model = (
        toks.groupBy("word")
        .agg(F.count("*").alias("_cnt"))
        .withColumn("_tot", F.sum("_cnt").over(Window.partitionBy()))
    )
    nll = -F.log(F.col("_cnt").cast("double") / F.col("_tot"))
    return (
        toks.join(F.broadcast(model), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(nll), 5).alias("xent"),
            F.round(F.exp(F.avg(nll)), 4).alias("ppl"),
        )
    )


def bpe_pair_stats(
    df: DataFrame, text_col: str = "text", top_n: int = 20
) -> DataFrame:
    """Round-1 BPE pair statistics (Sennrich et al. 2016): adjacent
    symbol-pair frequencies over the corpus WORD-FREQUENCY table, each
    word's characters plus a terminal '</w>' marker, weighted by word
    frequency. The top pair is the first merge rule a BPE tokenizer
    learns.

    Scale shape: BPE never touches the corpus after the word-frequency
    aggregate — the symbol table is VOCABULARY-sized. One corpus-keyed
    token shuffle builds word frequencies; chars explode off the (small)
    word table; the pair aggregate is combiner-style on the pair key.
    Returns (rnk, pair, cnt), rank by (cnt DESC, pair ASC)."""
    from pyspark.sql.window import Window

    wf = (
        df.select(F.explode(tokenize(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    syms = F.concat(
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        ),
        F.array(F.lit("</w>")),
    )
    chars = wf.select("word", "freq", F.posexplode(syms).alias("i", "sym"))
    w = Window.partitionBy("word").orderBy("i")
    pairs = chars.select(
        "freq",
        F.concat_ws(" ", "sym", F.lead("sym", 1).over(w)).alias("pair"),
        F.lead("sym", 1).over(w).alias("_nxt"),
    ).where(F.col("_nxt").isNotNull())
    pc = pairs.groupBy("pair").agg(F.sum("freq").alias("cnt"))
    rank = F.row_number().over(Window.orderBy(F.col("cnt").desc(), "pair"))
    return (
        pc.orderBy(F.col("cnt").desc(), "pair")
        .limit(top_n)
        .select(rank.cast("bigint").alias("rnk"), "pair", "cnt")
    )


def dedup_lines(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """C4-style intra-document repeated-line removal: keep the FIRST
    occurrence of every exact line, preserving original line order
    (Raffel et al. 2020 §2.2 deduplicate-three-sentence-spans, applied
    at line granularity). Returns (id, text, n_kept).

    Shape: posexplode -> min(pos) per (doc, line) -> re-assemble sorted
    by pos. Two shuffles, both keyed by doc id (+line), so work stays
    proportional to corpus size; the collect_list is per-document (a
    document's own lines), never a global aggregation."""
    ls = F.split(F.col(text_col), "\n")
    lines = df.select(id_col, F.posexplode(ls).alias("pos", "line"))
    firsts = lines.groupBy(id_col, "line").agg(F.min("pos").alias("pos"))
    return firsts.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias(text_col),
        F.count("*").alias("n_kept"),
    )


def tfidf_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-document top-k TF-IDF keywords — the classic keyword /
    topic-proxy extraction for corpus exploration and quality routing.
    score = tf * ln(N / df); rank per doc by (score DESC, word ASC).

    Shape: one id-hash repartition feeds the (doc, word) tf aggregate
    (partial map-side); document frequency is a second aggregate keyed
    by word; the tf ⋈ df join shuffles on the word — all aggregates are
    combiner-style, so skew is bounded by a single term's document
    frequency. The corpus size N arrives via a broadcast single-row
    crossJoin, never a driver action. At 100 TB the df relation is
    vocabulary-sized — orders smaller than the corpus."""
    from pyspark.sql.window import Window

    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(F.col(text_col))).alias("word"),
    )
    # tf feeds the document-frequency aggregate AND the scoring join —
    # without a cut the corpus tokenize+explode+aggregate runs twice
    # (r12 plan audit). Size bound: tf is (doc, term-TYPE)-sized —
    # ≤ tokens but typically 2-5x smaller (Heaps' law; 2.6x on the
    # fixture corpus) — and it sits POST-aggregation, so the cut
    # stores counted rows, never the raw token stream. Still
    # corpus-proportional: spark.remap.lineageCut=off restores full
    # lineage at the price of a second tokenize pass (lineage_cut).
    tf = lineage_cut(
        toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.count("*").alias("dfc"))
    ndocs = df.select(F.count("*").alias("_nd"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "score",
            F.col("tf") * F.log(F.col("_nd").cast("double") / F.col("dfc")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("word")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "word", F.round("score", 5).alias("score"))
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    topk: int = 20,
) -> DataFrame:
    """BM25 relevance of every document against a bag-of-terms query —
    the standard retrieval scorer for mining a corpus for documents
    about a topic (seed selection, decontamination triage, quality
    routing). score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b +
    b·len_d/avgdl)), idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).
    Returns the topk (rank, doc_id, score) rows ordered by the ROUNDED
    score then doc_id, so the ordering is reproducible cross-engine.

    Shape: doc lengths come from the full token stream's per-doc
    aggregate; tf is computed ONLY for the query terms (the filter is
    applied before the aggregate, so the shuffled tf relation is
    |terms|-bounded per doc); df and the (N, avgdl) constants ride in
    as broadcast relations (term-count-sized and single-row — never a
    driver action). The global top-k is a TakeOrdered, not a full
    sort. At 100 TB the only corpus-sized shuffle is the per-doc
    length aggregate, which is combiner-style."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize(F.col(text_col))).alias("word"),
    )
    # NOTE (r12): the audit flagged toks re-executing once per
    # consumer (lens x2 via consts+join, tf x2 via dfreq+scorer).
    # Lazy cuts on lens and/or tf were A/B'd and REVERTED: both
    # variants cost a consistent +0.1-0.25 s (~15-25%, 8/8 interleaved
    # rounds) at fixture scale — each re-execution is a column-pruned
    # parquet scan + codegen-fused filter/aggregate (the tf leg's term
    # filter pushes to the scan), which beats materializing an RDD and
    # losing the fusion. The uncut form's extra passes are scan-pruned
    # and combiner-style, so they stay cheap at any scale.
    lens = toks.groupBy("doc_id").agg(F.count("*").alias("dlen"))
    tf = (
        toks.where(F.col("word").isin(query_terms))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.count("*").alias("dfc"))
    consts = lens.agg(
        F.count("*").alias("_nd"), F.avg("dlen").alias("_avgdl")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_nd") - F.col("dfc") + 0.5) / (F.col("dfc") + 0.5)
    )
    norm = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dlen") / F.col("_avgdl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(consts))
        .withColumn("_s", idf * F.col("tf") * (k1 + 1.0) / norm)
        .groupBy("doc_id")
        .agg(F.round(F.sum("_s"), 5).alias("score"))
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(topk)
        .select("doc_id", "score")
    )


def boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document boilerplate detection (C4-style): lines that occur
    in at least ``min_docs`` DISTINCT documents — license headers,
    navigation chrome, cookie banners. Returns (line, n_docs).

    Shape: posexplode lines -> distinct (doc, line) -> one aggregate
    keyed by the line. The distinct and the count share the line-hash
    shuffle; the result is tiny (only lines crossing the threshold), so
    the typical consumer broadcasts it back for an anti-join strip."""
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), "\n")).alias("line"),
    ).distinct()
    return (
        lines.groupBy("line")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .transform(ordered, "line")
    )


# cleaning patterns shared with the DuckDB oracle (no backrefs /
# lookaround — identical under Java regex and RE2)
CLEAN_TAG = "<[^>]*>"
CLEAN_CTRL = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"


def clean_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Ingest-time text normalization: strip HTML/XML tags, drop control
    characters (keeping \\t \\n \\r), collapse runs of spaces/tabs, trim.
    Returns (doc_id, text, n_tags, n_ctrl) — counts taken on the
    ORIGINAL text so the cleaning is auditable. Pure codegen
    projections, zero shuffle, order-preserving."""
    t = F.col(text_col)
    cleaned = F.regexp_replace(t, CLEAN_TAG, " ")
    cleaned = F.regexp_replace(cleaned, CLEAN_CTRL, "")
    cleaned = F.trim(F.regexp_replace(cleaned, "[ \\t]+", " "))
    return df.select(
        F.col(id_col).alias("doc_id"),
        cleaned.alias(text_col),
        F.regexp_count(t, F.lit(CLEAN_TAG)).cast("bigint").alias("n_tags"),
        F.regexp_count(t, F.lit(CLEAN_CTRL)).cast("bigint").alias("n_ctrl"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 512,
    overlap: int = 128,
) -> DataFrame:
    """Split each document's token stream into overlapping chunks —
    context-window preparation for training / retrieval indexing.
    Chunk k covers token ordinals [k*step, k*step + chunk_size) with
    step = chunk_size - overlap; the last chunk may be short but never
    consists of overlap alone (n_chunks = ceil(max(n - overlap, 1) /
    step)). Returns (doc_id, chunk_id, n_tokens, text).

    Shape: one narrow projection materializes the token array, one
    generator explodes chunk ids, and `slice` + `array_join` assemble
    each chunk — slice is a codegen collection function, not an
    interpreted lambda, and the token array is evaluated once per doc
    row (not per chunk-element as a transform() formulation would).
    Zero shuffle: chunking is embarrassingly parallel per document;
    at 100 TB the only cost above the scan is the overlap-factor
    output inflation, which is the contract."""
    if not 0 <= overlap < chunk_size:
        raise ValueError(f"need 0 <= overlap < chunk_size, got {overlap}/{chunk_size}")
    step = chunk_size - overlap
    base = df.select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("_w")
    ).withColumn("_n", F.size("_w")).where(F.col("_n") > 0)
    n_chunks = F.floor(
        (F.greatest(F.col("_n") - overlap, F.lit(1)) + F.lit(step - 1))
        / F.lit(float(step))
    ).cast("int")
    chunks = base.select(
        "doc_id",
        "_w",
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("_p", "chunk_id"),
    )
    piece = F.slice(F.col("_w"), F.col("chunk_id") * step + 1, chunk_size)
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.size(piece).alias("n_tokens"),
        F.array_join(piece, " ").alias(text_col),
    )


def normalize_url(col: Column | str) -> Column:
    """URL canonicalization — the FIRST dedup pass of a crawl pipeline
    (URL-level, before any content hashing; dedups the ~30-50% of
    crawl frontier entries that are the same page under a different
    spelling). Lowercases scheme+authority, strips the fragment,
    default ports (:80/:443), utm_* tracking params, and a trailing
    slash. A chain of codegen regexp_replaces: zero shuffle, linear.
    Patterns avoid lookaround so they behave identically under Java
    regex and RE2."""
    c = F.col(col) if isinstance(col, str) else col
    u = F.regexp_replace(c, "#.*$", "")  # fragment
    # lowercase scheme://authority only (path/query stay case-sensitive)
    head = F.lower(F.regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", 0))
    tail = F.regexp_replace(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", "")
    u = F.when(head == "", u).otherwise(F.concat(head, tail))
    u = F.regexp_replace(u, ":80(/|\\?|$)", "$1")  # default http port
    u = F.regexp_replace(u, ":443(/|\\?|$)", "$1")  # default https port
    # tracking params: a leading run of utm_* params hands '?' to the
    # first survivor; interior/trailing utm_* drop with their '&'
    u = F.regexp_replace(u, "\\?utm_[^&]*(&utm_[^&]*)*&", "?")
    u = F.regexp_replace(u, "\\?utm_[^&]*(&utm_[^&]*)*$", "")
    u = F.regexp_replace(u, "&utm_[^&]*", "")
    u = F.regexp_replace(u, "(.)/(\\?|$)", "$1$2")  # trailing slash (not root)
    return u


def url_host(col: Column | str) -> Column:
    """Host (authority minus userinfo/port) of a URL, lowercased — the
    scope key of per-site curation policies (per-host paragraph dedup,
    per-domain caps). Scheme-less inputs yield '' (callers decide the
    policy for them; dedup_paragraphs_per_host documents its own).
    Pure codegen regexp, no lookaround (Java-regex/RE2 portable)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(
        F.regexp_extract(
            c, "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1
        )
    )


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_model_bigrams: int | None = None,
) -> DataFrame:
    """Bigram language-model scoring with add-one smoothing — one rung
    up the CCNet/KenLM ladder from unigram_lm_scores: documents whose
    token PAIRS are improbable (shuffled text, keyword stuffing,
    boilerplate soup) score high even when their unigram mix looks
    normal. For each document with >= 2 tokens:
    xent = -mean ln p(w2|w1), p(w2|w1) = (c(w1,w2)+1) / (ctx(w1)+V),
    ctx(w1) = bigram occurrences anchored at w1, V = corpus distinct
    unigrams; ppl = exp(xent).

    Shape: the token stream is one posexplode over an id-hash
    repartition; bigrams come from a lead() window INSIDE that same
    doc-keyed layout (no extra exchange); the bigram model and its
    context marginal are combiner-style aggregates whose shuffle
    volume is model-sized, not corpus-sized; V rides in as a
    broadcast single-row relation (same idiom as bm25_topk's consts).
    Join strategy for the model is SIZE-AWARE: with
    ``max_model_bigrams`` set, the model is truncated to the top-M
    most frequent bigrams (out-of-model pairs fall back to the
    add-one floor c=0 via the left join) and the now-bounded relation
    is broadcast; with no cap the model is vocabulary-pair-sized and
    the joins are left to AQE — a forced broadcast of an uncapped
    web-corpus model would OOM the driver. ``max_model_bigrams`` is
    the 100 TB path; the aggregates never materialize on the
    driver either way."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # id-hash repartition: spreads a few-split parquet scan AND is the
    # ONE exchange all consumers below reuse (its map side — including
    # tokenize — runs once). Bigrams then come straight off the token
    # array via arrays_zip(arr, slice(arr, 2, len)) (r12 optimization):
    # ordinary collection expressions evaluated once per row — the
    # former lead() window paid a per-consumer sort of the whole token
    # stream (model/ctx/probe each re-sorted it after the reused
    # exchange). Pair stream and per-doc row order (= array order) are
    # identical, so every aggregate replays bit-for-bit.
    arr = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("_arr")
    )
    toks = arr.select("doc_id", F.explode("_arr").alias("w1"))
    bigrams = (
        arr.select(
            "doc_id",
            F.explode(
                F.arrays_zip(F.col("_arr"), F.slice("_arr", 2, F.size("_arr")))
            ).alias("_t"),
        )
        .select(
            "doc_id",
            F.col("_t").getField("_arr").alias("w1"),
            F.col("_t").getField("1").alias("w2"),
        )
        .where(F.col("w2").isNotNull())
    )
    # lazy cut: model/ctx/probe consumers read the materialized bigram
    # rows instead of re-running tokenize+zip+explode each. Size bound:
    # exactly tokens-1 narrow (doc, w1, w2) rows per doc — the cut is
    # token-stream-sized, i.e. corpus-proportional; the re-execution it
    # removes is one full tokenize+explode pass PER CONSUMER (3 here).
    # spark.remap.lineageCut=off opts out on fault-sensitive clusters.
    bigrams = lineage_cut(bigrams)
    model = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("_c12"))
    if max_model_bigrams is not None:
        # deterministic top-M truncation (count desc, pair asc ties);
        # the resulting relation is bounded by M, safe to broadcast
        model = F.broadcast(
            model.orderBy(F.col("_c12").desc(), "w1", "w2").limit(
                max_model_bigrams
            )
        )
    ctx = bigrams.groupBy("w1").agg(F.count("*").alias("_c1"))
    vocab = toks.agg(F.countDistinct("w1").alias("_v"))
    nll = -F.log(
        (F.col("_c12") + 1).cast("double") / (F.col("_c1") + F.col("_v"))
    )
    return (
        bigrams.join(model, ["w1", "w2"], "left")
        # out-of-model pairs (possible only under the top-M cap) take
        # the add-one smoothing floor c(w1,w2) = 0
        .withColumn("_c12", F.coalesce(F.col("_c12"), F.lit(0)))
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(nll), 5).alias("xent"),
            F.round(F.exp(F.avg(nll)), 4).alias("ppl"),
        )
    )


def trigram_backoff_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    max_model_trigrams: int | None = None,
    max_model_bigrams: int | None = None,
) -> DataFrame:
    """Trigram Stupid Backoff scoring (Brants et al. 2007) — the next
    rung of the CCNet ladder above bigram_lm_scores: each token is
    scored by its trigram relative frequency when the trigram is in
    the model, backing off to alpha x the bigram score, then to
    alpha² x the unigram frequency. With UNCAPPED models every
    corpus trigram is its own evidence (score = c3/c2, no backoff);
    the production shape caps the trigram and bigram models at top-M
    (deterministic count-desc, ngram-asc ties), which is where Stupid
    Backoff earns its keep — rare trigrams fall back to denser
    statistics instead of carrying vocabulary³-sized state. Returns
    (doc_id, n_trigrams, score_log_mean, ppl_proxy) with the log-mean
    rounded to 5 decimals for engine parity.

    Shape: the token stream is one posexplode over an id-hash
    repartition; trigrams/bigrams come from lead() windows INSIDE
    that layout (no extra exchange); the five model relations are
    combiner aggregates whose shuffle is model-sized; capped models
    broadcast (bounded by M), uncapped joins are AQE's call; corpus
    totals ride as a single-row broadcast. Nothing touches the
    driver."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # Same r12 shape as bigram_lm_scores: ONE id-hash exchange whose
    # map side tokenizes once, trigrams from arrays_zip(arr, slice+1,
    # slice+2) instead of two lead() windows — the SEVEN consumers
    # below (m3/ctx3/m2/ctx2/uni/tot/probe) each re-ran the window
    # sort over the full token stream; the zip/explode they now re-run
    # is a once-per-row collection expression. Trigram stream and
    # per-doc row order are identical (null-padded tails dropped by
    # the same w2/w3 non-null filter).
    arr = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("_arr")
    )
    tri = (
        arr.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.col("_arr"),
                    F.slice("_arr", 2, F.size("_arr")),
                    F.slice("_arr", 3, F.size("_arr")),
                )
            ).alias("_t"),
        )
        .select(
            "doc_id",
            F.col("_t").getField("_arr").alias("w1"),
            F.col("_t").getField("1").alias("w2"),
            F.col("_t").getField("2").alias("w3"),
        )
        .where(F.col("w2").isNotNull() & F.col("w3").isNotNull())
    )
    # lazy cut: the seven consumers read the materialized trigram rows
    # instead of re-running tokenize+zip+explode each. Size bound:
    # tokens-2 narrow rows per doc (token-stream-sized, corpus-
    # proportional); the cut trades that executor-local footprint for
    # SEVEN avoided tokenize passes. spark.remap.lineageCut=off opts
    # out on fault-sensitive clusters (lineage_cut).
    tri = lineage_cut(tri)

    m3 = tri.groupBy("w1", "w2", "w3").agg(F.count("*").alias("_c3"))
    if max_model_trigrams is not None:
        m3 = F.broadcast(
            m3.orderBy(F.col("_c3").desc(), "w1", "w2", "w3").limit(
                max_model_trigrams
            )
        )
    ctx3 = tri.groupBy("w1", "w2").agg(F.count("*").alias("_cx3"))
    m2 = tri.groupBy("w2", "w3").agg(F.count("*").alias("_c2"))
    if max_model_bigrams is not None:
        m2 = F.broadcast(
            m2.orderBy(F.col("_c2").desc(), "w2", "w3").limit(
                max_model_bigrams
            )
        )
    ctx2 = tri.groupBy("w2").agg(F.count("*").alias("_cx2"))
    uni = tri.groupBy("w3").agg(F.count("*").alias("_c1"))
    tot = tri.agg(F.count("*").alias("_n"))

    score = (
        F.when(
            F.col("_c3").isNotNull(),
            F.col("_c3").cast("double") / F.col("_cx3"),
        )
        .when(
            F.col("_c2").isNotNull(),
            F.lit(alpha) * F.col("_c2") / F.col("_cx2"),
        )
        .otherwise(
            F.lit(alpha * alpha)
            * F.coalesce(F.col("_c1"), F.lit(0))
            / F.col("_n")
        )
    )
    logmean = F.avg(F.log(score))
    return (
        tri.join(m3, ["w1", "w2", "w3"], "left")
        .join(ctx3, ["w1", "w2"])
        .join(m2, ["w2", "w3"], "left")
        .join(ctx2, "w2")
        .join(uni, "w3", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.round(logmean, 5).alias("score_log_mean"),
            F.round(F.exp(-logmean), 4).alias("ppl_proxy"),
        )
    )


def build_inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_doc_freq: int = 1,
) -> DataFrame:
    """Inverted index over the reference wordcount tokenization
    (functions.tokenize): one row per term with document frequency,
    collection frequency, and ALIGNED postings arrays ``doc_ids`` /
    ``term_freqs`` sorted by document id — the retrieval-side data
    structure BM25 scoring walks (aligned scalar arrays, not structs,
    so any engine's list aggregate replays them).

    Scale shape: explode -> ONE combiner groupBy (term, doc) for term
    frequencies -> ONE groupBy (term) collecting the postings. The
    collect_list is per-term state: heavy stopword terms concentrate
    postings on single reducers — cap them away with ``min_doc_freq``'s
    dual (a max_doc_freq stopword filter upstream) or the vocab
    heavy-hitter report in this module before indexing a web corpus.
    """
    from ..functions import tokenize

    tf = (
        docs.select(
            F.col(id_col).alias("_doc"),
            F.explode(tokenize(text_col)).alias("term"),
        )
        .groupBy("term", "_doc")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    posting = F.array_sort(
        F.collect_list(F.struct(F.col("_doc"), F.col("_tf")))
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.sum("_tf").alias("coll_freq"),
            posting.alias("_p"),
        )
        .where(F.col("doc_freq") >= min_doc_freq)
        .select(
            "term",
            "doc_freq",
            "coll_freq",
            F.transform("_p", lambda x: x["_doc"]).alias("doc_ids"),
            F.transform("_p", lambda x: x["_tf"]).alias("term_freqs"),
        )
    )


RAKE_STOPWORDS: list[str] = [
    "the", "a", "an", "and", "of", "to", "is", "in", "on", "at",
    "for", "with", "as", "by", "be", "are", "was", "it", "that",
    "this",
]


def rake_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: list[str] | None = None,
    top_n: int = 20,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal runs of non-stopword tokens; each word scores
    degree/frequency where frequency counts the word's occurrences in
    candidate phrases and degree sums the lengths of the phrases it
    occurs in (self-co-occurrence included, the paper's convention);
    a phrase scores the sum of its words' scores, per occurrence.
    Scoring is ppm-INTEGER (score_ppm = degree * 1e6 div freq, summed
    exactly) so the replay oracle reproduces it bit-for-bit — the
    engine-wide exactness convention (modularity/seasonal).

    Returns the corpus-level top ``top_n``:
    (phrase, score_ppm, n_occurrences), ordered by score then phrase
    (a TOTAL order, so the cut at top_n is deterministic).

    Shape: one posexplode + one doc-keyed window for the phrase
    islands (single shuffle; the phrase-length count window over
    (doc, _grp) piggybacks on the same hash partitioning — doc alone
    already co-locates every (doc, _grp) group, so Spark adds only a
    local sort, no second Exchange and no plen join), two
    vocabulary-sized word aggregates, word-score joins left to AQE —
    NOT force-broadcast, the bigram-LM lesson: vocabulary-sized
    relations only broadcast when a cap bounds them — then one phrase
    aggregate and a TakeOrdered top-k. No Python in the plan at any
    point. The word-phrase stream is cut once with a lazy
    localCheckpoint (the trigram-LM lesson): its two consumers (word
    scores, phrase assembly) read the materialized rows instead of
    re-running tokenize + explode + both windows each."""
    from pyspark.sql.window import Window

    sw = stopwords if stopwords is not None else RAKE_STOPWORDS
    sw_arr = F.array(*[F.lit(w) for w in sw])
    df = _parallel(df)
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokenize(F.col(text_col))).alias("i", "w"),
    )
    win = Window.partitionBy("doc").orderBy("i")
    content = toks.where(~F.array_contains(sw_arr, F.col("w"))).withColumn(
        "_grp", F.col("i") - F.row_number().over(win)
    )
    # Size bound: wp is the CONTENT-token stream (stopword rows already
    # dropped — ~40-60% of tokens on English-like text) with two int
    # columns added; corpus-proportional, traded for re-running
    # tokenize + both windows once per consumer (2 here).
    # spark.remap.lineageCut=off opts out (lineage_cut).
    wp = lineage_cut(
        content.withColumn(
            "_plen", F.count("*").over(Window.partitionBy("doc", "_grp"))
        )
    )
    wscore = (
        wp.groupBy("w")
        .agg(F.count("*").alias("_freq"), F.sum("_plen").alias("_deg"))
        .select(
            "w",
            F.expr(
                "CAST((_deg * CAST(1000000 AS BIGINT)) div _freq AS BIGINT)"
            ).alias("_wscore"),
        )
    )
    phrases = (
        wp.join(wscore, "w")
        .groupBy("doc", "_grp")
        .agg(
            F.sum("_wscore").alias("score_ppm"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "w"))),
                    lambda x: x["w"],
                ),
            ).alias("phrase"),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            # identical phrases have identical word multisets, hence
            # identical scores — max is just the deterministic pick
            F.max("score_ppm").alias("score_ppm"),
            F.count("*").alias("n_occurrences"),
        )
        .orderBy(F.desc("score_ppm"), "phrase")
        .limit(top_n)
    )


def phrase_search(
    docs: DataFrame,
    phrases: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Positional phrase search: exact n-word phrase matching over the
    engine's standard tokenization (functions.tokenize) — the query
    side of a POSITIONAL inverted index, answering "which documents
    contain this exact word sequence, and how many times".

    Single-shuffle shape instead of the textbook (n-1)-way postings
    self-join: each phrase is unrolled driver-side into a tiny
    (phrase, offset, word) relation — query-sized, never data-sized —
    broadcast against the positional postings filtered to the phrase
    vocabulary (the ``word IN (...)`` filter lands right after the
    tokenizer, so the big relation collapses before any shuffle). A
    token at position p matching offset o anchors candidate start
    p - o; a start where the count of DISTINCT matched offsets equals
    the phrase length is a full match (a repeated word in the phrase
    matches several offsets of the same anchor — distinct-offsets, not
    row counts, is what makes that correct). ONE groupBy (doc, phrase,
    anchor) + ONE combiner rollup to (phrase, doc) ends it.

    Returns (phrase, doc_id, n_matches) with one row per document that
    contains the phrase at least once, ordered by phrase then doc.
    """
    spark = docs.sparkSession
    # the query phrase goes through the SAME lower/strip-punct/split
    # as the corpus tokenizer, so punctuation in a phrase matches the
    # punctuation-stripped postings instead of silently missing
    punct_tbl = str.maketrans(PUNCT, " " * len(PUNCT))
    rows = []
    for ph in phrases:
        ws = [w for w in ph.lower().translate(punct_tbl).split() if w]
        for off, w in enumerate(ws):
            rows.append((ph, off, w, len(ws)))
    terms = local_frame(
        spark, rows, "phrase string, off int, word string, plen int"
    )
    vocab = sorted({r[2] for r in rows})
    postings = docs.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(tokenize(text_col)).alias("pos", "word"),
    ).where(F.col("word").isin(vocab))
    anchored = postings.join(F.broadcast(terms), "word").select(
        "_doc",
        "phrase",
        "plen",
        (F.col("pos") - F.col("off")).alias("anchor"),
        "off",
    )
    full = (
        anchored.groupBy("_doc", "phrase", "plen", "anchor")
        .agg(F.count_distinct("off").alias("_k"))
        .where(F.col("_k") == F.col("plen"))
    )
    return (
        full.groupBy("phrase", F.col("_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .transform(ordered, "phrase", "doc_id")
    )


def textrank_keywords(
    docs: DataFrame,
    window: int = 2,
    damping_ppm: int = 850_000,
    iters: int = 8,
    top_k: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): build the
    word co-occurrence graph (an undirected edge between every pair of
    words within ``window`` positions, weighted by corpus co-occurrence
    count) and rank words with the weighted PageRank recurrence

        WS(v) = (1-d) + d * sum_{u in adj(v)} w(u,v)/wdeg(u) * WS(u)

    run for a FIXED ``iters`` power iterations in exact ppm integer
    arithmetic — every contribution is ``score * w div wdeg`` and the
    damping fold is ``(sum * d_ppm) div 1e6``, all positive, so
    truncating and flooring division agree and a SQL replay (recursive
    CTE, the _hits_oracle pattern) reproduces the scores bit-for-bit.

    Scale shape: one posexplode + a self-join bounded to ``window``
    offsets builds the edge multiset with ONE combiner groupBy; the
    graph is VOCABULARY-sized (the module's standard Python-free
    boundary — a web corpus's co-occurrence graph is ~1e6 nodes, an
    executor-trivial relation however big the corpus). Each iteration
    is one equi-join + one combiner groupBy on the vocab-sized graph —
    no normalizer broadcast needed (TextRank's recurrence is local),
    no driver action in the loop. Returns the ``top_k`` (word,
    score_ppm) rows, score desc then word.
    """
    # Window pairs straight off the token ARRAY (r12 optimization):
    # arrays_zip(arr, slice(arr, 1+o, len)) aligns each token with its
    # o-ahead neighbor (shorter slices null-pad), so one explode emits
    # exactly the O(L*window) in-window pairs. The former token-stream
    # self-join banded on (pos2 - pos <= window) was an equi-join on
    # doc_id alone — it enumerated O(L^2) candidate rows per document
    # before the band filter (guide §3: exploding join). arrays_zip and
    # slice are ordinary collection expressions (evaluated once per
    # row, never per element — the HOF-lambda trap _doc_shingles
    # documents), and the pair multiset is identical by construction
    # (verified exceptAll-empty both ways at sf0.1).
    arr = docs.select(
        F.col(id_col).alias("_doc"), tokenize(F.col(text_col)).alias("_arr")
    )
    zipped = arr.select(
        "_doc",
        F.explode(
            F.arrays_zip(
                F.col("_arr"),
                *[
                    F.slice("_arr", 1 + o, F.size("_arr"))
                    for o in range(1, window + 1)
                ],
            )
        ).alias("_t"),
    )
    # arrays_zip names non-attribute fields positionally: "1".."window"
    pairs = zipped.select(
        "_doc",
        F.col("_t").getField("_arr").alias("word"),
        F.explode(
            F.array(*[F.col("_t").getField(str(o)) for o in range(1, window + 1)])
        ).alias("word2"),
    ).where(F.col("word2").isNotNull() & (F.col("word") != F.col("word2")))
    edges = (
        pairs.select(
            F.least("word", "word2").alias("a"),
            F.greatest("word", "word2").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # undirected adjacency: both directions, then the weighted degree
    adj = edges.select("a", "b", "w").unionByName(
        edges.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "w"
        )
    )
    # Size bounds: adj is the AGGREGATED co-occurrence pair relation
    # (≤ distinct in-window word pairs — vocabulary²-bounded, in
    # practice orders below the token stream it summarizes); nodes is
    # vocabulary-sized. Both are read once per PageRank iteration, so
    # the cut removes iters× re-executions of the pair build.
    # spark.remap.lineageCut=off opts out (lineage_cut).
    adj = lineage_cut(
        adj.join(adj.groupBy("a").agg(F.sum("w").alias("wdeg")), "a")
    )
    nodes = lineage_cut(adj.select(F.col("a").alias("word")).distinct())
    state = nodes.select("word", F.lit(1_000_000).alias("score_ppm"))
    base_ppm = 1_000_000 - damping_ppm
    for it in range(iters):
        contrib = (
            adj.join(
                state.select(
                    F.col("word").alias("a"), "score_ppm"
                ),
                "a",
            )
            .select(
                F.col("b").alias("word"),
                F.expr("score_ppm * w div wdeg").alias("_c"),
            )
            .groupBy("word")
            .agg(F.sum("_c").alias("_s"))
        )
        state = nodes.join(contrib, "word", "left").select(
            "word",
            (
                F.lit(base_ppm)
                + F.expr(
                    f"coalesce(_s, 0) * {damping_ppm} div 1000000"
                )
            )
            .cast("bigint")
            .alias("score_ppm"),
        )
        # lineage cut every 4 iterations (the pregel/hits convention):
        # the state plan otherwise nests one join+agg per iteration,
        # which at a web-corpus vocabulary (~1e6 nodes) makes the
        # optimizer re-plan a deepening tree each loop
        if (it + 1) % 4 == 0 and it + 1 < iters:
            state = state.localCheckpoint(eager=False)
    return state.orderBy(F.desc("score_ppm"), "word").limit(top_k)
