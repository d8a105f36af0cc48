"""Deterministic dataset splitting and sampling for training pipelines.

The reference has no sampling/splitting surface (its closest notion is
user-directed partition routing, /root/reference/daemons/core/
module_mapper.py:48-52 — the user picks a named bucket per record).
These operators generalize that: the bucket is a *pure function of the
record key*, so the assignment is

- deterministic: re-running over 100 TB (or over a changed file layout,
  added partitions, different cluster) yields the identical split —
  unlike ``df.randomSplit``/``df.sample`` whose output depends on
  partition layout and seed-per-partition;
- portable: the md5-derived hash is bit-identical in any engine
  (the DuckDB oracle reproduces it in SQL);
- leak-free: every record with the same key lands in the same split, so
  grouped entities (all chunks of one document, all events of one user)
  never straddle train/test.

Everything is a Catalyst column expression (md5 + conv are JVM codegen)
— one narrow projection, no shuffle, no Python boundary, trivially
scales to any data size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import ordered, portable_hash32

# Buckets per unit of probability mass; 10_000 gives 0.01% granularity.
_BUCKETS = 10_000


def split_bucket(key: Column | str, salt: str = "") -> Column:
    """Stable bucket in [0, 10000) from a record key (+ optional salt to
    decorrelate independent splits of the same keys)."""
    c = F.col(key) if isinstance(key, str) else key
    return portable_hash32(F.concat(c.cast("string"), F.lit("|" + salt))) % _BUCKETS


def hash_split(
    df: DataFrame,
    key: Column | str,
    fractions: dict[str, float],
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by hashing its key.

    ``fractions`` maps split name -> probability mass (must sum to
    <= 1.0; remainder falls into the last split). Assignment walks the
    cumulative distribution over the hash bucket, e.g.
    ``{"train": 0.98, "val": 0.01, "test": 0.01}``.
    """
    total = sum(fractions.values())
    if not 0 < total <= 1.0 + 1e-9:
        raise ValueError(f"fractions must sum to (0, 1], got {total}")
    bucket = split_bucket(key, salt)
    names = list(fractions)
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += fractions[name]
        cond = bucket < int(round(cum * _BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out_col, out)


def stratified_sample(
    df: DataFrame,
    key: Column | str,
    strata: Column | str,
    fractions: dict[str, float],
    salt: str = "",
    default: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling (a reproducible ``sampleBy``).

    ``fractions`` maps a stratum value to its keep-fraction; strata not
    listed fall back to ``default``. The per-row threshold is a WHEN
    chain over the stratum column, so the whole filter stays one
    codegen'd narrow predicate — no shuffle, no RNG state, membership
    a pure function of (key, salt).

    Because every stratum reads the same hash bucket, samples are
    *nested*: raising a stratum's fraction only adds rows, never swaps
    them — rebalancing classes between pipeline runs keeps the
    previously-selected examples (stable training curricula). Pass a
    different ``salt`` to draw an independent sample instead.
    """
    c = F.col(strata) if isinstance(strata, str) else strata
    thresh: Column | None = None
    for val, frac in fractions.items():
        if not 0 <= frac <= 1:
            raise ValueError(f"fraction for {val!r} must be in [0, 1], got {frac}")
        t = int(round(frac * _BUCKETS))
        thresh = F.when(c == val, t) if thresh is None else thresh.when(c == val, t)
    d = int(round(default * _BUCKETS))
    thresh = F.lit(d) if thresh is None else thresh.otherwise(d)
    return df.where(split_bucket(key, salt) < thresh)


def deterministic_sample(
    df: DataFrame, key: Column | str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep a stable ``fraction`` of rows by key hash — a reproducible
    alternative to ``df.sample`` whose membership survives reruns,
    repartitioning, and engine changes. Filter is a narrow predicate and
    is pushed into the scan when ``key`` is a plain column."""
    if not 0 < fraction <= 1:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    return df.where(split_bucket(key, salt) < int(round(fraction * _BUCKETS)))


def weighted_sample(
    df: DataFrame,
    key: Column | str,
    weight: Column,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-row weighted sampling: keep each row with
    probability ``weight`` (a column in [0, 1], clipped). Generalizes
    deterministic_sample from a constant fraction to a per-row weight —
    the standard trick for quality-proportional corpus downsampling
    (keep high-quality docs with p≈1, low-quality with p≈0.1).

    Membership is floor(weight * buckets) compared against the key's
    hash bucket: a pure codegen predicate, no RNG, no shuffle; nested
    like the other samplers (raising a row's weight never evicts it).
    """
    w = F.least(F.greatest(weight, F.lit(0.0)), F.lit(1.0))
    return df.where(split_bucket(key, salt) < F.floor(w * _BUCKETS))


def cap_per_group(
    df: DataFrame,
    group: Column | str,
    key: Column | str,
    n: int,
    salt: str = "",
) -> DataFrame:
    """Per-group row cap — the domain/source rate limiter (the C4 /
    RefinedWeb guard against any one domain dominating the corpus):
    keep at most ``n`` rows per group, chosen deterministically as the
    n smallest key-hash buckets (key value breaks bucket ties), so the
    kept set is a pure function of (key, salt) — stable across reruns
    and layout changes, and nested with the samplers above.

    Shape: one shuffle keyed by the group + a row_number window. A
    pathologically hot group serializes its window sort into one task;
    because the selection is "n smallest hash values in the group",
    the two-phase refinement at 100 TB is a per-input-partition local
    top-n (bounds shuffle input to n rows per partition per group)
    before this exact window — same result, skew-proof.
    """
    from pyspark.sql.window import Window

    if n < 1:
        raise ValueError(f"cap must be >= 1, got {n}")
    g = F.col(group) if isinstance(group, str) else group
    k = F.col(key) if isinstance(key, str) else key
    w = Window.partitionBy(g).orderBy(split_bucket(key, salt), k)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n)
        .drop("_rn")
    )


def temperature_weights(
    df: DataFrame,
    group_col: Column | str = "source",
    size_col: Column | str = "n_chars",
    alpha: float = 0.7,
) -> DataFrame:
    """Temperature-scaled mixture weights over corpus groups — the
    multilingual/multi-source rebalancing rule (sampling share ∝
    mass^alpha, alpha<1 upweights small groups). Returns per group:
    raw mass, natural share, and the temperature-scaled sampling
    weight (all shares sum to 1).

    Shape: one tiny aggregate keyed by the group, then two single-row
    broadcast crossJoins for the normalizing constants — never a
    driver action, and the group relation is #groups-sized regardless
    of corpus size."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    s = F.col(size_col) if isinstance(size_col, str) else size_col
    # one lazy cut makes the docstring's "one tiny aggregate" claim
    # physically true: sizes feeds tot, scaled, and (through scaled)
    # wsum + the final projection — without it Catalyst re-planned the
    # corpus aggregate under each consumer (4 corpus scans in the r12
    # plan audit); the materialized relation is #groups-sized
    sizes = (
        df.groupBy(g.alias("grp"))
        .agg(F.sum(s).alias("mass"))
        .localCheckpoint(eager=False)
    )
    tot = sizes.agg(F.sum("mass").alias("_tot"))
    scaled = sizes.crossJoin(F.broadcast(tot)).withColumn(
        "_w", F.pow(F.col("mass").cast("double") / F.col("_tot"), F.lit(alpha))
    )
    wsum = scaled.agg(F.sum("_w").alias("_wsum"))
    return (
        scaled.crossJoin(F.broadcast(wsum))
        .select(
            "grp",
            "mass",
            F.round(F.col("mass").cast("double") / F.col("_tot"), 5).alias("share"),
            F.round(F.col("_w") / F.col("_wsum"), 5).alias("weight"),
        )
        .transform(ordered, "grp")
    )


def token_budget_recipe(
    per_doc: DataFrame,
    budget_tokens: int,
    weights: dict[str, int],
    max_epochs_bp: int = 40_000,
    source_col: str = "source",
    tokens_col: str = "n_tokens",
    default_weight: int = 1,
) -> DataFrame:
    """Data-mixture recipe: given per-document token counts and
    relative source weights, compute how many EPOCHS of each source a
    training run should take to hit ``budget_tokens`` total — the
    planning step behind weighted corpus mixtures (web-heavy with
    boosted books/wiki, capped repetition a la Muennighoff et al.'s
    data-constrained scaling: repeating a source beyond ~4 epochs
    stops helping, hence ``max_epochs_bp``).

    All arithmetic is integer (epochs in basis points, 10000 = 1.0x):
    target_s = budget * w_s div W; epochs_bp = min(cap,
    target_s * 10000 div T_s); planned_s = T_s * epochs_bp div 10000.
    Returns per source (source, n_docs, n_tokens, weight,
    target_tokens, epochs_bp, planned_tokens), ordered by source.

    Shape: ONE combiner-style aggregate over the corpus (per-source
    totals — the only corpus-sized pass), then pure expression work on
    the |sources|-row relation; the weight total rides on a window
    over that tiny relation, so there is no driver action and no
    second scan. The weight map is a literal CASE chain (sources are
    a small closed set; an external weight TABLE would broadcast-join
    the same way)."""
    from pyspark.sql.window import Window

    w_expr = None
    for name, wt in weights.items():
        cond = F.col(source_col) == name
        w_expr = (
            F.when(cond, wt) if w_expr is None else w_expr.when(cond, wt)
        )
    w_expr = (
        F.lit(default_weight)
        if w_expr is None
        else w_expr.otherwise(default_weight)
    )
    per_source = per_doc.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(tokens_col).cast("bigint").alias("n_tokens"),
    )
    sized = per_source.withColumn("weight", w_expr.cast("bigint")).withColumn(
        "_wtot", F.sum("weight").over(Window.partitionBy())
    )
    target = F.expr(f"CAST({budget_tokens} AS BIGINT) * weight div _wtot")
    out = sized.withColumn("target_tokens", target).withColumn(
        "epochs_bp",
        F.least(
            F.lit(max_epochs_bp).cast("bigint"),
            F.expr("target_tokens * 10000 div n_tokens"),
        ),
    )
    return out.select(
        source_col,
        "n_docs",
        "n_tokens",
        "weight",
        "target_tokens",
        "epochs_bp",
        F.expr("n_tokens * epochs_bp div 10000").alias("planned_tokens"),
    ).transform(ordered, source_col)


def weighted_sample_wor(
    df: DataFrame,
    key: Column | str,
    weight: Column | str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES): each row draws u in (0,1] as a pure
    function of its key hash and keeps score ln(u)/w; the k SMALLEST
    |ln(u)|/w — equivalently largest u^(1/w) — form an exact weighted
    WOR sample. Replaces reservoir sampling's run-order dependence
    with a re-runnable, engine-portable draw (same hash idiom as
    hash_split): re-running over re-partitioned, re-ordered, or
    incrementally grown data reproduces the identical sample for the
    surviving keys.

    The top-k is a TakeOrdered — no full sort. Zero/negative weights
    are excluded outright (their A-ES score is undefined).

    Returns the sampled rows plus ``_es_score`` (ascending = keep
    priority) for auditability."""
    kc = F.col(key) if isinstance(key, str) else key
    wc = F.col(weight) if isinstance(weight, str) else weight
    # u in (0, 1]: (h + 1) / 2^32 over the portable 32-bit hash
    u = (
        portable_hash32(F.concat(kc.cast("string"), F.lit("|" + salt)))
        + F.lit(1)
    ) / F.lit(4294967296.0)
    score = -F.log(u) / wc
    out = df.where(wc > 0).withColumn("_es_score", score)
    return out.orderBy("_es_score").limit(k)


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    salt: str = "",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, Data Selection
    via Importance Resampling): score each raw document by how much
    more likely its hashed-unigram profile is under the TARGET corpus
    than under the raw corpus — log w(x) = sum over hash buckets b of
    c_b(x) * [ln p_target(b) - ln p_raw(b)], add-one smoothed over the
    ``buckets`` hashed vocabulary. High log-weight documents "look
    like" the target distribution; :func:`dsir_resample` samples
    proportionally. Returns (``id_col``, ``log_weight``); documents
    with zero tokens carry no profile and are absent (never sampled).

    Scale shape — the unigram_lm_scores pattern twice: each corpus
    pays ONE combiner-style token->bucket aggregate (shuffle bytes ~
    ``buckets`` per partition, not corpus); the bucket model is a
    bucket-domain-sized relation whose totals ride on it via a global
    window, and it joins the per-doc profile by BROADCAST, so scoring
    is map-side over the doc-keyed layout. The hashed profile is what
    makes this 100 TB-able: model size is fixed at ``buckets`` rows
    regardless of vocabulary."""
    from ..functions import portable_hash32, tokenize

    def bucketed(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("_id"),
            F.explode(tokenize(F.col(text_col))).alias("_w"),
        ).select(
            "_id",
            (
                portable_hash32(F.concat(F.col("_w"), F.lit("|dsir|" + salt)))
                % buckets
            ).alias("_b"),
        )

    from pyspark.sql.window import Window

    # one doc-keyed exchange serves BOTH per-doc aggregates: hash
    # partitioning on _id satisfies the (_id, _b) clustering too, so
    # the profile groupBy and the final scoring groupBy run
    # shuffle-free on this layout and tokens themselves never shuffle
    # (the unigram_lm_scores plan shape)
    n_part = int(raw.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    raw_prof = (
        bucketed(raw.repartition(n_part, F.col(id_col)))
        .groupBy("_id", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    raw_cnt = raw_prof.groupBy("_b").agg(F.sum("_c").alias("_rc"))
    tgt_cnt = bucketed(target).groupBy("_b").agg(
        F.count(F.lit(1)).alias("_tc")
    )
    # full domain union so buckets seen in only one corpus still get a
    # smoothed ratio; totals ride on the (bucket-sized) model relation
    model = (
        raw_cnt.join(tgt_cnt, "_b", "full")
        .select(
            "_b",
            F.coalesce("_rc", F.lit(0)).alias("_rc"),
            F.coalesce("_tc", F.lit(0)).alias("_tc"),
        )
        .withColumn("_rt", F.sum("_rc").over(Window.partitionBy()))
        .withColumn("_tt", F.sum("_tc").over(Window.partitionBy()))
        .withColumn(
            "_lr",
            F.log(
                (F.col("_tc") + 1).cast("double")
                / (F.col("_tt") + buckets).cast("double")
            )
            - F.log(
                (F.col("_rc") + 1).cast("double")
                / (F.col("_rt") + buckets).cast("double")
            ),
        )
        .select("_b", "_lr")
    )
    return (
        raw_prof.join(F.broadcast(model), "_b")
        .groupBy("_id")
        .agg(F.sum(F.col("_c") * F.col("_lr")).alias("log_weight"))
        .select(F.col("_id").alias(id_col), "log_weight")
    )


def dsir_resample(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 100,
    buckets: int = 1024,
    salt: str = "",
) -> DataFrame:
    """Deterministic DSIR selection: top-``k`` documents by Gumbel-
    perturbed log-weight — sel_key = log w(x) + Gumbel(hash(x)), the
    log-space equivalent of sampling WITHOUT replacement proportional
    to w(x) (Gumbel top-k trick; the A-ES sibling of
    weighted_sample_wor for weights that live in log space and would
    over/underflow exp). The Gumbel draw is a pure function of the
    document key, so the sample is re-runnable and engine-portable;
    sel_key is rounded to 6 decimals BEFORE the top-k cut with the id
    as tie-break, so a last-ulp ln() difference between engines cannot
    flip the selected set. Returns the k selected (``id_col``,
    ``log_weight``, ``sel_key``).

    Shape: the weight plan (see dsir_log_weights) plus one global
    TakeOrdered — no sort of the full corpus."""
    lw = dsir_log_weights(raw, target, text_col, id_col, buckets, salt)
    u = (
        portable_hash32(
            F.concat(F.col(id_col).cast("string"), F.lit("|dsirg|" + salt))
        )
        + F.lit(1)
    ) / F.lit(4294967296.0)
    gumbel = -F.log(-F.log(u))
    return (
        lw.withColumn(
            "sel_key", F.round(F.col("log_weight") + gumbel, 6)
        )
        .orderBy(F.desc("sel_key"), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            F.round("log_weight", 5).alias("log_weight"),
            "sel_key",
        )
    )


def shuffle_for_training(
    df: DataFrame,
    key: Column | str,
    n_shards: int,
    seed: str = "",
    shard_col: str = "shard",
    order_col: str = "shard_order",
) -> DataFrame:
    """Deterministic corpus shuffle for training-data export: every
    row gets a pseudo-random but REPRODUCIBLE (shard, within-shard
    order) position derived by hashing its key with the seed. Reading
    shard 0..n-1, each sorted by ``order_col``, yields a permutation
    that is (a) statistically shuffled — hash order is uncorrelated
    with source order, the property sequence packers and curriculum
    samplers need — and (b) identical on every run and engine, so a
    resumed or re-run export job produces byte-identical shards (the
    same contract the deterministic samplers make; a changed ``seed``
    gives an independent permutation).

    Pure projection — ZERO shuffle at assignment time; the one
    exchange happens where it belongs, in the writer:
    ``out.repartition(n_shards, shard_col)
    .sortWithinPartitions(order_col).write.partitionBy(shard_col)``.
    Ties on the 32-bit order hash are broken by the key value at the
    writer sort, keeping even hash-colliding rows deterministically
    placed.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    c = F.col(key) if isinstance(key, str) else key
    h = portable_hash32(F.concat(c.cast("string"), F.lit("|shuf|" + seed)))
    return df.withColumn(shard_col, (h % n_shards).cast("int")).withColumn(
        order_col, h
    )
