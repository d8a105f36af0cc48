"""Record linkage / entity resolution: blocked fuzzy matching on a
string key, then transitive closure into canonical entities.

No reference analog (the reference's joins are exact-key only —
``remap`` reducers join on emitted keys, never on string distance);
this is the standard MDM/customer-360 dedup pipeline expressed
Spark-first:

1. **Blocking** — candidate pairs are generated ONLY within a
   caller-supplied blocking key (e.g. first letter + length bucket,
   soundex, zip code). This is what makes fuzzy matching tractable at
   scale: the self-join is co-partitioned on the block key and its
   output is sum(b_k^2) over block sizes, not n^2 over the corpus.
   ``max_block_size`` drops degenerate blocks (the empty-string /
   "UNKNOWN" pathology) BEFORE the join, bounding the worst key.
2. **Edge predicate** — thresholded ``F.levenshtein(a, b,
   max_distance)`` (JVM codegen, no Python): the banded DP touches
   only the 2*d+1 diagonal and abandons early, O(d*len) per pair
   instead of O(len^2). Cap field length upstream if records are long
   (names/addresses are fine; don't feed documents here — that is
   what the MinHash tier in ``operators/dedup`` is for).
3. **Closure** — matched pairs feed the O(log n) alternating-star
   connected components (``operators/pregel.connected_components_star``),
   so transitive chains (A~B~C with A!~C) still land in one entity,
   with the component min id as the canonical entity id. Records whose
   block produced no match resolve to themselves.

DuckDB replays step 1-2 with its own ``levenshtein`` and the closure
with a recursive-CTE min-label propagation (tests/test_round6b.py),
so the whole pipeline is oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import ordered


def blocked_match_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: Column | str,
    max_distance: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b, distance) whose ``text_col``
    values are within ``max_distance`` Levenshtein edits, generated
    only within equal ``block_col`` values. NULL blocks and NULL texts
    never match. ``max_block_size`` (if set) drops whole blocks larger
    than the cap before the join.
    """
    bc = F.col(block_col) if isinstance(block_col, str) else block_col
    recs = (
        df.select(
            F.col(id_col).alias("_id"),
            F.col(text_col).alias("_txt"),
            bc.alias("_blk"),
        )
        .where(F.col("_blk").isNotNull() & F.col("_txt").isNotNull())
    )
    if max_block_size is not None:
        sizes = recs.groupBy("_blk").agg(F.count(F.lit(1)).alias("_bs"))
        recs = (
            recs.join(sizes, "_blk")
            .where(F.col("_bs") <= max_block_size)
            .drop("_bs")
        )
    a = recs.select(
        F.col("_blk"),
        F.col("_id").alias("id_a"),
        F.col("_txt").alias("_txt_a"),
    )
    b = recs.select(
        F.col("_blk"),
        F.col("_id").alias("id_b"),
        F.col("_txt").alias("_txt_b"),
    )
    # Thresholded levenshtein (Spark 3.5+): banded DP computes only the
    # 2*d+1 diagonal band and abandons early, O(d*n) per pair instead of
    # O(n^2); returns -1 past the threshold, the exact distance inside
    # it — so the post-filter pair set and distance values are identical
    # to the unbounded form the DuckDB oracle replays.
    # An explicit length prefilter (abs(length diff) <= max_distance,
    # lossless since lev >= |len diff|) was added in r9 and REMOVED
    # after measurement: the three-arg levenshtein already performs
    # that exact O(1) length reject internally before touching the DP,
    # so the predicate only duplicated work — a wash on fixed-width
    # TPC-H and a consistent ~10 % loss on varied-length corpora
    # (interleaved A/B in SCALE.md r9; equivalence corpus retained in
    # tests/test_round9.py).
    return (
        a.join(b, "_blk")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "distance", F.levenshtein("_txt_a", "_txt_b", max_distance)
        )
        .where(F.col("distance") >= 0)
        .select("id_a", "id_b", "distance")
    )


def resolve_entities(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: Column | str,
    max_distance: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """Canonical entity assignment: every record of ``df`` gains an
    ``entity_id`` = the minimum ``id_col`` of its fuzzy-match
    component (transitive closure over :func:`blocked_match_pairs`).
    Unmatched records (including NULL-text/NULL-block ones) are their
    own entity.

    Scale shape: the pair relation is match-sized (tiny vs corpus);
    components run on it in O(log n) star rounds; the final left join
    maps the corpus through the component relation, which AQE
    broadcasts whenever the match set is small — the common case.
    """
    from .pregel import connected_components_star

    pairs = blocked_match_pairs(
        df, id_col, text_col, block_col,
        max_distance=max_distance, max_block_size=max_block_size,
    )
    # pre_collapse: same contraction win as resolve_entities_multi (the
    # single-key pair graph has the same dense-component structure, just
    # lower recall); bit-identical labels, measured note in SCALE.md.
    comp = connected_components_star(
        pairs, src="id_a", dst="id_b", pre_collapse=True
    ).select(
        F.col("id").alias(id_col), F.col("component").alias("_ent")
    )
    return (
        df.join(comp, id_col, "left")
        .withColumn("entity_id", F.coalesce(F.col("_ent"), F.col(id_col)))
        .drop("_ent")
    )


def blocked_match_pairs_multi(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[Column | str],
    max_distance: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """Multi-key blocking (production MDM hardening): candidate pairs
    from the UNION of several blocking keys — e.g. name prefix +
    soundex + (length-bucket, suffix) — so a typo in the character(s)
    one key hashes on is caught by another key. A single prefix block
    misses 'Xustomer#001' ~ 'Customer#001' (first-char typo changes
    the block); a suffix or soundex key still collides them.

    Shape: the records relation is exploded once per key with a key
    INDEX column, so all keys share ONE self-join co-partitioned on
    (key_idx, block_value) — the exchange carries |keys| x corpus
    rows (small constant), never corpus². ``max_block_size`` applies
    PER (key, block) group before the join — one oversized soundex
    bucket ('UNKNOWN' pathology) is dropped for that key only while
    its members remain matchable under their other keys. Duplicate
    pairs found under several keys collapse via groupBy (id_a, id_b)
    AFTER the distance filter — the dedup exchange then carries only
    match-sized rows (see the measured ordering note below) — keeping
    the closure input pair-distinct.
    """
    recs = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_txt"),
        *[
            (F.col(c) if isinstance(c, str) else c).alias(f"_k{i}")
            for i, c in enumerate(block_cols)
        ],
    ).where(F.col("_txt").isNotNull())
    keyed = recs.select(
        "_id",
        "_txt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("kidx"),
                        F.col(f"_k{i}").cast("string").alias("blk"),
                    )
                    for i in range(len(block_cols))
                ]
            )
        ).alias("_kb"),
    ).select(
        "_id", "_txt", F.col("_kb.kidx").alias("_kidx"),
        F.col("_kb.blk").alias("_blk"),
    ).where(F.col("_blk").isNotNull())
    if max_block_size is not None:
        sizes = keyed.groupBy("_kidx", "_blk").agg(
            F.count(F.lit(1)).alias("_bs")
        )
        keyed = (
            keyed.join(sizes, ["_kidx", "_blk"])
            .where(F.col("_bs") <= max_block_size)
            .drop("_bs")
        )
    a = keyed.select(
        "_kidx", "_blk",
        F.col("_id").alias("id_a"), F.col("_txt").alias("_txt_a"),
    )
    b = keyed.select(
        "_kidx", "_blk",
        F.col("_id").alias("id_b"), F.col("_txt").alias("_txt_b"),
    )
    # Order matters here and was MEASURED both ways at sf0.1:
    # lev-then-dedup (this shape) computes levenshtein once per
    # (key, candidate) — up to |keys| x per true pair — but the
    # groupBy exchange then carries only the ~742k POST-FILTER
    # matches. Dedup-then-lev halves the lev work but shuffles the
    # ~15M-row PRE-FILTER candidate relation (with both text columns)
    # through the distinct: 19.2 s vs 14.2 s fresh. Codegen
    # levenshtein on short keys is cheaper than exchanging wide rows.
    # Thresholded levenshtein: banded O(d*n) DP with early abandon (see
    # blocked_match_pairs) — the candidate relation here is ~20x the
    # true-pair count, so the per-candidate lev cost is the pair stage's
    # dominant term and the band cut applies to every candidate. No
    # explicit length prefilter: the three-arg form performs that O(1)
    # reject internally (measured note in blocked_match_pairs).
    return (
        a.join(b, ["_kidx", "_blk"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "distance", F.levenshtein("_txt_a", "_txt_b", max_distance)
        )
        .where(F.col("distance") >= 0)
        .groupBy("id_a", "id_b")
        .agg(F.min("distance").alias("distance"))
    )


def resolve_entities_multi(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[Column | str],
    max_distance: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """:func:`resolve_entities` over the multi-key candidate union —
    same closure and output contract, higher recall on records whose
    typo falls in the characters a single blocking key depends on."""
    from .pregel import connected_components_star

    pairs = blocked_match_pairs_multi(
        df, id_col, text_col, block_cols,
        max_distance=max_distance, max_block_size=max_block_size,
    )
    # pre_collapse: one direct-neighbor-min contraction before the star
    # fixpoint. MEASURED at sf0.1 (SCALE.md r8 note): closure alone
    # 7.4 s -> 3.8 s cold / 4.3 s -> 3.0 s warm (the 742.5k-pair graph
    # is 150 dense components of exactly 100 customers — TPC-H name
    # structure — and each contracts to a handful of vertices in the
    # one pass); whole-query fresh min-of-3 moves 11.5 s -> 10.7 s
    # because the PAIR stage (8.9 s: 742.5k true lev<=2 pairs) is the
    # floor, not the closure.
    comp = connected_components_star(
        pairs, src="id_a", dst="id_b", pre_collapse=True
    ).select(
        F.col("id").alias(id_col), F.col("component").alias("_ent")
    )
    return (
        df.join(comp, id_col, "left")
        .withColumn("entity_id", F.coalesce(F.col("_ent"), F.col(id_col)))
        .drop("_ent")
    )


def with_group_value_count(
    df: DataFrame, cluster_col: str, col: str, out: str = "_freq"
) -> DataFrame:
    """Attach the within-cluster frequency of each row's ``col`` value
    — the priority column for a MODAL survivorship rule (pass ``out``
    as the rule priority in ``golden_records``). One (cluster, value)-
    keyed window; its exchange is the price of the mode rule."""
    from pyspark.sql import Window

    w = Window.partitionBy(cluster_col, col)
    return df.withColumn(out, F.count(F.lit(1)).over(w))


def golden_records(
    df: DataFrame,
    cluster_col: str,
    id_col: str,
    fields: dict[str, tuple[str, Column]],
) -> DataFrame:
    """Survivorship merge — the "golden record" step after entity
    resolution: each output FIELD is taken from the cluster member
    that wins that field's priority rule, so different fields of one
    golden record may come from different source rows (unlike
    ``dedup_canonical``, which keeps one whole row per cluster).

    ``fields`` maps output column -> (source column, priority Column);
    per field the winning row is rank 1 under (priority DESC, id ASC)
    — the id tiebreak makes every rule deterministic. Classic rules
    compose as priorities: longest-string = F.length(col), most-
    trusted-source = the trust score column, latest = the timestamp,
    modal = the ``with_group_value_count`` frequency column.

    Scale shape: every per-field rank is a row_number over the SAME
    cluster-keyed partition (one exchange, one WindowExec group with
    one sort per distinct priority), and the final fold is a combiner
    groupBy on the cluster key the windows already partitioned by —
    AQE plans it exchange-free. No join, no Python. Returns
    (cluster, n_members, <fields...>) ordered by cluster.
    """
    from pyspark.sql import Window

    staged = df
    aggs = [F.count(F.lit(1)).alias("n_members")]
    for i, (out, (src, prio)) in enumerate(fields.items()):
        w = Window.partitionBy(cluster_col).orderBy(
            prio.desc(), F.col(id_col).asc()
        )
        rk = f"_rk{i}"
        staged = staged.withColumn(rk, F.row_number().over(w))
        aggs.append(
            F.max(
                F.when(F.col(rk) == 1, F.col(src))
            ).alias(out)
        )
    return (
        staged.groupBy(F.col(cluster_col).alias("cluster"))
        .agg(*aggs)
        .transform(ordered, "cluster")
    )
