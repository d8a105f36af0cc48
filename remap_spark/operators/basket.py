"""Market-basket analysis: co-occurrence counting and association
rules (support / confidence / lift) over a (basket, item) relation.

No reference analog (the reference's reducers stop at grouped
aggregates — ``remap/examples`` jobs compute per-key sums, never
cross-item co-occurrence); this is the classic warehouse affinity
query expressed Spark-first over the TPC-H ``lineitem`` shape
(orderkey = basket, partkey = item).

All rule metrics are EXACT INTEGERS (parts-per-million, floored), so
any engine replays them bit-for-bit:

* ``support_ppm``  = floor(pair_count * 1e6 / n_baskets)
* ``confidence_ppm`` = floor(pair_count * 1e6 / count(antecedent))
* ``lift_ppm``     = floor(pair_count * n_baskets * 1e6
                           / (count(antecedent) * count(consequent)))

Scale shape (100 TB):

* The only corpus-sized passes are combiner-style aggregates: the
  (basket, item) distinct, the per-item count, and the basket count.
* Pair generation is a SELF-JOIN ON THE BASKET KEY — both sides hash
  to the same (basket) layout so it is a co-partitioned shuffle, and
  the output is sum(k_b choose 2) rows for basket sizes k_b: bounded
  by the basket-size cap, NOT quadratic in the corpus. Retail basket
  sizes are small constants (TPC-H: <= 7 lines/order); for heavy-tail
  basket data, ``max_basket_size`` drops outlier baskets BEFORE the
  join (one window-free semi-join on the pre-aggregated size
  relation), which is what keeps the worst key's pair blowup bounded
  at k_max^2 instead of (10^6)^2 for a crawler-bot basket.
* The rules join glues pair counts to the two item-count relations on
  the item key; the item relation is dimension-sized (|items|), so AQE
  broadcasts it under any realistic catalog size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import lineage_cut

PPM = 1_000_000


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_baskets: int = 2,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Directed association rules over every co-occurring item pair.

    Returns one row per DIRECTION (antecedent -> consequent) of each
    unordered pair with at least ``min_pair_baskets`` joint baskets:
    (antecedent, consequent, pair_baskets, antecedent_baskets,
    consequent_baskets, support_ppm, confidence_ppm, lift_ppm) — all
    metrics exact floored integers (see module docstring).

    The min-count filter runs on the PAIR relation before the
    direction explode and the item-count joins, so rare pairs never
    widen. ``lift_ppm`` > 1e6 means positive association.
    """
    # ONE distinct (basket, item) pass feeds everything below. Without
    # the cut, Catalyst plans each consumer (both self-join sides, the
    # two item-count join legs, the basket counter) as its OWN subtree:
    # the r12 sweep plan showed FIVE corpus scans + five distinct
    # aggregates for this query. A lazy localCheckpoint materializes
    # the distinct once (the materialization piggybacks on the first
    # action) and every consumer reads the RDD — at 100 TB this is the
    # difference between one corpus-sized combiner pass and five.
    # Size bound: distinct (basket, item) is the POST-distinct event
    # relation — ≤ input rows, two narrow columns (the dedup typically
    # shrinks it several-fold on real basket data; ~1.1x on the
    # fixture). Corpus-proportional: the cut trades that executor-local
    # footprint for four avoided corpus scans + distinct aggregates.
    # spark.remap.lineageCut=off opts out (lineage_cut).
    distinct_items = lineage_cut(
        df.select(basket_col, item_col).distinct()
    )
    cap_items = distinct_items
    if max_basket_size is not None:
        sizes = distinct_items.groupBy(basket_col).agg(
            F.count(F.lit(1)).alias("_bsize")
        )
        cap_items = (
            distinct_items.join(sizes, basket_col)
            .where(F.col("_bsize") <= max_basket_size)
            .drop("_bsize")
        )
    a = cap_items.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("item_a")
    )
    b = cap_items.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("item_b")
    )
    pairs = (
        a.join(b, "_b")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_baskets"))
        .where(F.col("pair_baskets") >= min_pair_baskets)
    )
    # item counts are joined once per rule direction (antecedent +
    # consequent legs): cut them too so the corpus-sized groupBy over
    # the materialized distinct runs once, not once per leg. The
    # relation itself is dimension-sized (|items| rows).
    items = lineage_cut(
        distinct_items.groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("item_baskets"))
    )
    n_baskets = (
        distinct_items.select(basket_col)
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_baskets"))
    )
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("antecedent"),
                    F.col("item_b").alias("consequent"),
                ),
                F.struct(
                    F.col("item_b").alias("antecedent"),
                    F.col("item_a").alias("consequent"),
                ),
            )
        ).alias("_d"),
        F.col("pair_baskets"),
    ).select("_d.antecedent", "_d.consequent", "pair_baskets")
    out = (
        directed.join(
            items.withColumnRenamed(item_col, "antecedent")
            .withColumnRenamed("item_baskets", "antecedent_baskets"),
            "antecedent",
        )
        .join(
            items.withColumnRenamed(item_col, "consequent")
            .withColumnRenamed("item_baskets", "consequent_baskets"),
            "consequent",
        )
        .crossJoin(F.broadcast(n_baskets))
    )
    # Integer DIV keeps every metric exact at any magnitude a double
    # would mangle (pair * 1e6 exceeds double's 2^53 integer range
    # once baskets pass ~9e9). lift is DEFINED over the already-
    # floored confidence — floor(floor(p*1e6/a) * n / c) — so the
    # intermediate never exceeds 1e6 * n_baskets and stays inside
    # int64 up to ~9e12 baskets; the oracle replays the same
    # two-step floor.
    return out.select(
        "antecedent",
        "consequent",
        "pair_baskets",
        "antecedent_baskets",
        "consequent_baskets",
        F.expr(
            f"pair_baskets * CAST({PPM} AS BIGINT) DIV n_baskets"
        ).alias("support_ppm"),
        F.expr(
            f"pair_baskets * CAST({PPM} AS BIGINT) DIV antecedent_baskets"
        ).alias("confidence_ppm"),
        F.expr(
            f"(pair_baskets * CAST({PPM} AS BIGINT) DIV antecedent_baskets)"
            " * n_baskets DIV consequent_baskets"
        ).alias("lift_ppm"),
    )
