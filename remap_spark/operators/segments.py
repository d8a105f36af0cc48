"""Customer-value segmentation: RFM (recency / frequency / monetary)
quintile scoring over an order-fact relation.

No reference analog (the reference's examples stop at grouped sums);
this is the classic CRM segmentation expressed Spark-first.

Definition: per customer, recency = days from their last order to the
reference date (default: the newest order date in the input),
frequency = order count, monetary = amount sum (integral units —
cents). Each metric is scored 1-5 against the GLOBAL quintile cuts
q20/q40/q60/q80 of the per-customer relation:

* frequency / monetary: ``score = 1 + #(cuts strictly below value)``
  (higher is better),
* recency: ``score = 5 - #(cuts strictly below value)`` (lower is
  better),

with cuts = exact interpolated percentiles ROUNDED TO 4 DECIMALS —
the cross-engine-proven idiom from dq33 (Spark ``percentile`` and
DuckDB ``quantile_cont`` agree bit-for-bit after the round; the gate
has a green row for that shape). Scoring compares integral metrics
against the rounded cuts, so the scores replay exactly.

Cut-based scoring (rather than NTILE) is a deliberate SCALE choice:
NTILE(5) OVER (ORDER BY metric) is a single-partition global sort of
the customer dimension; here the only corpus-sized pass is the
per-customer combiner aggregate, the two consts relations are
dimension-sized aggregates (Spark's ``percentile`` buffers per-group
values — a documented memory seam on billion-customer dimensions),
and the scoring itself is a broadcast-join projection. Equal metric
values always receive equal scores (NTILE splits ties arbitrarily across
buckets — an anti-feature for replayability).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_QS = (0.2, 0.4, 0.6, 0.8)


def _cuts(col: str) -> Column:
    qs = F.array(*[F.lit(q) for q in _QS])
    pct = F.percentile(F.col(col), qs)
    return F.transform(pct, lambda x: F.round(x.cast("double"), 4))


def _score(col: str, cuts_col: str) -> Column:
    s = F.lit(1)
    for j in range(1, 5):
        s = s + (
            F.col(col) > F.element_at(F.col(cuts_col), j)
        ).cast("int")
    return s


def rfm_segments(
    orders: DataFrame,
    customer_col: str,
    order_date_col: str,
    amount_col: str,
    ref_date: str | None = None,
) -> DataFrame:
    """Score every customer 1-5 on recency, frequency, and monetary
    value. ``amount_col`` must be integral (fixed-point cents).
    ``ref_date`` ('YYYY-MM-DD') anchors recency; default is the max
    order date observed. Returns one row per customer: (customer,
    recency_days, frequency, monetary, r_score, f_score, m_score,
    rfm) where ``rfm`` = r*100 + f*10 + m.
    """
    # the per-customer rollup feeds up to three consumers (recency
    # anchor, score cuts, final projection) — cut it so the corpus
    # aggregate runs once (4 scans in the r12 plan audit); the
    # relation is customer-sized
    per_cust = orders.groupBy(customer_col).agg(
        F.max(order_date_col).alias("_last"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(amount_col).alias("monetary"),
    ).localCheckpoint(eager=False)
    if ref_date is None:
        anchor = per_cust.agg(F.max("_last").alias("_ref"))
        per_cust = per_cust.crossJoin(F.broadcast(anchor))
    else:
        per_cust = per_cust.withColumn(
            "_ref", F.lit(ref_date).cast("date")
        )
    per_cust = per_cust.withColumn(
        "recency_days", F.datediff("_ref", "_last")
    ).drop("_last", "_ref")
    cuts = per_cust.agg(
        _cuts("recency_days").alias("_rc"),
        _cuts("frequency").alias("_fc"),
        _cuts("monetary").alias("_mc"),
    )
    return (
        per_cust.crossJoin(F.broadcast(cuts))
        .select(
            customer_col,
            "recency_days",
            "frequency",
            "monetary",
            (F.lit(6) - _score("recency_days", "_rc")).alias("r_score"),
            _score("frequency", "_fc").alias("f_score"),
            _score("monetary", "_mc").alias("m_score"),
        )
        .withColumn(
            "rfm",
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"),
        )
    )
