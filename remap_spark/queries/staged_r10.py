"""Round-10 driver registration (PROMOTED in r10).

Staged across round 9 under the same contract as staged_r7/r8/r9 — a
deterministic ``(spark, sf_dir) -> DataFrame`` wrapper plus the exact
DuckDB oracle, replayed at both test scale factors by
``tests/test_staged_r10.py`` and plan-swept for unbounded joins — and
registered by ``queries/__init__.register_extensions``; it took the
r10 driver window's one promotion slot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..engine import load_table

_K = 8


def ext_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity risk profile
    (operators/expectations.k_anonymity_report) of the customer table
    under the (nation, market-segment) quasi-identifier pair with
    account balance as the sensitive attribute: every equivalence
    class with its size, its distinct-sensitive-value count, and the
    at-risk flag for classes smaller than k=8."""
    from ..operators.expectations import k_anonymity_report

    cust = load_table(spark, sf_dir, "customer")
    return k_anonymity_report(
        cust,
        ["c_nationkey", "c_mktsegment"],
        k=_K,
        sensitive_col="c_acctbal",
    )


_K_ANONYMITY_SQL = f"""
    SELECT c_nationkey, c_mktsegment,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT c_acctbal) AS n_sensitive,
           COUNT(*) < {_K} AS at_risk
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    ORDER BY c_nationkey, c_mktsegment
"""


STAGED_R10_QUERIES = {
    "ext_k_anonymity": ext_k_anonymity,
}

STAGED_R10_ORACLES = {
    "ext_k_anonymity": _K_ANONYMITY_SQL,
}
