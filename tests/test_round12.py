"""Round-12 pins: the r11 ADVICE fixes in operators/similarity.py,
plus the int64 tier of timeseries.rolling_zscore_anomalies.

1. semdedup's int64 GEMM pair tier RAISES on overflow risk instead of
   silently wrapping (numpy int64 wraps where Spark ANSI bigint raises
   — the bit-identity contract requires checking the bound, not
   documenting it).
2. The same tier RAISES on a cluster whose dense n^2 dot matrix would
   OOM one executor instead of building it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from remap_spark.operators import similarity as sim


def _embed_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


# ---------------------------------------------------------------------------
# 1-2. semdedup gemm pair tier guards


def test_check_int64_gemm_bound_arithmetic():
    # unit-ish vectors at the default scale pass with huge margin
    sim._check_int64_gemm_bound(2_000_000, 2_000_000, 64, "t")
    # components big enough to wrap the distance combination raise
    with pytest.raises(ValueError, match="int64 GEMM overflow"):
        sim._check_int64_gemm_bound(2**31, 2**31, 64, "t")
    # the check itself is Python-int exact: just under the bound passes
    import math

    m = math.isqrt(2**62 // 2) // 2 - 1
    sim._check_int64_gemm_bound(m, m, 2, "t")
    with pytest.raises(ValueError, match="int64 GEMM overflow"):
        sim._check_int64_gemm_bound(m * 2, m * 2, 2, "t")


def test_semdedup_gemm_raises_on_overflow_risk(spark):
    # scale=10**9 quantizes unit-ish components to ~1e9; at dim=2 the
    # bound dim*(a+b)^2 ~ 2*(4e18) exceeds 2^62 — the expression tier
    # would compute this exactly in decimal, so the gemm pair tier must
    # refuse rather than silently wrap.
    df = _embed_df(
        spark, [(i, [1.0, float(i % 3) - 1.0]) for i in range(12)]
    )
    with pytest.raises(Exception, match="int64 GEMM overflow"):
        sim.semdedup(
            df, k=2, iters=1, scale=10**9, pair_mode="gemm"
        ).collect()


def test_semdedup_gemm_cluster_cap_raises(spark):
    prunable = spark.createDataFrame(
        [(0, i, [i, 1], 4) for i in range(6)],
        "cluster bigint, _id bigint, _q array<bigint>, _n2 bigint",
    )
    capped = sim._semdedup_prune_gemm(
        prunable, tau_mil=950, max_gemm_cluster_rows=3
    )
    with pytest.raises(Exception, match="max_gemm_cluster_rows"):
        capped.collect()
    # under the cap the same relation prunes fine
    ok = sim._semdedup_prune_gemm(
        prunable, tau_mil=950, max_gemm_cluster_rows=10
    )
    assert ok.count() >= 0


# ---------------------------------------------------------------------------
# rolling_zscore_anomalies int64 tier (value_bound promise)


def test_rolling_zscore_int64_tier_matches_decimal(spark):
    import random

    from remap_spark.operators.timeseries import rolling_zscore_anomalies

    rng = random.Random(7)
    rows = []
    for g in range(4):
        for t in range(120):
            v = None if rng.random() < 0.05 else rng.randint(-10_000, 10_000)
            rows.append((f"g{g}", t, v))
    df = spark.createDataFrame(rows, "g string, t int, x long")
    dec = rolling_zscore_anomalies(
        df, ["g"], "t", "x", n=10, min_periods=3
    )
    i64 = rolling_zscore_anomalies(
        df, ["g"], "t", "x", n=10, min_periods=3, value_bound=10_000
    )
    assert dec.schema == i64.schema
    key = lambda r: (r.g, r.t)
    a = sorted(dec.collect(), key=key)
    b = sorted(i64.collect(), key=key)
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_rolling_zscore_int64_tier_raises_on_broken_promise(spark):
    from pyspark.errors import PySparkRuntimeError
    from py4j.protocol import Py4JJavaError

    from remap_spark.operators.timeseries import rolling_zscore_anomalies

    df = spark.createDataFrame(
        [("g", 0, 10), ("g", 1, 10_001)], "g string, t int, x long"
    )
    out = rolling_zscore_anomalies(
        df, ["g"], "t", "x", n=5, min_periods=1, value_bound=10_000
    )
    with pytest.raises((PySparkRuntimeError, Py4JJavaError, Exception)) as ei:
        out.collect()
    assert "value_bound" in str(ei.value)


def test_rolling_zscore_int64_tier_static_bound_check(spark):
    from remap_spark.operators.timeseries import rolling_zscore_anomalies

    df = spark.createDataFrame([("g", 0, 1)], "g string, t int, x long")
    # 2*k_num^2*n^2*b^2 = 18 * 900 * 1e30 >> 2^63: must raise at plan
    # time, before any job runs
    with pytest.raises(ValueError, match="2\\^63"):
        rolling_zscore_anomalies(df, ["g"], "t", "x", value_bound=10**15)
