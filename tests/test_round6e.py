"""Round-6e: snapshot CDC diff (table_changes) and the other round-6e
operators (segment overlap, PCA projection, label propagation,
winnowing, time-series and SCD helpers)."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_DIR, canon, duck_con


# ---------------------------------------------------------------------------
# table_changes
# ---------------------------------------------------------------------------


def test_table_changes_hand_computed(spark):
    from remap_spark.operators.scd import table_changes

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, None, 30), (4, "d", 40)],
        "k bigint, s string, v int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (3, "c", 30), (5, "e", 50)],
        "k bigint, s string, v int",
    )
    got = {
        r.k: (r.op, r.s, r.v, sorted(r.changed_cols))
        for r in table_changes(old, new, ["k"]).collect()
    }
    assert 1 not in got  # unchanged row dropped
    assert got[2] == ("update", "B", 20, ["s"])
    assert got[3] == ("update", "c", 30, ["s"])  # NULL -> value is a change
    assert got[4] == ("delete", "d", 40, [])  # old image carried
    assert got[5] == ("insert", "e", 50, [])
    assert len(got) == 4


def test_table_changes_match_duckdb(spark):
    """Deterministic synthetic second snapshot of orders: price bump on
    keys =0 mod 5, drop keys =3 mod 11, insert keys shifted +10M."""
    from remap_spark.engine import load_table
    from remap_spark.operators.scd import table_changes

    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    new = (
        orders.where(F.col("o_orderkey") % 11 != 3)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.where(F.col("o_orderkey") % 13 == 1).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                "o_custkey",
                "o_totalprice",
            )
        )
    )
    got = table_changes(orders, new, ["o_orderkey"])
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice
                       FROM orders),
            n AS (
              SELECT o_orderkey, o_custkey,
                     CASE WHEN o_orderkey % 5 = 0
                          THEN o_totalprice + 1 ELSE o_totalprice END
                       AS o_totalprice
              FROM o WHERE o_orderkey % 11 != 3
              UNION ALL
              SELECT o_orderkey + 10000000, o_custkey, o_totalprice
              FROM o WHERE o_orderkey % 13 = 1
            ),
            j AS (
              SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                     o.o_custkey AS oc, n.o_custkey AS nc,
                     o.o_totalprice AS op, n.o_totalprice AS np,
                     o.o_orderkey IS NOT NULL AS in_old,
                     n.o_orderkey IS NOT NULL AS in_new
              FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
            )
            SELECT o_orderkey,
                   CASE WHEN NOT in_new THEN oc ELSE nc END AS o_custkey,
                   CASE WHEN NOT in_new THEN op ELSE np END
                     AS o_totalprice,
                   CASE WHEN NOT in_old THEN 'insert'
                        WHEN NOT in_new THEN 'delete'
                        ELSE 'update' END AS op,
                   CASE WHEN in_old AND in_new
                        THEN [c FOR c IN
                              [CASE WHEN oc IS DISTINCT FROM nc
                                    THEN 'o_custkey' END,
                               CASE WHEN op IS DISTINCT FROM np
                                    THEN 'o_totalprice' END]
                              IF c IS NOT NULL]
                        ELSE [] END AS changed_cols
            FROM j
            WHERE NOT in_old OR NOT in_new
               OR oc IS DISTINCT FROM nc OR op IS DISTINCT FROM np
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()
    assert len(srows) == len(drows) > 0
    assert sorted(scols) == sorted(dcols)
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


def test_table_changes_feeds_scd2(spark):
    """Composition: the delete-free change feed applied through
    scd2_apply_batch matches applying the raw new snapshot."""
    from remap_spark.operators.scd import table_changes

    old = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k bigint, attr string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c")], "k bigint, attr string"
    )
    ch = table_changes(old, new, ["k"])
    ops = {r.k: r.op for r in ch.collect()}
    assert ops == {2: "update", 3: "insert"}


def test_table_changes_roundtrip_property(spark):
    """Applying the change feed to the old snapshot must reconstruct
    the new snapshot exactly — on a pseudo-random keyed table with
    nulls, for several seeds."""
    import random

    from remap_spark.operators.scd import table_changes

    for seed in (1, 7, 42):
        rng = random.Random(seed)
        keys = list(range(60))
        def snap():
            return {
                k: (
                    rng.choice(["a", "b", None]),
                    rng.choice([None] + list(range(5))),
                )
                for k in keys
                if rng.random() < 0.8
            }
        old_d, new_d = snap(), snap()
        old = spark.createDataFrame(
            [(k, s, v) for k, (s, v) in old_d.items()],
            "k bigint, s string, v int",
        )
        new = spark.createDataFrame(
            [(k, s, v) for k, (s, v) in new_d.items()],
            "k bigint, s string, v int",
        )
        changes = table_changes(old, new, ["k"]).collect()
        rebuilt = dict(old_d)
        for r in changes:
            if r.op == "delete":
                rebuilt.pop(r.k)
            else:
                rebuilt[r.k] = (r.s, r.v)
        assert rebuilt == new_d, (seed, sorted(set(rebuilt) ^ set(new_d)))


def test_segment_overlap_matrix_exact_below_k(spark):
    from remap_spark.operators.rollup import segment_overlap_matrix

    rows = (
        [("s1", i) for i in range(30)]
        + [("s2", i) for i in range(20, 50)]
        + [("s3", i) for i in range(45, 55)]
    )
    df = spark.createDataFrame(rows, "seg string, uid bigint")
    got = {
        (r.segment_a, r.segment_b): (
            r.est_union, r.est_intersect, r.jaccard_ppm
        )
        for r in segment_overlap_matrix(df, "seg", "uid", k=64).collect()
    }
    assert got[("s1", "s2")] == (50, 10, 200_000)
    assert got[("s1", "s3")] == (40, 0, 0)
    assert got[("s2", "s3")] == (35, 5, 142_857)
    assert len(got) == 3


def test_segment_overlap_matrix_matches_pairwise_setops(spark):
    """Cross-operator invariant: every matrix row equals kmv_set_ops
    run on that pair alone (same k) — the matrix is just the batched
    form of the pairwise estimator."""
    from remap_spark.engine import load_table
    from remap_spark.operators.rollup import kmv_set_ops, segment_overlap_matrix

    ev = load_table(spark, SF_DIR, "events").select(
        "event_type", "user_id"
    )
    k = 64
    matrix = {
        (r.segment_a, r.segment_b): (
            r.n_a, r.n_b, r.est_distinct_a, r.est_distinct_b,
            r.est_union, r.jaccard_ppm, r.est_intersect,
        )
        for r in segment_overlap_matrix(
            ev, "event_type", "user_id", k=k
        ).collect()
    }
    assert len(matrix) == 10  # C(5,2) event types
    for (a, b) in [("click", "purchase"), ("error", "view")]:
        pair = kmv_set_ops(
            ev.where(F.col("event_type") == a).select("user_id"),
            ev.where(F.col("event_type") == b).select("user_id"),
            "user_id",
            k=k,
        ).collect()[0]
        assert matrix[(a, b)] == (
            pair.n_a, pair.n_b, pair.est_distinct_a, pair.est_distinct_b,
            pair.est_union, pair.jaccard_ppm, pair.est_intersect,
        ), (a, b)


# ---------------------------------------------------------------------------
# PCA
# ---------------------------------------------------------------------------


def test_pca_matches_numpy_reference(spark):
    """The in-engine projection onto numpy's top-3 principal components
    must match the numpy projection of the same data."""
    import numpy as np

    from remap_spark.engine import load_table
    from remap_spark.operators.ml import pca_project

    emb = load_table(spark, SF_DIR, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    mu = x.mean(axis=0)
    evals, evecs = np.linalg.eigh(np.cov(x, rowvar=False, bias=True))
    w = evecs[:, np.argsort(evals)[::-1][:3]].T

    proj = pca_project(emb, mu.tolist(), w.tolist()).select("vec_id", "pca")
    got = {r.vec_id: np.array(r.pca) for r in proj.collect()}
    want = (x - mu) @ w.T
    for r, row in zip(rows, want):
        assert np.allclose(got[r.vec_id], row, atol=1e-9)


def test_pca_project_zero_python_zero_shuffle(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.ml import pca_project
    from remap_spark.plans import plan_report

    emb = load_table(spark, SF_DIR, "embeddings")
    mean = [0.0] * 16
    comps = [[1.0 if i == j else 0.0 for i in range(16)] for j in range(2)]
    r = plan_report(pca_project(emb, mean, comps))
    assert r["exchanges"] == 0, r["plan"]
    assert "MapInPandas" not in r["plan"] and "BatchEvalPython" not in r["plan"]


# ---------------------------------------------------------------------------
# label propagation + modularity
# ---------------------------------------------------------------------------


def test_label_propagation_two_triangles(spark):
    """Two triangles bridged by one edge resolve into two communities
    under the deterministic (count DESC, label ASC) tie-break."""
    from remap_spark.operators.pregel import label_propagation

    edges = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r.vertex_id: r.label
        for r in label_propagation(df, rounds=4).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}


def _py_lpa(edges, rounds):
    """Independent synchronous reference with the same tie-break."""
    from collections import Counter, defaultdict

    adj = defaultdict(set)
    for s, d in edges:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    lbl = {v: v for v in adj}
    for _ in range(rounds):
        new = {}
        for v in adj:
            counts = Counter(lbl[u] for u in adj[v])
            best = min(counts, key=lambda x: (-counts[x], x))
            new[v] = best
        lbl = new
    return lbl


def test_label_propagation_matches_sync_reference(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.pregel import label_propagation

    li = load_table(spark, SF_DIR, "lineitem")
    g = li.select(
        (F.col("l_orderkey") % 400).alias("src"),
        (F.col("l_partkey") % 400).alias("dst"),
    )
    got = {
        r.vertex_id: r.label
        for r in label_propagation(g, rounds=3).collect()
    }
    edges = [(r.src, r.dst) for r in g.collect()]
    want = _py_lpa(edges, 3)
    assert got == want
    assert len(set(got.values())) > 1  # non-vacuous split


def test_modularity_hand_computed(spark):
    from remap_spark.operators.pregel import graph_modularity

    edges = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 3), (5, 3), (6, 3)],
        "vertex_id bigint, label bigint",
    )
    r = graph_modularity(df, labels).collect()[0]
    # m=7; both communities: e_c=3, deg_c=7 -> Q = 70/196
    assert (r.m_edges, r.n_communities, r.q_ppm) == (7, 2, 357_142)
    # single community: Q = (4*7*7 - 196)/196 = 0
    one = spark.createDataFrame(
        [(v, 0) for v in range(1, 7)], "vertex_id bigint, label bigint"
    )
    assert graph_modularity(df, one).collect()[0].q_ppm == 0


def test_modularity_lpa_beats_random_and_matches_duckdb(spark):
    """LPA communities must score higher modularity than a hash-random
    assignment, and the readout replays in DuckDB."""
    from remap_spark.engine import load_table
    from remap_spark.operators.pregel import graph_modularity, label_propagation

    li = load_table(spark, SF_DIR, "lineitem")
    g = li.select(
        (F.col("l_orderkey") % 400).alias("src"),
        (F.col("l_partkey") % 400).alias("dst"),
    )
    lpa = label_propagation(g, rounds=3)
    q_lpa = graph_modularity(g, lpa).collect()[0].q_ppm
    rand = lpa.select("vertex_id", (F.col("vertex_id") % 7).alias("label"))
    q_rand = graph_modularity(g, rand).collect()[0].q_ppm
    assert q_lpa > q_rand

    got = graph_modularity(
        g, lpa.select("vertex_id", (F.col("vertex_id") % 10).alias("label"))
    )
    srows, scols = got.collect(), got.columns
    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH und AS (
              SELECT DISTINCT LEAST(l_orderkey % 400, l_partkey % 400) AS a,
                     GREATEST(l_orderkey % 400, l_partkey % 400) AS b
              FROM lineitem
              WHERE l_orderkey % 400 != l_partkey % 400
            ),
            tagged AS (SELECT a, b, a % 10 AS la, b % 10 AS lb FROM und),
            m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS mm FROM und),
            internal AS (
              SELECT la AS label, COUNT(*) AS e_c FROM tagged
              WHERE la = lb GROUP BY la
            ),
            deg AS (
              SELECT label, COUNT(*) AS deg_c FROM (
                SELECT la AS label FROM tagged
                UNION ALL SELECT lb FROM tagged
              ) GROUP BY label
            ),
            per_c AS (
              SELECT d.label, COALESCE(i.e_c, 0) AS e_c, d.deg_c
              FROM deg d LEFT JOIN internal i USING (label)
            )
            SELECT CAST(mm AS BIGINT) AS m_edges,
                   CAST(COUNT(*) AS BIGINT) AS n_communities,
                   CAST(SUM(4 * mm * e_c - CAST(deg_c AS HUGEINT) * deg_c)
                        * 1000000 // (4 * mm * mm) AS BIGINT) AS q_ppm
            FROM per_c CROSS JOIN m GROUP BY mm
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


# ---------------------------------------------------------------------------
# winnowing fingerprints
# ---------------------------------------------------------------------------


def _py_winnow(text, k, w, cap=1 << 20):
    """Independent winnowing reference: min hash per window, rightmost
    on ties (Schleimer et al. 2003)."""
    import hashlib

    text = text[:cap]
    n = max(len(text) - k + 1, 1)
    hs = [
        int(hashlib.md5(text[i : i + k].encode()).hexdigest()[:8], 16)
        for i in range(n)
    ]
    sel = set()
    for e in range(w - 1, n):
        h, negj = min((hs[j], -j) for j in range(e - w + 1, e + 1))
        sel.add((h, -negj))
    return sel


def test_winnow_matches_reference_and_guarantee(spark):
    from remap_spark.operators.dedup import winnow_fingerprints

    docs = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "XXXX the quick brown fox jumps over something else entirely"),
        (3, "completely unrelated content with no overlap whatsoever!!"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {}
    for r in winnow_fingerprints(df, k=8, window=4).collect():
        got.setdefault(r.doc, set()).add((r.fp_hash, r.pos))
    for did, text in docs:
        assert got[did] == _py_winnow(text, 8, 4), did
    # guarantee: docs 1 and 2 share 'the quick brown fox jumps over'
    # (length >= k + window - 1 = 11) -> at least one shared hash
    h1 = {h for h, _ in got[1]}
    h2 = {h for h, _ in got[2]}
    h3 = {h for h, _ in got[3]}
    assert h1 & h2
    assert not (h1 & h3)


def test_winnow_fingerprints_match_documents_reference(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.dedup import winnow_fingerprints

    docs = load_table(spark, SF_DIR, "documents").limit(40)
    got = {}
    for r in winnow_fingerprints(docs, k=10, window=5).collect():
        got.setdefault(r.doc, set()).add((r.fp_hash, r.pos))
    for row in docs.select("doc_id", "text").collect():
        assert got.get(row.doc_id, set()) == _py_winnow(row.text, 10, 5), (
            row.doc_id
        )


def test_winnow_match_duckdb(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.dedup import winnow_fingerprints

    docs = load_table(spark, SF_DIR, "documents")
    got = winnow_fingerprints(docs, k=10, window=5).orderBy(
        "doc", "fp_hash", "pos"
    )
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH t AS (SELECT doc_id AS doc, substr(text, 1, 1048576) AS s
                       FROM documents),
            idx AS (
              SELECT doc, s,
                     unnest(generate_series(1,
                       greatest(length(s) - 9, 1))) AS i
              FROM t
            ),
            grams AS (
              SELECT doc, i - 1 AS pos,
                     CAST('0x' || substr(md5(substr(s, i, 10)), 1, 8)
                       AS BIGINT) AS h
              FROM idx
            ),
            keyed AS (
              SELECT doc, pos,
                     h * 1048576 + (1048575 - pos) AS key,
                     MIN(h * 1048576 + (1048575 - pos)) OVER (
                       PARTITION BY doc ORDER BY pos
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS sel
              FROM grams
            ),
            chosen AS (
              SELECT DISTINCT doc, sel FROM keyed WHERE pos >= 4
            )
            SELECT doc, CAST(sel // 1048576 AS BIGINT) AS fp_hash,
                   CAST(1048575 - (sel % 1048576) AS INT) AS pos
            FROM chosen ORDER BY doc, fp_hash, pos
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()
    assert len(srows) == len(drows) > 0
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


# ---------------------------------------------------------------------------
# ewma forecast + seasonal indices
# ---------------------------------------------------------------------------


def test_ewma_forecast_hand_computed(spark):
    from remap_spark.operators.timeseries import ewma_forecast

    # linear series: trend EWMA of constant diffs == the slope, so the
    # 1-step forecast overshoots level by exactly the slope
    rows = [("g", i, 10.0 + 3.0 * i) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, t int, v double")
    out = {
        r.t: (r.level, r.trend, r.forecast)
        for r in ewma_forecast(
            df, ["g"], "t", "v", alpha=0.5, beta=0.5, n=4, horizon=2
        ).collect()
    }
    lvl, trend, fc = out[9]
    # trailing level with weights 1,.5,.25,.125 over 37,34,31,28
    want_lvl = (37 + 34 * 0.5 + 31 * 0.25 + 28 * 0.125) / 1.875
    assert abs(lvl - want_lvl) < 1e-12
    assert abs(trend - 3.0) < 1e-12  # constant diffs
    assert abs(fc - (want_lvl + 2 * 3.0)) < 1e-12
    # first row: no diff yet -> trend 0, forecast == level == value
    assert out[0] == (10.0, 0.0, 10.0)


def test_ewma_forecast_match_duckdb(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.timeseries import ewma_forecast

    ev = load_table(spark, SF_DIR, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    got = ewma_forecast(
        daily, ["event_type"], "day", "n", alpha=0.5, beta=0.5, n=4
    ).select(
        "event_type", "day",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast", 6).alias("forecast"),
    )
    srows, scols = got.collect(), got.columns

    # the oracle evaluates the identical left-associated chains
    def chain(col, w0):
        ws, wgt = [], 1.0
        for _ in range(4):
            ws.append(wgt)
            wgt *= 1.0 - w0
        num = f"COALESCE({col} * {ws[0]!r}, 0.0)"
        den = f"CASE WHEN {col} IS NOT NULL THEN {ws[0]!r} ELSE 0.0 END"
        for j, wj in enumerate(ws[1:], 1):
            lj = f"LAG({col}, {j}) OVER win"
            num = f"({num} + COALESCE({lj} * {wj!r}, 0.0))"
            den = f"({den} + CASE WHEN {lj} IS NOT NULL THEN {wj!r} ELSE 0.0 END)"
        return num, den

    ln, ld = chain("n", 0.5)
    tn, td = chain("d", 0.5)
    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            f"""
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(COUNT(*) AS DOUBLE) AS n
              FROM events GROUP BY 1, 2
            ),
            lvl AS (
              SELECT event_type, day, n, {ln} / {ld} AS level,
                     n - LAG(n, 1) OVER win AS d
              FROM daily
              WINDOW win AS (PARTITION BY event_type ORDER BY day)
            ),
            tr AS (
              SELECT event_type, day, level,
                     CASE WHEN {td} > 0 THEN {tn} / {td} ELSE 0.0 END
                       AS trend
              FROM lvl
              WINDOW win AS (PARTITION BY event_type ORDER BY day)
            )
            SELECT event_type, day, ROUND(level, 6) AS level,
                   ROUND(trend, 6) AS trend,
                   ROUND(level + 1.0 * trend, 6) AS forecast
            FROM tr
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()
    assert len(srows) == len(drows) > 0
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


def test_seasonal_indices_hand_and_duckdb(spark):
    import datetime

    from remap_spark.engine import load_table
    from remap_spark.operators.timeseries import seasonal_indices

    # hand case: weekdays get 2x the weekend volume
    d0 = datetime.date(2024, 1, 1)  # a Monday; epoch phase of Monday=?
    rows = []
    for i in range(28):
        day = d0 + datetime.timedelta(days=i)
        rows.append(("g", day, 200 if day.weekday() < 5 else 100))
    df = spark.createDataFrame(rows, "g string, day date, v long")
    got = {r.phase: r.index_ppm for r in
           seasonal_indices(df, ["g"], "day", "v", period=7).collect()}
    # mean = (5*200 + 2*100)/7 = 1200/7; weekday index = 200*7e6/1200
    weekday_idx = 200 * 7 * 1_000_000 * 4 * 7 // (4 * 7 * 1200)
    assert sum(1 for v in got.values() if v > 1_000_000) == 5
    assert sum(1 for v in got.values() if v < 1_000_000) == 2

    ev = load_table(spark, SF_DIR, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    got2 = seasonal_indices(daily, ["event_type"], "day", "n", period=7)
    srows, scols = got2.collect(), got2.columns
    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH daily AS (
              SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
              FROM events GROUP BY 1, 2
            ),
            pp AS (
              SELECT event_type,
                     ((CAST(day AS DATE) - DATE '1970-01-01') % 7 + 7) % 7
                       AS phase,
                     COUNT(*) AS n_obs,
                     CAST(SUM(n) AS HUGEINT) AS s
              FROM daily GROUP BY 1, 2
            )
            SELECT event_type, phase, n_obs,
                   CAST(s AS BIGINT) AS sum_value,
                   CAST(s * SUM(n_obs) OVER w * 1000000
                        // (n_obs * SUM(s) OVER w) AS BIGINT) AS index_ppm
            FROM pp WINDOW w AS (PARTITION BY event_type)
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()
    assert len(srows) == len(drows) > 0
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


# ---------------------------------------------------------------------------
# scd2_lookup (as-of read side)
# ---------------------------------------------------------------------------


def test_scd2_lookup_hand_computed(spark):
    from remap_spark.operators.scd import scd2_history, scd2_lookup

    changes = [
        (1, 10, "bronze", 100),
        (1, 20, "silver", 101),
        (1, 30, "gold", 102),
        (2, 15, "bronze", 103),
    ]
    dim = scd2_history(
        spark.createDataFrame(
            changes, "cust bigint, ts bigint, tier string, evt bigint"
        ),
        "cust", "ts", ["tier"], "evt",
    )
    facts = spark.createDataFrame(
        [(1, 1, 5), (2, 1, 10), (3, 1, 25), (4, 1, 30), (5, 1, 99),
         (6, 2, 20), (7, 9, 50)],
        "fid bigint, cust bigint, fts bigint",
    )
    got = {
        r.fid: r.tier
        for r in scd2_lookup(facts, dim, "cust", "fts", ["tier"]).collect()
    }
    assert got == {
        1: None,        # before first version
        2: "bronze",    # inclusive valid_from
        3: "silver",
        4: "gold",      # exclusive valid_to boundary
        5: "gold",      # open current version
        6: "bronze",
        7: None,        # unknown key survives under left join
    }


def test_scd2_lookup_match_duckdb_and_plan(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.scd import scd2_history, scd2_lookup
    from remap_spark.plans import plan_report

    orders = load_table(spark, SF_DIR, "orders")
    # change stream: customer's priority over time (orderdate order)
    dim = scd2_history(
        orders.select(
            "o_custkey",
            F.col("o_orderdate").alias("ts"),
            F.col("o_orderpriority").alias("prio"),
            "o_orderkey",
        ),
        "o_custkey", "ts", ["prio"], "o_orderkey",
    )
    facts = orders.select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").alias("fts")
    )
    got = scd2_lookup(facts, dim, "o_custkey", "fts", ["prio"]).select(
        "o_orderkey", "prio"
    )
    r = plan_report(got)
    assert not r["cartesian"], "as-of lookup must stay an equi join"
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH src AS (
              SELECT o_custkey, o_orderdate AS ts,
                     o_orderpriority AS prio, o_orderkey
              FROM orders
            ),
            marked AS (
              SELECT *,
                CASE WHEN LAG(o_orderkey) OVER w IS NULL
                       OR prio IS DISTINCT FROM LAG(prio) OVER w
                     THEN 1 ELSE 0 END AS chg
              FROM src WINDOW w AS (PARTITION BY o_custkey
                                    ORDER BY ts, o_orderkey)
            ),
            versioned AS (
              SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
                ORDER BY ts, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
              FROM marked
            ),
            dim AS (
              SELECT o_custkey, v, prio, MIN(ts) AS valid_from,
                     LEAD(MIN(ts)) OVER (PARTITION BY o_custkey
                                         ORDER BY v) AS valid_to
              FROM versioned GROUP BY o_custkey, v, prio
            )
            SELECT f.o_orderkey, d.prio
            FROM orders f
            LEFT JOIN dim d
              ON d.o_custkey = f.o_custkey
             AND f.o_orderdate >= d.valid_from
             AND (d.valid_to IS NULL OR f.o_orderdate < d.valid_to)
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()
    assert len(srows) == len(drows) > 0
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


def test_quantile_bins_hand_and_duckdb(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.ml import quantile_bins

    # 1..10 into quartiles: cuts at 3.25/5.5/7.75
    df = spark.createDataFrame([(float(i),) for i in range(1, 11)], "v double")
    got = sorted(
        (r.v, r.v_bin) for r in quantile_bins(df, "v", n_bins=4).collect()
    )
    want = [(float(i), 1 + (i > 3.25) + (i > 5.5) + (i > 7.75))
            for i in range(1, 11)]
    assert got == [(v, int(b)) for v, b in want]

    li = load_table(spark, SF_DIR, "lineitem")
    out = quantile_bins(
        li.select("l_orderkey", "l_linenumber", "l_returnflag",
                  "l_extendedprice"),
        "l_extendedprice",
        n_bins=10,
        group_cols=["l_returnflag"],
    ).select("l_orderkey", "l_linenumber",
             F.col("l_extendedprice_bin").alias("bin"))
    srows, scols = out.collect(), out.columns
    # bins are equi-depth within each group (within rounding)
    from collections import Counter
    sizes = Counter(r.bin for r in srows)
    assert set(sizes) == set(range(1, 11))
    assert max(sizes.values()) < 1.25 * min(sizes.values())

    con = duck_con(SF_DIR)
    try:
        cuts = ", ".join(
            f"quantile_cont(l_extendedprice, {i / 10}) AS c{i}"
            for i in range(1, 10)
        )
        cmp = " + ".join(
            f"(l_extendedprice > c{i})::INT" for i in range(1, 10)
        )
        want = con.sql(f"""
            WITH cuts AS (
              SELECT l_returnflag, {cuts}
              FROM lineitem GROUP BY l_returnflag
            )
            SELECT l_orderkey, l_linenumber, 1 + {cmp} AS bin
            FROM lineitem JOIN cuts USING (l_returnflag)
        """)
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()
    assert len(srows) == len(drows) > 0
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)


def test_mad_outliers_robust_to_contamination(spark):
    from remap_spark.operators.ml import mad_outliers

    # stable series + one huge spike: MAD flags the spike; a stddev
    # z-score at the same k would NOT (sigma inflated by the spike)
    import statistics

    vals = [100.0, 102.0, 98.0, 101.0, 99.0, 100.0, 103.0, 97.0, 10000.0]
    mu, sd = statistics.mean(vals), statistics.pstdev(vals)
    assert abs(10000.0 - mu) < 3.5 * sd  # classic z-score misses it
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r.v: bool(r.is_outlier) for r in mad_outliers(df, "v").collect()}
    assert got[10000.0] is True
    assert all(not o for v, o in got.items() if v != 10000.0)


def test_mad_outliers_grouped_match_duckdb(spark):
    from remap_spark.engine import load_table
    from remap_spark.operators.ml import mad_outliers

    li = load_table(spark, SF_DIR, "lineitem")
    got = mad_outliers(
        li.select("l_orderkey", "l_linenumber", "l_returnflag",
                  "l_extendedprice"),
        "l_extendedprice",
        group_cols=["l_returnflag"],
    ).select(
        "l_orderkey", "l_linenumber",
        F.round("median", 4).alias("median"),
        F.round("mad", 4).alias("mad"),
        "is_outlier",
    )
    srows, scols = got.collect(), got.columns

    con = duck_con(SF_DIR)
    try:
        want = con.sql(
            """
            WITH med AS (
              SELECT l_returnflag,
                     quantile_cont(l_extendedprice, 0.5) AS median
              FROM lineitem GROUP BY l_returnflag
            ),
            dev AS (
              SELECT l.*, m.median,
                     abs(l_extendedprice - m.median) AS ad
              FROM lineitem l JOIN med m USING (l_returnflag)
            ),
            mad AS (
              SELECT l_returnflag, quantile_cont(ad, 0.5) AS mad
              FROM dev GROUP BY l_returnflag
            )
            SELECT d.l_orderkey, d.l_linenumber,
                   ROUND(d.median, 4) AS median,
                   ROUND(x.mad, 4) AS mad,
                   d.ad > 3.5 * 1.4826 * x.mad AS is_outlier
            FROM dev d JOIN mad x USING (l_returnflag)
            """
        )
        dcols, drows = want.columns, want.fetchall()
    finally:
        con.close()
    assert len(srows) == len(drows) > 0
    assert canon([tuple(r) for r in srows], scols) == canon(drows, dcols)
