"""Property tests (hypothesis) for the map/combine/reduce algebra and
the portable hash layer (SURVEY.md §5.2.3).

Spark round trips are expensive, so properties run few examples over
generated SMALL inputs; the properties themselves are the point:
- combiner on/off equivalence (the algebraic contract, SURVEY §4.3.3)
- partition-count invariance (results don't depend on layout)
- portable hash == DuckDB hash on arbitrary strings
"""

from __future__ import annotations

import json

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

words = st.text(
    alphabet=st.characters(whitelist_categories=("Ll",), max_codepoint=0x024F),
    min_size=1,
    max_size=8,
)
docs = st.lists(
    st.tuples(st.sampled_from(["f1", "f2", "f3"]), st.lists(words, max_size=6).map(" ".join)),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=docs)
def test_combiner_equivalence_property(spark, data):
    from remap_spark.operators.mapreduce import MapReduceJob

    df = spark.createDataFrame(data, "key string, value string")

    def m(key, value):
        for w in value.split():
            yield "p", w, 1

    def r(key, values):
        yield key, sum(values)

    plain = MapReduceJob(map=m, reduce=r).run(df).collect()
    combined = (
        MapReduceJob(map=m, reduce=r, combiner=lambda l: [sum(l)]).run(df).collect()
    )
    assert sorted((x["k3"], json.loads(x["v3"])) for x in plain) == sorted(
        (x["k3"], json.loads(x["v3"])) for x in combined
    )


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=docs, nparts=st.sampled_from([1, 3, 7]))
def test_partition_count_invariance(spark, data, nparts):
    """The same job over 1, 3, or 7 input partitions yields identical
    results — the reference could not guarantee this (value order
    depended on mapper file layout, SURVEY §4.3.2)."""
    from remap_spark.operators.mapreduce import MapReduceJob

    df = spark.createDataFrame(data, "key string, value string").repartition(nparts)

    def m(key, value):
        for w in value.split():
            yield "p", w, key

    def r(key, values):
        yield key, sorted(values)

    out = MapReduceJob(map=m, reduce=r).run(df).collect()
    expected = {}
    for k, v in data:
        for w in v.split():
            expected.setdefault(w, []).append(k)
    assert {x["k3"]: json.loads(x["v3"]) for x in out} == {
        w: sorted(ks) for w, ks in expected.items()
    }


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(s=st.text(max_size=40))
def test_portable_hash_matches_duckdb(spark, s):
    from pyspark.sql import functions as F

    from remap_spark.functions import portable_hash32, portable_hash60

    df = spark.createDataFrame([(s,)], "s string")
    row = df.select(
        portable_hash32("s").alias("h32"), portable_hash60("s").alias("h60")
    ).first()
    con = duckdb.connect()
    d32, d60 = con.execute(
        "SELECT CAST('0x' || substr(md5(?),1,8) AS BIGINT),"
        " CAST('0x' || substr(md5(?),1,15) AS BIGINT)",
        [s, s],
    ).fetchone()
    con.close()
    assert (row["h32"], row["h60"]) == (d32, d60)


def test_format_string_and_uuid(spark):
    """SURVEY §2.9 pass-through rows: F.format_string reproduces the
    reference's %f/%d output formatting (pagerank.py:41, highest.py:41)
    and F.uuid() yields distinct well-formed v4 ids per row."""
    import re

    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, 0.15), (2, 0.85)], "k int, v double")
    rows = df.select(
        F.format_string("%d,%f", "k", "v").alias("line"), F.uuid().alias("u")
    ).collect()
    assert [r["line"] for r in rows] == ["1,0.150000", "2,0.850000"]
    uuids = {r["u"] for r in rows}
    assert len(uuids) == 2
    pat = re.compile(
        r"^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"
    )
    assert all(pat.match(u) for u in uuids)


def test_approx_percentile_close_to_exact(spark):
    """The documented 100 TB path for dq33 (approx_percentile, t-digest
    one-pass mergeable sketch) must land within 1% of the exact
    sort-based percentile on the fixture distribution."""
    from conftest import SF_DIR
    from pyspark.sql import functions as F

    from remap_spark.engine import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    row = li.agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact"),
        F.approx_percentile(
            "l_extendedprice", F.lit(0.5), F.lit(10000)
        ).alias("approx"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.01


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=docs)
def test_redact_pii_idempotent_property(spark, data):
    """Scrubbing is a fixpoint: redact(redact(x)) == redact(x), and the
    second pass reports zero findings (mask tokens contain no PII)."""
    from remap_spark.operators.text import redact_pii

    rows = [(i, t if t else "x") for i, (_, t) in enumerate(data)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = redact_pii(df)
    twice = redact_pii(once.select("doc_id", "text"))
    a = {r["doc_id"]: r["text"] for r in once.collect()}
    rows2 = twice.collect()
    b = {r["doc_id"]: r["text"] for r in rows2}
    assert a == b
    assert all(r["n_email"] == 0 and r["n_ip"] == 0 and r["n_phone"] == 0 for r in rows2)


def test_repetition_ratios_bounded(spark):
    """On the real corpus: every ratio lies in [0, 1] and the bigram
    identities hold (n_bigrams == n_tokens - 1 via fractions)."""
    from remap_spark.engine import load_table
    from remap_spark.operators.text import repetition_stats

    from conftest import SF_DIR

    rows = repetition_stats(load_table(spark, SF_DIR, "documents")).collect()
    assert rows
    for r in rows:
        assert 0 < r["uniq_token_ratio"] <= 1
        assert 0 < r["top_bigram_frac"] <= 1
        assert 0 <= r["dup_bigram_frac"] < 1


def test_kmeans_partition_layout_invariance(spark):
    """Cluster assignment is a pure function of the data — repartitioning
    the input must not change a single assignment (the determinism the
    int64 quantization buys)."""
    from remap_spark.engine import load_table
    from remap_spark.operators.similarity import kmeans_lloyd

    from conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    a1, _ = kmeans_lloyd(emb, k=4, iters=2)
    a2, _ = kmeans_lloyd(emb.repartition(13), k=4, iters=2)
    r1 = {r["vec_id"]: r["cluster"] for r in a1.collect()}
    r2 = {r["vec_id"]: r["cluster"] for r in a2.collect()}
    assert r1 == r2


def test_boilerplate_lines_finds_inserted_headers(spark):
    """Detection reports exactly the constructed per-source header
    lines: each header inserted into at least three documents comes back
    with its document count, and no original fixture line does."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from remap_spark.engine import load_table
    from remap_spark.operators.text import boilerplate_lines

    docs = load_table(spark, SF_DIR, "documents")
    header = F.concat(F.lit("NOTICE "), F.col("source"), F.lit(" TERMS"))
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(header, F.lit("\n"), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    hot = {
        r.line: r.n_docs for r in boilerplate_lines(aug, min_docs=3).collect()
    }
    inserted = docs.where(F.col("doc_id") % 2 == 0).groupBy("source").count()
    want = {
        f"NOTICE {r['source']} TERMS": r["count"]
        for r in inserted.collect()
        if r["count"] >= 3
    }
    assert want
    assert hot == want


def test_weighted_sample_nested(spark):
    """Raising every weight only ADDS rows (same salt -> same bucket):
    the nested-sample property that keeps training curricula stable
    across quality-threshold changes."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from remap_spark.engine import load_table
    from remap_spark.operators.split import weighted_sample

    docs = load_table(spark, SF_DIR, "documents")
    w_lo = ((F.col("doc_id") % 10 + 1) / F.lit(20.0)).cast("double")
    w_hi = ((F.col("doc_id") % 10 + 1) / F.lit(10.0)).cast("double")
    lo = {r["doc_id"] for r in weighted_sample(docs, "doc_id", w_lo, "s").select("doc_id").collect()}
    hi = {r["doc_id"] for r in weighted_sample(docs, "doc_id", w_hi, "s").select("doc_id").collect()}
    assert lo <= hi
    assert len(hi) > len(lo)


def test_temperature_weights_properties(spark):
    """Weights sum to 1; alpha=1 degenerates to the natural share;
    alpha<1 strictly upweights the smallest group."""
    from conftest import SF_DIR
    from remap_spark.engine import load_table
    from remap_spark.operators.split import temperature_weights

    docs = load_table(spark, SF_DIR, "documents")
    flat = temperature_weights(docs, "source", "n_chars", alpha=1.0).collect()
    assert abs(sum(r["weight"] for r in flat) - 1.0) < 1e-3
    for r in flat:
        assert abs(r["weight"] - r["share"]) < 1e-4

    cooled = {r["grp"]: r for r in temperature_weights(docs, "source", "n_chars", alpha=0.5).collect()}
    assert abs(sum(r["weight"] for r in cooled.values()) - 1.0) < 1e-3
    smallest = min(cooled.values(), key=lambda r: r["mass"])
    assert smallest["weight"] > smallest["share"]


def test_clean_text_idempotent(spark):
    """clean(clean(x)) == clean(x): the normalizer is a projection onto
    its own fixed-point set."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from remap_spark.engine import load_table
    from remap_spark.operators.text import clean_text

    docs = load_table(spark, SF_DIR, "documents")
    noisy = docs.select(
        "doc_id",
        F.concat(F.lit("<b>x</b>  "), F.col("text"), F.lit("\x02\x03  end")).alias("text"),
    )
    once = clean_text(noisy)
    twice = clean_text(once.select("doc_id", "text"))
    j = once.select("doc_id", F.col("text").alias("t1")).join(
        twice.select("doc_id", F.col("text").alias("t2")), "doc_id"
    )
    assert j.where(F.col("t1") != F.col("t2")).count() == 0
    # second pass finds nothing left to remove
    assert twice.where((F.col("n_tags") > 0) | (F.col("n_ctrl") > 0)).count() == 0


def test_tfidf_rank_contract(spark):
    """Ranks are 1..k per doc with non-increasing scores."""
    from conftest import SF_DIR
    from remap_spark.engine import load_table
    from remap_spark.operators.text import tfidf_topk

    docs = load_table(spark, SF_DIR, "documents")
    rows = tfidf_topk(docs, k=3).collect()
    per_doc: dict = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append((r["rank"], r["score"]))
    for doc, rs in per_doc.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, len(rs) + 1)), doc
        scores = [x[1] for x in rs]
        assert scores == sorted(scores, reverse=True), doc


def test_leakage_safe_split_no_cluster_straddles(spark):
    """Every near-duplicate cluster lands wholly in one split — the
    contamination guarantee the split exists for."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from remap_spark.engine import load_table
    from remap_spark.operators import dedup as dd
    from remap_spark.operators.pregel import connected_components
    from remap_spark.operators.split import hash_split

    docs = load_table(spark, SF_DIR, "documents")
    pairs = dd.minhash_lsh_pairs(docs, num_hashes=16, bands=4)
    cc = connected_components(pairs, src="doc_a", dst="doc_b", num_partitions=4)
    keyed = docs.join(
        cc.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).withColumn("ckey", F.coalesce("component", "doc_id"))
    assigned = hash_split(keyed, "ckey", {"train": 0.9, "test": 0.1}, salt="cl")
    straddlers = (
        assigned.groupBy("ckey")
        .agg(F.count_distinct("split").alias("ns"))
        .where(F.col("ns") > 1)
        .count()
    )
    assert straddlers == 0
    # non-vacuous: at least one multi-doc cluster exists
    multi = assigned.groupBy("ckey").count().where(F.col("count") > 1).count()
    assert multi > 0


def test_chunk_documents_reconstructs_token_stream(spark):
    """Dropping each non-first chunk's overlap prefix and concatenating
    must restore every document's exact token stream — no token lost,
    duplicated (beyond the declared overlap), or reordered."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from remap_spark.engine import load_table
    from remap_spark.functions import tokenize
    from remap_spark.operators.text import chunk_documents

    docs = load_table(spark, SF_DIR, "documents")
    chunks = chunk_documents(docs, chunk_size=8, overlap=2).collect()
    per_doc: dict = {}
    for r in chunks:
        per_doc.setdefault(r["doc_id"], []).append((r["chunk_id"], r["text"]))

    expected = {
        r["doc_id"]: r["toks"]
        for r in docs.select(
            "doc_id", tokenize(F.col("text")).alias("toks")
        ).collect()
        if r["toks"]
    }
    assert set(per_doc) == set(expected)
    for doc, cs in per_doc.items():
        cs.sort()
        assert [c for c, _ in cs] == list(range(len(cs)))
        toks: list = []
        for ci, text in cs:
            words = text.split(" ")
            toks.extend(words if ci == 0 else words[2:])
        assert toks == expected[doc], doc


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.lists(words, min_size=0, max_size=40).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    chunk_size=st.integers(min_value=2, max_value=12),
    overlap=st.integers(min_value=0, max_value=6),
)
def test_chunk_documents_property(spark, data, chunk_size, overlap):
    """For ARBITRARY texts and (chunk_size, overlap) params: chunk ids
    are dense from 0, no chunk exceeds chunk_size, no chunk is overlap
    alone (except single-chunk docs), and dropping each non-first
    chunk's overlap prefix reconstructs the exact token stream."""
    from pyspark.sql import functions as F

    from remap_spark.functions import tokenize
    from remap_spark.operators.text import chunk_documents

    if overlap >= chunk_size:
        overlap = chunk_size - 1
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(data)], "doc_id bigint, text string"
    )
    out = chunk_documents(df, chunk_size=chunk_size, overlap=overlap).collect()
    expected = {
        r["doc_id"]: r["toks"]
        for r in df.select("doc_id", tokenize(F.col("text")).alias("toks")).collect()
        if r["toks"]
    }
    per_doc: dict = {}
    for r in out:
        assert r["n_tokens"] <= chunk_size
        per_doc.setdefault(r["doc_id"], []).append((r["chunk_id"], r["text"]))
    assert set(per_doc) == set(expected)
    for doc, cs in per_doc.items():
        cs.sort()
        assert [c for c, _ in cs] == list(range(len(cs)))
        toks: list = []
        for ci, text in cs:
            ws = text.split(" ") if text else []
            toks.extend(ws if ci == 0 else ws[overlap:])
        assert toks == expected[doc], (doc, chunk_size, overlap)


intervals_strategy = st.lists(
    st.tuples(st.integers(-50, 50), st.integers(0, 30)),
    min_size=1,
    max_size=15,
)
points_strategy = st.lists(st.integers(-60, 60), min_size=1, max_size=25)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ivs=intervals_strategy,
    pts=points_strategy,
    bw=st.sampled_from([1, 3, 7, 100]),
)
def test_binned_interval_join_equals_naive(spark, ivs, pts, bw):
    """interval_join_binned must return exactly the naive BETWEEN
    join's (point, interval) pairs for any geometry and any bin width
    (including widths far larger / smaller than the intervals)."""
    from pyspark.sql import functions as F

    from remap_spark.operators.joins import interval_join_binned

    points = spark.createDataFrame(
        [(i, p) for i, p in enumerate(pts)], "pid int, p bigint"
    )
    intervals = spark.createDataFrame(
        [(i, s, s + ln) for i, (s, ln) in enumerate(ivs)],
        "iid int, s bigint, e bigint",
    )
    got = {
        (r["pid"], r["iid"])
        for r in interval_join_binned(points, intervals, "p", "s", "e", bw)
        .select("pid", "iid")
        .collect()
    }
    want = {
        (pi, ii)
        for pi, p in enumerate(pts)
        for ii, (s, ln) in enumerate(ivs)
        if s <= p <= s + ln
    }
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=docs)
def test_span_score_and_removal_agree(spark, data):
    """Cross-operator contract: span_duplication's per-doc duplicated-
    window count is zero exactly when remove_duplicate_spans removes
    zero tokens from that doc (both at k=2 over random small corpora —
    the scoring and the removal must see the SAME duplicated windows)."""
    from remap_spark.operators.dedup import (
        remove_duplicate_spans,
        span_duplication,
    )

    rows = [(i, text) for i, (_, text) in enumerate(data)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    score = {
        r["doc"]: r["n_dup_windows"]
        for r in span_duplication(df, k=2, min_docs=2).collect()
    }
    removed = {
        r["doc"]: r["n_removed"]
        for r in remove_duplicate_spans(df, k=2, min_docs=2).collect()
    }
    # scoring emits a row only for docs with >= 1 window (>= k tokens);
    # removal emits one for docs with >= 1 token — scoring's domain is
    # a subset, and window-less docs can never have anything removed
    assert set(score) <= set(removed)
    for doc in set(removed) - set(score):
        assert removed[doc] == 0, (doc, removed[doc], rows)
    for doc in score:
        assert (score[doc] == 0) == (removed[doc] == 0), (
            doc, score[doc], removed[doc], rows,
        )
        # removal is bounded by total tokens and at least the window
        # size when any duplicated window exists
        if score[doc] > 0:
            assert removed[doc] >= 2


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # key
            st.integers(min_value=0, max_value=50),  # minute offset
            st.sampled_from(["A", "B", "C", None]),  # state (nullable)
        ),
        min_size=1,
        max_size=14,
    ),
    split=st.integers(min_value=0, max_value=50),
)
def test_scd2_incremental_equals_full_property(spark, data, split):
    """Property: for ANY event stream and ANY append-only split point,
    scd2_apply_batch(scd2_history(old), new) == scd2_history(all);
    additionally every key's intervals tile (valid_to == next
    valid_from) and exactly one version per key is open."""
    import datetime as dt

    from remap_spark.operators.scd import scd2_apply_batch, scd2_history

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        (k, t0 + dt.timedelta(minutes=m), s, i)
        for i, (k, m, s) in enumerate(data)
    ]
    schema = "user_id bigint, ts timestamp, state string, event_id bigint"
    kw = dict(
        key_col="user_id", ts_col="ts",
        attr_cols=["state"], tiebreak_col="event_id",
    )
    cut = t0 + dt.timedelta(minutes=split)
    old = [r for r in rows if r[1] <= cut]
    new = [r for r in rows if r[1] > cut]
    full = scd2_history(spark.createDataFrame(rows, schema), **kw)
    cols = ["user_id", "version", "state", "valid_from", "valid_to",
            "is_current"]
    expected = sorted(tuple(r) for r in full.select(cols).collect())
    if old:
        dim = scd2_history(spark.createDataFrame(old, schema), **kw)
        applied = scd2_apply_batch(
            dim, spark.createDataFrame(new, schema), **kw
        )
        got = sorted(tuple(r) for r in applied.select(cols).collect())
        assert got == expected

    # interval tiling + single open version per key
    by_key = {}
    for r in expected:
        by_key.setdefault(r[0], []).append(r)
    for versions in by_key.values():
        versions.sort(key=lambda r: r[1])
        assert sum(1 for r in versions if r[5]) == 1
        for prev, nxt in zip(versions, versions[1:]):
            assert prev[4] == nxt[3]  # valid_to tiles with valid_from
        assert versions[-1][4] is None


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    hist=st.lists(
        st.tuples(st.sampled_from("abcd"), st.integers(-100, 100)),
        max_size=12,
    ),
    batch=st.lists(
        st.tuples(st.sampled_from("abcd"), st.integers(-100, 100)),
        max_size=12,
    ),
)
def test_rollup_merge_equals_full_property(spark, hist, batch):
    """Property: merge_aggregate_state(state(hist), batch) equals
    aggregate_state(hist ++ batch) for any histories and batches —
    including empty sides and groups appearing on only one side."""
    from remap_spark.operators.rollup import (
        aggregate_state,
        merge_aggregate_state,
    )

    if not hist and not batch:
        return
    specs = {
        "n": ("count", "v"),
        "s": ("sum", "v"),
        "lo": ("min", "v"),
        "hi": ("max", "v"),
    }
    schema = "k string, v bigint"
    hdf = spark.createDataFrame(hist or [], schema)
    bdf = spark.createDataFrame(batch or [], schema)
    merged = merge_aggregate_state(
        aggregate_state(hdf, ["k"], specs), bdf, ["k"], specs
    )
    full = aggregate_state(hdf.unionByName(bdf), ["k"], specs)
    m = sorted(tuple(r) for r in merged.collect())
    f = sorted(tuple(r) for r in full.collect())
    assert m == f


_winnow_texts = st.lists(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Ll",), max_codepoint=0x024F
        ),
        min_size=12,
        max_size=80,
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_winnow_texts, kw=st.sampled_from([(4, 3), (6, 4), (8, 5)]))
def test_winnow_matches_reference_property(spark, texts, kw):
    """Winnowing selection == the independent Python reference on
    arbitrary unicode text and (k, window) choices — including the
    rightmost-on-ties rule and short-text edge cases."""
    from test_round6e import _py_winnow

    from remap_spark.operators.dedup import winnow_fingerprints

    k, w = kw
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df, k=k, window=w).collect():
        got.setdefault(r.doc, set()).add((r.fp_hash, r.pos))
    for i, t in enumerate(texts):
        assert got.get(i, set()) == _py_winnow(t, k, w), (i, t)
