"""Round-10 additions: url_host and per-host paragraph dedup (the
crawl-curation composition the r9 verdict earmarked — pytest-tier
surface, capacity-neutral per the registry's standing rule)."""

from __future__ import annotations

import pytest


def test_url_host_extraction(spark):
    from remap_spark.operators.text import url_host

    rows = [
        ("https://WWW.Example.com/a/b?q=1",),
        ("http://example.com:8080/x",),
        ("https://user:pw@site.org/p",),
        ("ftp://Files.Site.NET",),
        ("no-scheme/path",),
        ("https://example.com",),
    ]
    df = spark.createDataFrame(rows, "url string")
    got = [r[0] for r in df.select(url_host("url")).collect()]
    assert got == [
        "www.example.com",
        "example.com",
        "site.org",
        "files.site.net",
        "",
        "example.com",
    ]


def test_dedup_paragraphs_per_host_hand_computed(spark):
    """Within-site boilerplate goes; cross-site repetition stays.
    Docs 1,2 share host a.com (footer repeated -> kept once, at the
    earlier doc); doc 3 on b.com repeats the SAME footer -> kept
    (different host). Within-doc repetition on one host page dedups
    against the earlier position."""
    from remap_spark.operators.dedup import dedup_paragraphs_per_host

    rows = [
        (1, "http://a.com/p1", "intro one\nFOOTER\nbody one"),
        (2, "http://A.COM/p2", "intro two\nFOOTER\nbody two"),
        (3, "http://b.com/p1", "intro three\nFOOTER"),
        (4, "http://b.com/p2", "dup\ndup\ntail"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, url string, text string")
    got = {
        r["doc"]: (r["host"], r["text"], r["n_segments"], r["n_removed"])
        for r in dedup_paragraphs_per_host(df).collect()
    }
    assert got == {
        1: ("a.com", "intro one\nFOOTER\nbody one", 3, 0),
        2: ("a.com", "intro two\nbody two", 3, 1),
        3: ("b.com", "intro three\nFOOTER", 2, 0),
        4: ("b.com", "dup\ntail", 3, 1),
    }


def test_dedup_paragraphs_per_host_matches_python_reference(spark):
    """Property test: per-host first-occurrence semantics on random
    small corpora equal a pure-Python reference (kept text, segment
    counts, removed counts)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from remap_spark.operators.dedup import dedup_paragraphs_per_host

    segs_st = st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", " "]), min_size=1, max_size=6
    )
    docs_st = st.lists(
        st.tuples(st.sampled_from(["h1", "h2"]), segs_st),
        min_size=1,
        max_size=8,
    )

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(docs=docs_st)
    def run(docs):
        rows = [
            (i, f"http://{h}.com/p{i}", "\n".join(segs))
            for i, (h, segs) in enumerate(docs)
        ]
        df = spark.createDataFrame(
            rows, "doc_id bigint, url string, text string"
        )
        got = {
            r["doc"]: (r["text"], r["n_segments"], r["n_removed"])
            for r in dedup_paragraphs_per_host(df).collect()
        }
        first: dict = {}
        want: dict = {}
        for i, (h, segs) in enumerate(docs):
            host = f"{h}.com"
            kept, n_seg, n_rm = [], 0, 0
            for pos, s in enumerate(segs):
                if not s.strip():
                    continue
                n_seg += 1
                if first.setdefault((host, s), (i, pos)) == (i, pos):
                    kept.append(s)
                else:
                    n_rm += 1
            if n_seg:
                want[i] = ("\n".join(kept), n_seg, n_rm)
        assert got == want

    run()


def test_dedup_paragraphs_per_host_single_exchange_per_side(spark):
    """Plan shape: no cartesian, no Python boundary; the
    first-occurrence aggregate is partial (map-side combine)."""
    from remap_spark.operators.dedup import dedup_paragraphs_per_host
    from remap_spark.plans import explain_str

    df = spark.createDataFrame(
        [(1, "http://a.com/x", "p\nq")],
        "doc_id bigint, url string, text string",
    )
    p = explain_str(dedup_paragraphs_per_host(df), "formatted")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p and "MapInPandas" not in p
    assert "partial_min" in p or "HashAggregate" in p
