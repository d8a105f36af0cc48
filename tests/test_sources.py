"""Source/sink parity tests (SURVEY.md §2.1-2.2)."""

from __future__ import annotations

import pytest
from conftest import SF_DIR


@pytest.fixture(scope="module")
def tmpfiles(tmp_path_factory):
    d = tmp_path_factory.mktemp("srcdata")
    (d / "a.txt").write_text("hello world\nsecond line\n")
    (d / "b.txt").write_text("another file\n")
    (d / "doc.xml").write_text(
        "<root><item>alpha</item><item>beta</item><nested><x>gamma</x></nested></root>"
    )
    (d / "page.html").write_text(
        "<html><body>\n<h1>Title Here</h1>\n<p>some <b>bold</b> tail</p>\n</body></html>\n"
    )
    (d / "graph.txt").write_text("1 2 3\n2 3\n3 1\n")
    (d / "valued.txt").write_text("a 3 b\nb 6 a d\nc 2 b d\nd 1 c\n")
    return d


def test_read_text(spark, tmpfiles):
    from remap_spark.sources import read_text

    df = read_text(spark, str(tmpfiles / "*.txt"))
    rows = df.collect()
    lines = {r["line"] for r in rows}
    assert {"hello world", "second line", "another file"} <= lines
    assert all(r["filename"].endswith(".txt") for r in rows)


def test_read_xml_elements(spark, tmpfiles):
    from remap_spark.sources import read_xml_elements

    df = read_xml_elements(spark, str(tmpfiles / "doc.xml"))
    texts = sorted(r["text"] for r in df.collect())
    assert texts == ["alpha", "beta", "gamma"]


def test_read_html_text(spark, tmpfiles):
    from remap_spark.sources import read_html_text

    df = read_html_text(spark, str(tmpfiles / "page.html"))
    texts = {r["text"] for r in df.collect()}
    # reference keeps the LAST text node per line (remap.py:84-90)
    assert "Title Here" in texts
    assert "tail" in texts


def test_read_adjacency(spark, tmpfiles):
    from remap_spark.sources import adjacency_to_edges, read_adjacency

    adj = read_adjacency(spark, str(tmpfiles / "graph.txt"))
    got = {r["id"]: r["neighbors"] for r in adj.collect()}
    assert got == {"1": ["2", "3"], "2": ["3"], "3": ["1"]}
    edges = {(r["src"], r["dst"]) for r in adjacency_to_edges(adj).collect()}
    assert edges == {("1", "2"), ("1", "3"), ("2", "3"), ("3", "1")}


def test_read_adjacency_valued(spark, tmpfiles):
    from remap_spark.sources import read_adjacency

    adj = read_adjacency(spark, str(tmpfiles / "valued.txt"), valued=True)
    got = {r["id"]: (r["value"], r["neighbors"]) for r in adj.collect()}
    assert got["b"] == (6, ["a", "d"])
    assert got["a"] == (3, ["b"])


def test_write_reduce_text(spark, tmp_path):
    from remap_spark.sources import write_reduce_text

    df = spark.createDataFrame(
        [("the", 12), ("and", 7)], "k3 string, v3 int"
    )
    out = tmp_path / "out"
    write_reduce_text(df, str(out))
    lines = set()
    for p in out.glob("part-*"):
        lines |= set(p.read_text().splitlines())
    assert lines == {"the,12", "and,7"}


def test_flood_max_from_file(spark, tmpfiles):
    """End-to-end: valued graph file -> flood_max == DQ16 result."""
    from remap_spark.operators.pregel import flood_max
    from remap_spark.sources import adjacency_to_edges, read_adjacency

    adj = read_adjacency(spark, str(tmpfiles / "valued.txt"), valued=True)
    verts = adj.select("id", "value")
    edges = adjacency_to_edges(adj)
    got = {r["id"]: r["value"] for r in flood_max(verts, edges).collect()}
    assert got == {"a": 6, "b": 6, "c": 6, "d": 6}


def test_bucketed_join_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts
    must join with ZERO exchanges — the co-located join primitive that
    removes the dominant shuffle at 100 TB."""
    from pyspark.sql import functions as F

    from remap_spark.engine import load_table
    from remap_spark.plans import explain_str
    from remap_spark.sources import write_bucketed_table

    SF = "/root/testdata/sf0.001"
    # warehouse.dir is a static conf — tables land in ./spark-warehouse
    # (gitignored) and are dropped below
    orders = load_table(spark, SF, "orders")
    cust = load_table(spark, SF, "customer")
    write_bucketed_table(orders, "orders_b", ["o_custkey"], 8, ["o_custkey"])
    write_bucketed_table(cust, "cust_b", ["c_custkey"], 8, ["c_custkey"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast join so the bucket layout is what's tested
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (
            spark.table("orders_b")
            .join(
                spark.table("cust_b"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("cnt"))
        )
        plan = explain_str(j.select("c_mktsegment", "cnt"), "simple")
        # the only exchange allowed is the groupBy's (mktsegment), not
        # the join's
        assert plan.count("Exchange hashpartitioning(o_custkey") == 0, plan
        assert plan.count("Exchange hashpartitioning(c_custkey") == 0, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS cust_b")


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """Hive-partitioned parquet layout (write_parquet partition_cols)
    must turn an equality filter on the partition column into
    PartitionFilters at the scan — at 100 TB, date-partitioning the
    fact table means a one-year query never lists, opens, or reads the
    other years' files at all (stronger than row-group pushdown)."""
    from pyspark.sql import functions as F

    from remap_spark.engine import load_table
    from remap_spark.plans import explain_str
    from remap_spark.sources import write_parquet

    SF = "/root/testdata/sf0.001"
    orders = load_table(spark, SF, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    out = str(tmp_path / "orders_by_year")
    write_parquet(orders, out, partition_cols=["o_year"])

    back = spark.read.parquet(out)
    q = back.where(F.col("o_year") == 1995).groupBy("o_orderpriority").count()
    plan = explain_str(q, "formatted")
    assert "PartitionFilters" in plan and "o_year" in plan.split(
        "PartitionFilters", 1
    )[1].split("\n", 1)[0], plan

    # pruning is real, not cosmetic: the pruned read equals a filtered full read
    want = (
        orders.where(F.col("o_year") == 1995)
        .groupBy("o_orderpriority")
        .count()
        .collect()
    )
    assert sorted(map(tuple, q.collect())) == sorted(map(tuple, want))


def test_json_roundtrip(spark, tmp_path):
    from remap_spark import sources

    docs = sources.read_parquet(spark, f"{SF_DIR}/documents.parquet")
    out = str(tmp_path / "docs_json")
    sources.write(docs, "json", out)
    back = sources.read(
        spark, "json", out,
        schema="doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    assert back.count() == docs.count()
    a = sorted(r["doc_id"] for r in back.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    assert a == b


def test_orc_roundtrip_preserves_schema(spark, tmp_path):
    from remap_spark import sources

    li = sources.read_parquet(spark, f"{SF_DIR}/lineitem.parquet").limit(100)
    out = str(tmp_path / "li_orc")
    sources.write(li, "orc", out)
    back = sources.read(spark, "orc", out)
    assert back.schema == li.schema
    assert back.count() == 100


def test_csv_sink_survives_commas(spark, tmp_path):
    """Unlike the reference's raw "k,v" framing (SURVEY §4.3.4), the
    CSV sink quotes values containing the delimiter."""
    from remap_spark import sources

    df = spark.createDataFrame([("a,b", 1), ("c", 2)], "k string, v int")
    out = str(tmp_path / "csv")
    sources.write(df, "csv", out)
    back = sources.read(spark, "csv", out).orderBy("v")
    assert [r["k"] for r in back.collect()] == ["a,b", "c"]


def test_read_binary_files(spark, tmpfiles):
    from remap_spark.sources import read_binary_files

    (tmpfiles / "img0.bin").write_bytes(b"\x89PNG-fake-0")
    (tmpfiles / "img1.bin").write_bytes(b"\x89PNG-fake-1-longer")
    df = read_binary_files(spark, str(tmpfiles), glob="*.bin")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"img0.bin", "img1.bin"}
    assert bytes(rows["img0.bin"]["content"]) == b"\x89PNG-fake-0"
    assert rows["img1.bin"]["length"] == len(b"\x89PNG-fake-1-longer")
    # glob prunes at listing time: .txt files in the same dir invisible
    assert "a.txt" not in rows


def _make_warc_record(warc_type, uri, payload, extra=""):
    head = (
        f"WARC/1.0\r\nWARC-Type: {warc_type}\r\n"
        + (f"WARC-Target-URI: {uri}\r\n" if uri else "")
        + extra
        + f"Content-Length: {len(payload)}\r\n\r\n"
    )
    return head.encode() + payload + b"\r\n\r\n"


def test_read_warc_plain_and_gzip(spark, tmp_path):
    """WARC source: records located by declared Content-Length (binary
    payloads containing blank lines must NOT split records), gzip
    members inflated by magic, one row per record with headers parsed."""
    import gzip

    from remap_spark.sources import read_warc

    body1 = b"HTTP/1.1 200 OK\r\n\r\n<html>hello\r\n\r\nworld</html>"
    body2 = b"\x00\x01\r\n\r\n\x02binary with blank line"
    warc = (
        _make_warc_record("warcinfo", "", b"software: test\r\n")
        + _make_warc_record("response", "http://example.com/a", body1)
        + _make_warc_record("response", "http://example.com/b", body2)
    )
    (tmp_path / "a.warc").write_bytes(warc)
    (tmp_path / "b.warc.gz").write_bytes(gzip.compress(warc))

    df = read_warc(spark, str(tmp_path))
    rows = sorted(
        (
            (r["filename"].rsplit("/", 1)[-1], r["record_idx"], r["warc_type"],
             r["target_uri"], bytes(r["payload"]))
            for r in df.collect()
        )
    )
    assert len(rows) == 6  # 3 records x 2 files
    plain = [r for r in rows if r[0] == "a.warc"]
    assert [r[2] for r in plain] == ["warcinfo", "response", "response"]
    assert plain[1][3] == "http://example.com/a" and plain[1][4] == body1
    assert plain[2][4] == body2  # blank lines inside payload survived
    gz = [r for r in rows if r[0] == "b.warc.gz"]
    assert [r[4] for r in gz] == [r[4] for r in plain]


def test_warc_http_text_extraction(spark, tmp_path):
    """WARC -> WET: response payloads lose their HTTP header block and
    decode to text; non-response records are dropped."""
    from remap_spark.sources import read_warc, warc_http_text

    body = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>hi there</p>"
    warc = (
        _make_warc_record("warcinfo", "", b"software: test\r\n")
        + _make_warc_record("response", "http://x.test/p", body)
    )
    (tmp_path / "c.warc").write_bytes(warc)
    out = warc_http_text(read_warc(spark, str(tmp_path))).collect()
    assert len(out) == 1
    assert out[0]["target_uri"] == "http://x.test/p"
    assert out[0]["text"] == "<p>hi there</p>"


def test_warc_http_text_multibyte_header(spark, tmp_path):
    """Multibyte bytes BEFORE the header/body boundary must not shift
    the cut: locate() and substring() both operate on the decoded
    string (mixing a character-position locate with a byte-position
    substring desynchronizes on any non-ASCII header byte)."""
    from remap_spark.sources import read_warc, warc_http_text

    body = (
        "HTTP/1.1 200 OK\r\nX-Café: naïve ünïcode\r\n\r\ndöner body"
    ).encode("utf-8")
    warc = _make_warc_record("response", "http://x.test/mb", body)
    (tmp_path / "mb.warc").write_bytes(warc)
    out = warc_http_text(read_warc(spark, str(tmp_path))).collect()
    assert len(out) == 1
    assert out[0]["text"] == "döner body"


def test_read_warc_truncated_emits_sentinel(spark, tmp_path):
    """A malformed/truncated record must surface as a
    warc_type='__parse_error__' row, not silently drop the file's
    remaining bytes."""
    from remap_spark.sources import read_warc

    good = _make_warc_record("response", "http://x.test/ok", b"fine")
    (tmp_path / "t.warc").write_bytes(good + b"GARBAGE-NOT-A-WARC-HEADER")
    rows = sorted(
        (r["record_idx"], r["warc_type"]) for r in read_warc(
            spark, str(tmp_path)
        ).collect()
    )
    assert rows == [(0, "response"), (1, "__parse_error__")]


def test_crawl_to_curation_pipeline(spark, tmp_path):
    """Full ingestion story: WARC bytes -> WET text extraction -> tag
    cleaning -> quality gate, end to end — the Common Crawl entry path
    into the curation operators."""
    from pyspark.sql import functions as F

    from remap_spark.operators.text import clean_text, quality_score
    from remap_spark.sources import read_warc, warc_http_text

    pages = {
        f"http://site.test/{i}": (
            "<html><body>"
            + " ".join(["the quick brown fox and the lazy dog"] * 30)
            + f" page {i}</body></html>"
        )
        for i in range(3)
    }
    warc = b""
    for uri, html in pages.items():
        body = b"HTTP/1.1 200 OK\r\n\r\n" + html.encode()
        warc += _make_warc_record("response", uri, body)
    (tmp_path / "crawl.warc").write_bytes(warc)

    wet = warc_http_text(read_warc(spark, str(tmp_path)))
    docs = clean_text(
        wet.select(F.col("target_uri").alias("doc_id"), "text"),
        id_col="doc_id",
    )
    scored = quality_score(docs, id_col="doc_id").collect()
    assert len(scored) == 3
    # long, stopword-rich, tag-free text must clear the keep gate
    assert all(r["verdict"] == "keep" for r in scored), scored
    cleaned = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert all("<" not in t for t in cleaned.values())


def test_cluster_write_produces_prunable_footer_stats(spark, tmp_path_factory):
    """End-to-end layout proof: a frame range-partitioned and sorted by
    zorder_key writes PARQUET OUTPUT whose row-group min/max footer
    stats (read back with DuckDB's parquet_metadata — the same stats
    any engine prunes on) are tight enough that a box predicate must
    open only a few row groups, while
    the same data written in single-column sort order leaves the
    y-stats near-full-range so almost nothing can be skipped."""
    import glob

    import duckdb
    from pyspark.sql import functions as F

    from remap_spark.operators.layout import zorder_key

    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
    )
    root = str(tmp_path_factory.mktemp("zwrite"))
    clustered = f"{root}/clustered"
    linear = f"{root}/linear"
    grid.withColumn("z_key", zorder_key(["x", "y"], 6)).repartitionByRange(
        16, "z_key"
    ).sortWithinPartitions("z_key").drop("z_key").write.parquet(clustered)
    # single-column sort: tight x stats, useless y stats
    grid.repartitionByRange(16, "x").sortWithinPartitions(
        "x", (F.col("y") * 37) % 64
    ).write.parquet(linear)

    con = duckdb.connect()

    def eligible(path, lo_x, hi_x, lo_y, hi_y):
        q = f"""
        WITH m AS (
          SELECT file_name, row_group_id, path_in_schema,
                 CAST(stats_min AS BIGINT) AS lo,
                 CAST(stats_max AS BIGINT) AS hi
          FROM parquet_metadata('{path}/*.parquet')
          WHERE path_in_schema IN ('x', 'y')
        ),
        rg AS (
          SELECT file_name, row_group_id,
                 MAX(CASE WHEN path_in_schema = 'x' THEN lo END) AS min_x,
                 MAX(CASE WHEN path_in_schema = 'x' THEN hi END) AS max_x,
                 MAX(CASE WHEN path_in_schema = 'y' THEN lo END) AS min_y,
                 MAX(CASE WHEN path_in_schema = 'y' THEN hi END) AS max_y
          FROM m GROUP BY 1, 2
        )
        SELECT COUNT(*) AS total,
               COUNT(*) FILTER (
                 min_x <= {hi_x} AND max_x >= {lo_x}
                 AND min_y <= {hi_y} AND max_y >= {lo_y}
               ) AS open
        FROM rg
        """
        total, open_ = con.execute(q).fetchone()
        return total, open_

    assert len(glob.glob(f"{clustered}/*.parquet")) >= 8
    # predicate on the SECOND dimension only — the case single-column
    # sort cannot prune at all (its y stats span the full range) while
    # the interleaved layout's real footer stats skip most row groups
    zt, zo = eligible(clustered, 0, 63, 35, 42)
    lt, lo_ = eligible(linear, 0, 63, 35, 42)
    assert zt >= 16 and lt >= 16
    assert lo_ == lt, (lo_, lt)  # x-sort: every row group opens
    assert zo * 2 <= zt, (zo, zt)  # z-order: >=half skipped
    assert zo < lo_, (zo, lo_)
