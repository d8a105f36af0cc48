"""Sources (SURVEY.md §2.1): the reference's reader classes re-expressed
as DataFrame scans returning the same logical records.

Every reader yields the reference's ``(k1, v1)`` shape as columns
``(filename, line)`` / ``(filename, text)`` so user map() code ports
directly. Progress tracking (TextFileReader.progress,
remap.py:34-36) is the Spark UI / status tracker — not re-implemented.

Scale: spark.read.text splits large files by
``spark.sql.files.maxPartitionBytes`` — the reference's 1-file-1-task
planning (planner.py:28-39) is strictly worse for skewed file sizes.
XML/HTML need whole-document parsing, so they read via ``wholetext``
(one row per file) and parse inside ``mapInPandas`` — fine for
many-small-files corpora; for huge single XML files a record-delimiter
split would be needed (not in reference scope).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..worker import on_worker


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """TextFileReader (remap.py:20-39): (filename, line) per text line."""
    return spark.read.text(path).select(
        F.input_file_name().alias("filename"), F.col("value").alias("line")
    )


def read_csv(
    spark: SparkSession, path: str, header: bool = True, infer_schema: bool = True
) -> DataFrame:
    """CSV source (reference parses CSV inside user map,
    secondarysort.py:14-17; here it is schema-first)."""
    return spark.read.csv(path, header=header, inferSchema=infer_schema)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_xml_elements(spark: SparkSession, path: str) -> DataFrame:
    """XMLFileReader (remap.py:43-66): parse each whole XML document
    with ElementTree, yield (filename, text) for every element that
    has text — same record stream as the reference's
    ``ET.fromstring(...).iter()`` walk.

    Parsing runs in mapInPandas (Arrow-batched); one input row per
    file via wholetext.
    """
    raw = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("filename"), F.col("value").alias("doc")
    )

    def parse(batches: Iterator) -> Iterator:
        import xml.etree.ElementTree as ET

        import pandas as pd

        for pdf in batches:
            files, texts = [], []
            for fname, doc in zip(pdf["filename"], pdf["doc"]):
                try:
                    root = ET.fromstring(doc)
                except ET.ParseError:
                    continue
                for elem in root.iter():
                    if elem.text is not None:
                        files.append(fname)
                        texts.append(elem.text)
            yield pd.DataFrame({"filename": files, "text": texts})

    return raw.mapInPandas(on_worker(parse), schema="filename string, text string")


def read_html_text(spark: SparkSession, path: str) -> DataFrame:
    """HTMLFileReader (remap.py:68-90): feed each line to an HTMLParser,
    yield the LAST text node seen per line (the reference keeps only
    ``self.text`` — the most recent handle_data — per line,
    remap.py:84-90)."""
    raw = read_text(spark, path)

    def parse(batches: Iterator) -> Iterator:
        from html.parser import HTMLParser

        import pandas as pd

        class LastText(HTMLParser):
            def __init__(self):
                super().__init__(convert_charrefs=True)
                self.text: str | None = None

            def handle_data(self, data: str) -> None:
                stripped = data.strip()
                if stripped:
                    self.text = stripped

        for pdf in batches:
            files, texts = [], []
            # one parser per file, fed line-by-line (reference reuses
            # its parser across lines of a file, remap.py:73-79)
            parsers: dict[str, LastText] = {}
            for fname, line in zip(pdf["filename"], pdf["line"]):
                p = parsers.setdefault(fname, LastText())
                p.text = None
                p.feed(line)
                if p.text is not None:
                    files.append(fname)
                    texts.append(p.text)
            yield pd.DataFrame({"filename": files, "text": texts})

    return raw.mapInPandas(on_worker(parse), schema="filename string, text string")


def read_adjacency(spark: SparkSession, path: str, valued: bool = False) -> DataFrame:
    """Graph file parsing (pagerank.py:13-26 / highest.py:11-24):
    whitespace-separated lines -> (id [, value], neighbors array).
    Pure column expressions — no UDF."""
    lines = spark.read.text(path).select(F.trim("value").alias("line"))
    lines = lines.where(F.length("line") > 0)
    toks = F.split("line", r"\s+")
    if valued:
        return lines.select(
            toks.getItem(0).alias("id"),
            toks.getItem(1).cast("bigint").alias("value"),
            F.slice(toks, 3, 1_000_000).alias("neighbors"),
        )
    return lines.select(
        toks.getItem(0).alias("id"),
        F.slice(toks, 2, 1_000_000).alias("neighbors"),
    )


def adjacency_to_edges(adj: DataFrame) -> DataFrame:
    """Normalize (id, neighbors[]) -> (src, dst) edge relation."""
    return adj.select(
        F.col("id").alias("src"), F.explode("neighbors").alias("dst")
    )


def read_json(
    spark: SparkSession, path: str, schema: str | None = None, multiline: bool = False
) -> DataFrame:
    """Newline-delimited (or multiLine) JSON source. The reference ships
    JSON only as its intermediate value encoding (remap.py:138,158-159);
    here it is a first-class scan. Always pass ``schema`` in production:
    schema inference is an extra full pass over the data — unaffordable
    at 100 TB."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path, multiLine=multiline)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning properties as parquet."""
    return spark.read.orc(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Opaque-blob source for multimodal corpora (images/audio/video as
    bytes + typed metadata): Spark's built-in ``binaryFile`` format,
    yielding (path, modificationTime, length, content). Feed the
    ``content`` column to operators/multimodal (decode / feature
    extraction run over Arrow batches there).

    Scale: the scan lists files distributedly and never splits a blob
    across tasks (a media file must be decoded whole); set
    ``glob`` (pathGlobFilter) to prune at LISTING time, before any
    bytes are read."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


WARC_SCHEMA = (
    "filename string, record_idx int, warc_type string, target_uri string, "
    "content_type string, content_length bigint, payload binary"
)


def read_warc(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """WARC source — the canonical web-crawl archive format (ISO 28500;
    what Common Crawl ships), i.e. THE ingestion format for web-scale
    training corpora. One row per WARC record: (filename, record_idx,
    warc_type, target_uri, content_type, content_length, payload).

    Unit of parallelism is the FILE (binaryFile scan + mapInPandas
    parse): .warc.gz members are not splittable, so one-task-per-file
    is exactly how production crawl pipelines shard — give the job as
    many files as you want tasks (Common Crawl segments ship ~1 GiB
    each, 64k files per crawl). Gzip is detected by magic and inflated
    with stdlib zlib; parsing is pure stdlib byte walking — records are
    located by their declared Content-Length (never by scanning payload
    bytes for separators, which would corrupt binary payloads that
    contain blank lines)."""

    def parse(batches: Iterator) -> Iterator:
        import gzip
        import io

        import pandas as pd

        def records(blob: bytes):
            if blob[:2] == b"\x1f\x8b":
                blob = gzip.decompress(blob)
            pos, idx = 0, 0
            n = len(blob)
            while pos < n:
                # skip inter-record CRLFs
                while pos < n and blob[pos : pos + 2] == b"\r\n":
                    pos += 2
                if pos >= n:
                    break
                hdr_end = blob.find(b"\r\n\r\n", pos)
                head = (
                    blob[pos:hdr_end].decode("utf-8", "replace")
                    if hdr_end >= 0
                    else ""
                )
                lines = head.split("\r\n")
                if hdr_end < 0 or not lines or not lines[0].startswith("WARC/"):
                    # malformed/truncated record: a silent break would
                    # quietly drop the file's remaining records — emit a
                    # sentinel row instead so ingestion pipelines can
                    # detect and quarantine incomplete parses
                    yield (
                        idx,
                        "__parse_error__",
                        "",
                        "",
                        n - pos,
                        blob[pos : pos + 256],
                    )
                    break
                fields = {}
                for ln in lines[1:]:
                    k, _, v = ln.partition(":")
                    fields[k.strip().lower()] = v.strip()
                clen = int(fields.get("content-length", "0"))
                body = blob[hdr_end + 4 : hdr_end + 4 + clen]
                yield (
                    idx,
                    fields.get("warc-type", ""),
                    fields.get("warc-target-uri", ""),
                    fields.get("content-type", ""),
                    clen,
                    body,
                )
                idx += 1
                pos = hdr_end + 4 + clen

        for pdf in batches:
            rows = {
                "filename": [],
                "record_idx": [],
                "warc_type": [],
                "target_uri": [],
                "content_type": [],
                "content_length": [],
                "payload": [],
            }
            for fname, blob in zip(pdf["path"], pdf["content"]):
                for idx, wt, uri, ct, clen, body in records(bytes(blob)):
                    rows["filename"].append(fname)
                    rows["record_idx"].append(idx)
                    rows["warc_type"].append(wt)
                    rows["target_uri"].append(uri)
                    rows["content_type"].append(ct)
                    rows["content_length"].append(clen)
                    rows["payload"].append(body)
            yield pd.DataFrame(rows)

    raw = read_binary_files(spark, path, glob)
    return raw.select("path", "content").mapInPandas(
        on_worker(parse), schema=WARC_SCHEMA
    )


def warc_http_text(warc_df: DataFrame) -> DataFrame:
    """WARC response records -> (target_uri, text): the WET-extraction
    step of a crawl-ingestion pipeline. Strips the HTTP header block
    (everything before the first CRLFCRLF in the payload) and decodes
    the body as UTF-8 (errors replaced). Pure Catalyst expressions —
    no Python: the split/decode run inside codegen, so this is a
    narrow, shuffle-free pass over however many tasks read_warc
    produced. Compose with operators/text.clean_text for tag
    stripping, then the curation pipeline proper."""
    # decode FIRST, then locate+substring both in the string domain:
    # locate() on a binary value implicitly casts to string and returns
    # a CHARACTER position while substring() on binary slices BYTES, so
    # any multibyte sequence before the first CRLFCRLF would
    # desynchronize the two and cut the body at the wrong offset
    body = F.expr(
        "CASE WHEN locate('\\r\\n\\r\\n', decode(payload, 'UTF-8')) > 0 "
        "THEN substring(decode(payload, 'UTF-8'), "
        "     locate('\\r\\n\\r\\n', decode(payload, 'UTF-8')) + 4) "
        "ELSE decode(payload, 'UTF-8') END"
    )
    return (
        warc_df.where(F.col("warc_type") == "response")
        .select(
            "target_uri",
            body.alias("text"),
        )
    )
