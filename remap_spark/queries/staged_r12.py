"""Round-12 staged driver registration.

The r11 window was full; the r12 window carried the 49 remaining
r08-latest rows, leaving room for exactly ONE promotion. The
crawl-curation composition the r10 verdict earmarked as the natural
200th registry name staged HERE — same contract as staged_r7..r11: a deterministic
``(spark, sf_dir) -> DataFrame`` wrapper plus the exact DuckDB
oracle, replayed at both test scale factors by
``tests/test_staged_r12.py`` and plan-swept for unbounded joins.

The composition is the crawl-pipeline middle policy end-to-end:
URL canonicalization (operators/text.normalize_url — mixed-case
authority + a utm tracking param are constructed so the
normalization is load-bearing), host scoping (url_host; NULL urls
coalesce to the '' bucket), and per-host paragraph dedup
(operators/dedup.dedup_paragraphs_per_host) — within-site
boilerplate dies, cross-site repetition survives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import load_table
from ..functions import ordered
from ..operators import dedup as dd


def ext_dedup_per_host(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host paragraph dedup over the curation composition
    (operators/dedup.dedup_paragraphs_per_host over normalize_url +
    url_host). The fixture corpus has no urls and no cross-document
    duplicate lines, so the query CONSTRUCTS both deterministically
    (mirrored in the oracle):

    - url: ``https://<SOURCE>.Example.COM/page/<doc_id>?utm_source=f``
      for most docs — mixed-case authority + a utm param, so the
      canonical host ``<source>.example.com`` only comes out right if
      normalize_url/url_host actually run; every doc_id % 11 == 0 doc
      gets a NULL url (scopes to the '' host bucket — pins the
      null-key coalesce fix).
    - boilerplate: every doc_id % 5 == 0 doc gets a SHARED header
      line (survives once PER HOST — the policy's defining difference
      from dedup_paragraphs_global, which would keep it once
      corpus-wide); every doc_id % 3 == 0 doc gets a per-source
      footer line (within-site boilerplate, deduped to one copy per
      host)."""
    docs = load_table(spark, sf_dir, "documents")
    shared = F.lit("shared cross-site cookie notice")
    aug = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.lit(None).cast("string"))
        .otherwise(
            F.concat(
                F.lit("https://"),
                F.upper(F.col("source")),
                F.lit(".Example.COM/page/"),
                F.col("doc_id").cast("string"),
                F.lit("?utm_source=f"),
            )
        )
        .alias("url"),
        F.concat(
            F.when(F.col("doc_id") % 5 == 0, F.concat(shared, F.lit("\n")))
            .otherwise(F.lit("")),
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("\nfooter boilerplate of "), F.col("source")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = dd.dedup_paragraphs_per_host(aug)
    return out.select(
        F.col("doc").alias("doc_id"), "host", "text", "n_segments", "n_removed"
    ).transform(ordered, "doc_id")


_PER_HOST_SQL = """
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN ''
                  ELSE source || '.example.com' END AS host,
             CASE WHEN doc_id % 5 = 0
                  THEN 'shared cross-site cookie notice' || chr(10)
                  ELSE '' END
             || text
             || CASE WHEN doc_id % 3 = 0
                     THEN chr(10) || 'footer boilerplate of ' || source
                     ELSE '' END AS text
      FROM documents
    ),
    segs AS (
      SELECT doc_id AS doc, host, i AS pos, seg
      FROM (
        SELECT doc_id, host,
               unnest(string_split(text, chr(10))) AS seg,
               generate_subscripts(string_split(text, chr(10)), 1) AS i
        FROM aug
      ) WHERE trim(seg) <> ''
    ),
    marked AS (
      SELECT doc, host, pos, seg,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY host, seg
                                          ORDER BY doc, pos) = 1
                  THEN 1 ELSE 0 END AS keep
      FROM segs
    )
    SELECT doc AS doc_id, host,
           COALESCE(string_agg(CASE WHEN keep = 1 THEN seg END,
                               chr(10) ORDER BY pos), '') AS text,
           COUNT(*) AS n_segments,
           CAST(SUM(1 - keep) AS BIGINT) AS n_removed
    FROM marked GROUP BY doc, host ORDER BY doc_id
"""


STAGED_R12_QUERIES = {
    "ext_dedup_per_host": ext_dedup_per_host,
}

STAGED_R12_ORACLES = {
    "ext_dedup_per_host": _PER_HOST_SQL,
}
