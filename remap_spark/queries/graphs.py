"""Graph queries DQ16 (flood-max) and DQ17 (pagerank) plus their
recursive-CTE DuckDB oracles (SURVEY.md §2.13).

Inputs are the reference's own graph fixtures as literals
(FIXTURES.md A2/A3; /root/reference/testdata/graph/graph{1,2}.txt and
/root/reference/testdata/highest/test.txt) — the queries don't depend
on sf_dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import local_frame
from ..functions import ordered
from ..operators.pregel import flood_max, pagerank, pagerank_dangling, pointer_jump

# graph1.txt + graph2.txt adjacency (pagerank input, 10 vertices)
PAGERANK_ADJ: dict[str, list[str]] = {
    "1": ["2", "3", "4", "5", "6", "7", "8", "9", "0"],
    "2": ["3", "5", "6", "8"],
    "3": ["0", "9", "2"],
    "4": ["8", "9", "0"],
    "5": ["8"],
    "6": ["1"],
    "7": ["2", "3", "4"],
    "8": ["0"],
    "9": ["0"],
    "0": ["1"],
}

# highest/test.txt: id value neighbors...
FLOODMAX_VERTS: list[tuple[str, int]] = [("a", 3), ("b", 6), ("c", 2), ("d", 1)]
FLOODMAX_ADJ: dict[str, list[str]] = {
    "a": ["b"],
    "b": ["a", "d"],
    "c": ["b", "d"],
    "d": ["c"],
}


def _edges_df(spark: SparkSession, adj: dict[str, list[str]]) -> DataFrame:
    rows = [(s, d) for s, dsts in adj.items() for d in dsts]
    return local_frame(spark, rows, "src string, dst string")


def dq16_flood_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    verts = local_frame(spark, FLOODMAX_VERTS, "id string, value bigint")
    edges = _edges_df(spark, FLOODMAX_ADJ)
    # literal 4-vertex graph: 2 partitions, not the session's 32 — at
    # real scale callers size num_partitions to their cluster
    return (
        flood_max(verts, edges, num_partitions=2)
        .select(F.col("id").alias("vertex_id"), F.col("value").alias("max_value"))
        .transform(ordered, "vertex_id")
    )


def dq17_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _edges_df(spark, PAGERANK_ADJ)
    verts = local_frame(spark, [(v,) for v in PAGERANK_ADJ], "id string")
    ranks = pagerank(
        verts, edges, num_vertices=10, supersteps=30, num_partitions=2
    )
    return ranks.select(
        F.col("id").alias("vertex_id"), F.round("rank", 5).alias("rank")
    ).transform(ordered, "vertex_id")


# dq17's graph with vertices 5 and 9 turned into SINKS (out-edges
# removed): the dangling-mass case the naive reference semantics drain
DANGLING_ADJ: dict[str, list[str]] = {
    k: v for k, v in PAGERANK_ADJ.items() if k not in ("5", "9")
}


def ext_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True PageRank (operators/pregel.pagerank_dangling): dangling
    sinks redistribute their rank uniformly each superstep via the
    per-step global aggregate — Pregel's aggregator concept. Total
    rank stays 1 (asserted in tests); the naive dq17 semantics would
    drain it through the sinks."""
    edges = _edges_df(spark, DANGLING_ADJ)
    verts = local_frame(spark, [(v,) for v in PAGERANK_ADJ], "id string")
    ranks = pagerank_dangling(
        verts, edges, num_vertices=10, supersteps=10, num_partitions=2
    )
    return ranks.select(
        F.col("id").alias("vertex_id"), F.round("rank", 5).alias("rank")
    ).transform(ordered, "vertex_id")


# Pointer-jumping forest: a depth-12 chain rooted at 12, a 5-leaf star
# rooted at 20, and an isolated self-root 30 — deep enough that the
# O(log depth) doubling takes 4 supersteps (vs 12 for naive chasing),
# exercising the arbitrary-destination messaging contract
# (module_vertex.py:94-96 ``forward`` to any id).
PTR_FOREST: list[tuple[int, int]] = (
    [(i, i + 1) for i in range(12)]  # chain 0->1->...->12
    + [(12, 12)]
    + [(i, 20) for i in range(15, 20)]  # star leaves 15..19 -> 20
    + [(20, 20), (30, 30)]
)


def dq40_pointer_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    verts = local_frame(spark, PTR_FOREST, "id bigint, ptr bigint")
    return (
        pointer_jump(verts, num_partitions=2)
        .select(F.col("id").alias("vertex_id"), F.col("root").alias("root_id"))
        .transform(ordered, "vertex_id")
    )


def _values_sql(rows: list[tuple]) -> str:
    return ", ".join(
        "(" + ", ".join(repr(x) for x in r) + ")" for r in rows
    )


def _edge_values(adj: dict[str, list[str]]) -> str:
    return _values_sql([(s, d) for s, dsts in adj.items() for d in dsts])


GRAPH_ORACLES: dict[str, str] = {
    # reachability fixpoint: max_value(v) = MAX(value(u)) over all u
    # with a path u ->* v (including v itself)
    "dq16_flood_max": f"""
        WITH RECURSIVE
        verts(id, value) AS (VALUES {_values_sql(FLOODMAX_VERTS)}),
        edges(src, dst) AS (VALUES {_edge_values(FLOODMAX_ADJ)}),
        reach(origin, v) AS (
            SELECT id, id FROM verts
            UNION
            SELECT r.origin, e.dst FROM reach r JOIN edges e ON e.src = r.v
        )
        SELECT r.v AS vertex_id, MAX(vt.value) AS max_value
        FROM reach r JOIN verts vt ON vt.id = r.origin
        GROUP BY r.v ORDER BY vertex_id
    """,
    # 30 rank updates; contribution rank/outdeg; no dangling handling —
    # exact pagerank.py:28-45 semantics (see operators/pregel.pagerank)
    "dq17_pagerank": f"""
        WITH RECURSIVE
        edges(src, dst) AS (VALUES {_edge_values(PAGERANK_ADJ)}),
        outdeg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg
                   FROM edges GROUP BY src),
        pr(iter, id, rank) AS (
            SELECT 0, src, CAST(1.0 AS DOUBLE) / 10 FROM outdeg
            UNION ALL
            SELECT r.iter + 1, e.dst,
                   CAST(0.15 AS DOUBLE) / 10
                     + CAST(0.85 AS DOUBLE) * SUM(r.rank / od.deg)
            FROM pr r
            JOIN outdeg od ON od.src = r.id
            JOIN edges e ON e.src = r.id
            WHERE r.iter < 30
            GROUP BY r.iter, e.dst
        )
        SELECT id AS vertex_id, ROUND(rank, 5) AS rank
        FROM pr WHERE iter = 30 ORDER BY vertex_id
    """,
    # chase every vertex's ptr chain to its self-pointing root; each
    # path visits the root exactly once, so the WHERE yields one row
    # per vertex
    "dq40_pointer_jump": f"""
        WITH RECURSIVE
        v(id, ptr) AS (VALUES {_values_sql(PTR_FOREST)}),
        chase(id, cur) AS (
            SELECT id, id FROM v
            UNION ALL
            SELECT c.id, vv.ptr FROM chase c
            JOIN v vv ON vv.id = c.cur
            WHERE vv.ptr <> c.cur
        )
        SELECT CAST(c.id AS BIGINT) AS vertex_id,
               CAST(c.cur AS BIGINT) AS root_id
        FROM chase c JOIN v ON v.id = c.cur
        WHERE v.ptr = c.cur
        ORDER BY vertex_id
    """,
}


def dq42_star_components(spark, sf_dir):
    """O(log n) connected components (operators/pregel.
    connected_components_star, Kiveris et al. SOCC'14) on an ADVERSARIAL
    long-chain graph: customer keys linked i -> i+1 with a break every
    50 keys — 50-node path components whose diameter would cost
    flood-min 50 rounds; the star operations converge in ~6. The oracle
    is the closed-form component label floor(i/50)*50 (no recursion
    needed — the chain structure is arithmetic)."""
    from pyspark.sql import functions as F

    from ..engine import load_table
    from ..operators.pregel import connected_components_star

    k = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("i")
    )
    a, b = k.alias("a"), k.alias("b")
    edges = (
        a.join(b, F.col("b.i") == F.col("a.i") + 1)
        .where((F.col("a.i") + 1) % 50 != 0)
        .select(F.col("a.i").alias("src"), F.col("b.i").alias("dst"))
    )
    # size the per-round shuffles to the customer SCAN width, not the
    # session shuffle default the self-join above inherits — same
    # data-proportional convention as the other component queries
    n_parts = min(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        max(4, k.rdd.getNumPartitions()),
    )
    cc = connected_components_star(edges, num_partitions=n_parts)
    return (
        cc.groupBy("component")
        .agg(F.count("*").alias("n_nodes"))
        .transform(ordered, "component")
    )


GRAPH_ORACLES["dq42_star_components"] = """
    WITH k AS (SELECT c_custkey AS i FROM customer),
    e AS (
      SELECT a.i AS s, b.i AS d FROM k a JOIN k b ON b.i = a.i + 1
      WHERE (a.i + 1) % 50 <> 0
    ),
    nodes AS (SELECT s AS n FROM e UNION SELECT d AS n FROM e)
    SELECT CAST(FLOOR(n / 50.0) * 50 AS BIGINT) AS component,
           COUNT(*) AS n_nodes
    FROM nodes GROUP BY 1 ORDER BY 1
"""


def _pagerank_dangling_oracle(steps: int = 10, d: float = 0.85, n: int = 10) -> str:
    """Unrolled per-step CTEs (MATERIALIZED — each step is referenced
    twice, inlining would double the tree per step). All literals cast
    to DOUBLE: DuckDB parses 0.85 as DECIMAL and exact decimal
    arithmetic would diverge from Spark's IEEE doubles."""
    ctes = [
        f"verts(id) AS (VALUES {_values_sql([(v,) for v in PAGERANK_ADJ])})",
        f"edges(src, dst) AS (VALUES {_edge_values(DANGLING_ADJ)})",
        "deg AS (SELECT src, COUNT(*) AS dg FROM edges GROUP BY src)",
        f"r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / {n} AS rank FROM verts)",
    ]
    dd = f"CAST({d} AS DOUBLE)"
    for k in range(steps):
        ctes.append(
            f"""d{k} AS MATERIALIZED (
          SELECT COALESCE(SUM(rank), CAST(0.0 AS DOUBLE)) AS dang FROM r{k}
          WHERE id NOT IN (SELECT src FROM edges))"""
        )
        ctes.append(
            f"""r{k + 1} AS MATERIALIZED (
          SELECT v.id,
                 (1 - {dd}) / {n}
                   + {dd} * (COALESCE(inc.s, CAST(0.0 AS DOUBLE))
                             + d{k}.dang / {n}) AS rank
          FROM verts v
          LEFT JOIN (
            SELECT e.dst AS id, SUM(r.rank / deg.dg) AS s
            FROM r{k} r JOIN edges e ON e.src = r.id
            JOIN deg ON deg.src = e.src
            GROUP BY e.dst) inc ON inc.id = v.id
          CROSS JOIN d{k})"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT id AS vertex_id, ROUND(rank, 5) AS rank
        FROM r{steps} ORDER BY vertex_id"""
    )


GRAPH_ORACLES["ext_pagerank_dangling"] = _pagerank_dangling_oracle()


def _derived_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~500-vertex graph derived deterministically from the orders
    fixture (u = o_orderkey % 500, v = o_custkey % 500, u != v,
    distinct) — big enough for non-vacuous triangle / shortest-path
    answers where the reference's 10-vertex literals are not."""
    from ..engine import load_table

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            (F.col("o_orderkey") % 500).alias("u"),
            (F.col("o_custkey") % 500).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def ext_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count (operators/pregel.triangle_count) over the
    orders-derived graph: id-oriented edge-iterator, each triangle
    found exactly once — integer-exact, so the oracle's self-join SQL
    hash-matches."""
    from ..operators.pregel import triangle_count

    e = _derived_graph_edges(spark, sf_dir)
    return triangle_count(e, src="u", dst="v")


def ext_graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths (operators/pregel.sssp, Bellman-
    Ford flood-min) from vertex 0 over the symmetrized orders-derived
    graph with deterministic weights (u+v) % 7 + 1. The oracle is a
    bounded recursive-CTE Bellman-Ford (all path lengths < 200 —
    far above any shortest path on this diameter) reduced by MIN."""
    from ..operators.pregel import sssp

    und = _derived_graph_edges(spark, sf_dir)
    dir_edges = und.select("u", "v").union(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    weighted = dir_edges.select(
        F.col("u").alias("src"),
        F.col("v").alias("dst"),
        ((F.col("u") + F.col("v")) % 7 + 1).alias("wt"),
    )
    out = sssp(weighted, source=0)
    return out.select(F.col("id"), F.col("dist")).transform(ordered, "id")


GRAPH_ORACLES["ext_graph_triangles"] = """
    WITH e0 AS (
      SELECT DISTINCT o_orderkey % 500 AS u, o_custkey % 500 AS v
      FROM orders WHERE o_orderkey % 500 <> o_custkey % 500
    ),
    und AS (
      SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b FROM e0
    ),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    verts AS (
      SELECT COUNT(*) AS n_vertices FROM (
        SELECT a AS v FROM und UNION SELECT b FROM und
      )
    )
    SELECT n_vertices,
           (SELECT COUNT(*) FROM und) AS n_edges,
           (SELECT COUNT(*) FROM tri) AS n_triangles
    FROM verts
"""

GRAPH_ORACLES["ext_graph_sssp"] = """
    WITH RECURSIVE e0 AS (
      SELECT DISTINCT o_orderkey % 500 AS u, o_custkey % 500 AS v
      FROM orders WHERE o_orderkey % 500 <> o_custkey % 500
    ),
    dir AS (
      SELECT u AS s, v AS d FROM e0 UNION SELECT v, u FROM e0
    ),
    wts AS (SELECT s, d, (s + d) % 7 + 1 AS wt FROM dir),
    walk(v, dist) AS (
      SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      UNION
      SELECT w.d, walk.dist + w.wt
      FROM walk JOIN wts w ON w.s = walk.v
      WHERE walk.dist + w.wt < 200
    )
    SELECT v AS id, MIN(dist) AS dist FROM walk GROUP BY v ORDER BY id
"""
