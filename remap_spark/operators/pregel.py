"""Pregel-style vertex programs on DataFrames (SURVEY.md §2.5, §3.3).

The reference implements BSP with a nanomsg SURVEYOR barrier, a C
message broker, and per-worker vertex dicts
(/root/reference/daemons/initiator/module_vertex.py:68-172,
/root/reference/daemons/core/module_vertex.py:106-180,
/root/reference/daemons/vertexbroker/src/main.c:26-87). On Spark all
three collapse into one shuffle per superstep:

    msgs = vertices ⋈ edges --groupBy(dst)--> inbox
    vertices' = vertices ⟕ inbox -> update expression

The superstep barrier is the Spark action; message routing is the
shuffle on ``dst``; halt voting is an aggregate over a ``changed``
column (module_vertex.py:169-179 semantics).

Scale design:
- vertices and edges are hash-partitioned on the join key ONCE up
  front (``repartition(id)`` / ``repartition(src)``) so every
  superstep's join reuses the same partitioning instead of
  re-shuffling both sides each iteration;
- lineage is cut with ``localCheckpoint`` every ``_CHECKPOINT_INTERVAL``
  (10) supersteps — without this the plan doubles per iteration and the
  driver OOMs compiling it long before data size matters (SURVEY §7.2
  hard part (a));
- convergence check is a single tiny aggregate per superstep;
- the flood fixpoint (flood_max, connected_components, sssp) runs a
  graph of at most _DRIVER_MAX_EDGES edges on the driver: one bounded
  collect both picks the tier and fetches the graph, so a tiny graph
  costs that collect, not a job per shuffle stage per round. The cap
  is a measured constant, not a parameter (see _flood_fixpoint).
"""

from __future__ import annotations

import operator
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..engine import local_frame

# Supersteps between eager lineage cuts of a non-voting Pregel loop.
_CHECKPOINT_INTERVAL = 10


def _input_width(*frames: DataFrame) -> int:
    """Data-proportional shuffle width of a graph loop: the inputs'
    scan width (planning metadata, no job), at least 4, capped by the
    session shuffle setting — a 10-vertex fixture iterates on a handful
    of tasks, a 100 TB edge set still gets the full configured width."""
    conf_n = int(frames[0].sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return min(conf_n, max(4, *(f.rdd.getNumPartitions() for f in frames)))


class Pregel:
    """Superstep loop over (vertices, edges) DataFrames.

    Parameters
    ----------
    vertices : DataFrame with column ``id`` plus arbitrary state columns.
    edges : DataFrame with columns ``src``, ``dst``.
    msg : Column expression over the vertex⋈edge row (vertex state
        columns + ``src``/``dst``) producing the message value sent
        along each edge — the reference's ``send_fn`` payload
        (pagerank.py:40-42). Ignored when ``messages`` is given.
    messages : optional callable (vertices, superstep) ->
        DataFrame[dst, msg] — the FULL reference messaging contract:
        ``compute`` may ``forward`` to ANY vertex id, not only static
        out-edges (module_vertex.py:94-96 ``forward``/``subscribe``;
        the C relay routes purely by id prefix, vertexbroker/src/main.c:
        67-87). Relationally that is "the message set is any DataFrame
        derivable from current vertex state": a self-join for pointer
        jumping, a constant relation for broadcast-to-root, the
        edge-join as the special case. When given, ``edges``/``msg``
        are unused.
    agg : callable Column -> Column combining the inbox, e.g. F.sum /
        F.max — replaces the per-vertex ``messages`` list iteration
        (pagerank.py:32-34).
    update : callable (vertex_df_alias, inbox_col, superstep) ->
        list[Column] producing the new state columns (must include
        ``id``); the reference's ``compute`` (pagerank.py:28-45).
    vote_halt : optional Column over (old, new) state meaning "this
        vertex votes halt" (highest.py:30-38); when every vertex votes
        halt the loop stops (module_vertex.py:169-179). None -> run
        exactly ``max_supersteps``. May reference aggregator columns.
    aggregator : optional list of aliased AGGREGATE Columns — Pregel's
        global-aggregator concept, the reference's initiator observing
        every worker at the superstep barrier (initiator/
        module_vertex.py:115-141). Each superstep the expressions are
        evaluated over the PRE-update vertex state and the single-row
        result is cross-joined into the update row as a BROADCAST
        relation, so ``update`` and ``vote_halt`` can reference the
        aliases by name (dangling PageRank mass, convergence deltas,
        global counters, adaptive damping). Staying in-plan is the
        point: fetching the value with .first() would cost one extra
        driver action per superstep (~1 s job floor each); as a
        broadcast subtree the supersteps keep unrolling lazily and the
        existing checkpoint/halt actions drive everything. At scale the
        aggregate is a combiner-style partial over the vertex
        partitions — no extra data movement.
    """

    def __init__(
        self,
        vertices: DataFrame,
        edges: DataFrame | None = None,
        msg: Column | None = None,
        agg: Callable[[Column], Column] = F.min,
        update: Callable[[DataFrame, Column, int], list[Column]] | None = None,
        vote_halt: Column | None = None,
        max_supersteps: int = 30,
        num_partitions: int | None = None,
        messages: Callable[[DataFrame, int], DataFrame] | None = None,
        aggregator: list[Column] | None = None,
    ):
        if messages is None and (edges is None or msg is None):
            raise ValueError("Pregel needs either (edges, msg) or a messages builder")
        self.msg = msg
        self.messages = messages
        self.agg = agg
        self.update = update
        self.vote_halt = vote_halt
        self.aggregator = aggregator
        self.max_supersteps = max_supersteps
        frames = [vertices] if edges is None else [vertices, edges]
        n = _input_width(*frames) if num_partitions is None else num_partitions
        self.n = n
        # co-partition once; every superstep's join then lines up
        self.vertices = vertices.repartition(n, "id")
        self.edges = (
            edges.repartition(n, "src").localCheckpoint(eager=True)
            if edges is not None
            else None
        )

    def run(self) -> DataFrame:
        vertices = self.vertices.localCheckpoint(eager=True)
        for step in range(self.max_supersteps + 1):
            # explicit repartition pins the message-routing shuffle to
            # self.n partitions (a tiny graph shouldn't schedule the
            # session-wide shuffle width every superstep; a huge one
            # passes num_partitions to match its cluster) and the
            # groupBy + the vertex join below reuse that partitioning.
            # Column references are BY NAME, not by DataFrame[attr]:
            # when supersteps unroll without a checkpoint, the edges
            # subtree appears multiple times in one plan and id-based
            # references become ambiguous; names stay unique because
            # vertex state and edge columns are disjoint by contract
            # (id/state vs src/dst).
            if self.messages is not None:
                outbox = self.messages(vertices, step).select(
                    F.col("dst").alias("_dst"), F.col("msg").alias("_msg")
                )
            else:
                outbox = vertices.join(
                    self.edges, F.col("id") == F.col("src")
                ).select(F.col("dst").alias("_dst"), self.msg.alias("_msg"))
            inbox = (
                outbox.repartition(self.n, "_dst")
                .groupBy("_dst")
                .agg(self.agg(F.col("_msg")).alias("_inbox"))
            )
            joined = vertices.join(
                inbox, F.col("id") == F.col("_dst"), "left"
            )
            if self.aggregator is not None:
                joined = joined.crossJoin(
                    F.broadcast(vertices.agg(*self.aggregator))
                )
            cols = self.update(vertices, F.col("_inbox"), step)
            if self.vote_halt is not None:
                cols = cols + [self.vote_halt.alias("_halt")]
            new_vertices = joined.select(*cols)
            # pre-checkpoint plan of the latest superstep, kept for plan
            # tests (the checkpointed output is a LogicalRDD leaf, so
            # the superstep's join/aggregator shape is invisible there)
            self.last_plan = new_vertices
            # Lineage policy: every superstep ends in a LAZY
            # localCheckpoint — that truncates the SQL plan to a
            # LogicalRDD leaf immediately (Catalyst only ever analyzes
            # one-superstep plans; an unrolled K-superstep self-join
            # plan costs seconds of driver-side DeduplicateRelations)
            # while deferring materialization. Jobs are then driven by:
            # voting loops — the per-step halt aggregate (which
            # materializes the step's checkpoint as a side effect, one
            # job per superstep instead of checkpoint+agg); non-voting
            # loops — an EAGER cut every _CHECKPOINT_INTERVAL supersteps
            # (one job per interval; the intermediate lazy checkpoints
            # materialize inside it).
            eager = self.vote_halt is None and (
                step % _CHECKPOINT_INTERVAL == _CHECKPOINT_INTERVAL - 1
                or step == self.max_supersteps
            )
            new_vertices = new_vertices.localCheckpoint(eager=eager)

            if self.vote_halt is not None:
                all_halt = new_vertices.agg(
                    F.min(F.col("_halt").cast("int")).alias("h")
                ).first()["h"]
                vertices = new_vertices.drop("_halt")
                if all_halt == 1:
                    break
            else:
                vertices = new_vertices
        return vertices


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    num_vertices: int,
    supersteps: int = 30,
    damping: float = 0.85,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact reference semantics (pagerank.py:28-45): rank updates run
    at supersteps 1..``supersteps``; contribution = rank/outdeg; a
    vertex with an empty inbox gets rank 0.15/N (sum over empty inbox
    is 0 in the reference loop, pagerank.py:31-36). Dangling mass is
    NOT redistributed — faithfully naive.

    vertices: (id); edges: (src, dst). Returns (id, rank).
    """
    base = F.lit(1.0 - damping) / F.lit(float(num_vertices))
    outdeg = edges.groupBy("src").agg(F.count("*").alias("_deg"))
    # outdeg is |V|-sized: broadcast it into the per-superstep join so
    # the only shuffle per superstep is the inbox groupBy(dst)
    edges_deg = edges.join(F.broadcast(outdeg), "src")

    init = vertices.select(
        "id", (F.lit(1.0) / F.lit(float(num_vertices))).alias("rank")
    )

    def update(v, inbox, step):
        if step == 0:  # superstep 0 only sends (pagerank.py:30 guard)
            return [v["id"], v["rank"]]
        return [
            v["id"],
            (base + F.lit(damping) * F.coalesce(inbox, F.lit(0.0))).alias("rank"),
        ]

    p = Pregel(
        vertices=init,
        edges=edges_deg,
        msg=F.col("rank") / F.col("_deg"),
        agg=F.sum,
        update=update,
        max_supersteps=supersteps,
        num_partitions=num_partitions,
    )
    return p.run()


def pagerank_dangling(
    vertices: DataFrame,
    edges: DataFrame,
    num_vertices: int,
    supersteps: int = 10,
    damping: float = 0.85,
    num_partitions: int | None = None,
) -> DataFrame:
    """PageRank with dangling-mass redistribution — the correction the
    reference's naive loop (pagerank.py:28-45, DQ17) skips: a sink
    vertex's rank re-enters uniformly each step, so total rank stays 1
    instead of draining. Implemented on the GENERIC ``Pregel``
    aggregator hook: the dangling sum is an aggregate over the
    pre-update vertex state, visible to every vertex's update as a
    broadcast single-row relation (see ``Pregel.aggregator`` — the
    in-plan formulation; a .first() per superstep measured 8.5 s of
    pure driver floor for 10 steps).

    Per superstep: one rank-keyed shuffle for the inbox (identical to
    pagerank) plus the combiner-style dangling sum — no extra data
    movement at any scale. Danglingness is a STATIC vertex property,
    so it is computed ONCE up front as a state flag instead of an
    anti-join per superstep. rank update: (1-d)/N + d*(inbox + dang/N).
    """
    p = pagerank_dangling_pregel(
        vertices, edges, num_vertices, supersteps, damping, num_partitions
    )
    return p.run().select("id", "rank")


def pagerank_dangling_pregel(
    vertices: DataFrame,
    edges: DataFrame,
    num_vertices: int,
    supersteps: int = 10,
    damping: float = 0.85,
    num_partitions: int | None = None,
) -> Pregel:
    """The Pregel program behind ``pagerank_dangling``, returned
    un-run so tests can inspect ``last_plan`` after ``run()``."""
    srcs = edges.select("src").distinct()
    outdeg = edges.groupBy("src").agg(F.count("*").alias("_deg"))
    edges_deg = edges.join(F.broadcast(outdeg), "src")
    # literal-identical arithmetic to the SQL oracle: (1 - d)/N, d*(...)
    base = (F.lit(1.0) - F.lit(damping)) / F.lit(float(num_vertices))
    init = vertices.join(
        F.broadcast(srcs), vertices["id"] == srcs["src"], "left"
    ).select(
        "id",
        (F.lit(1.0) / F.lit(float(num_vertices))).alias("rank"),
        F.col("src").isNull().alias("_dangling"),
    )

    def update(v, inbox, step):
        new_rank = base + F.lit(damping) * (
            F.coalesce(inbox, F.lit(0.0))
            + F.col("_dang") / F.lit(float(num_vertices))
        )
        return [v["id"], new_rank.alias("rank"), v["_dangling"]]

    return Pregel(
        vertices=init,
        edges=edges_deg,
        msg=F.col("rank") / F.col("_deg"),
        agg=F.sum,
        update=update,
        aggregator=[
            F.sum(
                F.when(F.col("_dangling"), F.col("rank")).otherwise(F.lit(0.0))
            ).alias("_dang")
        ],
        # steps 0..supersteps-1 == exactly `supersteps` rank updates
        max_supersteps=supersteps - 1,
        num_partitions=num_partitions,
    )


# Largest edge relation (and vertex relation) that _flood_fixpoint
# relaxes on the driver; above it the Spark block loop runs. Sized so
# that at the cap one bounded collect, the Python rounds and the
# result's local_frame cost less than ONE Spark block. Measured on
# parquet inputs (local[4], 4-core VM, median of 3, two rounds each):
# at 50k edges the driver tier took 1.3-2.2 s wall and 2.5-5.5 CPU-s
# against 1.5-2.8 s and 4.5-8.1 CPU-s for one Spark block, over a
# chain, a random graph and weighted sssp; at 100k it lost on wall
# time (2.4-2.7 s against 1.6-2.2 s).
_DRIVER_MAX_EDGES = 50_000


def _flood_round(
    cur: DataFrame, edges: DataFrame, direction: str, weight: str | None
) -> DataFrame:
    """One synchronous flood round, lazily: every vertex sends its
    ``value`` (plus the edge's ``weight`` column, when given) along its
    out-edges, then keeps the max (``direction="max"``) or min of its
    old value and its inbox. Returns (id, value, _changed) with
    ``_changed`` this round's delta. Messages to ids absent from
    ``cur`` are dropped by the left join; null messages and a null old
    value are skipped by max/min and greatest/least."""
    combine, pick = (F.max, F.greatest) if direction == "max" else (F.min, F.least)
    msg = F.col("_msg") + F.col(weight) if weight else F.col("_msg")
    # name-based (USING) joins throughout: `cur` accumulates the
    # lineage of `edges` across the unrolled rounds, so
    # dataframe-attribute references (edges["dst"]) would be
    # ambiguous self-join columns from round 2 on
    inbox = (
        cur.select(F.col("id").alias("src"), F.col("value").alias("_msg"))
        .join(edges, "src")
        .select(F.col("dst").alias("id"), msg.alias("_m"))
        .groupBy("id")
        .agg(combine("_m").alias("_inbox"))
    )
    new_val = pick(F.col("value"), F.coalesce(F.col("_inbox"), F.col("value")))
    return cur.join(inbox, "id", "left").select(
        "id",
        new_val.alias("value"),
        (new_val != F.col("value")).cast("int").alias("_changed"),
    )


def _python_exact(schema: T.StructType, edge_schema: T.StructType) -> bool:
    """True when Python's equality, ordering and ``+`` on the collected
    values are Spark's: integral or plain-string keys (id, src, dst all
    of one family), integral, double or plain-string values. Other
    types (float, decimal, binary, collated strings) stay in Spark."""
    string = T.StringType()
    keys = [schema["id"].dataType] + [
        edge_schema[c].dataType for c in ("src", "dst")
    ]
    value = schema["value"].dataType
    return (
        all(isinstance(k, T.IntegralType) for k in keys)
        or all(k == string for k in keys)
    ) and (isinstance(value, (T.IntegralType, T.DoubleType)) or value == string)


def _collect_small_graph(
    vertices: DataFrame, edges: DataFrame, weight: str | None
) -> tuple[list, list] | None:
    """The tier decision: ONE bounded driver action over the vertex
    and edge rows tagged into a single flat union, at most
    2 * (_DRIVER_MAX_EDGES + 1) rows. Returns ((id, value) rows,
    (src, dst[, weight]) rows) when neither side exceeds the cap
    (collecting the full bound means one side does), else None. A
    graph above the cap pays only the rows it takes to reach that
    bound. Both sides travel in one collect of ONE coalesced partition:
    the limit then stops the single task's scan at the bound, where an
    incremental take would pay a job per scan-up step and a task per
    input partition. Flat rows because nested struct rows cost the
    Python side about twice as much."""
    wt = [F.col(weight).alias("_w")] if weight else []
    no_wt = (
        [F.lit(None).cast(edges.schema[weight].dataType).alias("_w")]
        if weight
        else []
    )
    both = edges.select(
        F.lit(True).alias("_edge"),
        F.col("src").alias("id"),
        "dst",
        *wt,
        F.lit(None).cast(vertices.schema["value"].dataType).alias("value"),
    ).unionByName(
        vertices.select(
            F.lit(False).alias("_edge"),
            "id",
            F.lit(None).cast(edges.schema["dst"].dataType).alias("dst"),
            *no_wt,
            "value",
        )
    )
    rows = both.coalesce(1).limit(2 * _DRIVER_MAX_EDGES + 2).collect()
    e_rows = [tuple(r[1:-1]) for r in rows if r[0]]
    v_rows = [(r[1], r[-1]) for r in rows if not r[0]]
    if len(e_rows) > _DRIVER_MAX_EDGES or len(v_rows) > _DRIVER_MAX_EDGES:
        return None
    return v_rows, e_rows


def _nan_top(x):
    # Spark orders NaN above every double and equal to itself
    return (True, 0.0) if x != x else (False, x)


def _flood_local(
    v_rows: list,
    e_rows: list,
    direction: str,
    weighted: bool,
    value_type: T.DataType,
    max_iter: int,
    max_block: int,
) -> tuple[list, list]:
    """The Spark tier's rounds replayed in Python, row for row;
    returns the (id, value) columns.

    Rounds are synchronous and follow the Spark tier's block schedule
    (2, 4, ... ``max_block`` rounds) with the same stop rule: stop
    after a block whose LAST round changed no non-null value
    (``null != x`` is null there, so a null vertex adopting its inbox
    does not count as a change). Each round relaxes only the out-edges
    of vertices whose value changed in the previous round: a message
    from an unchanged vertex repeats one its target already absorbed,
    so the frontier gives the same state as re-sending everything.
    Duplicate ids stay separate rows that share one inbox, as in the
    join; null ids neither send nor receive."""
    better = operator.gt if direction == "max" else operator.lt
    if isinstance(value_type, T.DoubleType):
        order = better

        def better(a, b):
            return order(_nan_top(a), _nan_top(b))

    # the value column's type after one round (sssp: bigint + double
    # weight -> double), so arithmetic and comparisons match Spark's
    cast = float if isinstance(value_type, T.DoubleType) else (lambda x: x)
    ids = [r[0] for r in v_rows]
    vals = [None if r[1] is None else cast(r[1]) for r in v_rows]
    slots: dict = {}
    for i, vid in enumerate(ids):
        if vid is not None:
            slots.setdefault(vid, []).append(i)
    out: dict = {}
    for r in e_rows:
        wt = r[2] if weighted else None
        if r[0] in slots and r[1] in slots and not (weighted and wt is None):
            out.setdefault(r[0], []).append((r[1], wt))
    frontier = set(slots)
    steps, block_size = 0, 2
    while steps < max_iter:
        block = min(block_size, max_iter - steps)
        block_size = min(block_size * 2, max_block)
        for _ in range(block):
            inbox: dict = {}
            for src in frontier:
                for i in slots[src]:
                    val = vals[i]
                    if val is None:
                        continue
                    for dst, wt in out.get(src, ()):
                        m = val if wt is None else val + wt
                        if dst not in inbox or better(m, inbox[dst]):
                            inbox[dst] = m
            frontier, changed = set(), 0
            for dst, m in inbox.items():
                for i in slots[dst]:
                    old = vals[i]
                    if old is None or better(m, old):
                        vals[i] = m
                        frontier.add(dst)
                        changed += old is not None
        steps += block
        if not changed:
            break
    return ids, vals


def _flood_fixpoint(
    vertices: DataFrame,
    edges: DataFrame,
    direction: str,
    weight: str | None = None,
    num_partitions: int | None = None,
    max_iter: int = 1000,
    max_block: int = 8,
) -> DataFrame:
    """Shared propagate-until-fixpoint loop over vertices (id, value)
    and edges (src, dst[, weight]): each round every vertex takes the
    max (``direction="max"``) or min (``"min"``) of its value and its
    inbox of neighbor values (plus the edge's ``weight`` column, when
    given); stops when no vertex changed, or after ``max_iter`` rounds.
    Converges in O(graph diameter) rounds. Returns (id, value).

    Two tiers, one description. ``direction`` and ``weight`` define
    the round once (``_flood_round``); both tiers run it.

    Driver tier: a graph of at most ``_DRIVER_MAX_EDGES`` edge rows
    and as many vertex rows is relaxed in Python (``_flood_local``)
    and returned through ``engine.local_frame``. ONE bounded collect both
    picks the tier and fetches the graph (``_collect_small_graph``):
    the choice rests on the data, costs no separate count and needs no
    configuration. On a tiny graph the Spark tier's cost is the jobs
    themselves: under AQE every lazy checkpoint runs its shuffle
    stages as separate jobs, 42 of them for the 4-vertex dq16 graph.
    The result carries the schema of the lazily built one-round plan
    (analysis only, no job), so both tiers return the same types
    (sssp with double weights turns ``value`` into a double). Types on
    which Python arithmetic or ordering could differ from Spark's
    (``_python_exact``) always take the Spark tier.

    Spark tier, for larger graphs. Driver-action amortization:
    supersteps are unrolled LAZILY into blocks (sizes 2, 4, 8, ...
    capped at ``max_block``) ending in a lazy localCheckpoint whose
    materialization is piggybacked on the block's single convergence
    action — so each block costs ONE Spark action, not 2 per
    superstep. Convergence is read from the LAST round's change flag
    only (not an OR across the block): min/max propagation is
    monotone, so a final round that changed nothing IS the fixpoint —
    the loop never pays an extra confirm block after converging
    mid-block. A diameter-2 dedup blob therefore finishes in ONE
    action (block of 2: round 1 propagates, round 2 is the no-op
    witness); a long-diameter graph amortizes the scheduling floor 8
    supersteps at a time; at 100 TB a block is the same K shuffles it
    always was, just submitted together. Overshoot past the fixpoint
    inside a block is idempotent: a converged inbox re-picks the same
    value."""
    if direction not in ("max", "min"):
        raise ValueError(f"direction must be 'max' or 'min', got {direction!r}")
    spark = vertices.sparkSession
    vertices = vertices.select("id", "value")
    shape = vertices
    if max_iter > 0:
        shape = _flood_round(vertices, edges, direction, weight).select(
            "id", "value"
        )
    schema = shape.schema
    if _python_exact(schema, edges.schema):
        graph = _collect_small_graph(vertices, edges, weight)
        if graph is not None:
            ids, vals = _flood_local(
                *graph,
                direction,
                weight is not None,
                schema["value"].dataType,
                max_iter,
                max_block,
            )
            return local_frame(spark, zip(ids, vals), schema)
    n = _input_width(vertices, edges) if num_partitions is None else num_partitions
    # LAZY cuts: the first block's convergence action materializes both
    # (two fewer setup jobs than eager); across later blocks the
    # repartition shuffle outputs are reused, so neither recomputes.
    # Callers whose vertex/edge subtrees are EXPENSIVE and shared (LSH
    # pair pipelines) put one eager cut above this call
    # (connected_components) so the two consumers here don't duplicate
    # that build inside the first job.
    vertices = vertices.repartition(n, "id").localCheckpoint(eager=False)
    edges = edges.repartition(n, "src").localCheckpoint(eager=False)
    steps_done = 0
    block_size = 2
    while steps_done < max_iter:
        block = min(block_size, max_iter - steps_done)
        block_size = min(block_size * 2, max_block)
        cur = vertices.withColumn("_changed", F.lit(0))
        for _ in range(block):
            # LAZY per-round checkpoint: truncates the SQL plan to a
            # LogicalRDD leaf (Catalyst only ever optimizes one-round
            # plans — a K-round nested self-join plan costs seconds of
            # driver-side analysis), while materialization is deferred
            # to the block's single convergence action
            # _changed carries only THIS round's delta (see docstring:
            # last-round flag is the convergence witness)
            cur = _flood_round(cur, edges, direction, weight).localCheckpoint(
                eager=False
            )
        steps_done += block
        changed = cur.agg(F.sum("_changed").alias("c")).first()["c"]
        vertices = cur.drop("_changed")
        if not changed:
            break
    return vertices


def flood_max(
    vertices: DataFrame, edges: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Flood-max (highest.py:26-43): each vertex adopts max(inbox),
    forwards its value, votes halt when unchanged; engine stops when
    all vertices halt. Equivalent fixpoint: max value over all vertices
    that can reach v (the oracle computes it as reachability + MAX).

    Runs ``_flood_fixpoint(direction="max")``, on the driver up to
    ``_DRIVER_MAX_EDGES`` edges (``num_partitions`` sizes the Spark
    tier only).

    vertices: (id, value); edges: (src, dst). Returns (id, value).
    """
    return _flood_fixpoint(vertices, edges, "max", num_partitions=num_partitions)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    num_partitions: int | None = None,
) -> DataFrame:
    """Connected components by min-label propagation (flood-min over the
    symmetrized edge set): every vertex converges to the smallest vertex
    id in its component. Returns (id, component).

    The dedup use: LSH/similarity passes emit candidate PAIRS; turning
    pairs into canonical duplicate CLUSTERS (keep min-id doc, drop the
    rest) is exactly connected components — chains like A~B, B~C must
    collapse to one cluster even though A~C was never emitted.

    Scale: runs ``_flood_fixpoint(direction="min")`` over the
    symmetrized edges, on the driver up to ``_DRIVER_MAX_EDGES`` of
    them (twice the input pairs), whatever the diameter. Above it,
    label propagation costs one shuffle per round and converges in
    O(component diameter) rounds. Dedup-cluster graphs have tiny
    diameters (near-clique blobs), making this the right trade; for
    adversarial long-path graphs use ``connected_components_star``
    (O(log n) rounds)."""
    # symmetrize with ONE explode instead of union-of-two-selects: the
    # union form re-ran the (often expensive — LSH banding, embedding
    # GEMM) candidate-pair subtree once per side inside the checkpoint
    # job below; the explode emits both directions from a single pass
    # (identical row multiset — union here was UNION ALL). r12
    # optimization, measured on ext_dedup_semantic's applyInPandas
    # pair pipeline.
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("src"), F.col(dst).alias("dst")),
                F.struct(F.col(dst).alias("src"), F.col(src).alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    # ONE eager cut of the candidate-pair subtree: _flood_fixpoint
    # checkpoints vertices and edges in SEPARATE jobs, each of which
    # would otherwise recompute the whole upstream pair pipeline
    sym = sym.localCheckpoint(eager=True)
    vertices = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("value", F.col("id"))
    )
    out = _flood_fixpoint(vertices, sym, "min", num_partitions=num_partitions)
    return out.select("id", F.col("value").alias("component"))


def pointer_jump(
    vertices: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Pointer jumping (path doubling): every vertex chases its parent
    pointer to the root of its tree in O(log depth) supersteps —
    ``ptr' = ptr.ptr`` each round.

    This is the canonical program the edge-bound messaging model CANNOT
    express: the message destination is computed from vertex state (a
    vertex must learn its GRANDparent, a non-neighbor). Under the
    reference contract it is ``forward(my_id, parent_of(my_ptr))`` —
    compute may send to any id (module_vertex.py:94-96). Relationally
    the message set is a self-join of the vertex relation on ``ptr``:
    one shuffle per round, and rounds shrink exponentially — the
    O(log n) counterpart to flood-min's O(diameter) label propagation
    (Kiveris et al.'s star operations are built from exactly this).

    vertices: (id, ptr) where ptr points at another vertex id and roots
    point at themselves. Returns (id, root).
    """

    def messages(v: DataFrame, step: int) -> DataFrame:
        child = v.select(F.col("id").alias("dst"), F.col("ptr").alias("_p"))
        parent = v.select(F.col("id").alias("_pid"), F.col("ptr").alias("msg"))
        return child.join(parent, F.col("_p") == F.col("_pid")).select("dst", "msg")

    def update(v: DataFrame, inbox: Column, step: int) -> list[Column]:
        return [F.col("id"), F.coalesce(inbox, F.col("ptr")).alias("ptr")]

    p = Pregel(
        vertices=vertices.select("id", "ptr"),
        messages=messages,
        agg=F.min,  # exactly one message per vertex; min is a no-op pick
        update=update,
        # halt when the grandparent equals the current parent (a root's
        # fixpoint); a dangling ptr gets no message and halts too
        vote_halt=F.coalesce(F.col("_inbox") == F.col("ptr"), F.lit(True)),
        max_supersteps=64,
        num_partitions=num_partitions,
    )
    return p.run().select("id", F.col("ptr").alias("root"))


def _symmetrize(und: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """Both directions of an (a, b) edge relation in ONE pass — an
    explode of two structs per row, replacing a union of two selects
    that re-executed the whole edge subtree once per direction (r12
    optimization; same fix as connected_components). Use ONLY when the
    input subtree is NOT already materialized: over a checkpointed
    relation the union's two arms are cheap RDD scans and the explode's
    Generate overhead measured ~10% SLOWER (dq42 A/B) — see the
    union-of-selects notes in connected_components_star."""
    return und.select(
        F.explode(
            F.array(
                F.struct(F.col(a), F.col(b)),
                F.struct(F.col(b).alias(a), F.col(a).alias(b)),
            )
        ).alias("_e")
    ).select(f"_e.{a}", f"_e.{b}")


def _neighbor_min(e: DataFrame) -> DataFrame:
    """(u, m) where m = min over {u} ∪ N(u) given directed edges (u, v)."""
    return e.groupBy("u").agg(
        F.least(F.col("u"), F.min("v")).alias("m")
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    num_partitions: int | None = None,
    max_rounds: int = 50,
    pre_collapse: bool = False,
    _stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    operations (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SOCC'14, Algorithm 2 "Two-Phase") — O(log n) rounds
    regardless of graph diameter, vs label propagation's O(diameter).

    large-star(u): every neighbor v > u re-points at m = min({u}∪N(u));
    small-star(u): every neighbor v ≤ u (and u itself) points at the
    min over the small neighborhood. Each operation is one groupBy +
    one join; the edge set monotonically flattens into stars whose
    centers are component minima. This is the scale path for
    adversarial long-chain candidate graphs where flood-min would need
    diameter rounds (a 10^6-long chain: ~20 rounds here vs 10^6).

    Returns (id, component), component = min vertex id, one row per
    distinct vertex in ``edges``. Equivalent to ``connected_components``
    on every input; preferred when component diameters are unbounded.

    ``pre_collapse``: contract the graph by one direct-neighbor-min
    pass BEFORE the iterative fixpoint — every vertex u maps to
    m(u) = min({u} ∪ N(u)) and each edge (u, v) becomes (m(u), m(v)).
    Both pair-graph regimes benefit: trivial size-2/3 components
    (whose min is adjacent to every member) collapse to self-loops and
    VANISH, and dense blocks contract to a handful of vertices — the
    measured ER case (SCALE.md r8): 742.5k pairs in 150 dense
    100-vertex components, closure 7.4 s -> 3.8 s cold at sf0.1 — so
    the star rounds (with their per-round checkpoint +
    convergence-action floor) run only on the small residual. Exactness: m(u) stays inside
    u's component; the component min c has m(c) = c, so it survives
    contraction and remains the minimum of its contracted component —
    composing comp(u) = comp_residual(m(u)), falling back to m(u) for
    fully-collapsed components, reproduces the exact min-id labels
    (pinned bit-identical against the pre_collapse=False path in
    tests/test_round8.py). Skip it for graphs expected to be one giant
    component (the pass would shrink nothing and pays its two mapping
    joins).

    ``max_rounds`` must be >= 1: zero rounds would return the input
    edges unflattened, not components.
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    n = _input_width(edges) if num_partitions is None else num_partitions
    # one eager cut of the upstream edge subtree before the two derived
    # checkpoints below — verts and e would otherwise each recompute it
    # (same reasoning as connected_components)
    base = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=True)
    # NOTE (r12): keep the union-of-selects here — base is eagerly
    # checkpointed, so both arms are cheap RDD scans; an explode was
    # A/B-measured slower on the star loop (Generate overhead with no
    # recompute to save). Explode only pays when the upstream subtree
    # would otherwise re-execute (see _symmetrize call sites).
    verts = (
        base.select(F.col("u").alias("id"))
        .union(base.select(F.col("v").alias("id")))
        .distinct()
        .repartition(n, "id")
        .localCheckpoint(eager=True)
    )
    e = (
        base.where(F.col("u") != F.col("v"))
        .distinct()
        .repartition(n, "u")
        .localCheckpoint(eager=True)
    )
    collapse_map = None
    if pre_collapse:
        # m(u) over the symmetrized graph (one groupBy), then two
        # mapping joins re-point each edge at its endpoints' direct
        # minima; self-loops (fully collapsed components) drop out.
        sym0 = e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        collapse_map = (
            _neighbor_min(sym0).repartition(n, "u").localCheckpoint(eager=True)
        )
        e = (
            e.join(
                collapse_map.select("u", F.col("m").alias("_mu")), "u"
            )
            .join(
                collapse_map.select(
                    F.col("u").alias("v"), F.col("m").alias("_mv")
                ),
                "v",
            )
            .select(F.col("_mu").alias("u"), F.col("_mv").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .repartition(n, "u")
            .localCheckpoint(eager=True)
        )
    prev_e = e
    prev_sig: tuple | None = None
    # convergence is checked every SECOND round: each check is a driver
    # action (the round floor on small graphs), the intermediate
    # round's lazy checkpoints materialize inside the next check's
    # aggregate, and a one-round overshoot past the fixpoint is
    # idempotent (star ops map a set of stars to itself). The exceptAll
    # confirm below guards against hash-signature COLLISIONS (two
    # different edge sets with equal count/sum); note both it and the
    # signature compare states check_every rounds apart, so early-stop
    # safety rests on the star algorithm's monotone convergence (labels
    # only decrease, so no state can recur without being a fixpoint —
    # Kiveris et al.'s proof), not on the confirm itself.
    check_every = 2
    for _round in range(max_rounds):
        # -- large-star: symmetrize, larger neighbors adopt the min
        # (union, not explode: e is checkpointed per round — see the
        # verts note above; A/B showed explode ~10% slower on dq42)
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = _neighbor_min(sym)
        e = (
            sym.join(lmin, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            # NO distinct here: small-star's oriented distinct below
            # normalizes the very next thing, so a large-star distinct
            # would only pay an extra full-edge exchange per round
            # lazy: truncates the plan so small-star doesn't re-analyze
            # (or recompute) the large-star subtree; materialized by the
            # round's single convergence action below
            .localCheckpoint(eager=False)
        )
        # -- small-star: orient u >= v, small neighborhood collapses
        # (the distinct also dedups large-star's output)
        dirn = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        smin = _neighbor_min(dirn)
        e = (
            dirn.join(smin, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smin.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .repartition(n, "u")
            .localCheckpoint(eager=False)
        )
        # converged when the round left the edge set unchanged (the
        # paper's fixpoint: star operations are idempotent on a set of
        # stars) — NOT checked as "every symmetrized neighbor already
        # points at the min": that predicate counts each reversed star
        # edge (center's view of a leaf) as a violation, so it never
        # reaches zero. The per-round check is an order-independent
        # (count, bit_xor(xxhash64)) signature: ONE partial-aggregate
        # action with ZERO extra shuffles — the earlier
        # symmetric-difference count() paid four hash exchanges of the
        # full edge set every round. The aggregate computes every
        # partition, so it also fully materializes the round's lazy
        # checkpoints. A signature match is confirmed with ONE exact
        # exceptAll pass (edge sets, being distinct, XOR-collide with
        # p ~ 2^-64; on the off chance they do, the confirm fails and
        # the loop simply continues — exactness never depends on the
        # hash).
        if (_round + 1) % check_every != 0:
            continue  # lazy rounds pile up; next check materializes them
        sig_row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            changed = (
                e.exceptAll(prev_e).union(prev_e.exceptAll(e)).count()
            )
            if changed == 0:
                break
        prev_sig = sig
        prev_e = e
    if _stats is not None:
        # probe instrumentation: rounds includes the converged round;
        # no behavior change
        _stats["rounds"] = _round + 1
    comp = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    if collapse_map is not None:
        # compose: comp(u) = comp_residual(m(u)), falling back to m(u)
        # when u's whole component collapsed out of the residual (then
        # m(u) IS the component min for every member)
        res = comp.select(
            F.col("id").alias("_rid"), F.col("component").alias("_rc")
        )
        comp = (
            collapse_map.join(
                res, collapse_map["m"] == res["_rid"], "left"
            )
            .select(
                F.col("u").alias("id"),
                F.coalesce("_rc", F.col("m")).alias("component"),
            )
        )
    # star centers and isolated vertices map to themselves
    return verts.join(comp, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def sssp(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    wt: str = "wt",
) -> DataFrame:
    """Single-source shortest paths — Bellman-Ford as flood-min over
    dist+weight messages: every round each vertex offers its neighbors
    ``dist + edge weight`` and keeps the minimum seen; fixpoint when no
    distance improves (the same block-amortized loop as flood_max /
    connected_components — min propagation is monotone, so the
    last-round convergence witness and in-block overshoot are both
    safe). Returns (id, dist) for REACHABLE vertices only.

    edges: directed (src, dst, wt >= 0). Runs
    ``_flood_fixpoint(direction="min", weight="wt")``; the distance
    type is the type of ``dist + wt`` (double weights give double
    distances) on both tiers. Scale: up to ``_DRIVER_MAX_EDGES`` edges
    the rounds run on the driver; above it, one inbox shuffle per
    round, O(shortest-path hop diameter) rounds; weights ride the
    (co-partitioned) edge relation, never the vertex state."""
    big = F.lit(1 << 40).cast("bigint")
    vertices = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
        .select(
            "id",
            F.when(F.col("id") == source, F.lit(0).cast("bigint"))
            .otherwise(big)
            .alias("value"),
        )
    )
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(wt).alias("wt")
    )
    out = _flood_fixpoint(vertices, e, "min", weight="wt")
    return out.where(F.col("value") < big).select(
        "id", F.col("value").alias("dist")
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count over an undirected graph (edge-iterator
    with id orientation): edges are canonicalized a < b, and each
    triangle a < b < c is found exactly once via the two-hop join
    (a,b)+(b,c) probed against (a,c). Returns ONE row
    (n_vertices, n_edges, n_triangles).

    Scale: the standard distributed formulation — two equi-joins on
    vertex keys, no enumeration of non-edges. Id orientation bounds
    each join key's fan-out by the vertex's higher-id degree; for
    power-law graphs orient by (degree, id) instead so hubs land on
    the many-small side (same count, smaller worst partition)."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)  # feeds three join legs + counts
    )
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    tri = (
        und.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    verts = (
        und.select(F.col("a").alias("v"))
        .union(und.select(F.col("b").alias("v")))
        .distinct()
        .agg(F.count("*").alias("n_vertices"))
    )
    nedges = und.agg(F.count("*").alias("n_edges"))
    return verts.crossJoin(nedges).crossJoin(tri).select(
        "n_vertices", "n_edges", "n_triangles"
    )


def k_core(
    edges: DataFrame,
    k: int,
    max_iter: int = 200,
    max_block: int = 8,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where
    every vertex keeps degree >= k, computed by parallel peeling —
    each round drops every vertex whose CURRENT degree is < k (and its
    edges), until nothing changes. Classic Matula-Beck semantics,
    evaluated bulk-synchronously; the fixpoint is unique regardless of
    peel order, which is what makes the parallel rounds correct.
    Input edges are directed rows (src, dst); the operator symmetrizes
    and drops self-loops. Returns (vertex_id, degree) for the
    surviving vertices with their in-core degree.

    Scale shape: per round ONE degree aggregate (combiner-style on the
    src key the edge relation is already partitioned by) and two
    semi-joins against the GROUPS-sized survivor list (AQE broadcasts
    it once peeling shrinks it). Rounds are O(peel depth) — bounded by
    the degeneracy ordering, typically tens on web-scale graphs.
    Peeling a converged graph is a no-op (every degree is already
    >= k), so rounds are block-amortized exactly like _flood_fixpoint:
    geometric blocks of lazily-checkpointed rounds, ONE edge-count
    action per block, convergence = monotone edge count unchanged
    across a whole block.

    ``max_iter`` must be >= 1. When the rounds run out while the last
    block still dropped edges, one degree check decides: a survivor
    with degree < k means peeling had not finished, and the operator
    raises instead of returning a superset of the k-core."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    n = _input_width(edges)
    und = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    sym = (
        _symmetrize(und)
        .distinct()
        .repartition(n, "src")
        .localCheckpoint(eager=False)
    )
    n_edges = sym.count()
    steps = 0
    block_size = 1
    converged = False
    while steps < max_iter:
        block = min(block_size, max_iter - steps)
        block_size = min(block_size * 2, max_block)
        cur = sym
        for _ in range(block):
            keep = (
                cur.groupBy("src")
                .agg(F.count("*").alias("_deg"))
                .where(F.col("_deg") >= k)
                .select("src")
            )
            cur = (
                cur.join(keep, "src", "left_semi")
                .join(
                    keep.select(F.col("src").alias("dst")), "dst", "left_semi"
                )
                .select("src", "dst")
                .localCheckpoint(eager=False)
            )
        steps += block
        new_edges = cur.count()
        sym = cur
        if new_edges == n_edges:
            converged = True
            break
        n_edges = new_edges
    if not converged and (
        sym.groupBy("src").agg(F.count("*").alias("_deg"))
        .where(F.col("_deg") < k)
        .limit(1)
        .count()
    ):
        raise RuntimeError(
            f"k_core did not converge within max_iter={max_iter} peel "
            f"rounds (a survivor still has degree < {k}); raise max_iter "
            "for this graph's peel depth"
        )
    return sym.groupBy(F.col("src").alias("vertex_id")).agg(
        F.count("*").cast("bigint").alias("degree")
    )


def pagerank_personalized(
    vertices: DataFrame,
    edges: DataFrame,
    seeds: list,
    supersteps: int = 10,
    damping: float = 0.85,
    num_partitions: int | None = None,
) -> DataFrame:
    """Personalized PageRank: teleportation (and dangling mass) return
    to the SEED set instead of the uniform vector — the similarity /
    recommendation ranking "importance relative to these nodes".
    p0(v) = 1/|seeds| on seeds, 0 elsewhere; update
    r' = (1-d)*p0 + d*(inbox + dang*p0), so total rank stays 1 and
    vertices unreachable from the seeds converge to exactly 0.

    Same per-superstep shape as pagerank_dangling (one inbox shuffle +
    the in-plan broadcast dangling aggregate); the seed vector is a
    static vertex column, so personalization costs nothing extra at
    any scale."""
    if not seeds:
        raise ValueError("seeds must be non-empty")
    srcs = edges.select("src").distinct()
    outdeg = edges.groupBy("src").agg(F.count("*").alias("_deg"))
    edges_deg = edges.join(F.broadcast(outdeg), "src")
    p0 = F.when(
        F.col("id").isin(list(seeds)), F.lit(1.0) / F.lit(float(len(seeds)))
    ).otherwise(F.lit(0.0))
    init = vertices.join(
        F.broadcast(srcs), vertices["id"] == srcs["src"], "left"
    ).select(
        "id",
        p0.alias("rank"),
        p0.alias("_p0"),
        F.col("src").isNull().alias("_dangling"),
    )

    def update(v, inbox, step):
        new_rank = (F.lit(1.0) - F.lit(damping)) * F.col("_p0") + F.lit(
            damping
        ) * (
            F.coalesce(inbox, F.lit(0.0)) + F.col("_dang") * F.col("_p0")
        )
        return [v["id"], new_rank.alias("rank"), v["_p0"], v["_dangling"]]

    return (
        Pregel(
            vertices=init,
            edges=edges_deg,
            msg=F.col("rank") / F.col("_deg"),
            agg=F.sum,
            update=update,
            aggregator=[
                F.sum(
                    F.when(F.col("_dangling"), F.col("rank")).otherwise(
                        F.lit(0.0)
                    )
                ).alias("_dang")
            ],
            max_supersteps=supersteps - 1,
            num_partitions=num_partitions,
        )
        .run()
        .select("id", "rank")
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
) -> DataFrame:
    """Synchronous label propagation for community detection, FIXED
    round count, fully deterministic: every vertex starts as its own
    label; each round it adopts the most frequent label among its
    neighbors, ties broken by (count DESC, label ASC); isolated
    vertices keep their label. Synchronous LPA can oscillate on
    bipartite structure, so the contract is exactly ``rounds``
    bulk-synchronous updates — reproducible on any engine (the DuckDB
    oracle unrolls the identical rounds), which is what a data
    pipeline needs from a community assignment. Returns
    (vertex_id, label).

    Shape per round: one neighbor-label count aggregate (combiner on
    the (vertex, label) key) + one vertex-keyed argmax window — two
    exchanges per round over the label relation, edges reused from
    their pre-shuffled checkpoint; lineage cut lazily per round like
    every fixpoint loop here. Pair with ``graph_modularity`` to score
    the resulting assignment."""
    from pyspark.sql.window import Window

    n = _input_width(edges)
    und = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    sym = (
        _symmetrize(und)
        .distinct()
        .repartition(n, "src")
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .repartition(n, "id")
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("id").orderBy(
        F.col("_c").desc(), F.col("_lbl").asc()
    )
    for _ in range(rounds):
        nb = (
            labels.select(F.col("id").alias("src"), F.col("label").alias("_lbl"))
            .join(sym, "src")
            .groupBy(F.col("dst").alias("id"), "_lbl")
            .agg(F.count("*").alias("_c"))
        )
        best = (
            nb.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("id", F.col("_lbl").alias("_new"))
        )
        labels = (
            labels.join(best, "id", "left")
            .select(
                "id", F.coalesce(F.col("_new"), F.col("label")).alias("label")
            )
            .localCheckpoint(eager=False)
        )
    return labels.select(F.col("id").alias("vertex_id"), "label")


def graph_modularity(
    edges: DataFrame, labels: DataFrame
) -> DataFrame:
    """Newman modularity of a community assignment, ppm-EXACT: with m
    undirected edges, e_c internal edges and deg_c total degree per
    community, Q = sum_c (4*m*e_c - deg_c^2) / (4*m^2) — evaluated as
    one integer rational in decimal(38,0) (HUGEINT in the oracle), so
    the readout replays bit-for-bit. Returns one row
    (m_edges, n_communities, q_ppm). Labels: (vertex_id, label).

    Shape: symmetrize + two broadcast-or-shuffle label joins onto the
    edge relation, then combiner aggregates whose output is
    communities-sized; the final fold is a one-row rational. Self
    loops excluded, multi-edges deduped — the standard simple-graph
    convention."""
    und = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    la = labels.select(F.col("vertex_id").alias("a"), F.col("label").alias("_la"))
    lb = labels.select(F.col("vertex_id").alias("b"), F.col("label").alias("_lb"))
    tagged = und.join(la, "a").join(lb, "b")
    # ONE explode + ONE aggregate replace the former internal-edges
    # aggregate, the 2-way degree union, and their join — the union
    # form re-executed the two label joins three times (r12). Each
    # edge contributes a degree row per endpoint label; the internal
    # flag rides the first struct only, so SUM(_i) per label is the
    # internal-edge count and COUNT(*) the community degree — exactly
    # the old (e_c, deg_c), with labels lacking internal edges summing
    # to 0 (the old coalesce).
    contrib = tagged.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("_la").alias("label"),
                    (F.col("_la") == F.col("_lb"))
                    .cast("bigint")
                    .alias("_i"),
                ),
                F.struct(
                    F.col("_lb").alias("label"),
                    F.lit(0).cast("bigint").alias("_i"),
                ),
            )
        ).alias("_c")
    )
    per_c = contrib.groupBy(F.col("_c.label").alias("label")).agg(
        F.sum("_c._i").alias("e_c"),
        F.count("*").alias("deg_c"),
    )
    # edge total rides IN-PLAN as a broadcast 1-row relation (the
    # tfidf/_doc_shingles idiom) — zero extra driver actions
    mrel = und.agg(F.count("*").cast("decimal(38,0)").alias("_m"))
    num = per_c.join(F.broadcast(mrel)).agg(
        F.sum(
            F.lit(4).cast("decimal(38,0)") * F.col("_m") * F.col("e_c")
            - F.col("deg_c").cast("decimal(38,0)") * F.col("deg_c")
        ).alias("_num"),
        F.count("*").alias("n_communities"),
        F.max("_m").alias("_mx"),
    )
    return num.select(
        F.col("_mx").cast("bigint").alias("m_edges"),
        F.col("n_communities").cast("bigint").alias("n_communities"),
        F.expr("CAST(_num * 1000000 div (4 * _mx * _mx) AS BIGINT)").alias(
            "q_ppm"
        ),
    )


def hits(
    vertices: DataFrame,
    edges: DataFrame,
    iters: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """HITS (Kleinberg 1999) hubs and authorities, L1-normalized.

    Per iteration: authority(v) = sum of hub over IN-edges, divided by
    the global authority sum; hub(v) = sum of the NEW authority over
    OUT-edges, same normalization. L1 (sum) normalization replaces the
    classical L2: the ranking and the fixpoint direction are identical
    (normalization only rescales the power iteration on A^T.A) and the
    normalizer rides IN-PLAN as a broadcast single-row relation — no
    sqrt for the replay oracle to reproduce bit-for-bit, no driver
    action in the loop (the pagerank_dangling lesson,
    pregel.py:260-265).

    Shape per iteration: two key shuffles (inbox ``groupBy(dst)`` then
    ``groupBy(src)``) plus two single-row broadcast normalizers —
    identical to pagerank's per-superstep profile, so the 100 TB story
    is the same: the edge relation is the big side, shuffled to ``n``
    partitions by src and cut once up front (the cut's scan carries no
    partitioning Catalyst can reuse, so both gather joins plan their
    own exchange or broadcast, as for any scan); vertex state (id, hub,
    auth) never leaves the executors; lineage is cut with a lazy
    localCheckpoint after every iteration but the last. Unlike pagerank's
    single state vector, HITS threads TWO mutually-referencing vectors
    (hub feeds auth feeds hub), each consumed twice per iteration (a
    gather join + its normalizer aggregate) — an uncut segment
    therefore DOUBLES the logical plan per iteration, and with the
    former 4-iteration interval Catalyst spent ~30 s analyzing the
    2^4-wide final tree of the 8-iteration fixture query (measured;
    per-iteration cuts take the same query to ~0.5 s). A vertex with
    no in-edges (resp. out-edges) holds authority 0 (resp. hub 0),
    the textbook convention.

    vertices: (id); edges: (src, dst). Returns (id, hub, auth).
    """
    n = _input_width(vertices, edges) if num_partitions is None else num_partitions
    e = (
        edges.select("src", "dst")
        .repartition(n, "src")
        .localCheckpoint(eager=False)
    )
    ids = vertices.select("id").localCheckpoint(eager=False)
    state = ids.select("id", F.lit(1.0).alias("hub"))
    auth = ids.select("id", F.lit(0.0).alias("auth"))
    for it in range(iters):
        araw = (
            e.join(state.select(F.col("id").alias("src"), "hub"), "src")
            .groupBy("dst")
            .agg(F.sum("hub").alias("_s"))
        )
        asum = araw.agg(F.sum("_s").alias("_t"))
        auth = (
            ids.join(araw.withColumnRenamed("dst", "id"), "id", "left")
            .join(F.broadcast(asum))
            .select(
                "id",
                F.when(
                    F.col("_t") > 0,
                    F.coalesce("_s", F.lit(0.0)) / F.col("_t"),
                )
                .otherwise(F.lit(0.0))
                .alias("auth"),
            )
        )
        hraw = (
            e.join(auth.select(F.col("id").alias("dst"), "auth"), "dst")
            .groupBy("src")
            .agg(F.sum("auth").alias("_s"))
        )
        hsum = hraw.agg(F.sum("_s").alias("_t"))
        state = (
            ids.join(hraw.withColumnRenamed("src", "id"), "id", "left")
            .join(F.broadcast(hsum))
            .select(
                "id",
                F.when(
                    F.col("_t") > 0,
                    F.coalesce("_s", F.lit(0.0)) / F.col("_t"),
                )
                .otherwise(F.lit(0.0))
                .alias("hub"),
            )
        )
        if it + 1 < iters:
            state = state.localCheckpoint(eager=False)
            auth = auth.localCheckpoint(eager=False)
    return state.join(auth, "id").select("id", "hub", "auth")


def _oriented_triangles(e: DataFrame) -> DataFrame:
    """Oriented triangle enumeration over CANONICAL (a < b) edges:
    join on the pivot vertex for a<b<c wedges, then a closing-edge
    semi-join — each triangle emitted exactly once as (a, b, c).
    Shared by k_truss and clustering_coefficient; triangle_count
    (r3-green registered query) keeps its own structurally identical
    copy until its next rotation-window slot — the changed-query-
    inside-window contract outranks the dedup."""
    return (
        e.join(e.select(F.col("a").alias("b"), F.col("b").alias("c")), "b")
        .join(
            e.select(F.col("a"), F.col("b").alias("c")),
            ["a", "c"],
            "left_semi",
        )
        .select("a", "b", "c")
    )


def k_truss(
    edges: DataFrame,
    k: int,
    max_iter: int = 50,
) -> DataFrame:
    """The k-truss of an undirected graph: the maximal subgraph in
    which every edge participates in at least k-2 triangles (Cohen
    2008) — the edge-level strengthening of the k-core, the standard
    community-backbone extractor. Computed by parallel edge peeling:
    each round recomputes per-edge triangle support on the CURRENT
    survivor set and drops every edge below k-2, until the edge set
    stops shrinking (the fixpoint is unique regardless of peel order,
    same argument as Matula-Beck for cores). Input rows (src, dst)
    are symmetrized to canonical a < b pairs, self-loops dropped.
    Returns the truss edges (src, dst, support) with support measured
    in the final subgraph.

    Scale shape per round: the oriented triangle enumeration (a<b<c,
    each triangle exactly once) is one equi-join on the pivot vertex
    + one closing-edge equi-join — the same wedge-check plan as
    triangle_count, whose skew bound is the max-degree wedge fanout —
    then a combiner-style support aggregate and one semi-join.
    Support recomputation touches only SURVIVING edges, so rounds
    shrink monotonically; rounds are O(peel depth). The per-round
    count action doubles as the convergence test (monotone edge
    count), negligible next to the triangle join it gates."""
    if k < 3:
        raise ValueError("k-truss requires k >= 3")
    n = _input_width(edges)
    und = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    cur = (
        und.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .repartition(n, "a")
        .localCheckpoint(eager=False)
    )
    n_edges = cur.count()

    def _support(e: DataFrame) -> DataFrame:
        # one explode of the three triangle edges instead of a 3-way
        # union — the union form re-executed the wedge join (the
        # enumeration's whole cost) once per side (r12 optimization;
        # same fix as connected_components' symmetrization)
        tri = _oriented_triangles(e)
        return (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(F.col("a"), F.col("b")),
                        F.struct(F.col("b").alias("a"), F.col("c").alias("b")),
                        F.struct(F.col("a"), F.col("c").alias("b")),
                    )
                ).alias("_te")
            )
            .select("_te.a", "_te.b")
            .groupBy("a", "b")
            .agg(F.count("*").alias("support"))
        )

    converged = False
    kept = None
    for _ in range(max_iter):
        # inner join instead of the former left_semi: same surviving
        # edge set (supp's (a,b) keys are unique and a subset of cur),
        # but the round's support values ride the checkpointed relation
        # — at convergence they ARE the final in-truss supports (the
        # fixpoint round dropped nothing, so the set the enumeration
        # ran on equals the final set), which deletes the extra full
        # triangle enumeration the return path used to pay (r12
        # optimization: one wedge join per round + NONE at the end,
        # measured plan diff in plans/r12/ext_k_truss_*).
        supp = _support(cur).where(F.col("support") >= k - 2)
        kept = cur.join(supp, ["a", "b"]).localCheckpoint(eager=False)
        new_edges = kept.count()
        cur = kept.select("a", "b")
        if new_edges == n_edges:
            converged = True
            break
        n_edges = new_edges
    if not converged:
        # the oracle fails LOUDLY at its unroll bound; the operator
        # must too — an unconverged cur still holds sub-threshold
        # edges and the final support join would mask them silently
        raise RuntimeError(
            f"k_truss did not converge within max_iter={max_iter} "
            f"peel rounds ({n_edges} edges still shrinking); raise "
            "max_iter for this graph's peel depth"
        )
    return kept.select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        F.col("support").cast("bigint").alias("support"),
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per vertex, ppm-EXACT:
    lcc(v) = 2 * triangles(v) / (deg(v) * (deg(v) - 1)) on the
    simple undirected graph (self-loops dropped, multi-edges
    deduped), evaluated as one integer rational so the replay is
    bit-for-bit; vertices with degree < 2 report 0. Returns
    (vertex_id, degree, triangles, lcc_ppm).

    Shape: ONE oriented triangle enumeration (the a<b<c wedge-check
    plan shared with triangle_count / k_truss), exploded to its three
    corners for a combiner-style per-vertex count, plus one degree
    aggregate and a left join — no iteration, no driver action."""
    n = _input_width(edges)
    und = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    canon = (
        und.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .repartition(n, "a")
        .localCheckpoint(eager=True)
    )
    deg = (
        canon.select(F.col("a").alias("v"))
        .unionByName(canon.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("degree"))
    )
    tri = _oriented_triangles(canon)
    # one explode of the three corners instead of a 3-way union — the
    # union form re-executed the wedge join once per side (r12
    # optimization, same fix as k_truss._support)
    tri_v = (
        tri.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("v")
        )
        .groupBy("v")
        .agg(F.count("*").alias("triangles"))
    )
    return deg.join(tri_v, "v", "left").select(
        F.col("v").alias("vertex_id"),
        F.col("degree").cast("bigint").alias("degree"),
        F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
        F.expr(
            "CASE WHEN degree >= 2 THEN CAST(2 * COALESCE(triangles, 0) "
            "* CAST(1000000 AS BIGINT) div (degree * (degree - 1)) "
            "AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        ).alias("lcc_ppm"),
    )
