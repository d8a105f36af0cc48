"""MapReduceJob — the reference's programming model compiled to Spark
(SURVEY.md §2.3, §7.1 step 3).

Reference contract being reproduced:
- ``map(k1, v1)`` is a generator yielding ``(partition, k2, v2)``
  triples — the user explicitly routes each record to a named shuffle
  partition (/root/reference/daemons/core/module_mapper.py:48-52;
  examples/wordcount/wordcount.py:20-37);
- optional ``combiner(list) -> list`` applied per key at spill time
  (remap.py:136-144) — must be algebraic/idempotent (SURVEY §4.3.3);
- optional ``customkey`` secondary sort of values within a key
  (remap.py:133-135, examples/secondarysort/secondarysort.py:8-9);
- ``reduce(k2, [v2, ...])`` is a generator yielding ``(k3, v3)``
  (module_reducer.py:63-80).

Spark-first compilation
-----------------------
map     -> ``mapInPandas`` (Arrow-batched generator; one Python round
           trip for the whole map phase — never a row-at-a-time UDF)
combiner-> applied inside each map batch, per (partition, k2) — the
           same "once per spill, not global" contract as the reference
shuffle -> ``groupBy(k2)`` — Spark's sort/hash machinery replaces the
           sorted-run + k-way-merge pipeline (remap.py:132-147,
           module_reducer.py:38-47) entirely
reduce  -> ``applyInPandas`` over the groups, values optionally sorted
           by ``sort_key`` first (secondary sort)

The *fast path* for algebraic jobs is: don't use this class — write
the DataFrame expression directly (wordcount ==
``groupBy(word).count()``; see queries/relational.py dq03). This class
is the escape hatch for arbitrary Python logic, matching the
reference's only programming model.

Values are JSON-encoded strings, as in the reference, whose
intermediate format is ``"k2,json(v2)"`` lines (remap.py:138-139,
158-159).

Scale notes (100 TB): the only shuffle is groupBy(k2); Spark applies
AQE coalescing/skew splitting to it. ``partition_by`` routing is a
*semantic* grouping — reducer parallelism does NOT collapse to the
number of named partitions as in the reference (SURVEY §4.3.6);
records with the same k2 still co-locate.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..worker import on_worker

MapFn = Callable[[str, object], Iterable[tuple[str, str, object]]]
ReduceFn = Callable[[str, list], Iterable[tuple[str, object]]]
CombinerFn = Callable[[list], list]

MAP_OUTPUT_SCHEMA = "partition string, k2 string, v2 string"
REDUCE_OUTPUT_SCHEMA = "k3 string, v3 string"


class MapReduceJob:
    """One logical job = the reference's mapper job + reducer job fused
    (the reference requires two REST posts with a manual wait between,
    SURVEY §3.2 — here the shuffle IS the handoff)."""

    def __init__(
        self,
        map: MapFn | None = None,
        reduce: ReduceFn | None = None,
        combiner: CombinerFn | None = None,
        sort_key: Callable[[object], object] | None = None,
    ):
        self.map_fn = map
        self.reduce_fn = reduce
        self.combiner = combiner
        self.sort_key = sort_key

    # -- map phase ----------------------------------------------------
    def _mapped(
        self,
        df: DataFrame,
        key_col: str,
        value_col: str,
        spill_key: Callable[[object], object] | None = None,
    ) -> DataFrame:
        """The map phase as one ``mapInPandas``; with ``spill_key`` it
        also emits ``_sk`` = ``str(spill_key(k2))``, the spill-file
        order key, in the same Python pass."""
        map_fn = self.map_fn
        combiner = self.combiner

        def run_map(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                out_part, out_k2, out_v2 = [], [], []
                if combiner is None:
                    for k1, v1 in zip(pdf[key_col], pdf[value_col]):
                        for part, k2, v2 in map_fn(k1, v1):
                            out_part.append(part)
                            out_k2.append(k2)
                            out_v2.append(json.dumps(v2))
                else:
                    # spill-time combiner: buffer this batch per key,
                    # combine once, emit — remap.py:119-147 semantics
                    # (hash buffer + combine at sort_flush_close)
                    mem: dict[tuple[str, str], list] = {}
                    for k1, v1 in zip(pdf[key_col], pdf[value_col]):
                        for part, k2, v2 in map_fn(k1, v1):
                            mem.setdefault((part, k2), []).append(v2)
                    for (part, k2), vals in mem.items():
                        for v2 in combiner(vals):
                            out_part.append(part)
                            out_k2.append(k2)
                            out_v2.append(json.dumps(v2))
                out = pd.DataFrame(
                    {"partition": out_part, "k2": out_k2, "v2": out_v2}
                )
                if spill_key is not None:
                    out["_sk"] = out["k2"].map(lambda k: str(spill_key(k)))
                yield out

        schema = MAP_OUTPUT_SCHEMA
        if spill_key is not None:
            schema += ", _sk string"
        return df.mapInPandas(on_worker(run_map), schema=schema)

    # -- reduce phase -------------------------------------------------
    def _reduced(self, mapped: DataFrame) -> DataFrame:
        reduce_fn = self.reduce_fn
        combiner = self.combiner
        sort_key = self.sort_key

        # full pandas type hints: a PARTIAL annotation makes pyspark's
        # grouped-map eval-type inference raise (and warn) on every
        # applyInPandas call; full hints resolve it silently
        def run_reduce(pdf: pd.DataFrame) -> pd.DataFrame:
            k2 = pdf["k2"].iloc[0]
            values = [json.loads(v) for v in pdf["v2"]]
            # the reference's merge presents values in sorted-run order;
            # combiner may have been applied per spill — re-apply once
            # for the algebraic contract, then secondary sort
            if combiner is not None:
                values = combiner(values)
            if sort_key is not None:
                values = sorted(values, key=sort_key)
            out_k3, out_v3 = [], []
            for k3, v3 in reduce_fn(k2, values):
                out_k3.append(k3)
                out_v3.append(json.dumps(v3))
            return pd.DataFrame({"k3": out_k3, "v3": out_v3})

        return mapped.groupBy("k2").applyInPandas(
            on_worker(run_reduce), schema=REDUCE_OUTPUT_SCHEMA
        )

    def run(
        self,
        df: DataFrame,
        key_col: str = "key",
        value_col: str = "value",
    ) -> DataFrame:
        """Execute map [+ reduce] over df[key_col, value_col]."""
        if self.map_fn is None:
            raise ValueError("MapReduceJob requires a map function")
        mapped = self._mapped(df, key_col, value_col)
        if self.reduce_fn is None:
            return mapped
        return self._reduced(mapped)

    def run_map_only(
        self, df: DataFrame, key_col: str = "key", value_col: str = "value"
    ) -> DataFrame:
        """The reference's standalone mapper job (type='mapper'):
        returns the partitioned intermediate relation, sorted within
        partitions like the spill files (remap.py:132-147).

        ``customkey`` parity: the reference sorts each spill file's KEYS
        by ``customkey(k2)`` instead of lexicographically
        (``sorted(self.mem, key=self.customkey)``, remap.py:133-135;
        exercised by examples/secondarysort/secondarysort.py:8-9 where
        k2 is the whole record and customkey=itemgetter(3) orders by a
        value field). Here ``sort_key`` applied to the ``k2`` string
        drives the within-partition order. The derived sort column is
        computed by the map's own ``mapInPandas`` (one Python stage for
        the whole map phase) and never leaves the within-partition sort
        (dropped before return, no shuffle)."""
        mapped = self._mapped(df, key_col, value_col, self.sort_key)
        part = mapped.repartition(F.col("partition"))
        if self.sort_key is None:
            return part.sortWithinPartitions("partition", "k2")
        return part.sortWithinPartitions("partition", "_sk").drop("_sk")
