"""Skyline / Pareto-frontier selection over numeric criteria.

No reference analog (the reference has no preference operator); this
is the classic multi-criteria "best tradeoffs" query (Borzsony/
Kossmann/Stocker, "The Skyline Operator", ICDE'01) expressed for
Spark's execution model:

* **Phase 1 — local prune** (``mapInPandas``): each partition reduces
  to its own skyline. Pruning locally is LOSSLESS: dominance is
  transitive, so a row dominated within its partition is dominated
  globally, and its dominator (or the dominator's dominator, ...)
  survives the partition. The sweep sorts the partition
  lexicographically on the normalized criteria — a dominator always
  sorts before its victim — and compares each row against the current
  skyline only (O(m * |sky| * d), vectorized per row; never the
  m x m bitmatrix).
* **Phase 2 — global pass**: the surviving candidates (typically
  orders of magnitude smaller than the input — skylines of random
  data grow ~O(log^(d-1) n)) are repartitioned to one task and swept
  once more, which is exact. For adversarial anti-chain inputs where
  the skyline IS the corpus, that single task is the documented
  bottleneck — no distributed algorithm beats it, because the output
  itself is corpus-sized.

Rows carrying NULL in any criterion are excluded (NULL cannot be
ordered against values). Duplicate criterion tuples all survive
(dominance requires a STRICT improvement somewhere). Exact integer /
float comparisons only — no epsilon, so a DuckDB ``NOT EXISTS``
dominance query replays the frontier exactly.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..worker import on_worker


def _sweep(pdf, cols: list[str], signs: list[int]):
    """Return the skyline subset of one pandas partition (minimize
    each normalized criterion)."""
    import numpy as np

    # int64 negation is exact; float sign-flip is exact; 'min'
    # criteria keep the raw array (lets date/timestamp columns work)
    arrs = [
        (-pdf[c].to_numpy() if s < 0 else pdf[c].to_numpy())
        for c, s in zip(cols, signs)
    ]
    order = np.lexsort(tuple(reversed(arrs)))
    sky_idx: list[int] = []
    sky = [[] for _ in cols]
    for i in order:
        row = [a[i] for a in arrs]
        if sky_idx:
            le = np.ones(len(sky_idx), dtype=bool)
            lt = np.zeros(len(sky_idx), dtype=bool)
            for c, v in enumerate(row):
                col = np.asarray(sky[c])
                le &= col <= v
                lt |= col < v
            if bool(np.any(le & lt)):
                continue
        sky_idx.append(i)
        for c, v in enumerate(row):
            sky[c].append(v)
    return pdf.iloc[sorted(sky_idx)]


def pareto_frontier(
    df: DataFrame,
    criteria: Mapping[str, str] | Sequence[str],
) -> DataFrame:
    """Rows not dominated on the given criteria, all columns intact.

    ``criteria`` is either a list of column names (all minimized) or a
    {column: 'min'|'max'} mapping. Row b dominates row a when b is at
    least as good on EVERY criterion and strictly better on at least
    one.
    """
    if isinstance(criteria, Mapping):
        items = list(criteria.items())
    else:
        items = [(c, "min") for c in criteria]
    for _, d in items:
        if d not in ("min", "max"):
            raise ValueError(f"direction must be 'min' or 'max', got {d!r}")
    cols = [c for c, _ in items]
    signs = [1 if d == "min" else -1 for _, d in items]

    clean = df.where(
        F.lit(True)
        if not cols
        else F.expr(" AND ".join(f"`{c}` IS NOT NULL" for c in cols))
    )
    schema = clean.schema

    def prune(batches: Iterator) -> Iterator:
        import pandas as pd

        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        if len(pdf):
            yield _sweep(pdf, cols, signs)

    local = clean.mapInPandas(on_worker(prune), schema)
    # exact global pass over the (small) candidate union
    return local.repartition(1).mapInPandas(on_worker(prune), schema)
