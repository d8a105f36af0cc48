"""The Python daemon of a local session: ``python -m remap_spark.daemon``,
which ``engine.build_session`` names in ``spark.python.daemon.module``.

pyspark's daemon forks one process per Python worker, and a reused
worker runs ``gc.collect()`` after every task. Before it forks, this
module prepares what every worker would otherwise do again:

1. installs the stat-checked zip invalidation (``worker.py``);
2. imports pyspark's worker, pandas and pyarrow;
3. calls ``importlib.invalidate_caches()`` once, so each archive on the
   path is read here and never again in a worker;
4. collects, then freezes the collector's generations (``gc.freeze``,
   which the Python docs recommend right before ``fork()``): a
   worker's per-task collection then walks only the young objects of
   its own task, not every pandas and pyarrow module object.

Then it runs pyspark's own daemon loop.
"""

from __future__ import annotations

import gc
import importlib

from remap_spark.worker import install_stat_checked_invalidation


if __name__ == "__main__":
    install_stat_checked_invalidation()
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.worker  # noqa: F401
    from pyspark import daemon

    importlib.invalidate_caches()
    gc.collect()
    gc.freeze()
    daemon.manager()
