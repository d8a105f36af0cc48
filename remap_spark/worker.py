"""The one worker-side entry for every Python function the package
ships to executors (``mapInPandas``, ``applyInPandas``,
``applyInPandasWithState`` and any pandas UDF): ``on_worker(fn)``.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``). Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory at once, and a worker holds 17 zip importers: 12 into
pyspark.zip (1,328 entries), 2 into the spark-core jar (5,359 entries),
2 into py4j and 1 into the shipped package zip. That is about 0.27
CPU-s per task (4-core VM, CPython 3.11.7) spent re-reading archives
that do not change.

On a local master ``engine.build_session`` makes ``remap_spark.daemon``
the Python daemon, which installs the stat-checked method before it
forks any worker (``daemon.py``). ``on_worker`` is the fallback route:
for sessions ``build_session`` did not build (the correctness driver
supplies its own) and for non-local masters, the first call of a
wrapped function in a worker process replaces that method with a
stat-checked one: an archive is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the last read;
otherwise the importer is pointed at the directory already cached.
CPython's own ``FileFinder`` uses the same kind of rule (directory
mtime) for path entries, so a changed or newly added archive is still
seen. A reused worker pays the full re-read once per process, then one
``stat`` per importer per task. Interpreters whose invalidation is
already lazy (CPython >= 3.13) are left untouched.

The module is registered for by-value pickling and what it pickles
uses only the standard library, so the wrapper runs on a worker that
cannot import ``remap_spark``.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import zipimport

from pyspark import cloudpickle

# Set on ``zipimport.zipimporter`` when the patch is in: the eager
# method it replaced. Kept on the class, not in a module global,
# because by-value pickling gives each unpickled function fresh
# globals, while the class lives as long as the worker process.
EAGER_ATTR = "_remap_spark_eager_invalidate"


def install_stat_checked_invalidation() -> None:
    """Replace ``zipimporter.invalidate_caches`` with the stat-checked
    version, once per process; a no-op where invalidation is lazy."""
    cls = zipimport.zipimporter
    # 3.13+ reads the directory on demand (``_get_files``)
    if hasattr(cls, "_get_files") or EAGER_ATTR in vars(cls):
        return
    # unlocked: pyspark installs and invalidates from the worker's one
    # task thread
    eager = cls.invalidate_caches
    cache = zipimport._zip_directory_cache
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        files = cache.get(archive)
        if key is not None and files is not None and read_at.get(archive) == key:
            self._files = files
            return
        # stat before the read: a rewrite that lands in between leaves
        # the old key, so the next call reads again
        eager(self)
        if key is not None and archive in cache:
            read_at[archive] = key
        else:
            read_at.pop(archive, None)

    invalidate_caches.__doc__ = eager.__doc__
    setattr(cls, EAGER_ATTR, eager)
    cls.invalidate_caches = invalidate_caches


def on_worker(fn):
    """``fn`` wrapped to install the stat-checked invalidation before it
    runs. The wrapper keeps ``fn``'s signature and type hints:
    ``applyInPandas`` picks the ``(pdf)`` or ``(key, pdf)`` form, and
    ``pandas_udf`` its eval type, from ``inspect.getfullargspec``, which
    reads ``__signature__`` but not ``__wrapped__``."""

    @functools.wraps(fn)
    def entry(*args, **kwargs):
        install_stat_checked_invalidation()
        return fn(*args, **kwargs)

    entry.__signature__ = inspect.signature(fn)
    return entry


cloudpickle.register_pickle_by_value(sys.modules[__name__])
