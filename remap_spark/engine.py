"""Engine: SparkSession wrapper, config, and table registry.

Replaces the reference's entire control plane (initiator/broker/node/core
daemons, ``/root/reference/daemons/initiator/initiator.py:168-220`` and
friends) with a SparkSession: scheduling, retry, shuffle, and spill are
Spark built-ins (SURVEY.md §4.2).

Scale notes (100 TB target):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace any hand-tuned partition count.
- ``shuffle.partitions`` is a *starting* value; AQE coalesces down. On a
  real cluster set it ~2-3x total cores; here it defaults to local cores.
- Arrow on: every pandas-UDF boundary (MapReduceJob, multimodal ops) is
  Arrow-batched, never row-at-a-time pickling. Rows built on the driver
  (literal graphs, expected tables, empty results, driver-tier outputs)
  enter as Arrow local relations (``local_frame``), never through
  ``createDataFrame(list)``: that is a pickled RDD, and every scan of it
  runs Python-worker tasks. A local relation is scanned inside the JVM.
- A Python-worker task has two fixed costs. pyspark calls
  ``importlib.invalidate_caches()`` per task, and before CPython 3.13
  each of the worker's 17 zip importers (pyspark.zip, the spark-core
  jar, py4j, this package) then re-reads its archive, about 0.27 CPU-s
  per task (4-core VM, CPython 3.11.7). And pyspark's daemon runs
  ``gc.collect()`` after every task of a reused worker, which walks
  every pandas and pyarrow module object: about 40 CPU-ms per task,
  against 4.5 ms for the task's own ``worker.main``. On a local master
  ``build_session`` makes ``remap_spark.daemon`` the Python daemon: it
  installs the stat-checked invalidation, imports the worker, pandas
  and pyarrow, reads the archives once and freezes the collector's
  generations before it forks a worker, so a task pays neither cost
  (about 5 CPU-ms per task). ``worker.on_worker``, which every shipped
  Python function goes through, is the fallback where that daemon does
  not run: sessions ``build_session`` did not build, non-local masters.
- ``load_table`` infers a parquet file's schema once per process: the
  inference is a Spark job (75-100 JVM CPU-ms); a later load of the
  same unchanged file under the same parquet confs passes the schema
  and runs none.
- A global sort is a range exchange whose ``RangePartitioner`` runs a
  sampling job of its own first; AQE cannot skip it. So a query's
  final, presentation sort goes through ``functions.ordered``: when the
  relation's size estimate is at most ``autoBroadcastJoinThreshold``
  it is sorted in one task over ``coalesce(1)``, with no sampling job
  and no range shuffle (a threshold of -1 keeps the range sort).
"""

from __future__ import annotations

import os
import stat
from collections.abc import Iterable, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_session(
    app_name: str = "remap_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for this engine.

    On a cluster, ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.

    On a local master (``local`` or ``local[...]``) the Python daemon is
    ``remap_spark.daemon``, imported from ``package_zip()``, which is
    put in front of any ``spark.executorEnv.PYTHONPATH`` in
    ``extra_conf``. Any other master keeps pyspark's stock daemon: its
    executors cannot see the driver's temp zip.
    """
    cores = default_parallelism()
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cores}]"
    builder = (
        SparkSession.builder.appName(app_name)
        # local mode = ONE JVM for driver + all executor threads; the
        # 1g default heap OOMs a 32-thread shuffle. On a real cluster
        # this is spark-submit's --driver-memory / --executor-memory.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        # --- adaptivity: the scale story ------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- python boundary: always Arrow ----------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- shuffle sizing -------------------------------------------
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions else max(cores, 8)),
        )
        # file splits: default 128m is right for the 100 TB case; don't
        # shrink it for tiny local files (AQE handles small inputs).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # timestamps in the fixtures are naive; pin session TZ to UTC so
        # date_trunc/year agree with DuckDB's naive-timestamp semantics.
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) (events.ts) is unreadable by Spark's
        # vectorized reader; surface it as bigint nanos and truncate to
        # micros in load_table — same truncation DuckDB applies on read.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    extra_conf = dict(extra_conf or {})
    if master:
        builder = builder.master(master)
    if master == "local" or (master or "").startswith("local["):
        path = [str(package_zip())]
        if extra_conf.get("spark.executorEnv.PYTHONPATH"):
            path.append(extra_conf.pop("spark.executorEnv.PYTHONPATH"))
        builder = builder.config(
            "spark.python.daemon.module", "remap_spark.daemon"
        ).config("spark.executorEnv.PYTHONPATH", os.pathsep.join(path))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _default_driver_memory() -> str:
    """A quarter of physical memory, between 1g and 16g: the JVM's own
    default heap share, which leaves the rest of the host to the Python
    processes."""
    mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, max(1024, mib // 4))}m"


def ship_package(spark: SparkSession) -> None:
    """Make ``remap_spark`` importable by executor Python workers.

    Zips the package once and registers it via ``addPyFile`` — the same
    mechanism that ships it to 1000 real executors (the Spark analog of
    the reference's per-job app snapshot copy,
    ``/root/reference/daemons/initiator/base_module.py:38-52``). Without
    this, any pandas-UDF closure that references a module-level helper
    fails on workers whenever the driver process wasn't started inside
    the repo (cloudpickle serializes module functions by reference)."""
    sc = spark.sparkContext
    if getattr(sc, "_remap_spark_shipped", False):
        return
    sc.addPyFile(str(package_zip()))
    sc._remap_spark_shipped = True


def package_zip() -> Path:
    """The package's sources as a zip in the temp dir, named by a hash
    of their content. The zip is written to a unique file and renamed
    into place, so processes that share the temp dir never read a
    half-written zip or ship each other a different checkout."""
    import hashlib
    import tempfile
    import zipfile

    pkg = Path(__file__).resolve().parent
    sources = [
        (f"remap_spark/{py.relative_to(pkg)}", py.read_bytes())
        for py in sorted(pkg.rglob("*.py"))
    ]
    digest = hashlib.sha256()
    for name, data in sources:
        digest.update(f"{name}\0{len(data)}\0".encode() + data)
    tag = digest.hexdigest()[:16]
    zip_path = Path(tempfile.gettempdir()) / f"remap_spark_pkg-{tag}.zip"
    if zip_path.exists():
        return zip_path
    fd, part = tempfile.mkstemp(suffix=".part", dir=zip_path.parent)
    os.close(fd)
    try:
        with zipfile.ZipFile(part, "w", zipfile.ZIP_DEFLATED) as zf:
            for name, data in sources:
                zf.writestr(name, data)
        os.replace(part, zip_path)
    finally:
        Path(part).unlink(missing_ok=True)  # left only when the write failed
    return zip_path


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan.

    Column pruning + predicate pushdown reach the scan because callers
    express plans declaratively (check ``.explain``: ``ReadSchema`` /
    ``PushedFilters``). Replaces the reference's line-at-a-time readers
    (``/root/reference/daemons/core/remap.py:20-39``).
    """
    # runtime-settable SQL conf: make nano-timestamp parquet readable
    # even when the caller's session wasn't built by build_session
    # (the correctness driver supplies its own SparkSession)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ship_package(spark)
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    # nanosAsLong surfaces TIMESTAMP(NANOS) columns as bigint; restore
    # them to microsecond timestamps (floor-truncation — values are
    # positive — matching DuckDB's ns->us read behavior).
    from pyspark.sql import functions as F  # local import: avoid cycle
    from pyspark.sql.types import LongType

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, LongType):
            # integer `div`, NOT `/` — float division loses precision
            # above 2^53 ns (~104 days of epoch-nanos)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


# The session confs Spark's parquet-to-Spark schema conversion reads.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.caseSensitive",
)

# (real path, _SCHEMA_CONFS values) -> ((st_size, st_mtime_ns, st_ino),
# the schema Spark inferred for the file in that state under those confs)
_SCHEMAS: dict[tuple, tuple[tuple[int, int, int], StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema Spark inferred for
    the same file under the same confs passed explicitly when there is
    one: inferring runs a Spark job, a given schema does not. A file
    whose size, mtime or inode changed is inferred again. Only a local
    regular file is cached; a directory (whose files can change under an
    unchanged directory stat) or a path ``os.stat`` cannot see is
    inferred every time."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (os.path.realpath(path), *(spark.conf.get(k) for k in _SCHEMA_CONFS))
    stamp = (st.st_size, st.st_mtime_ns, st.st_ino)
    cached = _SCHEMAS.get(key)
    if cached is not None and cached[0] == stamp:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """Driver-resident rows (tuples in ``schema``'s column order) as a
    DataFrame that plans as a JVM-only ``LocalTableScan``.

    ``createDataFrame(list)`` would make a pickled RDD instead, and
    every scan of it runs Python-worker tasks (``ExistingRDD``); here
    the rows cross once, as an Arrow table typed from ``schema`` (a
    ``StructType`` or a DDL string). The frame has min(rows, default
    parallelism) partitions, none for zero rows."""
    import pyarrow as pa  # not at module top: keeps session start lean
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


class Engine:
    """Top-level handle: session + fixture tables + operator entry points.

    The reference's "job" abstraction (one REST POST per map or reduce
    phase, ``/root/reference/daemons/initiator/http_interface.py:45-64``)
    collapses into ordinary method calls returning DataFrames.
    """

    def __init__(self, spark: SparkSession | None = None, sf_dir: str | None = None):
        self.spark = spark or build_session()
        self.sf_dir = sf_dir or os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
        )

    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.sf_dir, name)

    def tables(self) -> dict[str, DataFrame]:
        return load_tables(self.spark, self.sf_dir)

    def sql(self, query: str) -> DataFrame:
        from pyspark.errors import AnalysisException

        missing = []
        for t in TABLES:
            try:
                self.table(t).createOrReplaceTempView(t)
            except AnalysisException as ex:
                # a single absent table parquet is legal (partial sf_dir);
                # anything else — and an sf_dir with NO tables at all —
                # must fail here, not as "table not found" mid-query
                if "PATH_NOT_FOUND" not in str(ex):
                    raise
                missing.append(t)
        if len(missing) == len(TABLES):
            raise FileNotFoundError(
                f"no fixture tables under {self.sf_dir!r} (is the path right?)"
            )
        return self.spark.sql(query)
