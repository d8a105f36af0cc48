"""``remap_spark.engine``: the per-process parquet schema cache of
``load_table`` and the default driver memory."""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR, jobs_of

from remap_spark import engine

# the fixture root: one directory per scale factor
TESTDATA = Path(SF_DIR).parent


def _cached(path) -> list:
    real = os.path.realpath(path)
    return [schema for key, (_, schema) in engine._SCHEMAS.items() if key[0] == real]


@pytest.mark.parametrize(
    "sf_dir",
    sorted(str(p) for p in TESTDATA.glob("sf*") if p.is_dir()),
    ids=lambda p: Path(p).name,
)
def test_cached_schema_is_what_spark_infers(spark, sf_dir):
    """For every table of every scale factor: the cached schema equals
    ``spark.read.parquet(path).schema`` under the confs ``load_table``
    sets (``nanosAsLong`` on), and a second load runs no job."""
    tables = [t for t in engine.TABLES if os.path.exists(f"{sf_dir}/{t}.parquet")]
    assert "events" in tables
    for t in tables:
        path = f"{sf_dir}/{t}.parquet"
        first = engine.load_table(spark, sf_dir, t)
        inferred = spark.read.parquet(path).schema
        assert _cached(path) == [inferred], t
        again, jobs = jobs_of(spark, lambda: engine.load_table(spark, sf_dir, t))
        assert jobs == 0, t
        assert again.schema == first.schema, t


def test_nanos_timestamp_is_cached_as_long(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``ts`` is inferred as bigint under
    ``nanosAsLong``, cached so, and both loads return the same
    microsecond timestamps."""
    from pyspark.sql.types import LongType

    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_000_999]
    pq.write_table(
        pa.table({"ts": pa.array(ns, pa.timestamp("ns"))}),
        tmp_path / "ev.parquet",
        version="2.6",
    )
    first = engine.load_table(spark, str(tmp_path), "ev")
    [cached] = _cached(tmp_path / "ev.parquet")
    assert isinstance(cached["ts"].dataType, LongType)
    again, jobs = jobs_of(spark, lambda: engine.load_table(spark, str(tmp_path), "ev"))
    assert jobs == 0
    assert again.schema == first.schema
    assert first.schema["ts"].dataType.typeName() == "timestamp"
    assert sorted(again.collect()) == sorted(first.collect())


def test_second_load_runs_no_job(spark, tmp_path):
    shutil.copy(Path(SF_DIR) / "nation.parquet", tmp_path / "nation.parquet")
    first, first_jobs = jobs_of(spark, lambda: engine.load_table(spark, str(tmp_path), "nation"))
    second, second_jobs = jobs_of(spark, lambda: engine.load_table(spark, str(tmp_path), "nation"))
    assert first_jobs >= 1 and second_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    src = Path(SF_DIR)
    path = tmp_path / "t.parquet"
    shutil.copy(src / "nation.parquet", path)

    def load():
        return jobs_of(spark, lambda: engine.load_table(spark, str(tmp_path), "t"))

    assert load()[1] >= 1 and load()[1] == 0
    # new content, size and inode
    part = tmp_path / "t.part"
    shutil.copy(src / "region.parquet", part)
    os.replace(part, path)
    df, jobs = load()
    assert jobs >= 1
    assert df.columns == spark.read.parquet(str(src / "region.parquet")).columns
    assert load()[1] == 0
    # same bytes, new mtime
    st = path.stat()
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert load()[1] >= 1 and load()[1] == 0


def test_session_with_other_parquet_confs_infers_its_own(spark, tmp_path):
    """``binaryAsString`` changes what Spark infers for a BINARY column,
    so a session with it set never reads the other session's entry."""
    from pyspark.sql.types import BinaryType, StringType

    pq.write_table(
        pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), tmp_path / "bin.parquet"
    )
    other = spark.newSession()
    other.conf.set("spark.sql.parquet.binaryAsString", "true")

    def load(session):
        df, jobs = jobs_of(session, lambda: engine.load_table(session, str(tmp_path), "bin"))
        return type(df.schema["b"].dataType), jobs > 0

    assert load(spark) == (BinaryType, True)
    assert load(other) == (StringType, True)
    assert load(spark) == (BinaryType, False)
    assert load(other) == (StringType, False)


def test_default_driver_memory_is_a_capped_share_of_ram():
    mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    got = engine._default_driver_memory()
    assert got.endswith("m")
    assert 1024 <= int(got[:-1]) <= min(16 * 1024, max(1024, mib // 2))
