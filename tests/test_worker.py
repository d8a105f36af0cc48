"""``remap_spark.worker``: the stat-checked zip-importer invalidation
every shipped Python function installs through ``on_worker``, and
``engine.package_zip``, the zip that ships the package to workers."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import threading
import zipfile
import zipimport
from collections.abc import Iterator

import pandas as pd
import pytest
from conftest import REPO

from remap_spark.worker import EAGER_ATTR, install_stat_checked_invalidation, on_worker

CLS = zipimport.zipimporter
# the eager method, also when an earlier test left the patch installed
EAGER = vars(CLS).get(EAGER_ATTR, vars(CLS)["invalidate_caches"])


@pytest.fixture
def clean_zipimporter():
    """Each test starts with the eager method and leaves it in place."""
    if EAGER_ATTR in vars(CLS):  # pragma: no cover - only after a leak
        delattr(CLS, EAGER_ATTR)
    CLS.invalidate_caches = EAGER
    yield
    CLS.invalidate_caches = EAGER
    if EAGER_ATTR in vars(CLS):
        delattr(CLS, EAGER_ATTR)


@pytest.fixture
def read_count(monkeypatch):
    """Counts ``zipimport._read_directory`` calls, the central-directory
    reads the eager method makes."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def test_unchanged_archive_is_not_reread(tmp_path, clean_zipimporter, read_count):
    archive = tmp_path / "a.zip"
    _write_zip(archive, {"wk_unchanged": "X = 1\n"})
    importers = [CLS(str(archive)), CLS(str(archive))]
    read_count.clear()  # the constructor's own read
    install_stat_checked_invalidation()
    for _ in range(3):
        for imp in importers:
            imp.invalidate_caches()
    # one read on the first call after the install, none after
    assert read_count == [str(archive)]
    assert all(set(imp._files) == {"wk_unchanged.py"} for imp in importers)


def test_rewritten_archive_is_reread_and_imports(tmp_path, clean_zipimporter):
    archive = tmp_path / "b.zip"
    _write_zip(archive, {"wk_first": "X = 1\n"})
    sys.path.insert(0, str(archive))
    try:
        install_stat_checked_invalidation()
        importlib.invalidate_caches()
        assert importlib.import_module("wk_first").X == 1
        _write_zip(archive, {"wk_first": "X = 1\n", "wk_second": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("wk_second").Y == 2
    finally:
        sys.path.remove(str(archive))
        sys.path_importer_cache.pop(str(archive), None)
        for name in ("wk_first", "wk_second"):
            sys.modules.pop(name, None)


def test_deleted_archive_behaves_as_unpatched(tmp_path, clean_zipimporter):
    def after_delete_and_restore(name: str) -> list:
        archive = tmp_path / name
        _write_zip(archive, {"wk_deleted": "X = 1\n"})
        imp = CLS(str(archive))
        imp.invalidate_caches()
        archive.unlink()
        imp.invalidate_caches()
        seen = [dict(imp._files), str(archive) in zipimport._zip_directory_cache]
        _write_zip(archive, {"wk_deleted": "X = 1\n", "wk_back": "Y = 2\n"})
        imp.invalidate_caches()
        return seen + [sorted(imp._files)]

    unpatched = after_delete_and_restore("c0.zip")
    install_stat_checked_invalidation()
    assert after_delete_and_restore("c1.zip") == unpatched
    assert unpatched == [{}, False, ["wk_back.py", "wk_deleted.py"]]


def test_install_twice_is_a_noop(clean_zipimporter):
    install_stat_checked_invalidation()
    patched = vars(CLS)["invalidate_caches"]
    assert patched is not EAGER and vars(CLS)[EAGER_ATTR] is EAGER
    install_stat_checked_invalidation()
    assert vars(CLS)["invalidate_caches"] is patched
    assert vars(CLS)[EAGER_ATTR] is EAGER


def test_lazy_interpreter_left_alone(monkeypatch, clean_zipimporter):
    # CPython 3.13+ reads the directory on demand through ``_get_files``
    monkeypatch.setattr(CLS, "_get_files", lambda self: {}, raising=False)
    install_stat_checked_invalidation()
    assert vars(CLS)["invalidate_caches"] is EAGER
    assert EAGER_ATTR not in vars(CLS)


def test_wrapper_keeps_signature_and_hints():
    import inspect
    import typing

    def key_form(key, pdf):
        return pdf

    def hinted(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        yield from it

    for fn in (key_form, hinted):
        wrapped = on_worker(fn)
        assert inspect.getfullargspec(wrapped) == inspect.getfullargspec(fn)
        assert typing.get_type_hints(wrapped) == typing.get_type_hints(fn)
        assert wrapped.__name__ == fn.__name__


def test_pickled_wrapper_runs_without_the_package(tmp_path):
    """A wrapped function loads and runs in a plain interpreter whose cwd
    and ``sys.path`` lack the repository: the wrapper is pickled by
    value, and the function installs the patch there."""
    from pyspark import cloudpickle

    def double(x):
        return 2 * x

    (tmp_path / "fn.pkl").write_bytes(cloudpickle.dumps(on_worker(double)))
    script = textwrap.dedent(
        f"""
        import importlib.util, json, pickle, sys, zipimport
        assert importlib.util.find_spec("remap_spark") is None
        fn = pickle.load(open("fn.pkl", "rb"))
        print(json.dumps({{
            "result": fn(21),
            "installed": {EAGER_ATTR!r} in vars(zipimport.zipimporter),
            "package_loaded": "remap_spark" in sys.modules,
        }}))
        """
    )
    out = subprocess.run(
        [sys.executable, "-I", "-c", script],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        check=True,
    )
    report = json.loads(out.stdout.strip().splitlines()[-1])
    lazy = hasattr(CLS, "_get_files")
    assert report == {"result": 42, "installed": not lazy, "package_loaded": False}


_LOCAL1_PROBE = """
import importlib, json, os, sys, zipimport
sys.path.insert(0, sys.argv[1])
import pandas as pd
from pyspark.sql import SparkSession
from remap_spark.engine import ship_package
from remap_spark.worker import EAGER_ATTR, on_worker

def probe(batches):
    reads = []
    real = zipimport._read_directory
    zipimport._read_directory = lambda a: reads.append(a) or real(a)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter)
    ]
    for pdf in batches:
        yield pd.DataFrame({
            "part": pdf["id"].iloc[:1],
            "pid": os.getpid(),
            "installed": EAGER_ATTR in vars(zipimport.zipimporter),
            "importers": len(importers),
            "archives": len({f.archive for f in importers}),
            "reads": len(reads),
        })

spark = SparkSession.builder.master("local[1]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
ship_package(spark)
rows = spark.range(0, 3, 1, 3).mapInPandas(
    on_worker(probe),
    "part bigint, pid bigint, installed boolean, importers bigint, "
    "archives bigint, reads bigint",
).collect()
print(json.dumps(sorted([r.asDict() for r in rows], key=lambda r: r["part"])))
spark.stop()
"""


@pytest.mark.skipif(hasattr(CLS, "_get_files"), reason="lazy zip invalidation")
def test_local1_worker_reports_the_patch(tmp_path):
    """In a local[1] session the three tasks of a wrapped mapInPandas
    share one reused worker: each reports the patch installed, and
    after the first, an ``importlib.invalidate_caches()`` reads no
    archive although the worker holds many zip importers."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp_path), TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _LOCAL1_PROBE, str(REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    rows = json.loads(out.stdout.strip().splitlines()[-1])
    assert [r["part"] for r in rows] == [0, 1, 2]
    assert all(r["installed"] for r in rows)
    assert len({r["pid"] for r in rows}) == 1
    first, *later = rows
    assert first["importers"] > first["archives"] >= first["reads"] >= 1
    assert [r["reads"] for r in later] == [0, 0]


_DAEMON_PROBE = """
import gc, importlib, json, os, sys, zipimport
sys.path.insert(0, sys.argv[1])
import pandas as pd
from remap_spark.engine import build_session
from remap_spark.worker import EAGER_ATTR

def probe(batches):
    reads = []
    real = zipimport._read_directory
    zipimport._read_directory = lambda a: reads.append(a) or real(a)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    with open(f"/proc/{os.getppid()}/cmdline", "rb") as fh:
        daemon = fh.read().replace(b"\\0", b" ").decode()
    for pdf in batches:
        yield pd.DataFrame({
            "part": pdf["id"].iloc[:1],
            "daemon_pid": os.getppid(),
            "daemon": daemon,
            "installed": EAGER_ATTR in vars(zipimport.zipimporter),
            "frozen": gc.get_freeze_count(),
            "reads": len(reads),
        })

spark = build_session(master="local[1]")
spark.sparkContext.setLogLevel("ERROR")
rows = spark.range(0, 3, 1, 3).mapInPandas(
    probe,
    "part bigint, daemon_pid bigint, daemon string, "
    "installed boolean, frozen bigint, reads bigint",
).collect()
spark.stop()
gateway = spark.sparkContext._gateway
gateway.shutdown()
gateway.proc.stdin.close()
gateway.proc.wait(timeout=60)
print(json.dumps(sorted([r.asDict() for r in rows], key=lambda r: r["part"])))
"""


@pytest.fixture(scope="module")
def daemon_rows(tmp_path_factory):
    """The rows a bare (unwrapped) mapInPandas function reports from the
    three tasks of a ``build_session`` local[1] session, run in a
    subprocess that then stops the session and its JVM."""
    tmp = tmp_path_factory.mktemp("daemon")
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp), TMPDIR=str(tmp))
    out = subprocess.run(
        [sys.executable, "-c", _DAEMON_PROBE, str(REPO)],
        cwd=tmp,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(hasattr(CLS, "_get_files"), reason="lazy zip invalidation")
def test_daemon_prepares_workers_before_the_first_task(daemon_rows):
    """Through ``build_session`` on a local master, workers fork from
    ``remap_spark.daemon``: the first task of a function that never
    calls ``on_worker`` already sees the patch installed and a frozen
    collector, and its ``importlib.invalidate_caches()`` reads no
    archive."""
    assert [r["part"] for r in daemon_rows] == [0, 1, 2]
    for r in daemon_rows:
        assert "-m remap_spark.daemon" in r["daemon"], r["daemon"]
        assert r["installed"] and r["frozen"] > 0 and r["reads"] == 0, r


def test_daemon_exits_with_the_session(daemon_rows):
    """Once the session and its JVM stopped, the daemon the workers
    forked from is gone (within a bounded wait)."""
    import time

    [(daemon_pid, cmdline)] = {(r["daemon_pid"], r["daemon"]) for r in daemon_rows}

    def alive() -> bool:
        try:
            with open(f"/proc/{daemon_pid}/stat") as fh:
                state = fh.read().rsplit(")", 1)[1].split()[0]
            with open(f"/proc/{daemon_pid}/cmdline", "rb") as fh:
                same = fh.read().replace(b"\0", b" ").decode() == cmdline
        except OSError:
            return False
        return same and state != "Z"

    deadline = time.monotonic() + 60
    while alive() and time.monotonic() < deadline:
        time.sleep(0.5)
    assert not alive()


@pytest.mark.parametrize("master", ["spark://nowhere:7077", "yarn", "local-cluster[2,1,1024]"])
def test_non_local_master_keeps_the_stock_daemon(monkeypatch, master):
    """On any master but ``local``/``local[...]`` the executors cannot
    see the driver's temp zip: ``build_session`` sets neither the daemon
    module nor the executor PYTHONPATH (and starts nothing here)."""
    from pyspark.sql import SparkSession

    from remap_spark.engine import build_session

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    opts = build_session(master=master)
    assert opts["spark.master"] == master
    assert "spark.python.daemon.module" not in opts
    assert "spark.executorEnv.PYTHONPATH" not in opts
    local = build_session(
        master="local[2]", extra_conf={"spark.executorEnv.PYTHONPATH": "/caller/path"}
    )
    assert local["spark.python.daemon.module"] == "remap_spark.daemon"
    zip_path, caller = local["spark.executorEnv.PYTHONPATH"].split(os.pathsep)
    assert os.path.basename(zip_path).startswith("remap_spark_pkg-")
    assert caller == "/caller/path"


def test_wrapped_udfs_give_the_same_rows(spark):
    """``applyInPandas`` in the ``(key, pdf)`` form and type-hinted
    pandas UDFs give the same rows, and the same eval types, through
    the wrapper as without it."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    df = spark.range(0, 40, 1, 4).select(
        (F.col("id") % 3).alias("g"), F.col("id").cast("double").alias("v")
    )

    def with_key(key, pdf):
        return pd.DataFrame({"g": [key[0]], "n": [len(pdf)], "s": [pdf["v"].sum()]})

    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    def plus_two(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            yield s + 2

    def mean(s: pd.Series) -> float:
        return float(s.mean())

    def rows(frame):
        return sorted(tuple(r) for r in frame.collect())

    schema = "g bigint, n bigint, s double"
    assert rows(df.groupBy("g").applyInPandas(on_worker(with_key), schema)) == rows(
        df.groupBy("g").applyInPandas(with_key, schema)
    )
    for fn in (plus_one, plus_two):
        wrapped, bare = pandas_udf(on_worker(fn), "double"), pandas_udf(fn, "double")
        assert wrapped.evalType == bare.evalType
        assert rows(df.select(wrapped("v"))) == rows(df.select(bare("v")))
    wrapped, bare = pandas_udf(on_worker(mean), "double"), pandas_udf(mean, "double")
    assert wrapped.evalType == bare.evalType
    grouped = df.groupBy("g")
    assert rows(grouped.agg(wrapped("v"))) == rows(grouped.agg(bare("v")))


def test_package_zip_named_by_content(tmp_path, monkeypatch):
    import tempfile

    from remap_spark.engine import package_zip

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = package_zip()
    before = first.stat()
    assert first.parent == tmp_path and first.name.startswith("remap_spark_pkg-")
    assert "remap_spark/worker.py" in zipfile.ZipFile(first).namelist()
    # same sources: same name, not rewritten, no temp file left behind
    assert package_zip() == first
    after = first.stat()
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)
    assert os.listdir(tmp_path) == [first.name]


def test_package_zip_never_seen_half_written(tmp_path, monkeypatch):
    """Writers rebuilding the zip in a shared temp dir while a reader
    opens it: the reader sees no zip or a whole one, never a part."""
    import tempfile

    from remap_spark.engine import package_zip

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    path = package_zip()
    names = zipfile.ZipFile(path).namelist()
    done, bad, errors = threading.Event(), [], []

    def read():
        while not done.is_set():
            try:
                with zipfile.ZipFile(path) as zf:
                    if zf.namelist() != names or zf.testzip() is not None:
                        bad.append("content")
            except FileNotFoundError:
                pass
            except (zipfile.BadZipFile, OSError, EOFError) as ex:
                bad.append(repr(ex))

    def write():
        try:
            for _ in range(5):
                path.unlink(missing_ok=True)
                if package_zip() != path:
                    errors.append("name")
        except Exception as ex:  # a thread's exception would not fail the test
            errors.append(repr(ex))

    reader = threading.Thread(target=read)
    reader.start()
    writers = [threading.Thread(target=write) for _ in range(6)]
    for t in writers:
        t.start()
    for t in writers:
        t.join(timeout=120)
    done.set()
    reader.join(timeout=30)
    assert not any(t.is_alive() for t in [reader, *writers])
    assert bad == [] and errors == []
    assert os.listdir(tmp_path) == [path.name]
