"""Python-worker runtime: the stat-checked zip-importer invalidation.

Every PySpark worker task calls ``importlib.invalidate_caches()``; on
interpreters whose ``zipimporter.invalidate_caches`` re-reads the archive
eagerly, ``session._install_zip_stat_check`` makes that call skip archives
whose ``(st_mtime_ns, st_size)`` has not changed. The unit tests build a
zip module on ``sys.path`` and count ``zipimport._read_directory`` calls;
the live test pins the count inside real worker tasks.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_workers_spark.session import _install_zip_stat_check
from kafka_workers_spark.streaming.gate import _gate_handler
from kafka_workers_spark.streaming.merge import _merge_handler
from kafka_workers_spark.streaming.stateful import WorkerTask, _task_handler, replay_worker_task
from kafka_workers_spark.streaming.tasks import AT_LEAST_ONCE, NONE, transform_batches

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_LAZY = hasattr(zipimport.zipimporter, "_get_files")
eager_only = pytest.mark.skipif(_LAZY, reason="zipimporter already invalidates lazily")


def _original():
    cur = zipimport.zipimporter.invalidate_caches
    return getattr(cur, "__wrapped__", cur)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    seen: list[str] = []
    read = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def unwrapped(monkeypatch):
    """The interpreter's own ``invalidate_caches`` back on the class for
    the test (the package import installed the wrapper); restored after."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _original())


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """``write(modules)`` (re)writes a zip holding package ``kwzp`` with
    the given submodules; the archive is on ``sys.path`` and every module
    and importer it creates is dropped at teardown."""
    archive = str(tmp_path / "kwzp.zip")

    def write(modules):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("kwzp/__init__.py", "")
            for name, body in modules.items():
                z.writestr(f"kwzp/{name}.py", body)

    write({"a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive, write
    for name in [m for m in sys.modules if m == "kwzp" or m.startswith("kwzp.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]


def _archive_reads(seen, archive):
    return sum(p == archive for p in seen)


def _zip_importers(archive):
    return [
        f for k, f in sys.path_importer_cache.items()
        if k.startswith(archive) and isinstance(f, zipimport.zipimporter)
    ]


@eager_only
def test_unchanged_archive_is_not_reread(unwrapped, zip_pkg, reads):
    archive, _ = zip_pkg
    importlib.import_module("kwzp.a")
    # the archive root and the package path inside it: two importers
    assert len(_zip_importers(archive)) == 2
    reads.clear()
    importlib.invalidate_caches()
    assert _archive_reads(reads, archive) == 2  # the interpreter's own re-read
    # importers that predate the install are re-read once, by the install
    _install_zip_stat_check()
    assert _archive_reads(reads, archive) == 3
    for _ in range(5):
        importlib.invalidate_caches()
    assert _archive_reads(reads, archive) == 3
    assert importlib.import_module("kwzp.a").X == 1


@eager_only
def test_rewritten_archive_is_reread_and_new_module_imports(unwrapped, zip_pkg, reads):
    archive, write = zip_pkg
    _install_zip_stat_check()
    importlib.import_module("kwzp.a")
    importlib.invalidate_caches()
    n = _archive_reads(reads, archive)
    write({"a": "X = 1\n", "b": "Y = 2\n"})
    importlib.invalidate_caches()
    # one read of the new directory serves both importers of the archive
    assert _archive_reads(reads, archive) == n + 1
    for f in _zip_importers(archive):
        assert "kwzp/b.py" in f._files
    assert importlib.import_module("kwzp.b").Y == 2
    importlib.invalidate_caches()
    assert _archive_reads(reads, archive) == n + 1


@eager_only
def test_missing_archive_falls_through_to_the_original_reread(unwrapped, zip_pkg, reads):
    archive, _ = zip_pkg
    _install_zip_stat_check()
    importlib.import_module("kwzp.a")
    importlib.invalidate_caches()
    n = _archive_reads(reads, archive)
    os.remove(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    # stat fails: every call tries the interpreter's re-read, which fails
    # and empties each importer's directory, as without the wrapper
    assert _archive_reads(reads, archive) == n + 4
    assert all(f._files == {} for f in _zip_importers(archive))


@eager_only
def test_install_twice_wraps_once(unwrapped):
    orig = zipimport.zipimporter.invalidate_caches
    _install_zip_stat_check()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped is not orig and wrapped.__wrapped__ is orig
    _install_zip_stat_check()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def test_lazy_interpreter_is_left_untouched(unwrapped, monkeypatch):
    orig = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "_get_files", lambda self: {}, raising=False)
    _install_zip_stat_check()
    assert zipimport.zipimporter.invalidate_caches is orig


def test_reused_worker_skips_unchanged_archives(spark):
    """A library grouped-map run twice on one session: in the second run,
    each group's own ``importlib.invalidate_caches()`` reads no zip
    directory, in every task."""

    def process(key, pdf, st):
        import importlib
        import zipimport

        from pyspark import TaskContext

        seen = []
        read = zipimport._read_directory

        def counting(path):
            seen.append(path)
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        return pd.DataFrame({
            "k": [int(key[0])], "part": [TaskContext.get().partitionId()],
            "reads": [len(seen)], "zips": [zips],
        }), st

    df = spark.range(60).selectExpr("id % 12 AS k", "id").repartition(3, "k")
    schema = "k long, part int, reads long, zips long"
    runs = [
        replay_worker_task(df, ["k"], WorkerTask(process=process), schema).toPandas()
        for _ in range(2)
    ]
    second = runs[1]
    assert sorted(second["k"]) == list(range(12))
    assert second["part"].nunique() == 3
    if not (second["zips"] > 0).all():
        pytest.skip("the Python workers import nothing from a zip archive")
    assert (second["reads"] == 0).all(), second.to_string()


def _imports_package_when_unpickled(fn) -> bool:
    """Whether a fresh interpreter that unpickles ``fn`` (as a worker
    does) has imported ``kafka_workers_spark``."""
    from pyspark import cloudpickle

    probe = (
        "import pickle, sys; sys.path.insert(0, sys.argv[1]); "
        "pickle.loads(sys.stdin.buffer.read()); print('kafka_workers_spark' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, _REPO], input=cloudpickle.dumps(fn),
        capture_output=True, check=True,
    )
    return out.stdout.decode().strip() == "True"


@pytest.mark.parametrize(
    "handler",
    [
        lambda: _task_handler(WorkerTask(process=lambda k, pdf, st: (pdf, st)), None, None, None, None),
        lambda: _gate_handler(["k", "ts"], ["k"], lambda r, s: True, "ts", None, None, None, None, None, None),
        lambda: _merge_handler("k", "ts", ["side", "ts"], "side", 2, None),
    ],
    ids=["worker_task", "accept_gate", "merge"],
)
def test_live_stateful_handler_imports_the_package_when_unpickled(handler):
    """A worker installs the wrapper when it unpickles a library UDF: the
    live stateful handlers' pickles must reference a library module, so a
    fresh interpreter that loads one has imported ``kafka_workers_spark``."""
    assert _imports_package_when_unpickled(handler())


@pytest.mark.parametrize("guarantee", [AT_LEAST_ONCE, NONE])
def test_transform_batches_function_imports_the_package_when_unpickled(guarantee):
    """The stateless task runner's ``mapInPandas`` function, for both
    guarantees, references a library module even when the user transform
    references none, so its worker installs the wrapper too."""

    class Capture:
        def mapInPandas(self, func, schema):  # noqa: N802
            self.func = func

    df = Capture()
    schema = StructType([StructField("x", LongType()), StructField("__error", StringType())])
    transform_batches(df, lambda pdf: pdf, schema, guarantee=guarantee)
    assert _imports_package_when_unpickled(df.func)


def _bpe_train_plan_site(spark):
    from kafka_workers_spark.operators.text import bpe_train_plan

    bpe_train_plan(spark.createDataFrame([("ab ab",)], "text string"), 2)


def _lloyd_site(spark):
    from kafka_workers_spark.operators.similarity import kmeans_fixed

    comp = spark.createDataFrame([(1, 0, 5), (2, 0, 7)], "vec_id long, i int, x long")
    kmeans_fixed(comp, k=1, iters=1)


def _bpe_encode_site(spark):
    from kafka_workers_spark.operators.text import bpe_encode

    bpe_encode(spark.createDataFrame([("ab ab",)], "text string"), [("a", "b")])


@pytest.mark.parametrize(
    "site", [_bpe_train_plan_site, _lloyd_site, _bpe_encode_site],
    ids=["bpe_train_plan", "lloyd", "bpe_encode"],
)
def test_library_map_task_imports_the_package_when_unpickled(spark, monkeypatch, site):
    """The Python tasks of the one-task trainers (BPE's merge solver,
    the Lloyd solver) and of bpe_encode are module-level library
    functions, so the worker that unpickles one imports the package and
    installs the wrapper. The function is captured where the operator
    hands it to ``mapInArrow``/``mapInPandas``."""
    cls = type(spark.range(1))
    seen = []
    for name in ("mapInArrow", "mapInPandas"):
        orig = getattr(cls, name)

        def capture(self, func, *args, _orig=orig, **kwargs):
            seen.append(func)
            return _orig(self, func, *args, **kwargs)

        monkeypatch.setattr(cls, name, capture)
    site(spark)
    assert len(seen) == 1
    assert _imports_package_when_unpickled(seen[0])
