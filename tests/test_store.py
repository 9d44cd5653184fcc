"""Shared store mechanics (kafka_workers_spark/store.py): fault injection
over every replace-published family, the components store's symlink
flip, and a pin on the at-rest layout stores written by older builds
must keep loading from.

Fault injection: the store's ``os.rename`` / ``shutil.rmtree`` raise at
the k-th call of one publish, for every k. After each injected crash
the family's reader must show exactly the old or the new contents
(per bucket for the bucketed store, whose buckets publish one by one by
design), and re-running the same batch id must equal the one-shot
build."""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from kafka_workers_spark import store
from tests.conftest import SF_SMOKE

# many tiny actions per test: AQE's per-stage round trips would dominate
_no_aqe = pytest.fixture(scope="module", autouse=True)(lambda no_aqe: None)


class _Crash(Exception):
    pass


@contextmanager
def _faults(monkeypatch, root: str, crash_at: int | None):
    """Count store renames/rmtrees touching ``root``; raise on call
    number ``crash_at`` (0-based) instead of performing it."""
    calls: list[str] = []
    real = {"rename": store.os.rename, "rmtree": store.shutil.rmtree}

    def hook(name):
        def call(path, *a, **kw):
            if str(path).startswith(root + os.sep):
                calls.append(name)
                if len(calls) - 1 == crash_at:
                    raise _Crash(f"{name} #{crash_at}")
            return real[name](path, *a, **kw)

        return call

    with monkeypatch.context() as m:
        m.setattr(store.os, "rename", hook("rename"))
        m.setattr(store.shutil, "rmtree", hook("rmtree"))
        yield calls


def _crash_matrix(tmp_path, monkeypatch, make_fold, read, old_batch, new_batch, want):
    """``make_fold(store_dir)`` builds the family's fold; ``read(store_dir)``
    returns a tuple of per-publish-unit row lists through the family's
    reader. Batch 0 seeds the old store; batch 1 is published once
    cleanly (counting its filesystem steps), then once per step with a
    crash injected there."""
    seed = tmp_path / "seed"
    make_fold(str(seed / "store"))(old_batch, 0)
    markers = [os.path.join(r, f) for r, _, fs in os.walk(seed) for f in fs
               if f == store.MARKER]
    assert markers
    for m in markers:  # marker layout: older stores must keep loading
        with open(m) as fh:
            assert set(json.load(fh)) == {"batch_id", "lineage"}
    old = read(str(seed / "store"))

    clean = tmp_path / "clean"
    shutil.copytree(seed, clean, symlinks=True)
    with _faults(monkeypatch, str(clean), crash_at=None) as calls:
        make_fold(str(clean / "store"))(new_batch, 1)
    new = read(str(clean / "store"))
    assert new == want and new != old
    assert len(calls) >= 3, calls  # park, publish, reap at least

    for k in range(len(calls)):
        d = tmp_path / f"crash{k}"
        shutil.copytree(seed, d, symlinks=True)
        st = str(d / "store")
        with pytest.raises(_Crash), _faults(monkeypatch, str(d), crash_at=k):
            make_fold(st)(new_batch, 1)
        got = read(st)
        assert all(g in (o, n) for g, o, n in zip(got, old, new)), (k, calls[k])
        make_fold(st)(new_batch, 1)  # the replayed batch completes the publish
        assert read(st) == want, (k, calls[k])


OBS = "user_id long, ts timestamp, event_type string, event_id long"
SCD2_ARGS = (["user_id"], "ts", ["event_type"], "event_id")


def _obs(spark):
    t = lambda s: datetime(2024, 1, 1) + timedelta(seconds=s)  # noqa: E731
    b0 = [(1, t(0), "a", 1), (2, t(5), "x", 2), (3, t(6), "p", 3)]
    b1 = [(1, t(20), "b", 4), (2, t(25), "x", 5), (3, t(30), "q", 6),
          (4, t(31), "z", 7)]
    return spark.createDataFrame(b0, OBS), spark.createDataFrame(b1, OBS)


def _scd2_rows(df):
    return sorted(
        (r.user_id, r.event_type, r.valid_from, r.valid_to) for r in df.collect()
    )


def _plain_read(spark, rows):
    """Whole-store folds have no reader function: heal, then read."""

    def read(d):
        store.heal(d)
        return (rows(spark.read.parquet(d)),)

    return read


def test_scd2_fold_survives_every_crash_point(spark, tmp_path, monkeypatch):
    from kafka_workers_spark.pipeline import scd2_history
    from kafka_workers_spark.streaming.maintenance import scd2_fold

    b0, b1 = _obs(spark)
    want = (_scd2_rows(scd2_history(b0.unionByName(b1), *SCD2_ARGS)),)
    _crash_matrix(
        tmp_path, monkeypatch,
        lambda d: scd2_fold(spark, d, *SCD2_ARGS, lineage="L"),
        _plain_read(spark, _scd2_rows), b0, b1, want,
    )


def test_upsert_fold_survives_every_crash_point(spark, tmp_path, monkeypatch):
    from kafka_workers_spark.streaming.maintenance import upsert_fold

    b0, b1 = _obs(spark)

    def rows(df):
        return sorted((r.user_id, r.event_type, r.event_id) for r in df.collect())

    latest = {u: (u, e, i) for u, _, e, i in sorted(
        map(tuple, b0.unionByName(b1).collect()), key=lambda r: r[3])}
    want = (sorted(latest.values()),)
    _crash_matrix(
        tmp_path, monkeypatch,
        lambda d: upsert_fold(spark, d, ["user_id"], "event_id", lineage="L"),
        _plain_read(spark, rows), b0, b1, want,
    )


def test_scd2_fold_bucketed_survives_every_crash_point(spark, tmp_path, monkeypatch):
    from kafka_workers_spark.pipeline import scd2_history
    from kafka_workers_spark.streaming.maintenance import (
        read_bucketed_store,
        scd2_fold_bucketed,
    )

    n = 2
    b0, b1 = _obs(spark)
    bucket = F.pmod(F.xxhash64("user_id"), F.lit(n))

    def per_bucket(df):
        return tuple(_scd2_rows(df.filter(bucket == b)) for b in range(n))

    want = per_bucket(scd2_history(b0.unionByName(b1), *SCD2_ARGS))
    assert all(want), "the new batch must touch every bucket"
    _crash_matrix(
        tmp_path, monkeypatch,
        lambda d: scd2_fold_bucketed(spark, d, *SCD2_ARGS, n_buckets=n, lineage="L"),
        lambda d: per_bucket(read_bucketed_store(spark, d)), b0, b1, want,
    )


def test_cardinality_fold_survives_every_crash_point(spark, tmp_path, monkeypatch):
    from kafka_workers_spark.functions.sketches import kmv_build
    from kafka_workers_spark.streaming.cardinality import (
        cardinality_fold,
        read_cardinality_store,
    )

    schema = "src string, user long"
    b0 = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], schema)
    b1 = spark.createDataFrame([("a", 4), ("b", 3), ("c", 5)], schema)

    def rows(df):
        return sorted(
            (r.src, tuple(r.hashes), r.n_distinct_capped) for r in df.collect()
        )

    want = (rows(kmv_build(b0.unionByName(b1), "user", k=4, group_cols=["src"])),)
    _crash_matrix(
        tmp_path, monkeypatch,
        lambda d: cardinality_fold(spark, d, ["src"], "user", k=4, lineage="L"),
        lambda d: (rows(read_cardinality_store(spark, d)),), b0, b1, want,
    )


def test_components_fold_survives_every_crash_point(spark, tmp_path, monkeypatch):
    from kafka_workers_spark.operators.components import connected_components
    from kafka_workers_spark.streaming.components import (
        components_fold,
        read_components_store,
    )

    schema = "doc_a long, doc_b long"
    b0 = spark.createDataFrame([(1, 2), (5, 6)], schema)
    b1 = spark.createDataFrame([(2, 5), (8, 9)], schema)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    want = (rows(connected_components(b0.unionByName(b1))),)
    _crash_matrix(
        tmp_path, monkeypatch,
        lambda d: components_fold(spark, d, lineage="L"),
        lambda d: (rows(read_components_store(spark, d)),), b0, b1, want,
    )


def test_cc_store_crash_between_temp_symlink_and_rename(spark, tmp_path, monkeypatch):
    """A rebuild killed after its temp symlink exists but before the
    rename leaves the previous generation served; the next rebuild
    publishes normally."""
    from kafka_workers_spark.queries.dedup import _cc_groups, _cc_store

    monkeypatch.setenv("KW_COMPONENTS_STORE", str(tmp_path / "root"))
    sf = SF_SMOKE
    fresh = sorted(map(tuple, _cc_groups(spark, sf).collect()))
    assert sorted(map(tuple, _cc_store(spark, sf).collect())) == fresh
    root = str(tmp_path / "root")
    link = next(os.path.join(root, d) for d in os.listdir(root)
                if os.path.islink(os.path.join(root, d)))
    served = os.readlink(link)

    real_rename = os.rename

    def rename(src, dst, *a, **kw):
        if str(src).endswith(".link"):
            assert os.path.islink(src)  # the temp symlink is in place
            raise _Crash("killed before the symlink rename")
        return real_rename(src, dst, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", rename)
        with pytest.raises(_Crash):
            _cc_store(spark, sf, force_rebuild=True)
    assert os.readlink(link) == served
    assert sorted(map(tuple, _cc_store(spark, sf).collect())) == fresh
    rebuilt = _cc_store(spark, sf, force_rebuild=True)
    assert sorted(map(tuple, rebuilt.collect())) == fresh
    assert os.readlink(link) != served


def _ddl_columns(ddl: str) -> list[tuple[str, str]]:
    return [tuple(c.split()) for c in ddl.split(", ")]


def test_index_meta_layouts_are_pinned(spark, tmp_path):
    """Each index family's one-row meta table keeps the exact schema
    builds before the shared store module wrote, so those stores still
    load."""
    from kafka_workers_spark.operators.components import (
        components_read,
        components_write,
    )
    from kafka_workers_spark.operators.similarity import (
        IvfPqIndex,
        ann_read_index,
        ann_write_index,
    )
    from kafka_workers_spark.operators.text import (
        Bm25Index,
        bm25_read_index,
        bm25_write_index,
        posindex_read,
        posindex_write,
    )

    one = spark.range(1)
    postings = spark.createDataFrame([(1, 0, "a")], "doc_id long, pos int, term string")
    labels = spark.createDataFrame([(1, 1)], "node long, comp long")
    cases = {
        "bm25": (
            lambda p: bm25_write_index(Bm25Index(one, one, one, one, "doc_id"), p),
            lambda p: bm25_read_index(spark, p).id_col == "doc_id",
            "id_col string, version int",
        ),
        "posindex": (
            lambda p: posindex_write(postings, p),
            lambda p: posindex_read(spark, p)[1] == "doc_id",
            "id_col string, version int",
        ),
        "ann": (
            lambda p: ann_write_index(IvfPqIndex(one, one, one, one, 3, "vec_id"), p),
            lambda p: ann_read_index(spark, p)[4:] == (3, "vec_id"),
            "id_col string, dsub int, version int",
        ),
        "components": (
            lambda p: components_write(labels, p, fingerprint="f"),
            lambda p: components_read(spark, p, expect_fingerprint="f").count() == 1,
            "node_col string, comp_col string, fingerprint string, version int",
        ),
    }
    for name, (write, reads_back, ddl) in cases.items():
        p = str(tmp_path / name)
        write(p)
        schema = spark.read.parquet(f"{p}/meta").schema
        got = [(f.name, f.dataType.simpleString()) for f in schema]
        assert got == _ddl_columns(ddl), name
        assert reads_back(p), name


def test_lock_serializes_threads_in_one_process(tmp_path):
    """store.lock is the only mutex behind the components-store build and
    the dedup index: flock on separate open()s must exclude threads of
    one process too. A lost update on the unlocked read-modify-write
    below would leave the counter short."""
    import sys
    import threading

    lock_path, counter = str(tmp_path / "x.lock"), tmp_path / "n"
    counter.write_text("0")
    n_threads, n_iters = 8, 40

    def work():
        for _ in range(n_iters):
            with store.lock(lock_path):
                v = int(counter.read_text())
                counter.write_text(str(v + 1))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert int(counter.read_text()) == n_threads * n_iters
