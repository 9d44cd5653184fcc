"""The benchmark's workloads. Each one lands its seeded inputs, runs one
untimed warm unit, computes its correctness reference, then runs timed
units: a pass over a query roster, or the drain of a landed stream
backlog. Every call goes through the library's public entry points."""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import inputs
from perfbench.layers import LayerWrappers, Tracer, cached_bytes


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: Tracer | None = None


@dataclass
class Unit:
    """One timed unit: its wall time, per-item latencies (a query, or a
    micro-batch's ``triggerExecution``), the input records it consumed,
    and how many of its checked outputs were attempted and wrong."""

    wall_s: float
    items_ms: list[float]
    records: int
    attempted: int
    failed: int
    start: float = 0.0
    end: float = 0.0
    detail: dict = field(default_factory=dict)


def result_hash(pdf) -> str:
    """Order-insensitive value hash of a result frame, by the repository
    oracle's canonical form (columns by name, rows sorted)."""
    from tests.oracle import canonicalize

    return rows_hash((sorted(pdf.columns), canonicalize(pdf)))


def rows_hash(value) -> str:
    return hashlib.sha256(repr(value).encode()).hexdigest()


class Workload:
    name = ""
    #: (module, function, metric label[, wrap options]) of the public
    #: functions a traced unit times
    wrapped: tuple[tuple, ...] = ()

    def land(self, ctx: Ctx) -> None:
        raise NotImplementedError

    #: correctness reference: result hashes by name, set before timed units
    expected: dict[str, str]

    def reference(self, ctx: Ctx) -> dict[str, str]:
        """Compute the correctness reference for the landed inputs. It
        depends only on table content and code, not on ``--seed``."""
        raise NotImplementedError

    def unit(self, ctx: Ctx, tag: str, check: bool = True) -> Unit:
        """Run one unit; with ``check`` compare its output to the
        reference and count a mismatch as failed."""
        raise NotImplementedError

    def install_wrappers(self, tracer: Tracer) -> LayerWrappers:
        w = LayerWrappers(tracer)
        for args in self.wrapped:
            module, name, metric, *rest = args
            w.wrap(module, name, metric, **(rest[0] if rest else {}))
        return w


#: Generator seed of the table content. Fixed, so every run does the same
#: logical work and run-to-run spread is measurement noise, not a different
#: graph; the run's ``--seed`` permutes rows and places file cuts.
CONTENT_SEED = 20240101


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, int(hashlib.sha256(stream.encode()).hexdigest()[:8], 16)])


class DriverLoops(Workload):
    """Iterative operators whose cost is driver-synchronized actions:
    connected components, product-quantizer training and BPE."""

    name = "driver_loops"
    ROSTER = ("dedup_components_rebuild", "ann_pq_adc_topk", "text_bpe_train")
    N_DOCS, N_VECS, N_ORDERS = 500, 500, 1500
    wrapped = (
        ("kafka_workers_spark.operators.components", "connected_components",
         "components.connected_components", {"stats_kw": "stats"}),
        ("kafka_workers_spark.operators.components", "components_write", "components.components_write"),
        ("kafka_workers_spark.operators.similarity", "pq_train", "similarity.pq_train"),
        ("kafka_workers_spark.operators.text", "bpe_train_plan", "text.bpe_train_plan"),
    )

    def land(self, ctx: Ctx) -> None:
        self.sf_dir = os.path.join(ctx.work, "sf")
        tables = {
            "documents": inputs.documents(_rng(CONTENT_SEED, "documents"), self.N_DOCS),
            "embeddings": inputs.embeddings(_rng(CONTENT_SEED, "embeddings"), self.N_VECS),
        }
        order = _rng(ctx.seed, "row-order")
        tables = {n: inputs.shuffled(t, order) for n, t in tables.items()}
        inputs.land_tables(tables, self.sf_dir)
        self.records = sum(t.num_rows for t in tables.values())
        from kafka_workers_spark.queries import load_all

        self.specs = {n: load_all()[n] for n in self.ROSTER}

    def reference(self, ctx: Ctx) -> dict[str, str]:
        from tests.oracle import duck_connection

        con = duck_connection(self.sf_dir)
        try:
            return {n: result_hash(con.execute(s.oracle).fetch_df()) for n, s in self.specs.items()}
        finally:
            con.close()

    def unit(self, ctx: Ctx, tag: str, check: bool = True) -> Unit:
        spark, tr = ctx.spark, ctx.tracer
        items, detail, failed = [], {}, 0
        start = time.time()
        t_pass = time.perf_counter()
        for n, spec in self.specs.items():
            spark.catalog.clearCache()
            q0 = time.perf_counter()
            if tr is None:
                df = spec.fn(spark, self.sf_dir)
                q1 = time.perf_counter()
                pdf = df.toPandas()
            else:
                with tr.span(n, "query"):
                    with tr.span("build", "build"):
                        df = spec.fn(spark, self.sf_dir)
                    q1 = time.perf_counter()
                    with tr.span("exec", "exec"):
                        pdf = df.toPandas()
            q2 = time.perf_counter()
            items.append((q2 - q0) * 1000.0)
            detail[n] = {"s": q2 - q0, "build_s": q1 - q0}
            if tr is not None:
                detail[n]["cached_bytes"] = cached_bytes(spark)
            if check and result_hash(pdf) != self.expected[n]:
                failed += 1
                detail[n]["wrong"] = True
        wall = time.perf_counter() - t_pass
        return Unit(wall, items, self.records, len(self.specs) if check else 0, failed,
                    start, time.time(), detail)


def _progress(q) -> list[dict]:
    return [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]


class _Stream(Workload):
    def _fresh(self, ctx: Ctx, tag: str) -> str:
        d = os.path.join(ctx.work, "runs", tag)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


class StatefulStream(_Stream):
    """ts-ordered event files -> the per-user funnel ``WorkerTask`` on
    ``applyInPandasWithState`` -> the exactly-once parquet sink, one file
    per trigger, stopped once the backlog's rows are processed."""

    name = "stateful_stream"
    # three batches, so the unit's median micro-batch latency is a middle
    # funnel batch rather than the slower of two
    N_FILES = 3
    STEPS = ["view", "click", "purchase"]
    N_EVENTS = 4000
    SCHEMA = "user_id long, ts timestamp, event_type string"

    def land(self, ctx: Ctx) -> None:
        ev = inputs.events(_rng(CONTENT_SEED, "events"), self.N_EVENTS)
        self.src = os.path.join(ctx.work, "events_backlog")
        cuts = inputs.cut_points(_rng(ctx.seed, "event-cuts"), ev.num_rows, self.N_FILES)
        inputs.land_files(ev, self.src, cuts)
        self.records = ev.num_rows

    def reference(self, ctx: Ctx) -> dict[str, str]:
        from kafka_workers_spark.streaming.funnel import funnel_tasks_batch

        ev = ctx.spark.read.schema(self.SCHEMA).parquet(self.src)
        rows = funnel_tasks_batch(ev, self.STEPS).filter("depth = 3").collect()
        return {"funnel_depth3": rows_hash(sorted(map(tuple, rows)))}

    def unit(self, ctx: Ctx, tag: str, check: bool = True) -> Unit:
        from kafka_workers_spark.streaming.funnel import streaming_funnel
        from kafka_workers_spark.streaming.sinks import exactly_once_parquet_sink

        spark = ctx.spark
        d = self._fresh(ctx, tag)
        stream = spark.readStream.schema(self.SCHEMA).option("maxFilesPerTrigger", 1).parquet(self.src)
        start = time.time()
        t0 = time.perf_counter()
        q = exactly_once_parquet_sink(
            streaming_funnel(stream, self.STEPS), os.path.join(d, "out"),
            os.path.join(d, "ckpt"), trigger_available_now=False)
        try:
            deadline = t0 + 150
            while time.perf_counter() < deadline:
                if sum(p["numInputRows"] for p in _progress(q)) >= self.records:
                    break
                if q.exception() is not None:
                    break
                time.sleep(0.01)
            wall = time.perf_counter() - t0
            end = time.time()
        finally:
            q.stop()
            q.awaitTermination(60)
        prog = _progress(q)
        failed = 0
        if check:
            got = sorted(map(tuple, spark.read.parquet(os.path.join(d, "out")).filter(
                "depth = 3").select("user_id", "t_1", "t_2", "t_3", "depth").collect()))
            failed = int(rows_hash(got) != self.expected["funnel_depth3"]
                         or sum(p["numInputRows"] for p in prog) < self.records)
        items = [float(p["durationMs"]["triggerExecution"]) for p in prog]
        return Unit(wall, items, self.records, int(check), failed, start, end, {"progress": prog})


class StoreIngest(_Stream):
    """Document files -> ``streaming_dedup_ingest``: band-index delta
    commit, ``components_fold`` and inline compaction behind atomic
    renames, drained with the library's own ``availableNow`` trigger."""

    name = "store_ingest"
    N_DOCS = 180
    N_FILES = 1
    COMPACT_EVERY = 1
    wrapped = (
        ("kafka_workers_spark.streaming.dedup_index", "dedup_index_fold", "store.fold",
         {"returns_callable": True}),
        ("kafka_workers_spark.streaming.components", "components_fold", "store.cc_fold",
         {"returns_callable": True}),
        ("kafka_workers_spark.pipeline", "dedup_pairs_incremental", "store.pairs"),
        ("kafka_workers_spark.operators.components", "connected_components",
         "components.connected_components", {"stats_kw": "stats"}),
    )

    def land(self, ctx: Ctx) -> None:
        docs = inputs.documents(_rng(CONTENT_SEED, "ingest"), self.N_DOCS, dup_rate=0.15)
        order = _rng(ctx.seed, "ingest-order")
        docs = inputs.shuffled(docs.select(["doc_id", "text"]), order)
        self.src = os.path.join(ctx.work, "docs_backlog")
        inputs.land_files(docs, self.src, inputs.cut_points(order, docs.num_rows, self.N_FILES))
        self.records = docs.num_rows

    def reference(self, ctx: Ctx) -> dict[str, str]:
        from pyspark.sql import functions as F

        from kafka_workers_spark.operators.components import connected_components
        from kafka_workers_spark.pipeline import build_dedup_index

        docs = ctx.spark.read.parquet(self.src).select("doc_id", "text")
        bands = build_dedup_index(docs)
        index = sorted(map(tuple, bands.collect()))
        a, b = bands.alias("a"), bands.alias("b")
        pairs = a.join(
            b, (F.col("a.band") == F.col("b.band")) & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")).distinct()
        labels = sorted((r.node, r.comp) for r in connected_components(pairs).collect())
        return {"labels": rows_hash(labels), "index": rows_hash(index)}

    def unit(self, ctx: Ctx, tag: str, check: bool = True) -> Unit:
        from kafka_workers_spark.streaming.components import read_components_store
        from kafka_workers_spark.streaming.dedup_index import read_dedup_index, streaming_dedup_ingest

        spark = ctx.spark
        d = self._fresh(ctx, tag)
        idx, cc = os.path.join(d, "band_index"), os.path.join(d, "cc_store")
        stream = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", 1).parquet(self.src)
        start = time.time()
        t0 = time.perf_counter()
        q = streaming_dedup_ingest(stream, idx, cc, os.path.join(d, "ckpt"),
                                   compact_every=self.COMPACT_EVERY)
        done = q.awaitTermination(150)
        wall = time.perf_counter() - t0
        end = time.time()
        if not done:
            q.stop()
            q.awaitTermination(60)
        prog = _progress(q)
        failed = 0
        if check:
            labels = sorted((r.node, r.comp) for r in read_components_store(spark, cc).collect())
            index = sorted(map(tuple, read_dedup_index(spark, idx).collect()))
            failed = int(not done or q.exception() is not None
                         or rows_hash(labels) != self.expected["labels"]
                         or rows_hash(index) != self.expected["index"])
        detail = {"progress": prog}
        names = os.listdir(idx)
        bases = sorted(int(n.split("-", 1)[1]) for n in names if n.startswith("base-"))
        floor = bases[-1] if bases else -1
        detail.update(
            compactions=len(bases),
            read_fanin=int(bool(bases)) + sum(
                1 for n in names if n.startswith("delta-") and int(n.split("-", 1)[1]) > floor),
            bytes_on_disk=sum(os.path.getsize(os.path.join(r, f))
                              for top in (idx, cc) for r, _, fs in os.walk(top) for f in fs),
        )
        items = [float(p["durationMs"]["triggerExecution"]) for p in prog]
        return Unit(wall, items, self.records, int(check), failed, start, end, detail)


class LiveStreams(Workload):
    """Both live paths back to back in one session: a unit drains the
    event backlog through the stateful funnel, then the document backlog
    through the dedup-ingest store."""

    name = "live_streams"

    def __init__(self):
        self.parts = (StatefulStream(), StoreIngest())
        self.wrapped = self.parts[1].wrapped

    def land(self, ctx: Ctx) -> None:
        for p in self.parts:
            p.land(ctx)

    def reference(self, ctx: Ctx) -> dict[str, str]:
        return {k: v for p in self.parts for k, v in p.reference(ctx).items()}

    def unit(self, ctx: Ctx, tag: str, check: bool = True) -> Unit:
        tr = ctx.tracer
        done = []
        for p in self.parts:
            p.expected = getattr(self, "expected", {})
            if tr is None:
                done.append(p.unit(ctx, f"{tag}-{p.name}", check))
            else:
                with tr.span(p.name, "query"):
                    done.append(p.unit(ctx, f"{tag}-{p.name}", check))
        detail = {k: v for u in done for k, v in u.detail.items()}
        detail["progress"] = [x for u in done for x in u.detail["progress"]]
        detail["part_walls_s"] = {p.name: u.wall_s for p, u in zip(self.parts, done)}
        return Unit(sum(u.wall_s for u in done), [x for u in done for x in u.items_ms],
                    sum(u.records for u in done), sum(u.attempted for u in done),
                    sum(u.failed for u in done), done[0].start, done[-1].end, detail)


WORKLOADS = {w.name: w for w in (DriverLoops, LiveStreams)}
