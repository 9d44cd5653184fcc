#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload driver_loops --seed 1 --seconds 10 --trace 0

Run from the repository root. The run builds a ``local[k]`` Spark session
(k = min(4, nproc - 1)), lands the workload's seeded inputs under
``.perfbench_work/``, runs one untimed warm unit, then timed units for
``--seconds`` and checks every unit's output. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run also writes its spans to
``.perfbench_out/trace-<workload>-<seed>.json``. The line before it is a
run record: machine size, pre-run load, contamination verdict, per-unit
times and the latency tail.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time
import traceback
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import layers  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx, DriverLoops  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEMORY = "2g"

END_TO_END = {
    "pass_s": "s",
    "records_per_s": "1/s",
    "batch_ms_p50": "ms",
    "setup_s": "s",
}

OPS = tuple(w[2] for w in DriverLoops.wrapped)

PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.idle_s": "s", "spark.busy_share": "share",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.stage_reuse_share": "share", "spark.cached_bytes_peak": "bytes",
    "spark.failed_tasks": "count",
    **{f"queries.{q}.{m}": u for q in DriverLoops.ROSTER
       for m, u in (("s", "s"), ("jobs", "count"), ("build_s", "s"))},
    **{f"{op}.s": "s" for op in OPS},
    **{f"{op}.jobs": "count" for op in OPS if op != "components.components_write"},
    "components.connected_components.rounds": "count",
    "stream.batches": "count", "stream.add_batch_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.latest_offset_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.state_rows": "count", "stream.state_memory_bytes": "bytes",
    "stream.state_commit_ms": "ms", "stream.state_update_ms": "ms",
    "store.fold_ms": "ms", "store.pairs_ms": "ms", "store.cc_fold_ms": "ms",
    "store.compactions": "count", "store.read_fanin": "count", "store.bytes_on_disk": "bytes",
    **{f"self.{k}_s": "s" for k in ("unit", "query", "build", "exec", "op", "job")},
    "trace.overhead_s": "s",
    "jvm.peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file Spark, its Python workers and the library write
    inside ``work``; put the repository on the workers' import path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["KW_COMPONENTS_STORE"] = os.path.join(work, "components_store")


def start_session(cores: int, work: str):
    from kafka_workers_spark import WorkersConfig, build_session

    return build_session(WorkersConfig(
        app_name="kafka_workers_spark_perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_confs={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    ))


def stop_jvm(spark) -> float:
    """Stop Spark, end the JVM and wait for it; return the largest resident
    set any waited-for child process reached, in MB."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0


def spark_layer(spark, tracer, unit_span, unit, cores):
    """Jobs of one unit from the status store: attach each as a span under
    the innermost traced span that held its submission, and total the
    stage counters."""
    jobs = layers.jobs_between(spark, unit.start, unit.end)
    for j in jobs:
        parent = tracer.innermost(j.start, unit_span)
        tracer.add(f"job-{j.job_id}", "job", j.start, min(j.end, max(j.start, unit.end)), parent.id)
    tot = layers.stage_totals(spark, jobs, cores, unit.end - unit.start)
    tot["jobs"] = float(len(jobs))
    tot["cached_bytes_peak"] = float(layers.cached_bytes(spark))
    tot["idle_s"] = layers.idle_time((unit.start, unit.end), [(j.start, j.end) for j in jobs])
    return tot


def layer_values(tracer, unit_span, unit, spark_tot) -> dict[str, float]:
    """Every per-layer metric for one traced unit (0 where the workload
    does not touch the layer)."""
    spans = [s for s in tracer.spans if _under(tracer, s, unit_span)]
    v = dict.fromkeys(PER_LAYER, 0.0)
    for k, x in spark_tot.items():
        v[f"spark.{k}"] = x
    v["spark.cached_bytes_peak"] = max(
        [v["spark.cached_bytes_peak"]]
        + [d.get("cached_bytes", 0) for d in unit.detail.values() if isinstance(d, dict)])

    def jobs_under(s):
        return sum(1 for j in spans if j.kind == "job" and _under(tracer, j, s))

    for s in spans:
        if s.kind == "query" and f"queries.{s.name}.s" in v:
            v[f"queries.{s.name}.s"] = s.end - s.start
            v[f"queries.{s.name}.jobs"] = jobs_under(s)
            v[f"queries.{s.name}.build_s"] = unit.detail[s.name]["build_s"]
        elif s.kind == "op" and f"{s.name}.s" in v:
            v[f"{s.name}.s"] += s.end - s.start
            if f"{s.name}.jobs" in v:
                v[f"{s.name}.jobs"] += jobs_under(s)
            if s.name == "components.connected_components":
                v["components.connected_components.rounds"] += s.attrs.get("stats.rounds", 0)
    for name in ("fold", "pairs", "cc_fold"):
        calls = [(s.end - s.start) * 1000.0 for s in spans if s.kind == "op" and s.name == f"store.{name}"]
        v[f"store.{name}_ms"] = layers.median(calls)
    d = unit.detail
    if "progress" in d:
        v.update(stream_values(d["progress"]))
    for k in ("compactions", "read_fanin", "bytes_on_disk"):
        if k in d:
            v[f"store.{k}"] = d[k]
    for kind, secs in layers.self_times(spans).items():
        if f"self.{kind}_s" in v:
            v[f"self.{kind}_s"] = secs
    return v


def stream_values(progress: list[dict]) -> dict[str, float]:
    """Per-batch medians of the ``StreamingQueryProgress`` phases of a
    drain's data batches; state-store size from the last batch that has a
    state operator."""
    median = layers.median

    def phase(key):
        return median(float(p["durationMs"].get(key, 0)) for p in progress)

    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    return {
        "stream.batches": float(len(progress)),
        "stream.add_batch_ms": phase("addBatch"),
        "stream.query_planning_ms": phase("queryPlanning"),
        "stream.latest_offset_ms": phase("latestOffset"),
        "stream.wal_commit_ms": phase("walCommit"),
        "stream.state_rows": float(state[-1]["numRowsTotal"]) if state else 0.0,
        "stream.state_memory_bytes": float(state[-1]["memoryUsedBytes"]) if state else 0.0,
        "stream.state_commit_ms": median(float(x.get("commitTimeMs", 0)) for x in state),
        "stream.state_update_ms": median(float(x.get("allUpdatesTimeMs", 0)) for x in state),
    }


def _under(tracer, s, root) -> bool:
    while s is not None:
        if s.id == root.id:
            return True
        s = tracer.spans[s.parent] if s.parent is not None else None
    return False


def cached_reference(wl, ctx) -> tuple[dict[str, str], bool]:
    """The workload's correctness reference, computed once per checkout.
    The reference depends only on table content, which the generator
    fixes, and on code; so the cache key is a digest of the library, the
    benchmark, the oracle helpers and the engine versions. It is not keyed
    on ``--seed``."""
    import hashlib

    import duckdb
    import numpy
    import pyarrow
    import pyspark

    h = hashlib.sha256(repr((wl.name, duckdb.__version__, numpy.__version__,
                             pyarrow.__version__, pyspark.__version__)).encode())
    files = [os.path.join(ROOT, "tests", "oracle.py")]
    for top in ("kafka_workers_spark", "perfbench"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + fh.read())
    path = os.path.join(OUT, "references", f"{wl.name}-{h.hexdigest()[:20]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh), True
    expected = wl.reference(ctx)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(expected, fh)
    os.replace(path + ".tmp", path)
    return expected, False


def fits(t_start: float, done: list, budget: float) -> bool:
    """Whether one more unit, as long as the last one, ends inside the
    measuring budget."""
    return time.perf_counter() - t_start + done[-1].wall_s <= budget


def run(args) -> int:
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)
    nproc = os.cpu_count() or 1
    # one core stays free for the JVM's JIT compiler and driver threads: in
    # a run the C2 compiler thread alone burned about one core, and with
    # every core running tasks the timings drifted with its progress
    cores = max(1, min(4, nproc - 1))
    load_start = os.getloadavg()
    wl = WORKLOADS[args.workload]()

    t0 = time.perf_counter()
    spark = start_session(cores, work)
    try:
        ctx = Ctx(spark, work, args.seed)
        session_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        wl.land(ctx)
        land_s = time.perf_counter() - t1
        # the warm unit runs before the correctness reference exists, so
        # the reference's own Spark jobs stay out of set-up time; its
        # output is not checked
        t2 = time.perf_counter()
        warm = wl.unit(ctx, "warm", check=False)
        warm_s = time.perf_counter() - t2
        setup_s = session_s + land_s + warm_s
        t3 = time.perf_counter()
        wl.expected, reference_cached = cached_reference(wl, ctx)
        reference_s = time.perf_counter() - t3

        untraced, traced = [], []
        tracer = layers.Tracer(uuid.uuid4().hex) if args.trace else None
        budget = args.seconds / 2 if args.trace else args.seconds
        t_start = time.perf_counter()
        while not untraced or fits(t_start, untraced, budget):
            untraced.append(wl.unit(ctx, f"u{len(untraced)}"))
        trace_rows = []
        if tracer is not None:
            ctx.tracer = tracer
            wrappers = wl.install_wrappers(tracer)
            try:
                t_start = time.perf_counter()
                while not traced or fits(t_start, traced, budget):
                    with tracer.span(f"unit-{len(traced)}", "unit") as us:
                        u = wl.unit(ctx, f"t{len(traced)}")
                    u.start, u.end = us.start, us.end
                    tot = spark_layer(spark, tracer, us, u, cores)
                    trace_rows.append(layer_values(tracer, us, u, tot))
                    traced.append(u)
            finally:
                wrappers.restore()
        units = untraced + traced
        load_end = os.getloadavg()
    except BaseException:
        traceback.print_exc()
        stop_jvm(spark)
        return 1
    peak_rss_mb = stop_jvm(spark)

    attempted = sum(u.attempted for u in units)
    failed = sum(u.failed for u in units)
    walls = [u.wall_s for u in untraced]
    pass_s = layers.median(walls)
    items = [x for u in untraced for x in u.items_ms]
    tail = layers.tail_percentile(items)

    import bench

    # the warm unit is the first-run lane and the timed median the kept
    # lane of bench.py's contamination rule
    if args.workload == "driver_loops":
        first = {n: d["s"] for n, d in warm.detail.items()}
        kept = {n: layers.median(u.detail[n]["s"] for u in untraced) for n in first}
    else:
        first, kept = {"drain": warm.wall_s}, {"drain": pass_s}
    contaminated, reasons = bench.assess_contamination(load_start[0], {}, first, kept)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": nproc, "local_k": cores, "driver_memory": DRIVER_MEMORY,
        "load_start_1m_5m_15m": [round(x, 2) for x in load_start],
        "load_end_1m_5m_15m": [round(x, 2) for x in load_end],
        "contaminated": contaminated, "contamination_reasons": reasons,
        "setup_parts_s": {"session": session_s, "land": land_s, "warm": warm_s,
                          **warm.detail.get("part_walls_s", {})},
        "reference_s": reference_s, "reference_cached": reference_cached,
        "run_s": time.perf_counter() - t0,
        "unit_walls_s": walls, "unit_items_ms": [u.items_ms for u in untraced],
        "peak_rss_mb": peak_rss_mb, "traced_unit_walls_s": [u.wall_s for u in traced],
        "failed_share": failed / attempted if attempted else 1.0,
        "batch_ms_tail": None if tail is None else {"percentile": tail[0], "value": tail[1],
                                                    "samples": len(items)},
    }
    if args.trace:
        per_layer = {k: layers.median(row[k] for row in trace_rows) for k in PER_LAYER}
        per_layer["trace.overhead_s"] = layers.median(u.wall_s for u in traced) - pass_s
        per_layer["jvm.peak_rss_mb"] = peak_rss_mb
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"record": record, "per_layer": per_layer, "per_unit": trace_rows,
                       "spans": tracer.as_json()}, f)
        metrics = {k: {"value": per_layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "pass_s": pass_s,
            "records_per_s": layers.median(u.records / u.wall_s for u in untraced),
            "batch_ms_p50": layers.median(items),
            "setup_s": setup_s,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kafka_workers_spark", "__init__.py")):
        print("perfbench: run from the repository root (kafka_workers_spark/ not found)",
              file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        return run(args)
    finally:
        shutil.rmtree(os.path.join(WORK, f"{args.workload}-{os.getpid()}"), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
