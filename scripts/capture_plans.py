"""Capture .explain("formatted") for every driver-windowed query into
plans/<round>/<query>_<tag>.txt (tag = before/after — a round's
optimization evidence files, which plan claims are checked against).

    python scripts/capture_plans.py <round> <before|after> [names...]

e.g. ``python scripts/capture_plans.py r17 after agg_group_ols``.

Runs at sf0.001 (plan SHAPES are scale-independent; store-backed queries
build eagerly at DataFrame-construction time, which is cheap there) on a
vanilla-ish session matching plan_report.py's settings.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        print(__doc__, file=sys.stderr)
        return 2
    rnd, tag, only = sys.argv[1], sys.argv[2], set(sys.argv[3:])
    from tests.conftest import SF_SMOKE as sf_dir

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', 8)}]")
        .appName(f"capture_plans_{rnd}")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from kafka_workers_spark.queries import load_all

    for name, spec in load_all().items():
        if only and name not in only:
            continue
        try:
            df = spec.fn(spark, sf_dir)
            text = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            text = f"EXPLAIN FAILED: {exc}\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path}", file=sys.stderr, flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
