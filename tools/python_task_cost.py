#!/usr/bin/env python
"""Fixed cost of a Python task next to a JVM task on this host.

Runs one trivial job of N single-row tasks three ways on local[k]:

  jvm    spark.range(N, numPartitions=N) into the noop sink (no Python)
  rdd    sc.parallelize(range(N), N).map(identity).count()
  arrow  spark.range(N, numPartitions=N).mapInArrow(identity) into noop

and prints, per route, the median job wall over --reps timed runs (after
one warm-up run, so Python workers are started and reused) and the slot
time per task, wall × k / N. The python routes minus the jvm route is
what each extra Python task costs. operators/skew.partitions_for sizes
the extraction stage to one Python task per slot because this cost is
fixed per task, whatever the task's input size.

Run from the repo root:
    python tools/python_task_cost.py                  # local[2], 16 tasks, 5 reps
    python tools/python_task_cost.py --cores 4 --tasks 32 --reps 3
"""

from __future__ import annotations

import argparse
import statistics
import time


def _identity_batches(batches):
    yield from batches


def routes(spark, n: int) -> dict:
    sc = spark.sparkContext
    return {
        "jvm": lambda: spark.range(n, numPartitions=n).write.format("noop").mode("overwrite").save(),
        "rdd": lambda: sc.parallelize(range(n), n).map(lambda x: x).count(),
        "arrow": lambda: spark.range(n, numPartitions=n)
        .mapInArrow(_identity_batches, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save(),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cores", type=int, default=2, help="k in local[k] (default 2)")
    ap.add_argument("--tasks", type=int, default=16, help="tasks per job (default 16)")
    ap.add_argument("--reps", type=int, default=5, help="timed runs per route (default 5)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .appName("python-task-cost")
        .config("spark.default.parallelism", str(args.cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.log.level", "ERROR")
        .getOrCreate()
    )
    try:
        print(f"local[{args.cores}], {args.tasks} tasks per job, median of {args.reps} runs")
        print(f"{'route':<6} {'job_ms':>8} {'slot_ms_per_task':>17}")
        for name, run in routes(spark, args.tasks).items():
            run()  # warm-up: worker start-up and first-use class loading
            walls = []
            for _ in range(args.reps):
                t0 = time.perf_counter()
                run()
                walls.append((time.perf_counter() - t0) * 1e3)
            wall = statistics.median(walls)
            print(f"{name:<6} {wall:>8.1f} {wall * args.cores / args.tasks:>17.1f}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
