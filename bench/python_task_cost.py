"""Fixed cost of one Python-worker task on this host.

Every ``mapInArrow`` task (the lake's parquet writer is one) and every
task over a Python RDD starts a Python worker body before user code
runs. This probe times a no-op pass over the same rows at ``cores`` and
at ``4 x cores`` tasks: the extra three waves carry no extra rows, so
their wall time divided by three is the fixed cost of one task (one
wave of ``cores`` tasks runs in parallel). The same pair without Python
(a JVM projection) gives the scheduler's own share. The figures are what
``operators/skew.ROWS_PER_WRITE_TASK`` is derived from; re-run this on
another host to re-derive it.

Usage: python bench/python_task_cost.py [cores] [rows] [reps]
(defaults: $SPARK_GRAFT_CPUS or nproc, 16384 rows, 5 reps). Prints one
JSON line: per-shape median wall times, sample counts and the derived
per-task costs in seconds.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def _timed(fn, reps: int) -> list[float]:
    fn()  # warm: worker start, imports, codegen
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return out


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else int(
        os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
    )
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 16_384
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from ds_floodexposure_monitoring_spark.session import get_spark

    spark = get_spark(app_name="python-task-cost", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    def frame(tasks: int):
        return spark.range(0, rows, 1, tasks).selectExpr("id", "CAST(id AS STRING) s")

    def arrow(tasks: int):
        df = frame(tasks)
        df.mapInArrow(lambda it: it, df.schema).write.format("noop").mode(
            "overwrite"
        ).save()

    def jvm(tasks: int):
        frame(tasks).selectExpr("id + 1", "upper(s)").write.format("noop").mode(
            "overwrite"
        ).save()

    def rdd(tasks: int):
        sc.parallelize(range(rows), tasks).map(lambda x: x).count()

    med: dict[str, dict[str, float]] = {}
    per_task: dict[str, float] = {}
    for name, fn in (("mapInArrow", arrow), ("jvm_projection", jvm), ("rdd_map", rdd)):
        narrow = _timed(lambda: fn(cores), reps)
        wide = _timed(lambda: fn(4 * cores), reps)
        med[name] = {
            "cores_tasks_s": round(statistics.median(narrow), 4),
            "4x_cores_tasks_s": round(statistics.median(wide), 4),
        }
        per_task[name] = round(
            (statistics.median(wide) - statistics.median(narrow)) / 3, 4
        )
    print(json.dumps({
        "cores": cores,
        "rows": rows,
        "reps": reps,
        "median_wall": med,
        "per_task_s": per_task,
        # the Python worker's own share: mapInArrow's per-task cost minus
        # what a task costs the scheduler with no Python in it
        "python_per_task_s": round(per_task["mapInArrow"] - per_task["jvm_projection"], 4),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
