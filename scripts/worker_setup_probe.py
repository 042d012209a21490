#!/usr/bin/env python
"""Per-task Python worker cost at the JVM<->Python Arrow boundary.

Starts the engine's session, warms its reused Python workers with a few
``mapInArrow`` stages, then runs more stages and prints, per task:

- ``invalidate_ms``: wall time of one ``importlib.invalidate_caches()`` in
  the worker, the call PySpark makes before every task;
- ``zip_importers``: the cached ``zipimporter`` objects that call visits;
- ``udf_delay_ms``: task launch (the Spark driver's status store) to UDF start;
- ``guard``: whether ``orc_rust_spark.worker_setup`` is installed.

The UDF imports the engine, as every engine UDF does, so the guard is in
place from the second task a worker runs.

    python scripts/worker_setup_probe.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WARM_STAGES = 2
STAGES = 6


def _task_probe(batches):
    import importlib
    import time
    import zipimport

    start_ms = time.time() * 1000.0
    import pyarrow as pa
    from pyspark import TaskContext

    import orc_rust_spark  # noqa: F401  (installs the guard, where present)

    for _ in batches:
        pass
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    invalidate_ms = (time.perf_counter() - t0) * 1000.0
    yield pa.RecordBatch.from_pydict({
        "task_id": [TaskContext.get().taskAttemptId()],
        "pid": [os.getpid()],
        "udf_start_ms": [start_ms],
        "invalidate_ms": [invalidate_ms],
        "zip_importers": [sum(isinstance(f, zipimport.zipimporter)
                              for f in sys.path_importer_cache.values())],
        "guard": [zipimport.zipimporter.invalidate_caches.__module__
                  == "orc_rust_spark.worker_setup"],
    })


def _launch_ms(spark) -> dict[int, float]:
    """taskId -> launch time (epoch ms) for every task the status store holds."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {}
    for job in sc.statusTracker().getJobIdsForGroup(None):
        for stage in sc.statusTracker().getJobInfo(job).stageIds:
            tasks = store.taskList(stage, 0, 10_000)
            for i in range(tasks.size()):
                t = tasks.apply(i)
                out[int(t.taskId())] = float(t.launchTime().getTime())
    return out


def main() -> None:
    # executors import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # the probe holds no data; the session pre-touches its whole heap
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    sys.path.insert(0, REPO)
    from orc_rust_spark.session import get_spark

    spark = get_spark("worker_setup_probe")
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism
    schema = ("task_id long, pid long, udf_start_ms double, invalidate_ms double, "
              "zip_importers long, guard boolean")
    src = spark.range(0, par * 1024, numPartitions=par)
    rows = []
    for stage in range(WARM_STAGES + STAGES):
        got = src.mapInArrow(_task_probe, schema).collect()
        if stage >= WARM_STAGES:
            rows.extend(got)
    launch = _launch_ms(spark)
    spark.stop()

    print(f"{'task':>6} {'pid':>8} {'invalidate_ms':>14} {'zip_importers':>14} "
          f"{'udf_delay_ms':>13} guard")
    delays, inval = [], []
    for r in sorted(rows, key=lambda r: r.task_id):
        delay = r.udf_start_ms - launch[r.task_id] if r.task_id in launch else float("nan")
        delays.append(delay)
        inval.append(r.invalidate_ms)
        print(f"{r.task_id:>6} {r.pid:>8} {r.invalidate_ms:>14.2f} {r.zip_importers:>14} "
              f"{delay:>13.1f} {r.guard}")
    print(json.dumps({
        "python": sys.version.split()[0],
        "tasks": len(rows),
        "workers": len({r.pid for r in rows}),
        "invalidate_ms_p50": round(statistics.median(inval), 2),
        "udf_delay_ms_p50": round(statistics.median(delays), 1),
        "guard_installed": all(r.guard for r in rows),
    }))


if __name__ == "__main__":
    main()
