"""SparkSession factory with the engine's required configuration.

- Arrow-batched UDF transport (the engine's in-flight representation)
- AQE on (runtime re-planning, skew-join handling)
- glibc malloc tuning exported to Python workers: this sandbox has very
  slow first-touch pages, so worker processes must reuse freed arenas
  instead of munmap-ing them (MALLOC_MMAP_THRESHOLD_/MALLOC_TRIM_THRESHOLD_).
- reused Python workers (``spark.python.worker.reuse``). Per-task Python
  worker cost: before every task PySpark calls
  ``importlib.invalidate_caches()``, which on CPython < 3.13 re-parses
  every zip archive on the worker path (``pyspark.zip`` once per package
  prefix, the spark-core jar twice): ~185 ms per task on a 4-core host
  before the UDF starts. Importing the engine in a worker installs
  ``worker_setup``'s stat-guarded cache, which skips the re-read while an
  archive is unchanged (0.2 ms); see ``scripts/worker_setup_probe.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "2147483648",
    "MALLOC_TRIM_THRESHOLD_": "2147483648",
    "MALLOC_TOP_PAD_": "268435456",
}

# rows per Arrow batch handed to pandas UDFs — the analog of the reference
# writer's 1024-row encode slices (src/arrow_writer.rs:50), scaled up since
# NumPy kernels amortize better over bigger batches
ARROW_BATCH_ROWS = 65536


def get_spark(
    app_name: str = "orc_rust_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    # export before the JVM forks so python workers inherit
    for k, v in MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # naive timestamps (webtext warc_ts, test fixtures) are
        # interpreted in the session timezone: pin it so generated
        # instants, encoded bytes, and stats are host-independent
        # (code-review r6)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE rewrite sort-merge to shuffled-hash when every
        # post-shuffle partition's build side fits locally (default 0 =
        # never): joins that attach array payloads (minhash verify)
        # otherwise SORT the heavy side; scale-adaptive — large builds
        # stay sort-merge (guide §3.1, r8)
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "128m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # pre-touch the whole heap at JVM start: this sandbox's first-touch
        # pages are pathologically slow, so lazy heap growth mid-job would
        # serialize tasks (see BASELINE.md scaling notes)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{os.environ.get('SPARK_DRIVER_MEMORY', '8g')} -XX:+AlwaysPreTouch "
            + os.environ.get("SPARK_DRIVER_EXTRA_JAVA", ""),
        )
        # 32 MiB input splits balanced best for the encode pipeline on this
        # box (see BASELINE.md scaling notes); still >= the 64 MiB stripe
        # threshold after arrow expansion
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.python.worker.reuse", "true")
        # let Catalyst push filters into our Python DataSource (orcx)
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    for k in MALLOC_ENV:
        # mirror the DRIVER-side resolution (setdefault keeps a user
        # override): executors must see the same malloc tuning the user
        # asked for, not the hardcoded default (code-review r6)
        builder = builder.config(f"spark.executorEnv.{k}", os.environ[k])
    return builder.getOrCreate()
