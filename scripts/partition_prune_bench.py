#!/usr/bin/env python
"""Measure hive partition pruning on the orcx reader (r7): documents
from $SPARK_GRAFT_SF_DIR written once partitioned by lang, then a
single-language aggregate with the filter PUSHED vs the same scan
filtered AFTER a full read (pushdown disabled emulates no pruning).

The point at 100 TB: a one-language query over a 5-language corpus
should plan ~1/5 of the stripes — planning-time file pruning is the
only lever that keeps the scan proportional to the ANSWER, not the
corpus. This records stripes planned (exact) and wall time (advisory on
a warm local box) for both paths.

Prints one JSON line:
{"planned_stripes": {"pruned": a, "full": b}, "wall_sec": {...},
 "rows": N, "langs": K}
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = os.environ.get("SPARK_GRAFT_BENCH_CACHE",
                         "/tmp/orc_rust_spark_bench")
REPS = int(os.environ.get("PRUNE_REPS", "3"))


def main() -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo

    from orc_rust_spark.session import get_spark
    from orc_rust_spark.sources.datasource import (
        OrcRustDataSource,
        OrcRustReader,
    )

    spark = get_spark()
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OrcRustDataSource)

    out = os.path.join(SCRATCH, "part_prune_docs")
    if not os.path.isdir(out) or not os.listdir(out):
        src = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "lang", "source", "n_chars")
        (src.repartition(8, "lang").write.format("orcx")
         .mode("overwrite").option("partition_columns", "lang").save(out))

    # exact planning evidence: stripes with and without the pushed probe
    r = OrcRustReader({"path": out})
    full_stripes = len([p for p in r.partitions() if p.offset >= 0])
    r2 = OrcRustReader({"path": out})
    list(r2.pushFilters([EqualTo(("lang",), "de")]))
    pruned_stripes = len([p for p in r2.partitions() if p.offset >= 0])

    def timed(pruned: bool) -> float:
        # the full-scan arm uses an expression Spark cannot push
        # (substr), so every file is planned — same answer, no pruning
        # (Spark refuses to outright disable pushdown for a reader that
        # implements pushFilters)
        cond = (F.col("lang") == "de" if pruned
                else F.col("lang").substr(1, 2) == "de")
        best = None
        for _ in range(REPS):
            t0 = time.time()
            (spark.read.format("orcx").load(out)
             .where(cond)
             .agg(F.count(F.lit(1)), F.sum("n_chars"))
             .collect())
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    rows = spark.read.format("orcx").load(out).count()
    langs = spark.read.format("orcx").load(out).select("lang").distinct().count()
    print(json.dumps({
        "planned_stripes": {"pruned": pruned_stripes, "full": full_stripes},
        "wall_sec": {"pruned": timed(True),
                     "full_scan": timed(False)},
        "rows": rows,
        "langs": langs,
    }))


if __name__ == "__main__":
    main()
