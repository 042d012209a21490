"""The benchmark workloads.

Each is a closed loop with one client: the next operation starts when the
previous one has returned and been checked. ``setup`` builds the inputs
from the seed and is timed by the runner; ``op`` times only the engine
calls and returns ``(seconds, ok)``; verification runs outside the timed
region but inside the operation's accounting.
"""

from __future__ import annotations

import functools
import os
import subprocess
import sys
import time
from contextlib import nullcontext

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.orc as po
import pyarrow.parquet as pq

from . import datagen

LOOKUP_BLOOM_COLUMNS = ["l_orderkey", "l_partkey"]


class Ctx:
    """Run-wide state handed to every workload: seed, sizes, work
    directory, the optional tracer and the pass/fail tally."""

    def __init__(self, seed: int, scale: str, cpus: int, work: str,
                 tracer=None, break_verify: bool = False):
        self.seed = seed
        self.scale = scale
        self.cpus = cpus
        self.work = work
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self._break = break_verify
        self._spark = None

    def spark(self):
        if self._spark is None:
            from orc_rust_spark.session import get_spark

            self._spark = get_spark("perfbench", master=f"local[{self.cpus}]",
                                    shuffle_partitions=self.cpus)
            self._spark.sparkContext.setLogLevel("ERROR")
        return self._spark

    def jvm_pid(self) -> int | None:
        return None if self._spark is None else self._spark.sparkContext._gateway.proc.pid

    def stop_spark(self) -> None:
        """Stop Spark and wait for the JVM to exit: closing its stdin is
        the signal PySpark's gateway JVM exits on."""
        if self._spark is None:
            return
        from pyspark import SparkContext

        self._spark.stop()
        self._spark = None
        gateway = SparkContext._gateway
        SparkContext._gateway = SparkContext._jvm = None
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def take_fault(self) -> bool:
        """True exactly once when the run was asked to break a check."""
        hit, self._break = self._break, False
        return hit

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


class WebtextIngest:
    """Spark: the webtext table through ``encode_table``. ``kind`` picks the
    operation: ``encode``, one pass into a ``noop`` sink whose stream count
    and stored bytes must equal the first pass's; or ``roundtrip``, one
    encode -> ``decode_table_arrow`` pass whose count and xxhash64 digest
    must equal the source's."""

    ROWS = {"full": 48_000, "tiny": 2_000}

    def __init__(self, ctx: Ctx, kind: str):
        self.ctx = ctx
        self.rows = self.ROWS[ctx.scale]
        self.op = {"encode": self.encode_pass, "roundtrip": self.roundtrip_pass}[kind]
        self.src = None
        self.plan_codecs_s: list[float] = []
        self.encode_pass_s: list[float] = []
        self.exchanges: int | None = None
        self._encoded = None

    @staticmethod
    def digest(df):
        from pyspark.sql import functions as F

        q = df.agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"))
        return q, tuple(q.collect()[0])

    def setup(self) -> None:
        from orc_rust_spark.plans.pipeline import plan_codecs
        from orc_rust_spark.sources.webtext import webtext_df

        spark = self.ctx.spark()
        if self.src is not None:
            self.src.unpersist()
        webtext_df(spark, self.rows, num_partitions=self.ctx.cpus,
                   seed=self.ctx.seed).write.mode("overwrite").parquet(
                       self.ctx.path("webtext.parquet"))
        self.src = spark.read.parquet(self.ctx.path("webtext.parquet")).cache()
        self.truth = self.digest(self.src)[1]
        t0 = time.perf_counter()
        self.plan = plan_codecs(self.src)
        self.plan_codecs_s.append(time.perf_counter() - t0)

    def user_bytes(self) -> int:
        """Arrow size of the source rows."""
        return pq.read_table(self.ctx.path("webtext.parquet")).nbytes

    def sizes(self) -> dict:
        if self._encoded is None:
            self.encode_pass()
        tbl = pq.read_table(self.ctx.path("webtext.parquet"))
        po.write_table(tbl, self.ctx.path("webtext_ref.orc"), compression="zstd")
        return {"user": tbl.nbytes, "stored": self._encoded[1],
                "pyarrow_orc": os.path.getsize(self.ctx.path("webtext_ref.orc"))}

    def encode_pass(self) -> tuple[float, bool]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from orc_rust_spark.operators.encode import encode_table

        ctx = self.ctx
        obs = Observation("encode_pass")
        with ctx.span("spark.encode_pass"):
            t0 = time.perf_counter()
            with ctx.span("operators.encode.encode_table"):
                enc = encode_table(self.src, self.plan)
            (enc.observe(obs, F.count(F.lit(1)).alias("streams"),
                         F.sum(F.length("data")).alias("stored"))
             .write.format("noop").mode("overwrite").save())
            dt = time.perf_counter() - t0
        self.encode_pass_s.append(dt)
        encoded = (obs.get["streams"], obs.get["stored"])
        if self._encoded is None:
            self._encoded = encoded
        if ctx.take_fault():
            encoded = (encoded[0], encoded[1] + 1)
        ok = ctx.check(encoded == self._encoded and encoded[1] > 0,
                       f"webtext encode pass wrote {encoded}, expected {self._encoded}")
        return dt, ok

    def roundtrip_pass(self) -> tuple[float, bool]:
        from orc_rust_spark.operators.decode import decode_table_arrow
        from orc_rust_spark.operators.encode import encode_table
        from orc_rust_spark.sources.webtext import WEBTEXT_SCHEMA

        ctx = self.ctx
        with ctx.span("spark.roundtrip_pass"):
            t0 = time.perf_counter()
            with ctx.span("operators.encode.encode_table"):
                enc = encode_table(self.src, self.plan)
            with ctx.span("operators.decode.decode_table_arrow"):
                dec = decode_table_arrow(enc, WEBTEXT_SCHEMA, co_locate=False)
            q, got = self.digest(dec)
            dt = time.perf_counter() - t0
        if ctx.tracer is not None:
            self.exchanges = _count_exchanges(q)
        if ctx.take_fault():
            got = (got[0], got[1] + 1)
        ok = ctx.check(got == self.truth,
                       f"webtext roundtrip digest {got} != source {self.truth}")
        return dt, ok

    def close(self) -> None:
        if self.src is not None:
            self.src.unpersist()


def _count_exchanges(q) -> int:
    """Exchange nodes in the executed (final adaptive) plan of ``q``."""
    import re

    plan = q._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    return len(re.findall(r"\b(?:Broadcast)?Exchange\b", plan))


class LineitemPointLookup:
    """Spark-free point lookups for the layer probe: a lineitem file with
    blooms on the two key columns, each ``orc_point_lookup`` checked
    against a pyarrow filter of the source."""

    ORDERS = {"full": 150_000, "tiny": 5_000}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.table = None
        self.file = ctx.path("lineitem_lookup.orc")

    def setup(self) -> None:
        from orc_rust_spark.sources import orc_file

        self.table = datagen.lineitem(self.ctx.seed, self.ORDERS[self.ctx.scale])
        orc_file.write_orc(self.table, self.file, compression="zstd",
                           bloom_columns=LOOKUP_BLOOM_COLUMNS)

    def truth(self, column: str, value) -> pa.Table:
        return self.table.filter(pc.equal(self.table.column(column), value))

    def lookup(self, column: str, value, filesystem) -> tuple[int, int, int]:
        """-> (rows, groups_decoded, groups_total) of one checked lookup."""
        from orc_rust_spark.sources import orc_file

        res, decoded, total = orc_file.orc_point_lookup(
            os.path.abspath(self.file), column, value, filesystem=filesystem)
        want = self.truth(column, value)
        self.ctx.check(res.num_rows == want.num_rows
                       and res.cast(self.table.schema).equals(want),
                       f"lookup {column}={value}: {res.num_rows} rows, "
                       f"expected {want.num_rows}")
        return res.num_rows, decoded, total


WORKLOADS = {
    "webtext_encode": functools.partial(WebtextIngest, kind="encode"),
    "webtext_roundtrip": functools.partial(WebtextIngest, kind="roundtrip"),
}

# untimed, verified operations before the measured loop, at least this
# many and for at least this long: the first operations of a process pay
# worker start-up and first-touch page faults
WARMUP_OPS = 2
WARMUP_S = 3.0
