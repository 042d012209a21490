"""Engine benchmark: one workload per invocation, one JSON line at the end.

    python3 perfbench/run.py --workload webtext_roundtrip --seed 1 --seconds 30 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
operations (half untraced, half traced), then the layer probe, prints the
per-layer metrics and writes the spans to ``.perfbench/traces/``. The
workloads and metrics are described in ``perfbench/README.md`` and named
in ``BENCHMARK.json``. Exit status is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import glob
import itertools
import json
import os
import resource
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPEATS = 3


def _prepare_environment(cpus: int) -> str:
    """Runs before anything imports pyspark: the JVM and its Python workers
    inherit this environment. Executors must import the engine from the
    repository root, and their working directory must not be the package
    directory, whose ``inspect.py`` would shadow the standard library."""
    os.chdir(ROOT)
    # the script's own directory goes first on sys.path; the engine and this
    # package are imported from the root instead
    sys.path[:] = [ROOT] + [p for p in sys.path if p != os.path.dirname(__file__)]
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "spark-local"))
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    # keep every scratch file of the JVM, Spark and Python in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the session pre-touches its whole heap (-Xms, AlwaysPreTouch); the
    # engine's 8g default would hold 8 GiB resident on a shared machine,
    # and the workloads' sources are cached in well under 2 GiB
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # every JVM, the spark-submit launcher too, reads this variable
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        + os.environ.get("JAVA_TOOL_OPTIONS", ""))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} pyspark-shell")
    return tmp


def _hwm_kb(pid: int) -> int:
    """Peak resident set of a live process; 0 once it has ended (a zombie's
    status has no VmHWM line)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            return next((int(line.split()[1]) for line in fh
                         if line.startswith("VmHWM:")), 0)
    except OSError:
        return 0


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid``: for the JVM, PySpark's daemon and
    the Python workers it forks, which run the engine's UDFs."""
    out, todo = [], [pid]
    while todo:
        for task in glob.glob(f"/proc/{todo.pop()}/task/*/children"):
            try:
                with open(task) as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def _peak_rss_mb(ctx) -> float:
    """Peak resident set of this process plus the sum of the peaks of the
    JVM and of every Python process below it."""
    pid = ctx.jvm_pid()
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (kb + sum(_hwm_kb(p) for p in [pid] + _descendants(pid))) / 1024


def _run_op(wl, ctx):
    """One operation -> its latency, or None when it failed."""
    try:
        dt, ok = wl.op()
    except Exception as ex:  # an engine error fails the operation, not the run
        ctx.check(False, f"operation raised {type(ex).__name__}: {ex}")
        return None
    return dt if ok else None


def _loop(wl, ctx, seconds: float) -> list[float]:
    """Closed loop: one operation after another until ``seconds`` passed;
    -> latencies of the operations that passed their checks."""
    lat = []
    end = time.perf_counter() + seconds
    while time.perf_counter() < end:
        if ctx.tracer is not None:
            ctx.tracer.op_id = len(lat)
        dt = _run_op(wl, ctx)
        if dt is not None:
            lat.append(dt)
    return lat


def _self_time_table(rows: dict) -> str:
    lines = [f"{'span':58s} {'calls':>7s} {'total_s':>9s} {'self_s':>9s}"]
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"{name:58s} {r['calls']:7d} {r['total_s']:9.3f} {r['self_s']:9.3f}")
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the smoke test")
    ap.add_argument("--break-verify", action="store_true",
                    help="corrupt one result before its check (smoke test)")
    args = ap.parse_args(argv)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    tmp = _prepare_environment(cpus)
    try:
        import orc_rust_spark  # noqa: F401  the engine under test
    except ImportError as ex:
        print(f"perfbench: cannot import the engine: {ex}", file=sys.stderr)
        return 2
    import numpy as np

    from perfbench import layers
    from perfbench.spans import Tracer
    from perfbench.workloads import WARMUP_OPS, WARMUP_S, WORKLOADS, Ctx

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    tracer = Tracer() if args.trace else None
    ctx = Ctx(args.seed, args.scale, cpus, tmp, break_verify=args.break_verify)
    wl = WORKLOADS[args.workload](ctx)
    try:
        setup_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup()
            setup_s.append(time.perf_counter() - t0)
        warm_end = time.perf_counter() + WARMUP_S
        for i in itertools.count():
            if i >= WARMUP_OPS and time.perf_counter() >= warm_end:
                break
            _run_op(wl, ctx)
        sizes = wl.sizes()
        if tracer is None:
            lat = _loop(wl, ctx, args.seconds)
            if not lat:
                raise RuntimeError("no timed operation passed its checks")
            metrics = {
                "setup_s": statistics.median(setup_s),
                "op_ms_p50": float(np.percentile(lat, 50)) * 1e3,
                "op_ms_p95": float(np.percentile(lat, 95)) * 1e3,
                "stored_per_user_byte": sizes["stored"] / sizes["user"],
                "size_vs_pyarrow_orc": sizes["stored"] / sizes["pyarrow_orc"],
                "peak_rss_mb": _peak_rss_mb(ctx),
            }
            print(f"perfbench: {args.workload} seed={args.seed}: {len(lat)} timed "
                  f"operations over {sizes['user']} user bytes", file=sys.stderr)
        else:
            plain = _loop(wl, ctx, args.seconds / 2)
            ctx.tracer = tracer
            layers.install_spans(tracer)
            try:
                traced = _loop(wl, ctx, args.seconds / 2)
            finally:
                tracer.unpatch()
            op_self = tracer.self_times(op_ids=set(range(len(traced))))
            metrics = layers.probe(ctx, tracer, wl)
            metrics["trace.overhead_frac"] = (
                statistics.median(traced) / statistics.median(plain) - 1)
            trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            tracer.dump(trace_path, {"workload": args.workload, "seed": args.seed,
                                     "op_self_times": op_self,
                                     "probe_self_times": tracer.self_times({"probe"})})
            print(f"perfbench: self time of the spans in {len(traced)} traced "
                  f"operations:\n{_self_time_table(op_self)}\n"
                  f"perfbench: spans written to {trace_path}", file=sys.stderr)
        wl.close()
    finally:
        ctx.stop_spark()
        shutil.rmtree(tmp, ignore_errors=True)

    if set(metrics) != set(declared):
        raise RuntimeError(f"metrics {sorted(metrics)} != BENCHMARK.json {sorted(declared)}")
    ok = ctx.failed == 0
    print(json.dumps({
        "correct": ok, "attempted": ctx.attempted, "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": declared[k]} for k, v in metrics.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
