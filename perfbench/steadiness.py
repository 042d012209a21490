"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steadiness.py

Runs each workload of ``BENCHMARK.json`` ten times untraced, with seeds
1-10 and the file's ``run_seconds``, and reports per metric the median and
the distance between the first and third quartile as a share of the
median (``statistics.quantiles(values, n=4)``), next to the metric's
bound. The per-run values and the summary are written to
``perfbench/steadiness.json``.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = 10
OUT = os.path.join(ROOT, "perfbench", "steadiness.json")


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"host": {"cpus": len(os.sched_getaffinity(0)), "machine": platform.machine(),
                       "python": platform.python_version()},
              "run_seconds": spec["run_seconds"], "workloads": {}}
    for workload in (w["name"] for w in spec["workloads"]):
        runs = []
        for seed in range(1, RUNS + 1):
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                 "--workload", workload, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                capture_output=True, text=True, timeout=900)
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            res.update(seed=seed, exit=proc.returncode, wall_s=time.time() - t0)
            runs.append(res)
            print(f"{workload} seed={seed} exit={proc.returncode} "
                  f"wall={res['wall_s']:.0f}s", file=sys.stderr, flush=True)
        summary = {}
        for name, bound in bounds.items():
            values = [r["metrics"][name]["value"] for r in runs]
            summary[name] = {"median": statistics.median(values), "spread": spread(values),
                             "bound": bound, "values": values}
            print(f"{workload:24s} {name:22s} median {summary[name]['median']:12.4f} "
                  f"spread {summary[name]['spread']:.4f} bound {bound}")
        report["workloads"][workload] = {
            "summary": summary, "all_correct": all(r["correct"] and r["exit"] == 0 for r in runs),
            "wall_s": [r["wall_s"] for r in runs]}
    with open(OUT, "w") as fh:
        json.dump(report, fh, indent=1)
    return 0 if all(w["all_correct"] for w in report["workloads"].values()) else 1


if __name__ == "__main__":
    sys.exit(main())
