"""Smoke test of the benchmark at tiny input sizes.

    python3 perfbench/smoke.py

Runs every workload untraced and traced from inside the engine's package
directory (whose ``inspect.py`` shadows the standard library if it lands
on a Python path), checks each result line against ``BENCHMARK.json``
(every declared metric present, with its unit, as a finite number), then
runs every workload with ``--break-verify`` and checks that the broken
check is counted as a failure and makes the exit status non-zero.
Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("webtext_encode", "webtext_roundtrip")


def run(workload: str, trace: int, *extra: str) -> tuple[int, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=os.path.join(ROOT, "orc_rust_spark"), capture_output=True,
        text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{workload} trace={trace}: no output\n{proc.stderr[-3000:]}")
    return proc.returncode, json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for workload in WORKLOADS:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            code, res = run(workload, trace)
            where = f"{workload} trace={trace}"
            assert code == 0 and res["correct"] and res["failed"] == 0, (where, res)
            assert res["attempted"] >= 1, where
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (where, sorted(set(got) ^ set(want)))
            for name, m in res["metrics"].items():
                assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), (
                    where, name, m)
            print(f"ok   {where}: {res['attempted']} checks", flush=True)
        code, res = run(workload, 0, "--break-verify")
        assert code != 0 and not res["correct"] and res["failed"] >= 1, (workload, code, res)
        print(f"ok   {workload} --break-verify: {res['failed']} of "
              f"{res['attempted']} checks failed, exit status {code}", flush=True)
    print("smoke test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
