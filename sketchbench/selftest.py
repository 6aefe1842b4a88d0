#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale.

    python3 sketchbench/selftest.py

Checks that ``BENCHMARK.json`` names exactly the metrics of ``metrics.py``;
runs every workload end to end, untraced and traced, and checks that its
outputs pass and every metric prints by name with its unit; then runs every
workload against a deliberately wrong expected answer and checks that
``failed_op_share`` rises above 0, which proves the output checks can fail.
Exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def fail(msg: str) -> None:
    print(f"selftest FAILED: {msg}")
    sys.exit(1)


def check_benchmark_json() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if {w["name"] for w in bench["workloads"]} != set(metrics.WORKLOADS):
        fail("BENCHMARK.json workloads differ from metrics.WORKLOADS")
    for key, table in (("end_to_end", metrics.END_TO_END),
                       ("per_layer", metrics.PER_LAYER)):
        got = {m["name"]: (m["unit"], m["better"]) for m in bench[key]}
        want = {n: (v[0], v[1]) for n, v in table.items()}
        if got != want:
            fail(f"BENCHMARK.json {key} differs from metrics.py: "
                 f"{sorted(set(got.items()) ^ set(want.items()))}")


def run(workload: str, trace: int, corrupt: bool = False) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join("sketchbench", "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    if corrupt:
        cmd.append("--corrupt-expected")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        fail(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), p.stdout


def main() -> int:
    check_benchmark_json()
    for w in metrics.WORKLOADS:
        for trace, table in ((0, metrics.END_TO_END), (1, metrics.PER_LAYER)):
            res, out = run(w, trace)
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                fail(f"{w}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                fail(f"{w} trace={trace}: outputs failed their checks:\n{out}")
            if set(res["metrics"]) != set(table):
                fail(f"{w} trace={trace}: metric names "
                     f"{sorted(set(res['metrics']) ^ set(table))}")
            for name, spec in table.items():
                m = res["metrics"][name]
                if m["unit"] != spec[0] or not isinstance(m["value"], (int, float)):
                    fail(f"{w}: metric {name} = {m}")
                if f"# metric {name} = " not in out or not any(
                        line.startswith(f"# metric {name} = ")
                        and line.endswith(f" {spec[0]}") for line in out.splitlines()):
                    fail(f"{w}: metric {name} not printed with unit {spec[0]}")
            for name, (unit, _) in metrics.CHECKS.items():
                if f"# check {name} = " not in out:
                    fail(f"{w}: check {name} not printed")
            print(f"ok   {w} trace={trace}: {len(table)} metrics, "
                  f"{res['attempted']} operations checked")
        res, out = run(w, 0, corrupt=True)
        if res["correct"] or res["failed"] < 1:
            fail(f"{w}: a wrong expected answer did not fail any check:\n{out}")
        print(f"ok   {w} wrong expected answer: failed_op_share "
              f"{res['failed'] / res['attempted']:.2f}")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
