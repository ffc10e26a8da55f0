"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload in BENCHMARK.json once untraced and once traced, at
the minimal run length (two timed passes), and asserts that each run is correct
with no failed op, warm-up included (error rate 0), and prints exactly
the declared end-to-end or per-layer metrics, each with its declared
unit. It also checks that the benchmark refuses to run, printing no
result, in a directory that holds only BENCHMARK.json and the
benchmark's own files. Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            p = run(ROOT, w["name"], trace)
            tag = f"{w['name']} --trace {trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-800:]}")
                continue
            result = json.loads(p.stdout.strip().splitlines()[-1])
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"{tag}: {p.stdout.strip().splitlines()[-2]}")
            units = {k: v["unit"] for k, v in result["metrics"].items()}
            want = {m["name"]: m["unit"] for m in declared}
            if units != want:
                problems.append(f"{tag}: metrics {units} != declared {want}")
            print(f"ok {tag}: {result['attempted']} ops", flush=True)

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = run(bare, spec["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        problems.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]!r}")
    else:
        print(f"ok bare directory: exit {p.returncode}, no result")

    for msg in problems:
        print("FAIL", msg)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
