"""Render the OPTIMIZATION_r16 per-entry checklist skeleton: merge the
driver's BENCH_r15 (the round-over-round anchor), this round's local
pre-change baseline, and the final post-change run(s) into one
markdown table, per-entry min across the post-change runs.

Usage: python tools/bench_checklist.py BASELINE.json FINAL.json [FINAL2.json ...]
(each file: one bench.py JSON line / dict with "queries")
"""

from __future__ import annotations

import json
import os
import sys


def load(path: str) -> dict:
    with open(path) as fh:
        data = json.load(fh)
    if "queries" in data:
        return data
    parsed = data.get("parsed")
    if isinstance(parsed, dict):
        return parsed
    raise SystemExit(f"{path}: no queries map")


USAGE = "usage: python tools/bench_checklist.py BASELINE.json FINAL.json [FINAL2.json ...]"


def main() -> None:
    if len(sys.argv) < 3:
        print(USAGE, file=sys.stderr)
        raise SystemExit(2)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    driver = load(os.path.join(here, "BENCH_r15.json"))
    base = load(sys.argv[1])
    finals = [load(p) for p in sys.argv[2:]]
    names = sorted(
        base["queries"], key=lambda n: -max(f["queries"].get(n, 0) for f in finals)
    )
    print("| entry | driver r15 | r16 base | r16 final (min) | Δ vs base |")
    print("|---|---|---|---|---|")
    tot_b = tot_f = 0.0
    for n in names:
        b = base["queries"].get(n)
        f = min(x["queries"].get(n, float("inf")) for x in finals)
        d = driver["queries"].get(n)
        tot_b += b or 0
        tot_f += f
        print(
            f"| {n} | {d if d is not None else '—'} | {b} | {f} | {f - b:+.3f} |"
        )
    print(f"\ntotals: base {tot_b:.2f} → final(min) {tot_f:.2f}")
    cals = [base.get("calibration_mean_sec")] + [
        f.get("calibration_mean_sec") for f in finals
    ]
    print("calibration means:", cals)


if __name__ == "__main__":
    main()
