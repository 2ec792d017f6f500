"""Run-to-run spread of the benchmark's metrics over several seeds.

    python3 perfbench/spread.py --workload serve --seeds 1-10 [--trace 0] [--seconds S]

Runs ``perfbench/run.py`` once per seed, one run at a time, and prints
per metric the median, the quartiles (``statistics.quantiles(n=4)``),
the spread (Q3 - Q1) / median and, for end-to-end metrics, the bound
from BENCHMARK.json. A spread above a third of its bound means the
metric is not steady enough to judge a change by that bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--seconds", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or str(spec["run_seconds"])
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls = []
    for seed in _seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        print(f"seed {seed}: exit {proc.returncode} wall {walls[-1]:.1f}s "
              f"correct={result.get('correct')} failed={result.get('failed')}",
              flush=True)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
        for name, v in result.get("metrics", {}).items():
            values.setdefault(name, []).append(v["value"])
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name) if args.trace == "0" else None
        flag = "" if bound is None else (
            " OK" if spread < bound / 3 else (" WIDE" if spread <= bound else " FAIL"))
        print(f"{name:34s} median {med:14.6g} q1 {q1:14.6g} q3 {q3:14.6g} "
              f"spread {spread:6.3f}" + (f" bound {bound}{flag}" if bound else ""))
        print("    " + " ".join(f"{x:.6g}" for x in xs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
