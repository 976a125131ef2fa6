"""Run the benchmark once per seed and print, per metric, the median and
the quartile spread ((Q3 - Q1) / median, from
``statistics.quantiles(values, n=4)``) next to the metric's bound.

    python3 perfbench/spread.py --workload build-shuffle --seeds 1-10

Runs go from the repository root, like the benchmark's own command.
Each run's result line is appended to ``--out`` (JSON lines) so that
two sets of runs can be compared afterwards. Wall time of each run is
recorded too.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(rows: list[dict], bounds: dict) -> None:
    names = list(rows[0]["metrics"])
    print(f"{'metric':<36} {'median':>14} {'spread':>8} {'bound':>6}  n={len(rows)}")
    for name in names:
        vals = [r["metrics"][name]["value"] for r in rows]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med] * 3
        spread = (q[2] - q[0]) / med if med else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None or spread <= bound / 3 else "  > bound/3"
        print(f"{name:<36} {med:14.6g} {spread:8.4f} {bound if bound is not None else '':>6}{flag}")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", default="0")
    p.add_argument("--out", default=None)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    rows = []
    for seed in seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [*bench["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", args.trace],
            capture_output=True, text=True, cwd=ROOT,
        )
        wall = time.perf_counter() - t
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return proc.returncode
        row = json.loads(proc.stdout.strip().splitlines()[-1])
        row["wall_s"], row["seed"] = wall, seed
        rows.append(row)
        print(f"seed {seed}: wall {wall:.1f} s correct={row['correct']} "
              f"failed={row['failed']}/{row['attempted']}", flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, **row}) + "\n")
    summarise(rows, bounds)
    print(f"wall per run: median {statistics.median(r['wall_s'] for r in rows):.1f} s, "
          f"max {max(r['wall_s'] for r in rows):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
