"""Run the benchmark on several seeds and print the end-to-end values
with their medians and quartile spreads, as a Markdown table.

    python3 perfbench/steady.py --workload etl_bulk --seeds 1-10

Each run is a separate ``perfbench/run.py --trace 0`` process, one after
the other.  The spread is (Q3 - Q1) / median, with the quartiles of
``statistics.quantiles(values, n=4)``; BENCHMARK.json's bounds are set
against it (see BASELINE.md).  The ``steal %`` column is the share of
CPU time the hypervisor took from this machine during the run, from
/proc/stat: on a shared host it is what slows whole runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds, required=True)
    p.add_argument("--seconds", default="10")
    args = p.parse_args()
    rows = []
    for seed in args.seeds:
        before = cpu_times()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        delta = [b - a for a, b in zip(before, cpu_times())]
        # field 8 of the cpu line is steal; guest time is already in user
        steal = 100 * delta[7] / sum(delta[:8])
        rows.append((seed, res, steal))
        print(f"seed {seed}: {lines[-1]}", file=sys.stderr, flush=True)
    names = list(rows[0][1]["metrics"])
    print(f"| seed | attempted | failed | steal % | {' | '.join(names)} |")
    print("|---" * (4 + len(names)) + "|")
    for seed, res, steal in rows:
        vals = " | ".join(f"{res['metrics'][n]['value']:.4g}" for n in names)
        print(f"| {seed} | {res['attempted']} | {res['failed']} | {steal:.1f} | {vals} |")
    meds, spreads = [], []
    for n in names:
        v = [res["metrics"][n]["value"] for _, res, _ in rows]
        q = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        meds.append(f"{med:.4g}")
        spreads.append(f"{(q[2] - q[0]) / med:.3f}")
    print(f"| median | | | | {' | '.join(meds)} |")
    print(f"| spread | | | | {' | '.join(spreads)} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
