"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workload ingest_mixed --seeds 1-10 [--out FILE]

For every end-to-end metric it prints the median over the seeds and the
distance between the first and third quartile (``statistics.quantiles``,
n=4) as a share of that median -- the figure BENCHMARK.json's bounds are set
against. Runs the seeds one after another from the repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="inclusive range, e.g. 1-10")
    p.add_argument("--out", help="append the summary as one JSON line to this file")
    args = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    runs = []
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "wall_s": wall, "exit": proc.returncode, **result})
        print(json.dumps(runs[-1]), flush=True)
    summary = {"workload": args.workload, "seeds": args.seeds, "metrics": {}}
    for m in bench["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        summary["metrics"][m["name"]] = {
            "median": statistics.median(values),
            "spread": (q3 - q1) / statistics.median(values),
            "bound": m["bound"],
            "values": values,
        }
    summary["wall_s"] = [r["wall_s"] for r in runs]
    summary["all_correct"] = all(r["correct"] and r["exit"] == 0 for r in runs)
    print(json.dumps(summary), flush=True)
    if args.out:
        with open(args.out, "a") as f:
            f.write(json.dumps(summary) + "\n")
    return 0 if summary["all_correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
