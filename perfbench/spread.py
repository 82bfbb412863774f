"""Run one workload several times, each with another seed, and report each
end-to-end metric's median and spread (inter-quartile distance as a share
of the median) next to its bound from BENCHMARK.json.

    python3 perfbench/spread.py --workload vt_dml --seeds 1 2 3 4 5

Runs are sequential; each is a fresh process, as the benchmark is run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from core import spread  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=float)
    args = p.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, check=True)
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(proc.stdout.strip().splitlines()[-2], flush=True)
        if not result["correct"]:
            print(f"seed {seed}: incorrect result", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        s = spread(xs) if len(xs) >= 2 else float("nan")
        print(
            f"{m['name']:>10}: median={statistics.median(xs):.5g}{m['unit']} "
            f"spread={s:.4f} bound={m['bound']} ({'ok' if s < m['bound'] / 3 else 'WIDE'})"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
