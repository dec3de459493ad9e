"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread against its bound.

    python3 perfbench/spread.py --workload serve --seeds 1 2 3 4 5

Each run is a fresh process, exactly as ``BENCHMARK.json``'s command
runs it; the spread is (Q3 - Q1) / median as ``statistics.quantiles``
gives them. A metric whose spread exceeds a third of its bound is marked.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(args.seconds), "--trace", "0",
        ]
        t = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1), "correct": res["correct"], "failed": res["failed"],
                          **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    if len(args.seeds) < 2:
        return 0
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        spread = stats.quartile_spread(v)
        flag = "" if spread <= m["bound"] / 3 else "  <-- above bound/3"
        print(f"{m['name']:>14}: median {stats.median(v):.4f} {m['unit']}, spread {spread:.4f} (bound {m['bound']}){flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
