"""One measuring tool on perfbench's session and meters.

    python tools/measure.py time SF_DIR QUERY [QUERY ...] [--runs N]
    python tools/measure.py profile SF_DIR [QUERY ...] --out PATH
    python tools/measure.py ab DIR_A DIR_B --workload W --seeds S [S ...]

``time`` prints, per registry query, the median of N noop writes after one
warm-up. ``profile`` runs one traced noop write per query, each under its
own job group with the memory peaks restarted before it, and appends one
JSON line per query to PATH: wall time, the Spark totals of
``sparkmeter.SPARK_FIELDS``, peak memory and the Exchange, join and
Python-eval node counts of its physical plan (a failed query carries
``err`` instead of totals). Queries already in PATH are skipped, so an
interrupted run resumes; with no query names it profiles every registry
query (the census). ``ab`` runs ``BENCHMARK.json``'s command in fresh
processes from two checkouts, alternating which goes first in each pair,
and prints per end-to-end metric both medians, A's quartile spread and
how many pairs B won.

The session is ``perfbench/run.py``'s (``session.build_session`` sized to
the host); the meters are ``perfbench/sparkmeter.py``'s.

Dev-facing measurement script, collect-gate-exempt
(tests/test_collect_gate.py): it materializes timings and plans
driver-side to print them; it is never part of a registered query plan.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import subprocess
import sys
import time
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import run as bench_run  # noqa: E402  perfbench/run.py
import stats  # noqa: E402
from sparkmeter import MemoryMeter, SparkMeter, event_log_file  # noqa: E402

_NODE = re.compile(r"^[\s:+\-*]*([A-Z][A-Za-z]*)")


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def plan_nodes(df) -> dict:
    """Exchange, join and Python-eval node counts of the physical plan tree
    that ``explain("formatted")`` prints (its first block)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    tree = buf.getvalue().split("== Physical Plan ==", 1)[-1].strip().split("\n\n", 1)[0]
    joins: dict[str, int] = {}
    python: dict[str, int] = {}
    exchanges = 0
    for line in tree.splitlines():
        m = _NODE.match(line)
        if m is None:
            continue
        node = m.group(1)
        if "Exchange" in node:
            exchanges += 1
        elif node.endswith("Join") or node == "CartesianProduct":
            joins[node] = joins.get(node, 0) + 1
        elif "Python" in node or "InPandas" in node or "InArrow" in node:
            python[node] = python.get(node, 0) + 1
    return {"exchanges": exchanges, "joins": joins, "python": python}


def time_queries(spark, sf_dir: str, names: list[str], runs: int) -> None:
    from arrow_supercluster_spark.plans.registry import REGISTRY

    meter = SparkMeter(spark)
    for name in names:
        samples = []
        for i in range(runs + 1):
            t0 = time.perf_counter()
            with meter.op(name):
                noop(REGISTRY[name].spark(spark, sf_dir))
            if i:  # the first run warms up
                samples.append(time.perf_counter() - t0)
        print(json.dumps({"query": name, "median_s": round(stats.median(samples), 3),
                          "samples": [round(s, 3) for s in samples]}), flush=True)


def profile_queries(spark, work: str, sf_dir: str, names: list[str], out: str) -> None:
    from arrow_supercluster_spark.plans.registry import REGISTRY

    done = set()
    if os.path.exists(out):
        with open(out) as f:
            done = {json.loads(line)["query"] for line in f if line.strip()}
    meter = SparkMeter(spark, event_log_file(os.path.join(work, "events"), spark.sparkContext.applicationId))
    memory = MemoryMeter(spark)
    with open(out, "a") as f:
        for name in names or list(REGISTRY):
            if name in done:
                continue
            memory.restart()
            sink: list[dict] = []
            t0 = time.perf_counter()
            try:
                with meter.op(name, sink):
                    df = REGISTRY[name].spark(spark, sf_dir)
                    noop(df)
                rec = {"query": name, "wall_s": round(time.perf_counter() - t0, 3)}
                rec.update({k: round(v, 3) if k.endswith("_s") else int(v) for k, v in sink[0].items()})
                rec["peak_mem_mib"] = round(memory.peak_mib(), 1)
                rec.update(plan_nodes(df))
            except Exception as e:  # noqa: BLE001 — a failing query is recorded, not fatal
                rec = {"query": name, "wall_s": round(time.perf_counter() - t0, 3),
                       "err": f"{type(e).__name__}: {e}"[:300]}
            f.write(json.dumps(rec) + "\n")
            f.flush()
            print(json.dumps({k: rec[k] for k in ("query", "wall_s", "jobs", "err") if k in rec}), flush=True)


def ab(dir_a: str, dir_b: str, workload: str, seeds: list[int]) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, dict[str, list[float]]] = {"A": {}, "B": {}}
    for i, seed in enumerate(seeds):
        order = [("A", dir_a), ("B", dir_b)]
        for side, cwd in order if i % 2 == 0 else order[::-1]:
            cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
            if proc.returncode != 0:
                raise SystemExit(f"{side} seed {seed} failed:\n{proc.stderr[-2000:]}")
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            print(json.dumps({"side": side, "seed": seed, "correct": res["correct"], "failed": res["failed"],
                              **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}), flush=True)
            for k, v in res["metrics"].items():
                values[side].setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        a, b = values["A"][m["name"]], values["B"][m["name"]]
        sign = 1 if m["better"] == "lower" else -1
        # rounded so that equal CPU-tick sums with float noise tie
        wins = sum(sign * round(y - x, 9) < 0 for x, y in zip(a, b))
        ma, mb = stats.median(a), stats.median(b)
        print(f"{m['name']:>16}: A median {ma:.4f}, B median {mb:.4f} {m['unit']}, "
              f"gap {(mb - ma) / ma:+.4f}, A spread {stats.quartile_spread(a):.4f}, "
              f"B wins {wins}/{len(a)} (bound {m['bound']})")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    t = sub.add_parser("time")
    t.add_argument("sf_dir")
    t.add_argument("queries", nargs="+")
    t.add_argument("--runs", type=int, default=5)
    p = sub.add_parser("profile")
    p.add_argument("sf_dir")
    p.add_argument("queries", nargs="*")
    p.add_argument("--out", required=True)
    a = sub.add_parser("ab")
    a.add_argument("dir_a")
    a.add_argument("dir_b")
    a.add_argument("--workload", required=True)
    a.add_argument("--seeds", type=int, nargs="+", required=True)
    args = ap.parse_args(argv)

    if args.mode == "ab":
        ab(args.dir_a, args.dir_b, args.workload, args.seeds)
        return 0
    with bench_run.work_dir(f"measure-{args.mode}") as work:
        spark = bench_run.start_session(work, trace=args.mode == "profile")
        try:
            if args.mode == "time":
                time_queries(spark, args.sf_dir, args.queries, args.runs)
            else:
                profile_queries(spark, work, args.sf_dir, args.queries, args.out)
        finally:
            bench_run.stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
