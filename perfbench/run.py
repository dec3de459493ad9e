"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,serve,pipeline} --seed N \
        --seconds S --trace {0,1}

Run from any directory. The Spark session, the input generator and the
single closed-loop client all live in this one process; the session is
``local[<cores available>]`` with a capped driver heap. All files go under
``.bench_work/`` at the repository root and are removed at exit. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, layer
metrics with ``--trace 1``; see ``metrics.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_HEAP = "3g"


@contextmanager
def work_dir(name: str):
    path = os.path.join(ROOT, ".bench_work", f"{name}-{os.getpid()}")
    os.makedirs(path)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, trace: bool):
    """``session.build_session`` sized to this host. JVM-level settings
    (heap, scratch and event-log directories) travel in
    ``PYSPARK_SUBMIT_ARGS`` because the session builder takes none; the
    repository root goes on ``PYTHONPATH`` so Python workers import the
    package from any working directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is capped (--driver-memory) and its young generation
        # fixed, so what reaches the old generation, which the memory
        # metric reads, does not hang on adaptive young sizing or on how
        # often a small young generation fills (on a shared 4-core host,
        # build's memory figure spread 10 % over five seeds with 512 MiB,
        # 4 % with 1 GiB); the other 2 GiB hold what the program keeps;
        # no hsperfdata file, which the JVM would otherwise put under /tmp
        "spark.driver.extraJavaOptions": f"-Xmn1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = ["--driver-memory", DRIVER_HEAP]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    from arrow_supercluster_spark.session import build_session

    n = cores()
    spark = build_session(master=f"local[{n}]", shuffle_partitions=n, app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — the JVM must not outlive the run
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "serve", "pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "arrow_supercluster_spark")):
        print(f"perfbench: no arrow_supercluster_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    with work_dir(args.workload) as work:
        t0 = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        try:
            run = workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace), session_s)
            result = workloads.WORKLOADS[args.workload](run)
        finally:
            stop_session(spark)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
