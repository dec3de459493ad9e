"""Strict oracle sweep: the driver's type-sensitive comparison (plus its
canonicalizer probe, ``tests/oracle_harness.driver_canon_probe``) of
registry queries against their DuckDB twins, so local green means driver
green.

Usage:  python tools/strict_sweep.py SF_DIR [NAME ...]

With names, checks exactly those and prints PASS or FAIL for each; a name
that is not registered or has no SQL twin is a FAIL. This is the gate a
query passes before it enters the driver window. With no names, checks
every SQL twin and prints only the failures and a progress line every 25.
The last line is a JSON summary (twins checked, fails, errors, wall
time); the exit status is non-zero on any FAIL or error.

Dev-facing sweep script, collect-gate-exempt (tests/test_collect_gate.py):
it materializes results driver-side to compare them; it is never part of
a registered query plan.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from arrow_supercluster_spark.plans.registry import REGISTRY
from tests.oracle_harness import compare, duck_connection


def main() -> int:
    sf_dir, names = sys.argv[1], sys.argv[2:]
    n = len(os.sched_getaffinity(0))
    # A plain session that sets only the time zone, as the driver's verify
    # does (__spark_entry__.py), not session.build_session: its Arrow and
    # AQE settings would change what a sweep checks.
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("strict-sweep")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)
    check = names or [q for q, qd in REGISTRY.items() if qd.sql is not None]
    fails, errors = [], []
    t0 = time.time()
    for i, name in enumerate(check):
        qd = REGISTRY.get(name)
        if qd is None or qd.sql is None:
            fails.append(f"{name}: not registered or rows-only")
            print(f"FAIL {fails[-1]}", flush=True)
            continue
        try:
            errs = compare(name, qd.spark(spark, sf_dir), con, qd.sql)
        except Exception as e:  # noqa: BLE001
            errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            print(f"ERR  {errors[-1]}", flush=True)
            continue
        fails.extend(errs)
        for e in errs:
            print(f"FAIL {e[:400]}", flush=True)
        if names and not errs:
            print(f"PASS {name}", flush=True)
        if not names and (i + 1) % 25 == 0:
            print(f"--- {i + 1}/{len(check)} checked, {len(fails)} fails, "
                  f"{len(errors)} errors, {time.time() - t0:.0f}s", flush=True)
    print(json.dumps({"sf_dir": sf_dir, "twins_checked": len(check), "fails": fails,
                      "errors": errors, "wall_s": round(time.time() - t0, 1)}))
    return 1 if (fails or errors) else 0


if __name__ == "__main__":
    raise SystemExit(main())
