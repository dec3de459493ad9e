"""Sharded full-suite runner (VERDICT r9 "Next round" #7).

The full suite is ~70 min single-process because each file's Spark work
runs serially on a local[4] session while 28 cores idle.  The suite is
embarrassingly parallel BY FILE (session-scoped fixtures are per
process; no cross-file state), so this runner partitions test files
across N pytest subprocesses (largest-file-first round-robin, a decent
makespan heuristic) and runs them concurrently — 8 shards x local[4]
= the host's 32 cores.

This also kills the in-flight-drift failure class the single 70-min
run suffered in r8 AND r9 (count-assertion tests reading SURVEY/README
mid-batch-land): the sharded run finishes in ~10-15 min, short enough
to run at final HEAD with no edits in flight.

Usage: python tools/shard_tests.py [n_shards]
Exit code 0 iff every shard passed.  Each shard writes its log to
/tmp/shard_<i>.log and its per-test durations (junitxml) to
/tmp/shard_<i>.xml; the summary line counts pass/fail across shards.

This is a dev-facing test runner, collect-gate-exempt: it runs pytest
subprocesses and parses their summaries; it is never part of a
registered query plan and moves no DataFrame rows itself.
"""

from __future__ import annotations

import pathlib
import re
import subprocess
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
TESTS = REPO / "tests"


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    files = sorted(
        TESTS.glob("test_*.py"), key=lambda p: p.stat().st_size, reverse=True
    )
    shards: list[list[pathlib.Path]] = [[] for _ in range(n)]
    sizes = [0] * n
    for f in files:  # greedy least-loaded bin packing by file size
        i = sizes.index(min(sizes))
        shards[i].append(f)
        sizes[i] += f.stat().st_size
    procs = []
    t0 = time.time()
    for i, shard in enumerate(shards):
        if not shard:
            continue
        log = open(f"/tmp/shard_{i}.log", "w")
        procs.append(
            (
                i,
                subprocess.Popen(
                    # "-o addopts=" clears pyproject's default
                    # -m 'not slow' tier filter: the sharded run IS the
                    # full suite (r11 tiering, VERDICT r10 #2)
                    [sys.executable, "-m", "pytest", "-q",
                     "-p", "no:cacheprovider", "-o", "addopts=",
                     f"--junitxml=/tmp/shard_{i}.xml"]
                    + [str(f) for f in shard],
                    cwd=str(REPO),
                    stdout=log,
                    stderr=subprocess.STDOUT,
                ),
                log,
            )
        )
    passed = failed = errors = 0
    rc_all = 0
    for i, p, log in procs:
        rc = p.wait()
        log.close()
        tail = pathlib.Path(f"/tmp/shard_{i}.log").read_text()[-400:]
        m = re.search(r"(\d+) passed", tail)
        fm = re.search(r"(\d+) failed", tail)
        em = re.search(r"(\d+) error", tail)
        passed += int(m.group(1)) if m else 0
        failed += int(fm.group(1)) if fm else 0
        errors += int(em.group(1)) if em else 0
        status = "ok" if rc == 0 else f"RC={rc}"
        print(f"shard {i}: {status}  {tail.splitlines()[-1] if tail else ''}")
        if rc != 0:
            rc_all = 1
    print(
        f"TOTAL: {passed} passed, {failed} failed, {errors} errors, "
        f"{time.time() - t0:.0f}s across {len(procs)} shards"
    )
    return rc_all


if __name__ == "__main__":
    raise SystemExit(main())
