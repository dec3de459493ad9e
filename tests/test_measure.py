"""tools/measure.py profile: one JSON line per query with its wall time,
Spark totals, peak memory and plan node counts."""

import json
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
FIELDS = (
    "query", "wall_s", "jobs", "stages", "tasks", "shuffle_write_bytes",
    "spill_bytes", "executor_run_s", "scheduler_delay_s", "python_bytes_sent",
    "peak_mem_mib", "exchanges", "joins", "python",
)


def test_profile_writes_one_line_per_query(tmp_path, sf_dir):
    out = tmp_path / "profile.jsonl"
    queries = ["q_filter_mask", "q_tpch_q6"]
    subprocess.run(
        [sys.executable, str(REPO / "tools" / "measure.py"), "profile",
         sf_dir, *queries, "--out", str(out)],
        check=True, timeout=45, capture_output=True,
    )
    recs = [json.loads(line) for line in out.read_text().splitlines()]
    assert [r["query"] for r in recs] == queries
    for r in recs:
        assert "err" not in r, r
        assert all(f in r for f in FIELDS), r
        assert r["jobs"] >= 1
        assert r["peak_mem_mib"] > 0
