"""BENCHMARK.json agrees with metrics.py and with the benchmark contract."""

import json
import os
import re
import subprocess

import numpy as np
import pandas as pd

from metrics import END_TO_END, PER_LAYER
from workloads import BLOCK, REPEAT_VIEWS, RequestMaker

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_metrics():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == [m[:3] for m in PER_LAYER]


def test_benchmark_json_limits():
    b = _bench()
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8 and 1 <= len(b["end_to_end"]) <= 16 and 1 <= len(b["per_layer"]) <= 128
    names = [w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert all(m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert all(not a.startswith("/") and ".." not in a for a in b["command"])


def test_serve_blocks_have_fixed_composition():
    rows = [
        {"zoom": z, "cell_x": i, "cell_y": i, "num_points": 1 + i % 3, "lng": -170.0 + 20 * i, "lat": 10.0}
        for z in range(18) for i in range(5)
    ]
    maker = RequestMaker(pd.DataFrame(rows), np.random.default_rng(3))
    for _ in range(3):
        block = maker.block()
        kinds = [k for k, _ in block]
        assert {k: kinds.count(k) for k in BLOCK} == BLOCK
        views = [args for k, args in block if k == "get_clusters"]
        for i in REPEAT_VIEWS:  # a repeat keeps the previous view's box and integer zoom
            assert views[i - 1][1] == views[i - 2][1]
            assert int(views[i - 1][0]) == int(views[i - 2][0])


def test_fails_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero without printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = _bench()["command"] + ["--workload", "build", "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
