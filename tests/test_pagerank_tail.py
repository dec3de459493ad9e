"""Driver tail of `graph.pagerank` vs its distributed rounds.

`pagerank` runs every round on the driver (NumPy) when the edge list has
at most `_DRIVER_EDGE_CAP` edges.  Forcing the cap below any edge count
runs the relational rounds, so the two can be compared on the same
input: the rank tables must be identical row for row.
"""

import os
import tracemalloc

import numpy as np
import pyarrow as pa
import pytest

from arrow_supercluster_spark.operators import graph
from arrow_supercluster_spark.plans.registry import REGISTRY

# Even an empty edge list has more rows than this, so the rounds run
# distributed.
FORCE_DISTRIBUTED = -1
QUERIES = ["q_pagerank", "q_personalized_pagerank", "q_textrank_keywords"]


def _sf(sf_dir, name):
    path = os.path.join(os.path.dirname(sf_dir), name)
    if not os.path.isdir(path):
        pytest.skip(f"no {name} test data")
    return path


def _both(monkeypatch, make):
    tail = make()
    monkeypatch.setattr(graph, "_DRIVER_EDGE_CAP", FORCE_DISTRIBUTED)
    dist = make()
    monkeypatch.undo()
    assert [(f.name, f.dataType) for f in tail.schema] == [
        (f.name, f.dataType) for f in dist.schema
    ]
    assert tail.exceptAll(dist).count() == 0
    assert dist.exceptAll(tail).count() == 0
    return tail


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("query", QUERIES)
def test_tail_matches_distributed(spark, sf_dir, monkeypatch, query, sf):
    data = _sf(sf_dir, sf)
    out = _both(monkeypatch, lambda: REGISTRY[query].spark(spark, data))
    assert out.count() > 0


SEED = lambda v: v % 17 == 0  # noqa: E731 — the q_personalized_pagerank restart set


@pytest.mark.parametrize(
    "case, edges, uniform, seeded",
    [
        ("empty", [], {}, {}),
        ("one_edge", [(17, 5)], {17: 0.075, 5: 0.13875}, {17: 0.15, 5: 0.1275}),
        ("two_cycle", [(17, 5), (5, 17)], {17: 0.5, 5: 0.5}, {17: 0.258375, 5: 0.741625}),
        ("no_seed", [(4, 5), (5, 4)], {4: 0.5, 5: 0.5}, {4: 0.0, 5: 0.0}),
    ],
)
def test_degenerate_graphs(spark, monkeypatch, case, edges, uniform, seeded):
    df = spark.createDataFrame(edges, "src long, dst long")
    for restart, want in ((None, uniform), (SEED, seeded)):
        out = _both(monkeypatch, lambda: graph.pagerank(df, restart=restart))
        got = {r.node: r.rank for r in out.collect()}
        assert got == pytest.approx(want, abs=1e-12), (case, restart)


def test_string_nodes_keep_their_type(spark, monkeypatch):
    df = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a"), ("c", "b")], "src string, dst string")
    out = _both(monkeypatch, lambda: graph.pagerank(df))
    assert dict(out.dtypes)["node"] == "string"
    assert sorted(r.node for r in out.collect()) == ["a", "b", "c"]


def test_tail_runs_at_most_six_jobs(spark, sf_dir):
    """Edge checkpoint + one bounded gate + the write, plus the shuffle
    stages of the co-occurrence self-join: the 35-job round chain is
    gone when the graph fits under the cap."""
    sc = spark.sparkContext
    group = "pagerank_tail_job_count"
    sc.setJobGroup(group, group)
    try:
        REGISTRY["q_pagerank"].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6


def test_tail_memory_at_the_cap_is_bounded():
    """A random graph of exactly `_DRIVER_EDGE_CAP` edges: the rounds'
    NumPy peak stays within twice the 32 MB edge table (index
    arrays, per-edge contributions, per-node vectors) — no per-round
    growth and no dense node × node structure."""
    cap = graph._DRIVER_EDGE_CAP
    rng = np.random.default_rng(7)
    src = rng.permutation(np.arange(cap, dtype=np.int64) % 200_000)
    dst = (src + rng.integers(1, 1_000, size=cap)) % 200_000
    edges = pa.table({"src": src, "dst": dst})
    tracemalloc.start()
    try:
        node, rank = graph._pagerank_np(edges, iterations=3, damping=0.85)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert len(node) == len(rank) == 200_000
    assert peak < 64 * 2**20, peak
