"""Driver tail of `graph.propagate` vs its distributed rounds.

`propagate` (and so `pagerank`, `label_propagation` and the registry's
fixpoint queries) runs every round on the driver (NumPy) when the edge
list has at most `_DRIVER_EDGE_CAP` edges.  Forcing the cap below any
edge count runs the relational rounds, so the two can be compared on
the same input: the result tables must be identical row for row.
"""

import logging
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
# the other registry queries whose rounds run on propagate
PORTED = [
    "q_label_prop", "q_katz_centrality", "q_eigenvector_centrality",
    "q_markov_stationary", "q_bfs_hops", "q_bellman_ford",
]


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


@pytest.mark.parametrize("sf", ["sf0.001", pytest.param("sf0.01", marks=pytest.mark.slow)])
@pytest.mark.parametrize("query", PORTED)
def test_ported_tail_matches_distributed(spark, sf_dir, monkeypatch, query, sf):
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


# One start vector and post-map per combine, from a source node `src`:
# "sum" starts the source at 2 and the rest at 1 and maps s to s/2 + 1,
# rounded to 1 decimal (2.25 rounds half up to 2.3 on both paths);
# "min" counts hops from the source; "mode" starts from the node's own key.
COMBINES = {
    "sum": dict(
        x0=lambda src: lambda v, m: m.where(v == src, 2.0, 1.0),
        post=lambda s, v, m: m.round(0.5 * s + 1.0, 1),
    ),
    "min": dict(x0=lambda src: lambda v, m: m.where(v == src, 0, None), post=None),
    "mode": dict(x0=lambda src: lambda v, m: v, post=None),
}

# (edges, isolated nodes carried in the start vector, source, want per
# combine after two rounds), worked by hand
DEGENERATE = {
    "empty": ([], [], 1, {"sum": {}, "min": {}, "mode": {}}),
    "one_edge": ([(1, 2)], [], 1, {
        "sum": {1: 1.0, 2: 1.5}, "min": {1: 0, 2: 1}, "mode": {1: 1, 2: 1},
    }),
    "self_loop": ([(1, 1)], [], 1, {"sum": {1: 2.0}, "min": {1: 0}, "mode": {1: 1}}),
    "isolated_node": ([(1, 2)], [3], 3, {
        "sum": {1: 1.0, 2: 1.5, 3: 1.0},
        "min": {1: None, 2: None, 3: 0},
        "mode": {1: 1, 2: 1, 3: 3},
    }),
    "absent_source": ([(1, 2)], [], 9, {
        "sum": {1: 1.0, 2: 1.5}, "min": {1: None, 2: None}, "mode": {1: 1, 2: 1},
    }),
    "string_keys": ([("a", "b"), ("b", "c"), ("c", "b")], [], "a", {
        "sum": {"a": 1.0, "b": 2.3, "c": 2.3},
        "min": {"a": 0, "b": 1, "c": 2},
        "mode": {"a": "a", "b": "a", "c": "a"},
    }),
}


@pytest.mark.parametrize("combine", list(COMBINES))
@pytest.mark.parametrize("case", list(DEGENERATE))
def test_degenerate_propagate(spark, monkeypatch, case, combine):
    edges, isolated, src, want = DEGENERATE[case]
    key = "string" if isinstance(src, str) else "long"
    df = spark.createDataFrame(edges, f"src {key}, dst {key}")
    nodes = spark.createDataFrame([(v,) for v in isolated], f"node {key}") if isolated else None
    spec = COMBINES[combine]
    for cap in (graph._DRIVER_EDGE_CAP, FORCE_DISTRIBUTED):
        monkeypatch.setattr(graph, "_DRIVER_EDGE_CAP", cap)
        out = graph.propagate(
            df, spec["x0"](src), combine, spec["post"], iters=2, nodes=nodes,
        )
        assert out.schema["node"].dataType == df.schema["src"].dataType
        assert {r.node: r.x for r in out.collect()} == want[combine], cap


def test_one_log_line_per_call(spark, monkeypatch, caplog):
    df = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    cap = graph._DRIVER_EDGE_CAP
    caplog.set_level(logging.INFO, logger=graph.__name__)
    graph.label_propagation(df)
    monkeypatch.setattr(graph, "_DRIVER_EDGE_CAP", FORCE_DISTRIBUTED)
    graph.label_propagation(df)
    lines = [r.getMessage() for r in caplog.records if r.name == graph.__name__]
    assert lines == [
        f"propagate mode: 2 edges, cap {cap}, driver tail",
        "propagate mode: > -1 edges, cap -1, distributed",
    ]


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
    """A random graph of exactly `_DRIVER_EDGE_CAP` edges through
    pagerank's maps on the `propagate` tail: the rounds' NumPy peak stays
    within twice the 32 MB edge table (index arrays, per-edge
    contributions, per-node vectors) — no per-round growth and no dense
    node × node structure."""
    cap = graph._DRIVER_EDGE_CAP
    rng = np.random.default_rng(7)
    src = rng.permutation(np.arange(cap, dtype=np.int64) % 200_000)
    dst = (src + rng.integers(1, 1_000, size=cap)) % 200_000
    edges = pa.table({"src": src, "dst": dst})
    start, post = graph._pagerank_maps(0.85, None)
    tracemalloc.start()
    try:
        node, rank = graph._rounds_np(edges, start, "walk", post, iters=3)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert len(node) == len(rank) == 200_000
    assert peak < 64 * 2**20, peak
