"""Golden parity for mode="cc" — the exact DISTRIBUTED greedy (SURVEY §7
Phase 4). The claim under test: per-level connected components of the
within-r graph are the exact dependency closure of the sequential scan,
so the distributed run is BIT-IDENTICAL to mode="exact" (ids, parents,
positions, pos) and invariant to input partitioning.  `pos` comparisons
use the shared insertion-order convention (pos_order="insertion"): cc's
pos comes from a distributed global re-rank; the reference-faithful
KDBush-order pos is an exact/partitioned-mode feature (see
greedy_hierarchy docstring and functions/kdbush_order.py).
"""

# Timing tier (r11, VERDICT r10 "Next round" #2): this module's Spark
# work put it above the 8 s cut in the measured full-suite profile, so it
# is excluded from the DEFAULT pytest run (pyproject addopts -m 'not
# slow') to keep that run inside the driver's budget.  The full suite
# (tools/shard_tests.py, or pytest -m '') still runs it.
import pytest as _pytest_tier

pytestmark = _pytest_tier.mark.slow


import pandas as pd
import pytest
from pyspark.sql import functions as F

from arrow_supercluster_spark.config import ClusterOptions
from arrow_supercluster_spark.operators.greedy import greedy_hierarchy
from tests.test_greedy import lcg_points

OPTS = ClusterOptions()

SORT = ["zoom", "cluster_id", "pos"]
COLS = ["zoom", "cluster_id", "x", "y", "parent_id", "num_points", "pos"]


def _norm(df) -> pd.DataFrame:
    return (
        df.select(*COLS)
        .toPandas()
        .sort_values(SORT, kind="mergesort")
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def exact_golden(spark):
    pts = spark.createDataFrame(lcg_points(500), "id long, lng double, lat double")
    return _norm(greedy_hierarchy(pts, OPTS, mode="exact", pos_order="insertion"))


@pytest.mark.parametrize("nparts", [3, 7])
def test_cc_bit_identical_to_exact(spark, exact_golden, nparts):
    """Full-column golden parity — including float positions bit-exactly
    (the per-component scan replicates the sequential accumulation order)
    — at two different input partition counts."""
    pts = spark.createDataFrame(
        lcg_points(500), "id long, lng double, lat double"
    ).repartition(nparts)
    got = _norm(greedy_hierarchy(pts, OPTS, mode="cc"))
    pd.testing.assert_frame_equal(got, exact_golden, check_exact=True)


def test_cc_with_null_geometry(spark, exact_golden):
    """Null-geometry rows drop but still salt the id space (the reference
    counts them in numPoints before filtering): parity must hold when the
    input carries nulls, with ids shifted by the pre-drop total."""
    base = lcg_points(300)
    rows = base + [(9000 + i, None, None) for i in range(7)]
    pts = spark.createDataFrame(rows, "id long, lng double, lat double")
    exact = _norm(greedy_hierarchy(pts, OPTS, mode="exact", pos_order="insertion"))
    got = _norm(greedy_hierarchy(pts, OPTS, mode="cc"))
    pd.testing.assert_frame_equal(got, exact, check_exact=True)
    # leaf level holds the 300 real points
    assert (exact["zoom"] == OPTS.leaf_zoom).sum() == 300


def test_nav_works_on_cc_output(spark, exact_golden):
    """Packed-id drill-down (greedy_nav) over the DISTRIBUTED table: the
    cc-mode hierarchy feeds the same navigation surface, and leaves of
    the biggest root cluster equal the exact-mode kernel's naive DFS."""
    from arrow_supercluster_spark.operators.greedy_nav import (
        greedy_children,
        greedy_leaves,
    )
    from tests.test_greedy_nav import naive_leaves

    pts = spark.createDataFrame(lcg_points(500), "id long, lng double, lat double")
    nodes = greedy_hierarchy(pts, OPTS, mode="cc")
    nodes.persist().count()
    try:
        root = (
            exact_golden[
                (exact_golden.zoom == OPTS.min_zoom) & (exact_golden.num_points > 1)
            ]
            .sort_values(["num_points", "cluster_id"], ascending=[False, True])
            .iloc[0]
        )
        anchor = int(root.cluster_id)
        ch = greedy_children(nodes, anchor).collect()
        assert sum(c.num_points for c in ch) == int(root.num_points)
        got = [
            r.id
            for r in greedy_leaves(nodes, anchor, OPTS.min_zoom, OPTS.leaf_zoom)
            .orderBy("rank")
            .collect()
        ]
        assert got == naive_leaves(exact_golden, anchor)
    finally:
        nodes.unpersist()


def test_cc_distributed_fallback_bit_identical(spark, exact_golden, monkeypatch):
    """Force the non-default adaptive tiers and their transitions: fully
    distributed fixpoint + zip-scan (edge cap 0, driver tail off), mixed
    small/large levels (edge cap 40), and distributed-then-driver-tail
    (level cap 120 — the local finisher takes over once the level
    collapses). All must stay bit-identical to the exact kernel — the
    round-4 adaptive tiers are optimizations, never a semantic fork."""
    import arrow_supercluster_spark.operators.greedy as G

    pts = spark.createDataFrame(
        lcg_points(500), "id long, lng double, lat double"
    ).repartition(5)
    for edge_cap, level_cap in ((0, 0), (40, 0), (0, 120)):
        monkeypatch.setattr(G, "_CC_EDGE_CAP", edge_cap)
        monkeypatch.setattr(G, "_CC_DRIVER_LEVEL_CAP", level_cap)
        got = _norm(greedy_hierarchy(pts, OPTS, mode="cc"))
        pd.testing.assert_frame_equal(got, exact_golden, check_exact=True)


@pytest.mark.parametrize("nparts", [3, 7])
def test_cc_zigzag_proximity_chain_end_to_end(spark, nparts):
    """End-to-end pin for the r4 regression class at the greedy-cc level
    (VERDICT r4 'Next round' #8): a proximity CHAIN whose insertion ids
    are a random permutation of chain order — per-level within-r graphs
    are long paths with zig-zag labels, the exact shape that silently
    exhausted max_iter under pre-contraction min-propagation in the 2M
    geo sweep. Full-column bit-parity with mode='exact' at two partition
    counts."""
    import random

    rng = random.Random(11)
    ids = list(range(300))
    rng.shuffle(ids)
    rows = [(ids[i], -60.0 + i * 0.002, float((i % 7) - 3) * 0.0005)
            for i in range(300)]
    pts = spark.createDataFrame(rows, "id long, lng double, lat double")
    exact = _norm(greedy_hierarchy(pts, OPTS, mode="exact", pos_order="insertion"))
    got = _norm(greedy_hierarchy(pts.repartition(nparts), OPTS, mode="cc"))
    pd.testing.assert_frame_equal(got, exact, check_exact=True)


def test_cc_degenerate_zoom_range(spark):
    """max_zoom < min_zoom: cc returns the same leaf-only hierarchy as
    mode='exact', labelled leaf_zoom (3), not min_zoom (4)."""
    opts = ClusterOptions(min_zoom=4, max_zoom=2)
    pts = spark.createDataFrame(lcg_points(120), "id long, lng double, lat double")
    exact = _norm(greedy_hierarchy(pts, opts, mode="exact", pos_order="insertion"))
    got = _norm(greedy_hierarchy(pts.repartition(3), opts, mode="cc"))
    pd.testing.assert_frame_equal(got, exact, check_exact=True)
    assert len(exact) == 120 and (exact["zoom"] == opts.leaf_zoom).all()
