"""Golden-parity tests for the faithful greedy kernel (SURVEY §5 layers
2-4, FIXTURES.md §4).

The in-repo oracle is an INDEPENDENT naive O(n²) implementation of the
reference semantics (arrow-cluster-engine.ts:354-416) — different code
path (linear-scan neighbors, plain lists) so binning bugs in the kernel
can't self-confirm.
"""

# Timing tier: the kernel-vs-oracle tests need no Spark and run in the
# DEFAULT pytest run; the three Spark operator tests are marked `slow`
# (pyproject addopts -m 'not slow') and run in the full suite
# (tools/shard_tests.py, or pytest -m '').
import math

import numpy as np
import pandas as pd
import pytest

from arrow_supercluster_spark.config import ClusterOptions
from arrow_supercluster_spark.operators.greedy import greedy_cluster_kernel

OPTS = ClusterOptions()


# ---------------------------------------------------------------------------
# deterministic fixture — reference-style LCG generator (seed 42), mirrors
# tests/test-utils.ts:51-65 shape: uniform world points
# ---------------------------------------------------------------------------

def lcg_points(n: int, seed: int = 42):
    s = seed
    out = []
    for i in range(n):
        s = (s * 16807) % 2147483647
        lng = -180.0 + 360.0 * (s / 2147483647.0)
        s = (s * 16807) % 2147483647
        lat = -85.0 + 170.0 * (s / 2147483647.0)
        out.append((i, lng, lat))
    return out


def project(points):
    ids = np.array([p[0] for p in points], dtype=np.int64)
    lng = np.array([p[1] for p in points])
    lat = np.array([p[2] for p in points])
    x = np.float32(lng / 360.0 + 0.5).astype(np.float64)
    s = np.sin(lat * math.pi / 180.0)
    y = np.clip(0.5 - 0.25 * np.log((1.0 + s) / (1.0 - s)) / math.pi, 0.0, 1.0)
    y = np.float32(y).astype(np.float64)
    return x, y, ids


# ---------------------------------------------------------------------------
# naive oracle
# ---------------------------------------------------------------------------

def naive_greedy(x, y, ids, opts: ClusterOptions, total=None):
    total = total if total is not None else len(x)
    items = [
        {"x": float(x[i]), "y": float(y[i]), "id": int(ids[i]),
         "parent": -1, "num": 1, "visited": math.inf}
        for i in range(len(x))
    ]
    levels = {}
    for z in range(opts.max_zoom, opts.min_zoom - 1, -1):
        r = opts.radius / (opts.extent * (2.0**z))
        r2 = r * r
        nxt = []
        for i, it in enumerate(items):
            if it["visited"] <= z:
                continue
            it["visited"] = z
            neigh = [
                k for k, o in enumerate(items)
                if k != i and (o["x"] - it["x"]) ** 2 + (o["y"] - it["y"]) ** 2 <= r2
            ]
            n_origin = it["num"]
            n_total = n_origin + sum(
                items[k]["num"] for k in neigh if items[k]["visited"] > z
            )
            if n_total > n_origin and n_total >= opts.min_points:
                wx, wy = it["x"] * n_origin, it["y"] * n_origin
                cid = (i << 5) + (z + 1) + total
                for k in neigh:
                    o = items[k]
                    if o["visited"] <= z:
                        continue
                    o["visited"] = z
                    wx += o["x"] * o["num"]
                    wy += o["y"] * o["num"]
                    o["parent"] = cid
                it["parent"] = cid
                nxt.append({"x": wx / n_total, "y": wy / n_total, "id": cid,
                            "parent": -1, "num": n_total, "visited": math.inf})
            else:
                nxt.append(dict(it, visited=math.inf, parent=-1))
                if n_total > 1:
                    for k in neigh:
                        o = items[k]
                        if o["visited"] <= z:
                            continue
                        o["visited"] = z
                        nxt.append(dict(o, visited=math.inf, parent=-1))
        levels[z + 1] = [dict(it) for it in items]
        items = nxt
    # with max_zoom < min_zoom no zoom runs: the leaf level alone
    final_zoom = min(opts.min_zoom, opts.leaf_zoom)
    levels[final_zoom] = [dict(it) for it in items]
    rows = []
    for z in range(final_zoom, opts.leaf_zoom + 1):
        for it in levels[z]:
            rows.append((z, it["id"], it["x"], it["y"], it["parent"], it["num"]))
    return pd.DataFrame(
        rows, columns=["zoom", "cluster_id", "x", "y", "parent_id", "num_points"]
    )


# ---------------------------------------------------------------------------
# kernel vs naive oracle
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def golden_500():
    x, y, ids = project(lcg_points(500))
    kern = greedy_cluster_kernel(x, y, ids, OPTS)
    naive = naive_greedy(x, y, ids, OPTS)
    return kern, naive


def test_greedy_counts_per_zoom(golden_500):
    kern, naive = golden_500
    assert (
        kern.groupby("zoom").size().to_dict()
        == naive.groupby("zoom").size().to_dict()
    )


def test_greedy_num_points_multiset(golden_500):
    kern, naive = golden_500
    for z in range(OPTS.min_zoom, OPTS.leaf_zoom + 1):
        a = sorted(kern[kern.zoom == z].num_points)
        b = sorted(naive[naive.zoom == z].num_points)
        assert a == b, f"zoom {z}"


def test_greedy_positions_and_ids(golden_500):
    kern, naive = golden_500
    k = kern.sort_values(["zoom", "cluster_id"]).reset_index(drop=True)
    n = naive.sort_values(["zoom", "cluster_id"]).reset_index(drop=True)
    assert list(k.cluster_id) == list(n.cluster_id)
    assert list(k.parent_id) == list(n.parent_id)
    np.testing.assert_allclose(k.x, n.x, atol=1e-9)
    np.testing.assert_allclose(k.y, n.y, atol=1e-9)


def test_count_conservation(golden_500):
    kern, _ = golden_500
    totals = kern.groupby("zoom").num_points.sum()
    assert totals.nunique() == 1
    assert totals.iloc[0] == 500


def test_children_sum_to_parent(golden_500):
    kern, _ = golden_500
    # every cluster's children (rows one level deeper with parent_id ==
    # cluster_id) sum to its num_points (engine.test.ts:153-172)
    for z in range(OPTS.min_zoom, OPTS.max_zoom + 1):
        clusters = kern[(kern.zoom == z) & (kern.num_points > 1)]
        children = kern[kern.zoom == z + 1]
        sums = children.groupby("parent_id").num_points.sum()
        for _, c in clusters.iterrows():
            if c.cluster_id in sums.index:
                assert sums[c.cluster_id] == c.num_points


# edge cases (edge-cases.test.ts:12-99)

def test_empty():
    out = greedy_cluster_kernel(
        np.empty(0), np.empty(0), np.empty(0, dtype=np.int64), OPTS
    )
    assert len(out) == 0


def test_single_point():
    x, y, ids = project([(0, 0.0, 0.0)])
    out = greedy_cluster_kernel(x, y, ids, OPTS)
    assert (out.num_points == 1).all()
    assert len(out) == OPTS.leaf_zoom - OPTS.min_zoom + 1


def test_two_identical_points():
    x, y, ids = project([(0, 10.0, 20.0), (1, 10.0, 20.0)])
    out = greedy_cluster_kernel(x, y, ids, OPTS)
    # identical points cluster at every zoom below leaf
    for z in range(OPTS.min_zoom, OPTS.max_zoom + 1):
        lv = out[out.zoom == z]
        assert len(lv) == 1 and lv.iloc[0].num_points == 2, f"zoom {z}"


def test_two_far_points_never_cluster():
    x, y, ids = project([(0, -170.0, -80.0), (1, 170.0, 80.0)])
    out = greedy_cluster_kernel(x, y, ids, OPTS)
    assert (out.num_points == 1).all()


@pytest.mark.parametrize(
    "opts",
    [
        ClusterOptions(min_points=5),
        ClusterOptions(min_zoom=3, max_zoom=2),
        ClusterOptions(min_zoom=4, max_zoom=2),
    ],
    ids=["min_points5", "zoom3_2", "zoom4_2"],
)
def test_kernel_matches_naive_across_options(opts):
    """min_points=5 exercises the passthrough branch (neighbors seen but
    too few to cluster). max_zoom < min_zoom scans no zoom: the hierarchy
    is the leaf level alone at leaf_zoom, as radius_hierarchy returns it.
    Rows are compared as sets per zoom: the oracle emits passed-through
    neighbors in index order, the kernel in grid-neighborhood order."""
    x, y, ids = project(lcg_points(60))
    cols = ["zoom", "cluster_id", "parent_id", "num_points", "x", "y"]
    kern = greedy_cluster_kernel(x, y, ids, opts)[cols]
    naive = naive_greedy(x, y, ids, opts)[cols]
    first = min(opts.min_zoom, opts.leaf_zoom)
    assert set(kern.zoom) == set(range(first, opts.leaf_zoom + 1))
    assert sorted(map(tuple, kern.to_numpy().tolist())) == sorted(
        map(tuple, naive.to_numpy().tolist())
    )


# Spark operator wrapper

@pytest.mark.slow
def test_spark_exact_matches_kernel(spark):
    pts = lcg_points(300)
    df = spark.createDataFrame(
        [(i, lng, lat) for i, lng, lat in pts], "id long, lng double, lat double"
    )
    from arrow_supercluster_spark.operators.greedy import greedy_hierarchy

    got = greedy_hierarchy(df, OPTS, mode="exact").toPandas()
    x, y, ids = project(pts)
    want = greedy_cluster_kernel(x, y, ids, OPTS)
    g = got.sort_values(["zoom", "cluster_id"]).reset_index(drop=True)
    w = want.sort_values(["zoom", "cluster_id"]).reset_index(drop=True)
    assert list(g.cluster_id) == list(w.cluster_id)
    np.testing.assert_allclose(g.x, w.x, atol=1e-9)


@pytest.mark.slow
def test_spark_partitioned_conserves_counts(spark):
    pts = lcg_points(400)
    df = spark.createDataFrame(
        [(i, lng, lat) for i, lng, lat in pts], "id long, lng double, lat double"
    )
    from arrow_supercluster_spark.operators.greedy import greedy_hierarchy

    out = greedy_hierarchy(df, OPTS, mode="partitioned").toPandas()
    totals = out.groupby("zoom").num_points.sum()
    assert (totals == 400).all()
    # determinism under different shuffle widths
    out2 = (
        greedy_hierarchy(df.repartition(16), OPTS, mode="partitioned").toPandas()
    )
    a = out.sort_values(["zoom", "cluster_id"]).reset_index(drop=True)
    b = out2.sort_values(["zoom", "cluster_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


@pytest.mark.slow
def test_mask_preserves_id_space(spark):
    """filterMask semantics (arrow-cluster-engine.ts:62,79,378): masked
    rows never enter the index but still count toward table.numRows —
    the id salt. Masked load must therefore equal a load of the same
    table with masked rows' coordinates nulled (which the reference also
    skips while still counting them), NOT a load of the pre-filtered
    table (which shifts every cluster id)."""
    from pyspark.sql import functions as F

    from arrow_supercluster_spark.operators.greedy import greedy_hierarchy

    pts = lcg_points(240)
    df = spark.createDataFrame(pts, "id long, lng double, lat double")
    mask = F.col("id") % 3 != 0

    # insertion-order pos: the cc comparison at the end shares it
    masked = greedy_hierarchy(df, mode="exact", mask=mask, pos_order="insertion")
    nulled = greedy_hierarchy(
        spark.createDataFrame(
            [(i, lng if i % 3 != 0 else None, lat if i % 3 != 0 else None)
             for i, lng, lat in pts],
            "id long, lng double, lat double",
        ),
        mode="exact",
        pos_order="insertion",
    )
    cols = ["zoom", "cluster_id", "parent_id", "num_points", "x", "y", "pos"]
    got = sorted(map(tuple, masked.select(*cols).collect()))
    want = sorted(map(tuple, nulled.select(*cols).collect()))
    assert got == want and len(got) > 0

    # and ids DIFFER from the naive pre-filtered load (total = 160 ≠ 240)
    prefiltered = greedy_hierarchy(df.filter(mask), mode="exact")
    pre = sorted(
        r.cluster_id
        for r in prefiltered.filter(F.col("num_points") > 1)
        .select("cluster_id").collect()
    )
    post = sorted(
        r.cluster_id
        for r in masked.filter(F.col("num_points") > 1)
        .select("cluster_id").collect()
    )
    assert pre != post

    # cc mode honors the same contract
    cc = greedy_hierarchy(df, mode="cc", mask=mask)
    got_cc = sorted(map(tuple, cc.select(*cols).collect()))
    assert got_cc == want
