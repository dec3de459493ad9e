"""Driver tail of the radius hierarchy vs its distributed path.

`radius_hierarchy` finishes on the driver (NumPy) once a level has at
most `_DRIVER_LEVEL_CAP` items.  Forcing the cap below any level size
runs the all-distributed path, so the two can be compared on the same
input: (zoom, id, num_points, is_cluster) must be identical and x/y may
differ only by summation order.
"""

import math
import tracemalloc

import numpy as np
import pytest

from arrow_supercluster_spark.config import DEFAULT_OPTIONS, ClusterOptions
from arrow_supercluster_spark.operators import radius_cluster as rc
from tests.test_greedy import lcg_points, project

# Even an empty level has more rows than this, so every level runs
# distributed.
FORCE_DISTRIBUTED = -1
XY_TOL = 1e-12


def _frame(spark, ids, x, y):
    rows = list(zip(np.asarray(ids).tolist(), np.asarray(x).tolist(), np.asarray(y).tolist()))
    return spark.createDataFrame(rows, "id long, x double, y double")


def _hotspots(n, seed):
    """Seeded clustered corpus: Gaussian blobs of several widths, ids in
    shuffled order so min-id choices do not follow position."""
    rng = np.random.default_rng(seed)
    centers = rng.uniform(0.2, 0.8, size=(6, 2))
    sigma = np.array([2e-4, 1e-3, 5e-3, 2e-2, 3e-3, 8e-4])
    k = rng.integers(0, len(centers), size=n)
    xy = centers[k] + rng.normal(size=(n, 2)) * sigma[k, None]
    xy = np.float32(np.clip(xy, 0.0, 1.0)).astype(np.float64)
    return rng.permutation(n).astype(np.int64), xy[:, 0], xy[:, 1]


def _straddling(opts, adjacent=False):
    """A=(0.9r, 0) and B=(2.4r, 0) sit two cells apart at the max_zoom
    radius r (d = 1.5r, no candidate pair at r); a far diagonal pair is
    outside r too: 2.7r apart and two cells apart, or with `adjacent`
    2.76r apart in diagonally adjacent cells, so the 3×3 neighbour join
    offers it as a candidate that only the d² test rejects.  A and B must
    merge at the 2r level."""
    r = opts.radius / (opts.extent * 2.0**opts.max_zoom)
    d, c = (2.76, (math.floor(0.5 / r) + 0.02) * r) if adjacent else (2.7, 0.5)
    h = d * r / math.sqrt(2.0)
    assert math.floor((c + h) / r) - math.floor(c / r) == (1 if adjacent else 2)
    x = [0.9 * r, 2.4 * r, c, c + h]
    y = [0.0, 0.0, c, c + h]
    return [10, 11, 20, 21], x, y


def _hierarchy(monkeypatch, pts, opts, cap):
    monkeypatch.setattr(rc, "_DRIVER_LEVEL_CAP", cap)
    return (
        rc.radius_hierarchy(pts, opts)
        .toPandas()
        .sort_values(["zoom", "id"])
        .reset_index(drop=True)
    )


def _assert_same(tail, dist):
    assert len(tail) == len(dist)
    for c in ("zoom", "id", "num_points", "is_cluster"):
        assert (tail[c].to_numpy() == dist[c].to_numpy()).all(), c
    for c in ("x", "y"):
        assert np.abs(tail[c].to_numpy() - dist[c].to_numpy()).max(initial=0.0) <= XY_TOL, c


def _both_paths(monkeypatch, pts, opts, mixed_cap=None):
    """Driver tail from the leaf vs all-distributed; with `mixed_cap`, also
    a run whose first levels are distributed and whose tail starts at the
    first level of at most `mixed_cap` items."""
    tail = _hierarchy(monkeypatch, pts, opts, rc._DRIVER_LEVEL_CAP)
    dist = _hierarchy(monkeypatch, pts, opts, FORCE_DISTRIBUTED)
    _assert_same(tail, dist)
    if mixed_cap is not None:
        _assert_same(_hierarchy(monkeypatch, pts, opts, mixed_cap), dist)
    return tail


STRADDLE_OPTS = ClusterOptions(max_zoom=8)


def _tiled(cases):
    """Each case at the default tile size, under its own id, and at tiles
    of one cell, where every item's 2-cell halo crosses tile edges."""
    return [pytest.param(c, None, id=c) for c in cases] + [
        pytest.param(c, 1, id=f"{c}-tile1") for c in cases
    ]


@pytest.mark.parametrize(
    ("fixture", "tile_cells"), _tiled(["lcg300", "hotspots", "straddling", "straddling_adjacent"])
)
def test_tail_matches_distributed(spark, monkeypatch, fixture, tile_cells):
    if tile_cells is not None:
        monkeypatch.setattr(rc, "_TILE_CELLS", tile_cells)
    if fixture == "lcg300":
        x, y, ids = project(lcg_points(300))
        opts = DEFAULT_OPTIONS
    elif fixture == "hotspots":
        ids, x, y = _hotspots(400, seed=7)
        opts = ClusterOptions(max_zoom=8)
    else:
        ids, x, y = _straddling(STRADDLE_OPTS, adjacent=fixture == "straddling_adjacent")
        opts = STRADDLE_OPTS
    mixed_cap = len(ids) // 2 if tile_cells is None else None
    out = _both_paths(monkeypatch, _frame(spark, ids, x, y), opts, mixed_cap)
    assert set(out.zoom) == set(range(opts.min_zoom, opts.leaf_zoom + 1))
    assert (out.groupby("zoom").num_points.sum() == len(ids)).all()
    if fixture.startswith("straddling"):
        assert {10, 11} <= set(out[out.zoom == opts.max_zoom].id)
        lvl = out[out.zoom == opts.max_zoom - 1]
        assert lvl[lvl.id == 10][["num_points", "is_cluster"]].values.tolist() == [[2, True]]
        assert 11 not in set(lvl.id)


@pytest.mark.parametrize(
    ("case", "tile_cells"), _tiled(["empty", "one_point", "identical", "max_below_min"])
)
def test_degenerate_inputs(spark, monkeypatch, case, tile_cells):
    if tile_cells is not None:
        monkeypatch.setattr(rc, "_TILE_CELLS", tile_cells)
    opts = ClusterOptions(max_zoom=3)
    ids, x, y = [1, 2, 3, 4, 5], [0.25] * 5, [0.75] * 5
    if case == "empty":
        ids, x, y = [], [], []
    elif case == "one_point":
        ids, x, y = ids[:1], x[:1], y[:1]
    elif case == "max_below_min":
        opts = ClusterOptions(min_zoom=5, max_zoom=3)
    out = _both_paths(monkeypatch, _frame(spark, ids, x, y), opts)
    levels = {opts.leaf_zoom, *range(opts.min_zoom, opts.max_zoom + 1)}
    assert set(out.zoom) == (levels if ids else set())
    assert (out.groupby("zoom").num_points.sum() == len(ids)).all()
    if case == "identical":
        coarse = out[out.zoom <= opts.max_zoom]
        assert (coarse.id == 1).all() and (coarse.num_points == 5).all() and coarse.is_cluster.all()


@pytest.mark.parametrize("chunk", [rc._PAIR_CHUNK, 5])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_min_neighbor_matches_brute_force(monkeypatch, seed, chunk):
    """`_min_neighbor` and `_assign` against an O(n²) scan of the join's
    candidate set (3×3 cells of floor(x / r), then the float64 d² test).
    Half the coordinates are snapped to cell edges and repeated, the cases
    where a bounding-box or early-exit shortcut would first go wrong; a
    tiny chunk puts chunk boundaries inside rows' windows.  `_assign` gets
    a partial `own` mask, as a tile does, and must give each owned item
    its min-id valid neighbour, so every member lies within r of its
    cluster's origin."""
    monkeypatch.setattr(rc, "_PAIR_CHUNK", chunk)
    rng = np.random.default_rng(seed)
    r = 0.01
    pts = rng.uniform(0.0, 0.1, size=(300, 2))
    pts[::2] = np.round(pts[::2] / r) * r + rng.choice([-r, 0.0, r, 1e-17], size=(150, 2))
    pts[::7] = pts[0]
    x, y = pts[:, 0], pts[:, 1]
    ids = rng.permutation(len(x)).astype(np.int64) * 3
    b = rng.random(len(x)) < 0.6
    own = rng.random(len(x)) < 0.5

    cx, cy = np.floor(x / r).astype(np.int64), np.floor(y / r).astype(np.int64)
    dx = x[:, None] - x[None, :]
    dy = y[:, None] - y[None, :]
    ok = (
        (np.abs(cx[:, None] - cx[None, :]) <= 1)
        & (np.abs(cy[:, None] - cy[None, :]) <= 1)
        & (dx * dx + dy * dy <= r * r)
    )

    def brute_min(rows, cols):
        return np.where(ok[np.ix_(rows, cols)], ids[None, cols], rc._NO_NEIGHBOR).min(axis=1)

    every = np.ones(len(x), dtype=bool)
    assert (rc._min_neighbor(x, y, x[b], y[b], ids[b], r) == brute_min(every, b)).all()

    valid = brute_min(every, every) == ids
    want = brute_min(own, valid)
    want = np.where(want == rc._NO_NEIGHBOR, ids[own], want)
    assert (rc._assign(ids, x, y, r, own) == want).all()


def test_tail_runs_at_most_three_jobs(spark):
    """Leaf checkpoint + one bounded gate + the write: the per-level job
    chain is gone when the leaf level fits under the cap."""
    x, y, ids = project(lcg_points(300))
    pts = _frame(spark, ids, x, y)
    sc = spark.sparkContext
    group = "radius_tail_job_count"
    sc.setJobGroup(group, group)
    try:
        rc.radius_hierarchy(pts, DEFAULT_OPTIONS).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_tail_kernel_memory_is_bounded():
    """50k hotspot points at max_zoom=2 put hundreds of millions of
    candidate pairs in the leaf level's cells; the kernel's NumPy peak
    stays O(items + chunk), far below what materializing them would take
    (an unchunked pair table peaked at 3 GiB on a corpus like this)."""
    opts = ClusterOptions(max_zoom=2)
    ids, x, y = _hotspots(50_000, seed=101)
    num = np.ones(len(ids), dtype=np.int64)
    tracemalloc.start()
    try:
        for z in range(opts.max_zoom, opts.min_zoom - 1, -1):
            r = opts.radius / (opts.extent * 2.0**z)
            ids, x, y, num, _ = rc._cluster_level_np(ids, x, y, num, r, opts.min_points)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert num.sum() == 50_000
    assert peak < 256 * 2**20, peak
