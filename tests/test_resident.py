"""The resident pyramid of `ArrowClusterEngine` against its Spark path.

Resident reads (`get_clusters`, `get_children`, the expansion-zoom walk
over the zooms held on the driver) must return exactly what the
forced-Spark path returns, `_RESIDENT_NODE_CAP` patched below every
zoom's node count: the same rows, column names and dataTypes. The default
tier checks every node's resident selection against one collect of the
Spark-finalized node table and a seeded set of reads through both paths;
the slow tier runs every read for every node through both paths. The
degenerate-corpus and `max_zoom < min_zoom` tests also page `get_leaves`
from the resident leaves and from Spark.
"""

import contextlib
import logging

import numpy as np
import pytest

from arrow_supercluster_spark import engine as E
from arrow_supercluster_spark.config import ClusterOptions
from arrow_supercluster_spark.engine import ArrowClusterEngine
from arrow_supercluster_spark.operators import grid_cluster as gc
from arrow_supercluster_spark.operators.filters import normalize_bbox
from tests.test_drilldown import OPTS, TOP, _frame, _jobs, _nodes, _walk, corpus, spark_leaves  # noqa: F401

WORLD = (-180.0, -85.0, 180.0, 85.0)
NO_ZOOM_FITS = -1  # not even an empty zoom fits, so every read goes to Spark


@contextlib.contextmanager
def _cap(eng, cap):
    """Rebuild the engine's resident pyramid under `cap` for the block."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(E, "_RESIDENT_NODE_CAP", cap)
        eng._pyramid = None
        try:
            yield eng
        finally:
            eng._pyramid = None


def _read(eng, req):
    kind, args = req
    if kind == "clusters":
        return _frame(eng.get_clusters(*args))
    if kind == "children":
        return _frame(eng.get_children(*args))
    return eng.get_cluster_expansion_zoom(*args)


def _both(eng, reqs, cap=E._RESIDENT_NODE_CAP):
    """Answers under `cap`, then the same requests with every read on Spark."""
    with _cap(eng, cap):
        got = [_read(eng, r) for r in reqs]
    with _cap(eng, NO_ZOOM_FITS):
        want = [_read(eng, r) for r in reqs]
    return got, want


def _boxes(seed=7, n=2):
    """Seeded viewports; the second straddles the antimeridian."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        w = float(rng.uniform(20.0, 140.0))
        lng = 180.0 - w / 3 if i % 2 else float(rng.uniform(-150.0, 150.0))
        lat = float(rng.uniform(-40.0, 40.0))
        out.append((lng - w / 2, lat - w / 4, lng + w / 2, lat + w / 4))
    return out


@pytest.fixture(scope="module")
def finalized(corpus):  # noqa: F811
    """The Spark-finalized node table, one collect, keyed by zoom."""
    eng, _ = corpus
    by_zoom = {}
    for r in gc.finalize_clusters(eng._require(), OPTS).collect():
        by_zoom.setdefault(r.zoom, []).append(r.asDict())
    return by_zoom


def test_every_node_resident_selection(corpus, finalized):  # noqa: F811
    """For every node at every zoom: its resident children are the
    Spark-finalized rows one zoom down whose cell >> 1 is the node, and
    its resident expansion zoom is the reference walk."""
    eng, con = corpus
    with _cap(eng, E._RESIDENT_NODE_CAP):
        res = eng._resident()
        assert res.zoom == TOP
        key = lambda r: (r["cell_x"], r["cell_y"])  # noqa: E731
        for z in range(TOP + 1):
            for node in finalized[z]:
                x, y = key(node)
                rows = res.under(z + 1, x, y, 1) if z < TOP else np.array([], np.int64)
                got = sorted(res.tbl.take(rows).to_pylist(), key=key)
                want = sorted(
                    (r for r in finalized.get(z + 1, []) if r["cell_x"] >> 1 == x and r["cell_y"] >> 1 == y),
                    key=key,
                )
                assert got == want, (z, x, y)
                assert eng.get_cluster_expansion_zoom(z, x, y) == _walk(con, z, x, y), (z, x, y)


def _edge_boxes(nodes):
    """Two boxes with a node exactly on their corners, the max corner and
    the min corner, from a node whose lng `normalize_bbox` keeps as is."""
    for n in nodes:
        lng, lat = n["lng"], n["lat"]
        boxes = [(lng - 10.0, lat - 10.0, lng, lat), (lng, lat, lng + 10.0, lat + 10.0)]
        if normalize_bbox(*boxes[0])[0][2] == lng == normalize_bbox(*boxes[1])[0][0]:
            return n, boxes
    raise AssertionError("no node keeps its lng through normalize_bbox")


def test_resident_reads_match_spark(corpus, finalized):  # noqa: F811
    """Both paths through the public API: the largest node of three
    zooms, an empty cell, the world box at three zooms, seeded boxes
    (one across the antimeridian) and boxes with a node on their edges."""
    eng, con = corpus
    reqs = []
    for z in (0, 2, 4):
        cx, cy, _ = _nodes(con, z)[0]
        reqs += [("children", (z, cx, cy)), ("expansion", (z, cx, cy))]
    reqs += [("children", (1, 0, 0)), ("expansion", (1, 0, 0))]
    reqs += [("clusters", (WORLD, z)) for z in (0, 3, TOP)]
    reqs += [("clusters", (box, 3)) for box in _boxes()]
    node, edges = _edge_boxes(finalized[3])
    reqs += [("clusters", (box, 3)) for box in edges]
    got, want = _both(eng, reqs)
    assert got == want
    assert all(a[1] for a in got[:6:2])
    for _, rows in got[-2:]:
        assert tuple(node.values()) in rows


@pytest.mark.slow
def test_every_read_matches_spark(corpus):  # noqa: F811
    """Children and expansion zoom of every node at every zoom, and five
    boxes per zoom, through both paths."""
    eng, con = corpus
    reqs = []
    for z in range(TOP + 1):
        for cx, cy, _ in _nodes(con, z):
            reqs += [("children", (z, cx, cy)), ("expansion", (z, cx, cy))]
        reqs += [("clusters", (box, z)) for box in [WORLD] + _boxes(seed=z, n=4)]
    got, want = _both(eng, reqs)
    assert got == want


def test_resident_zoom_decision(spark, corpus, caplog):  # noqa: F811
    """Full, mid and zero caps give the deepest zoom whose running node
    count fits, each build logs one line, and reads past it fall back."""
    eng, con = corpus
    counts = [len(_nodes(con, z)) for z in range(TOP + 1)]
    mid = sum(counts[:4])
    with _cap(eng, mid):
        assert eng.resident_zoom is None
        with caplog.at_level(logging.INFO, logger=E.__name__):
            assert _jobs(spark, "resident_build", eng._resident) <= 3
        assert eng.resident_zoom == 3
        assert [r.getMessage() for r in caplog.records] == [
            f"resident pyramid: nodes per zoom {dict(enumerate(counts))}, resident to zoom 3, cap {mid}"
        ]
    with _cap(eng, mid - 1):
        eng._resident()
        assert eng.resident_zoom == 2
    with _cap(eng, E._RESIDENT_NODE_CAP):
        eng._resident()
        assert eng.resident_zoom == TOP
    with _cap(eng, 0):
        eng._resident()
        assert eng.resident_zoom == OPTS.min_zoom - 1


def test_mid_cap_falls_back(spark, corpus):  # noqa: F811
    """Resident to zoom 3: children at zoom 3 and a walk that crosses
    zoom 3 read Spark and still agree with the all-Spark answers; a
    resident read runs no job."""
    eng, con = corpus
    mid = sum(len(_nodes(con, z)) for z in range(4))
    walks = [(z, *_nodes(con, z)[0][:2]) for z in (0, 2, 3)]
    assert any(_walk(con, *w) > 3 for w in walks[:2]), "no walk crosses zoom 3"
    reqs = [("expansion", w) for w in walks] + [("children", walks[2]), ("clusters", (WORLD, 4))]
    got, want = _both(eng, reqs, cap=mid)
    assert got == want
    with _cap(eng, mid):
        eng._resident()
        assert eng.resident_zoom == 3
        assert _jobs(spark, "resident_children", lambda: eng.get_children(*walks[1]).collect()) == 0
        assert _jobs(spark, "spark_children", lambda: eng.get_children(*walks[2]).collect()) >= 1


def _pts(spark, rows):
    return spark.createDataFrame(rows, "id long, lng double, lat double")


def _check_against_spark(eng):
    """Resident and Spark reads agree on the world box at the top and leaf
    zooms and on the children and expansion zoom of every zoom-0 node."""
    top = DEGENERATE.max_zoom + 1
    nodes = eng._require().filter("zoom = 0").collect()
    reqs = [("clusters", (WORLD, z)) for z in (0, top)]
    reqs += [(k, (0, r.cell_x, r.cell_y)) for r in nodes for k in ("children", "expansion")]
    got, want = _both(eng, reqs)
    assert got == want
    return [r.num_points for r in nodes], got[2:]


def _leaves_both(eng, reqs):
    """Leaves pages from the driver-held points, then on Spark."""
    call = lambda z, x, y, lim: _frame(eng.get_leaves(z, x, y, limit=lim))  # noqa: E731
    got = [call(*r) for r in reqs]
    with spark_leaves(eng):
        want = [call(*r) for r in reqs]
    return got, want


DEGENERATE = ClusterOptions(max_zoom=3)


def test_degenerate_corpora_and_append(spark, tmp_path):
    """An empty corpus, then one point appended, then 49 more at the same
    position: reads agree on both paths at every step, and load() and
    append() drop the resident pyramid and the resident leaves so the
    next read sees the new table and the new points."""
    top = DEGENERATE.max_zoom + 1
    eng = ArrowClusterEngine(spark, DEGENERATE, workdir=str(tmp_path))
    eng.load(_pts(spark, []))
    assert _check_against_spark(eng) == ([], [])
    eng._resident()
    assert eng.resident_zoom == top
    assert eng.get_leaves(0, 0, 0, limit=5).collect() == [] and eng.leaves_resident

    eng.append(_pts(spark, [(0, 12.5, 41.9)]))
    assert eng.resident_zoom is None and eng.leaves_resident is None
    (n,), (kids, ez) = _check_against_spark(eng)
    assert n == 1 and len(kids[1]) == 1 and ez == top
    cell = eng._require().filter("zoom = 0").first()
    got, want = _leaves_both(eng, [(0, cell.cell_x, cell.cell_y, 5)])
    assert got == want and [r[0] for r in got[0][1]] == [0]

    eng._resident()
    eng.append(_pts(spark, [(i, 12.5, 41.9) for i in range(1, 50)]))
    assert eng.resident_zoom is None and eng.leaves_resident is None
    (n,), (kids, ez) = _check_against_spark(eng)
    assert n == 50 and [r[3] for r in kids[1]] == [50] and ez == top
    got, want = _leaves_both(eng, [(0, cell.cell_x, cell.cell_y, 60)])
    assert got == want and [r[0] for r in got[0][1]] == list(range(50))

    eng.unload()
    assert eng.resident_zoom is None and eng.leaves_resident is None


INVERTED = ClusterOptions(min_zoom=5, max_zoom=3)


def test_inverted_zoom_range(spark, tmp_path):
    """max_zoom < min_zoom: the node table holds only the leaf zoom 4,
    below min_zoom, and get_clusters clamps every zoom to min_zoom. No
    read crashes and both paths agree: clusters, the children and
    expansion zoom of leaf cells' ancestors, and leaves pages at zooms up
    to the leaf zoom and past it (which read Spark on both paths). One
    point has a null id, which ranks first on both paths, and `id` is not
    the first column, which every page keeps in its place."""
    leaf = INVERTED.leaf_zoom
    rows = [(i, 12.5 + 4.0 * (i % 4), 41.9 + 3.0 * (i // 4)) for i in range(12)] + [(None, 12.5, 41.9)]
    pts = _pts(spark, rows).select("lng", "lat", "id")
    eng = ArrowClusterEngine(spark, INVERTED, workdir=str(tmp_path)).load(pts)
    nodes = eng._require().collect()
    cells = [(r.cell_x, r.cell_y) for r in nodes]
    assert {r.zoom for r in nodes} == {leaf} and len(cells) > 1
    reqs = [("clusters", (WORLD, z)) for z in (0, leaf, INVERTED.min_zoom, 9)]
    for x, y in cells[:2]:
        for z in (0, leaf - 2, leaf - 1, leaf):
            d = leaf - z
            reqs += [(k, (z, x >> d, y >> d)) for k in ("children", "expansion")]
    got, want = _both(eng, reqs)
    assert got == want
    assert any(rows for _, rows in got[4::2]), "no children read found the leaf nodes"
    x, y = cells[0]
    past = gc.with_cells(eng._points, leaf + 1, INVERTED).first()
    pages = [(z, x >> (leaf - z), y >> (leaf - z), 20) for z in (0, leaf)]
    pages += [(leaf + 1, past.cell_x, past.cell_y, 20), (0, x >> leaf, y >> leaf, None)]
    got, want = _leaves_both(eng, pages)
    assert got == want
    assert [name for name, _ in got[0][0]] == ["lng", "lat", "id", "rank"]
    first = [r for r in got[0][1] if r[-1] == 1]
    assert len(got[0][1]) == 13 and first[0][2] is None and got[3] == got[0]
    assert len(got[1][1]) >= 1 and len(got[2][1]) >= 1
