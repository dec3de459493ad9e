"""Grid-engine drill-down reads against DuckDB on a small seeded corpus.

`get_cluster_expansion_zoom` is checked against the reference's
follow-the-single-child walk, stepped in DuckDB over the node table built
by the package's SQL twins; `get_leaves` pages against a
`row_number() OVER (ORDER BY id)` slice, both from the driver-held points
and with `_RESIDENT_POINT_CAP` patched below the corpus so they read
Spark. Both reads run a bounded number of Spark jobs, counted under a job
group; an expansion zoom over the resident pyramid and a resident leaves
page run none.
"""

import contextlib
import logging

import duckdb
import numpy as np
import pandas as pd
import pytest

from arrow_supercluster_spark import engine
from arrow_supercluster_spark.config import ClusterOptions
from arrow_supercluster_spark.engine import ArrowClusterEngine
from arrow_supercluster_spark.operators import grid_cluster as gc

OPTS = ClusterOptions(max_zoom=5)
TOP = OPTS.max_zoom + 1
WALK_ZOOMS = (0, 2, 4)


def _corpus(n=60, seed=11):
    """Hotspots of very different widths (so expansion zooms spread over
    the whole range) and one point repeated exactly, ids shuffled."""
    rng = np.random.default_rng(seed)
    centers = np.array([[-20.0, 10.0], [35.0, -5.0], [120.0, 40.0]])
    sigma = np.array([0.05, 2.0, 15.0])
    k = rng.integers(0, len(centers), size=n)
    ll = centers[k] + rng.normal(size=(n, 2)) * sigma[k, None]
    ll[1] = ll[0]
    ids = rng.permutation(n).astype(np.int64) * 7 + 3
    return pd.DataFrame({
        "id": ids, "lng": ll[:, 0], "lat": ll[:, 1],
        "city": [f"c{i % 5}" for i in range(n)],
    })


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    df = _corpus()
    path = str(tmp_path_factory.mktemp("drill") / "pts.parquet")
    df.to_parquet(path, index=False)
    eng = ArrowClusterEngine(spark, OPTS, workdir=str(tmp_path_factory.mktemp("drill_eng")))
    eng.load(spark.read.parquet(path))
    con = duckdb.connect()
    con.execute(f"CREATE TABLE pts AS {gc.sql_points_xy(f'SELECT * FROM read_parquet({path!r})')}")
    levels = " UNION ALL ".join(
        gc.sql_cell_agg("SELECT * FROM pts", z, OPTS) for z in range(OPTS.min_zoom, TOP + 1)
    )
    con.execute(f"CREATE TABLE nodes AS SELECT zoom, cell_x, cell_y, num_points FROM ({levels})")
    yield eng, con
    con.close()


def _walk(con, zoom, cx, cy):
    """The reference walk: descend while the node has exactly one child."""
    for z in range(zoom + 1, TOP + 1):
        kids = con.execute(
            "SELECT cell_x, cell_y FROM nodes WHERE zoom = ? AND cell_x >> 1 = ? AND cell_y >> 1 = ?",
            [z, cx, cy],
        ).fetchall()
        if len(kids) != 1:
            return z
        cx, cy = kids[0]
    return TOP


def _nodes(con, zoom):
    return con.execute(
        "SELECT cell_x, cell_y, num_points FROM nodes WHERE zoom = ? ORDER BY num_points DESC, cell_x, cell_y",
        [zoom],
    ).fetchall()


def test_expansion_zoom_matches_walk(corpus):
    eng, con = corpus
    seen = set()
    for zoom in WALK_ZOOMS:
        for cx, cy, _ in _nodes(con, zoom):
            want = _walk(con, zoom, cx, cy)
            assert eng.get_cluster_expansion_zoom(zoom, cx, cy) == want, (zoom, cx, cy)
            seen.add(want)
    # the fixture exercises splits near the top, in the middle and none at all
    assert len(seen) >= 3 and TOP in seen


def test_expansion_zoom_edge_anchors(corpus):
    """An anchor at the leaf zoom has no level below it; an anchor cell
    with no points splits into zero children one zoom down."""
    eng, con = corpus
    cx, cy, _ = _nodes(con, TOP)[0]
    assert eng.get_cluster_expansion_zoom(TOP, cx, cy) == TOP
    occupied = {(x, y) for x, y, _ in _nodes(con, 2)}
    empty = next((x, 0) for x in range(4) if (x, 0) not in occupied)
    assert eng.get_cluster_expansion_zoom(2, *empty) == 3


def _page_want(con, zoom, cx, cy, limit, offset):
    cells = gc.sql_cells("SELECT * FROM pts", zoom, OPTS)
    upto = "" if limit is None else f"AND rank <= {offset + limit}"
    return con.execute(
        f"""SELECT id, lng, lat, city, rank FROM (
              SELECT id, lng, lat, city, row_number() OVER (ORDER BY id) AS rank
              FROM ({cells}) WHERE cell_x = {cx} AND cell_y = {cy})
            WHERE rank > {offset} {upto} ORDER BY rank"""
    ).fetchall()


def _pages(n):
    """(limit, offset) cases for a node of n points; None is the no-limit call."""
    return [(5, 0), (4, n // 2), (5, n + 3), (0, 0), (0, 2), (n + 10, 0), (None, 0), (None, n // 2)]


@contextlib.contextmanager
def spark_leaves(eng):
    """Leaves pages read Spark for the block: no corpus fits the cap."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(engine, "_RESIDENT_POINT_CAP", -1)
        eng._leaves = None
        try:
            yield eng
        finally:
            eng._leaves = None


def _frame(df):
    """Column names and dataTypes, and the rows sorted with nulls first (a
    page by id, as Spark ranks it)."""
    rows = sorted(map(tuple, df.collect()), key=lambda r: [(v is not None, v) for v in r])
    return [(f.name, f.dataType) for f in df.schema.fields], rows


@pytest.mark.parametrize("zoom", [0, 3, TOP])
def test_leaves_pages_match_row_number(corpus, zoom):
    """The largest node's pages, resident and on Spark: the same column
    names, dataTypes and rows, and the rows are DuckDB's page."""
    eng, con = corpus
    cx, cy, n = _nodes(con, zoom)[0]
    assert n >= (12 if zoom < TOP else 2)
    cases = _pages(n)
    got = [_frame(eng.get_leaves(zoom, cx, cy, limit=lim, offset=off)) for lim, off in cases]
    assert eng.leaves_resident
    with spark_leaves(eng):
        want = [_frame(eng.get_leaves(zoom, cx, cy, limit=lim, offset=off)) for lim, off in cases]
        assert eng.leaves_resident is False
    for (lim, off), g, w in zip(cases, got, want):
        assert [name for name, _ in g[0]] == ["id", "lng", "lat", "city", "rank"]
        assert g == w, (lim, off)
        assert g[1] == _page_want(con, zoom, cx, cy, lim, off), (lim, off)
        assert len(g[1]) == max(0, min(n if lim is None else lim, n - off))


def test_every_node_leaves_pages(corpus):
    """Every node at zooms 0, 3 and the leaf zoom: its resident members
    are the points Spark puts in its cell at that zoom, and every page is
    DuckDB's."""
    eng, con = corpus
    res = eng._resident_leaves()
    for zoom in (0, 3, TOP):
        spark_cells = {}
        for r in gc.with_cells(eng._points, zoom, OPTS).select("id", "cell_x", "cell_y").collect():
            spark_cells.setdefault((r.cell_x, r.cell_y), []).append(r.id)
        nodes = _nodes(con, zoom)
        assert sorted((x, y, len(ids)) for (x, y), ids in spark_cells.items()) == sorted(nodes)
        for cx, cy, n in nodes:
            members = res.page(zoom, cx, cy, None, 0).column("id").to_pylist()
            assert members == sorted(spark_cells[cx, cy]), (zoom, cx, cy)
            for lim, off in _pages(n):
                got = [tuple(r.values()) for r in res.page(zoom, cx, cy, lim, off).to_pylist()]
                assert got == _page_want(con, zoom, cx, cy, lim, off), (zoom, cx, cy, lim, off)


@pytest.mark.slow
def test_every_leaves_page_matches_spark(corpus):
    """Every node at every zoom, paged through in pages of 3, and its
    no-limit call, through both paths and against DuckDB."""
    eng, con = corpus
    reqs = []
    for zoom in range(TOP + 1):
        for cx, cy, n in _nodes(con, zoom):
            reqs += [(zoom, cx, cy, 3, off) for off in range(0, n + 3, 3)] + [(zoom, cx, cy, None, 0)]
    call = lambda z, x, y, lim, off: _frame(eng.get_leaves(z, x, y, limit=lim, offset=off))  # noqa: E731
    got = [call(*r) for r in reqs]
    with spark_leaves(eng):
        want = [call(*r) for r in reqs]
    for r, g, w in zip(reqs, got, want):
        assert g == w, r
        assert g[1] == _page_want(con, *r), r


def _jobs(spark, name, fn):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(name))


def test_drilldown_job_counts(spark, corpus, caplog):
    """The resident pyramid builds in at most 3 jobs, after which an
    expansion zoom over resident zooms runs none. With nothing resident
    the expansion zoom is one pruned scan: the zoom-grouped count is at
    most its shuffle stage plus the result. The resident leaves build in
    one job, after which a leaves page runs none; on Spark a page is a
    single job. Each leaves build logs one line with its decision."""
    eng, con = corpus
    cx, cy, _ = _nodes(con, 0)[0]
    eng._pyramid = None
    assert _jobs(spark, "drill_resident_build", eng._resident) <= 3
    assert _jobs(spark, "drill_expansion_resident", lambda: eng.get_cluster_expansion_zoom(0, cx, cy)) == 0
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(engine, "_RESIDENT_NODE_CAP", 0)
        eng._pyramid = None
        eng._resident()
        assert _jobs(spark, "drill_expansion", lambda: eng.get_cluster_expansion_zoom(0, cx, cy)) <= 2
    eng._pyramid = None
    page = lambda: eng.get_leaves(0, cx, cy, limit=5, offset=3).collect()  # noqa: E731
    eng._leaves = None
    with caplog.at_level(logging.INFO, logger=engine.__name__):
        assert _jobs(spark, "drill_leaves_build", eng._resident_leaves) == 1
        assert _jobs(spark, "drill_leaves_resident", page) == 0
        with spark_leaves(eng):
            eng._resident_leaves()
            assert _jobs(spark, "drill_leaves", page) == 1
    assert [r.getMessage() for r in caplog.records if r.getMessage().startswith("resident leaves")] == [
        f"resident leaves: {len(_corpus())} points, cap {engine._RESIDENT_POINT_CAP}, resident",
        "resident leaves: > -1 points, cap -1, on Spark",
    ]
