"""Grid-engine drill-down reads against DuckDB on a small seeded corpus.

`get_cluster_expansion_zoom` is checked against the reference's
follow-the-single-child walk, stepped in DuckDB over the node table built
by the package's SQL twins; `get_leaves` pages against a
`row_number() OVER (ORDER BY id)` slice. Both reads run a bounded number
of Spark jobs, counted under a job group; an expansion zoom over the
resident pyramid runs none.
"""

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
    return con.execute(
        f"""SELECT id, lng, lat, city, rank FROM (
              SELECT id, lng, lat, city, row_number() OVER (ORDER BY id) AS rank
              FROM ({cells}) WHERE cell_x = {cx} AND cell_y = {cy})
            WHERE rank > {offset} AND rank <= {offset + limit} ORDER BY rank"""
    ).fetchall()


@pytest.mark.parametrize("zoom", [0, 3])
def test_leaves_pages_match_row_number(corpus, zoom):
    eng, con = corpus
    cx, cy, n = _nodes(con, zoom)[0]
    assert n >= 12
    for limit, offset in [(5, 0), (4, n // 2), (5, n + 3), (0, 0), (0, 2), (n + 10, 0)]:
        page = eng.get_leaves(zoom, cx, cy, limit=limit, offset=offset)
        assert page.columns == ["id", "lng", "lat", "city", "rank"]
        got = sorted((tuple(r) for r in page.collect()), key=lambda r: r[-1])
        want = _page_want(con, zoom, cx, cy, limit, offset)
        assert got == want, (limit, offset)
        assert len(want) == max(0, min(limit, n - offset))


def _jobs(spark, name, fn):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(name))


def test_drilldown_job_counts(spark, corpus):
    """The resident pyramid builds in at most 3 jobs, after which an
    expansion zoom over resident zooms runs none. With nothing resident
    the expansion zoom is one pruned scan: the zoom-grouped count is at
    most its shuffle stage plus the result. A leaves page is a single job
    either way."""
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
    assert _jobs(spark, "drill_leaves", lambda: eng.get_leaves(0, cx, cy, limit=5, offset=3).collect()) == 1
