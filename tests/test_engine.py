"""Session-layer engine tests (SURVEY §3.3): the reference API surface
driven end-to-end over the materialized hierarchy."""

# Timing tier (r11, VERDICT r10 "Next round" #2): this module's Spark
# work put it above the 8 s cut in the measured full-suite profile, so it
# is excluded from the DEFAULT pytest run (pyproject addopts -m 'not
# slow') to keep that run inside the driver's budget.  The full suite
# (tools/shard_tests.py, or pytest -m '') still runs it.
import pytest as _pytest_tier

pytestmark = _pytest_tier.mark.slow


import pytest
from pyspark.sql import functions as F

from arrow_supercluster_spark.config import DEFAULT_OPTIONS as OPTS
from arrow_supercluster_spark.engine import ArrowClusterEngine
from arrow_supercluster_spark.sources.points import derived_points


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    eng = ArrowClusterEngine(
        spark, OPTS, workdir=str(tmp_path_factory.mktemp("engine"))
    )
    eng.load(derived_points(spark, sf_dir))
    return eng


def test_indexed_point_count(engine, spark, sf_dir):
    from arrow_supercluster_spark.operators.filters import drop_null_geometry

    expected = drop_null_geometry(derived_points(spark, sf_dir)).count()
    assert engine.indexed_point_count == expected


def test_get_clusters_world(engine):
    out = engine.get_clusters((-180, -85, 180, 85), 2).toPandas()
    assert len(out) > 0
    assert out.num_points.sum() == engine.indexed_point_count
    assert set(out.columns) >= {"zoom", "num_points", "is_cluster", "lng", "lat"}


def test_get_clusters_zoom_clamped(engine):
    hi = engine.get_clusters((-180, -85, 180, 85), 99)
    assert hi.select("zoom").distinct().collect()[0][0] == OPTS.leaf_zoom


def test_children_sum_to_parent(engine):
    parent = (
        engine.get_clusters((-180, -85, 180, 85), 3)
        .filter(F.col("is_cluster"))
        .orderBy(F.col("num_points").desc())
        .limit(1)
        .collect()[0]
    )
    kids = engine.get_children(3, parent.cell_x, parent.cell_y).toPandas()
    assert kids.num_points.sum() == parent.num_points


def test_leaves_pagination(engine):
    parent = (
        engine.get_clusters((-180, -85, 180, 85), 2)
        .orderBy(F.col("num_points").desc())
        .limit(1)
        .collect()[0]
    )
    assert parent.num_points >= 5  # biggest z2 cluster is comfortably large
    all_leaves = (
        engine.get_leaves(2, parent.cell_x, parent.cell_y)
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)
    )
    assert len(all_leaves) == parent.num_points
    # full-set ranks are the contiguous id order (distrank path)
    assert list(all_leaves["rank"]) == list(range(1, len(all_leaves) + 1))
    assert list(all_leaves["id"]) == sorted(all_leaves["id"])
    page = engine.get_leaves(2, parent.cell_x, parent.cell_y, limit=3, offset=1)
    pg = page.toPandas().sort_values("rank")
    # TakeOrdered page: same rows AND same ranks as the full-set slice
    assert list(pg["id"]) == list(all_leaves["id"][1:4])
    assert list(pg["rank"]) == [2, 3, 4]


def test_expansion_zoom(engine):
    parent = (
        engine.get_clusters((-180, -85, 180, 85), 0)
        .filter(F.col("is_cluster"))
        .orderBy(F.col("num_points").desc())
        .limit(1)
        .collect()[0]
    )
    ez = engine.get_cluster_expansion_zoom(0, parent.cell_x, parent.cell_y)
    assert 0 < ez <= OPTS.leaf_zoom


def test_descendants_closure(engine):
    parent = (
        engine.get_clusters((-180, -85, 180, 85), 2)
        .filter(F.col("is_cluster"))
        .orderBy(F.col("num_points").desc())
        .limit(1)
        .collect()[0]
    )
    desc = engine.get_descendants(2, parent.cell_x, parent.cell_y, 5).toPandas()
    per_zoom = desc.groupby("zoom").num_points.sum()
    assert (per_zoom == parent.num_points).all()


def test_antimeridian_query(engine):
    out = engine.get_clusters((150, -60, -150, 60), 4).toPandas()
    assert ((out.lng >= 150) | (out.lng <= -150)).all()


def test_load_missing_geometry_column_errors(spark, sf_dir):
    """Missing geometry column must fail loudly (the reference throws,
    arrow-cluster-engine.ts:66-71, tested at edge-cases.test.ts:118-125).
    Spark raises at plan analysis when lng/lat are absent."""
    bad = spark.read.parquet(f"{sf_dir}/customer.parquet")  # no lng/lat
    eng = ArrowClusterEngine(spark, OPTS)
    with pytest.raises(Exception) as exc:
        eng.load(bad)
    assert "lng" in str(exc.value) or "UNRESOLVED_COLUMN" in str(exc.value)


def test_query_before_load_errors(spark):
    eng = ArrowClusterEngine(spark, OPTS)
    with pytest.raises(RuntimeError, match="load"):
        eng.get_clusters((-180, -85, 180, 85), 3)


def test_layer_memoization(spark, sf_dir):
    """Reference layer invalidation rules (arrow-cluster-layer.ts:84-118):
    same integer zoom → cached output, ZERO new Spark jobs; new integer
    zoom → requery; same data reference passed again → no rebuild."""
    from arrow_supercluster_spark.engine import ClusterLayer
    from arrow_supercluster_spark.sources.points import derived_points

    def max_job_id():
        ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    pts = derived_points(spark, sf_dir)
    layer = ClusterLayer(spark).set_data(pts)
    out1 = layer.get_clusters(zoom=4.7)
    engine1 = layer._engine

    before = max_job_id()
    out2 = layer.get_clusters(zoom=4.2)  # floor == 4 still
    assert out2 is out1
    assert max_job_id() == before, "cached zoom must launch no Spark job"

    # same data reference → no engine rebuild (identity comparator)
    layer.set_data(pts)
    assert layer._engine is engine1
    assert max_job_id() == before

    # integer zoom changed → requery; zoom 5 is in the engine's resident
    # pyramid, so the requery itself runs no Spark job either
    out3 = layer.get_clusters(zoom=5.0)
    assert out3 is not out1 and {r.zoom for r in out3} == {5}
    assert engine1.resident_zoom >= 5 and max_job_id() == before
    assert out3 is layer.get_clusters(zoom=5.9)


def test_incremental_append_matches_full_load(spark, sf_dir):
    """engine.append merges new points into the hierarchy WITHOUT
    rescanning old raw data; result must match a full load of the union
    (counts/ids exact; centroid sums to 1e-9 — float addition order
    differs between one-pass and merged aggregation)."""
    from arrow_supercluster_spark.sources.points import derived_points

    pts = derived_points(spark, sf_dir)
    a = pts.filter(F.col("id") % 2 == 0)
    b = pts.filter(F.col("id") % 2 == 1)

    full = ArrowClusterEngine(spark, OPTS).load(pts)
    inc = ArrowClusterEngine(spark, OPTS).load(a).append(b)

    cols = ["zoom", "cell_x", "cell_y"]
    f = (
        full._require()
        .select(*cols, "num_points", "min_id",
                F.round("sum_x", 9).alias("sx"), F.round("sum_y", 9).alias("sy"))
        .toPandas().sort_values(cols).reset_index(drop=True)
    )
    i = (
        inc._require()
        .select(*cols, "num_points", "min_id",
                F.round("sum_x", 9).alias("sx"), F.round("sum_y", 9).alias("sy"))
        .toPandas().sort_values(cols).reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(f, i)
    assert inc.indexed_point_count == full.indexed_point_count


def test_register_views_sql_surface(spark, sf_dir, tmp_path):
    """SQL-only consumption: after register_views, the corpus and the
    materialized hierarchy answer plain spark.sql() queries."""
    from arrow_supercluster_spark.engine import ArrowClusterEngine
    from arrow_supercluster_spark.session import register_views
    from arrow_supercluster_spark.sources.points import derived_points

    eng = ArrowClusterEngine(spark, workdir=str(tmp_path / "eng")).load(
        derived_points(spark, sf_dir)
    )
    register_views(spark, sf_dir, engine=eng)
    n_docs = spark.sql("SELECT COUNT(*) AS n FROM documents").collect()[0].n
    assert n_docs > 0
    top = spark.sql(
        "SELECT zoom, COUNT(*) AS n FROM cluster_hierarchy GROUP BY zoom"
        " ORDER BY zoom LIMIT 1"
    ).collect()[0]
    assert top.zoom == 0 and top.n > 0
    # events view carries normalized instant-semantics timestamps
    t = dict(spark.table("events").dtypes)["ts"]
    assert t == "timestamp"


def test_layer_set_options_preserves_mask(spark, sf_dir):
    """Regression: set_options rebuilds a FRESH engine — the mask set
    via set_data must ride along, or masked points silently reappear."""
    from pyspark.sql import functions as F

    from arrow_supercluster_spark.config import ClusterOptions
    from arrow_supercluster_spark.engine import ClusterLayer
    from arrow_supercluster_spark.sources.points import derived_points

    pts = derived_points(spark, sf_dir)
    mask = (F.col("id") % 2) == 0
    n_masked = pts.filter(mask).filter(
        F.col("lng").isNotNull() & F.col("lat").isNotNull()
    ).count()

    layer = ClusterLayer(spark).set_data(pts, mask=mask)
    layer.set_options(ClusterOptions(radius=40))
    out = layer.get_clusters(zoom=17.0)  # leaf zoom: every point a row
    total = sum((r.num_points or 1) for r in out)
    assert total == n_masked
