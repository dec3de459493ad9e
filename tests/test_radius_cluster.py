"""Tests for the relational radius clustering (A1 variant c)."""

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

from arrow_supercluster_spark.config import DEFAULT_OPTIONS as OPTS
from arrow_supercluster_spark.operators import grid_cluster as gc
from arrow_supercluster_spark.operators import radius_cluster as rc
from arrow_supercluster_spark.sources.points import derived_points


def _pts(spark, sf_dir, n_parts=None):
    p = gc.prepare_points(derived_points(spark, sf_dir))
    if n_parts:
        p = p.repartition(n_parts)
    return p.select("id", "x", "y", F.lit(1).cast("long").alias("num_points"))


def test_level_count_conservation(spark, sf_dir):
    pts = _pts(spark, sf_dir)
    total = pts.count()
    out = rc.radius_cluster_level(pts, 6, OPTS)
    assert out.agg(F.sum("num_points")).collect()[0][0] == total


@pytest.mark.parametrize("n_parts", [1, 16])
def test_level_partition_invariance(spark, sf_dir, n_parts):
    base = (
        rc.radius_cluster_level(_pts(spark, sf_dir), 6, OPTS)
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    got = (
        rc.radius_cluster_level(_pts(spark, sf_dir, n_parts), 6, OPTS)
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    for c in ("x", "y"):
        base[c] = base[c].round(9)
        got[c] = got[c].round(9)
    pd.testing.assert_frame_equal(base, got)


def test_hierarchy_conservation_all_levels(spark, sf_dir):
    pts = gc.prepare_points(derived_points(spark, sf_dir))
    total = pts.count()
    hier = rc.radius_hierarchy(pts, OPTS)
    totals = hier.groupBy("zoom").agg(F.sum("num_points").alias("t")).toPandas()
    assert sorted(totals.zoom) == list(range(OPTS.min_zoom, OPTS.leaf_zoom + 1))
    assert (totals.t == total).all()


def test_close_to_greedy_on_fixture(spark):
    """Informational fidelity bound: on the 300-point LCG fixture the
    relational variant's per-zoom item counts stay within 20% of the
    sequential greedy's (identical except for chain effects)."""
    from tests.test_greedy import lcg_points, project
    from arrow_supercluster_spark.operators.greedy import greedy_cluster_kernel

    pts_list = lcg_points(300)
    x, y, ids = project(pts_list)
    greedy = greedy_cluster_kernel(x, y, ids, OPTS)
    df = spark.createDataFrame(
        list(zip(ids.tolist(), x.tolist(), y.tolist())), "id long, x double, y double"
    ).withColumn("num_points", F.lit(1).cast("long"))
    for zoom in (4, 8):
        rel = rc.radius_cluster_level(df, zoom, OPTS).count()
        seq = len(greedy[greedy.zoom == zoom])
        assert abs(rel - seq) / seq <= 0.2, (zoom, rel, seq)
