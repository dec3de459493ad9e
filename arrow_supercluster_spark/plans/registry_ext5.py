"""Registry entries: relational radius clustering (A1 variant c — true
r-ball semantics, oracle-checkable)."""

from __future__ import annotations

from pyspark.sql import functions as F

from arrow_supercluster_spark.config import DEFAULT_OPTIONS as OPTS
from arrow_supercluster_spark.operators import radius_cluster as rc
from arrow_supercluster_spark.plans.registry_core import _SQL_XY, _points_xy, register


def _mk_radius(zoom: int):
    @register(
        f"q_cluster_radius_z{zoom}",
        rc.sql_radius_cluster(_SQL_XY, zoom, OPTS),
    )
    def q(spark, sf_dir, _z=zoom):
        """A1 variant (c) — relational TRUE-radius clustering
        (min-order-neighbor semantics, operators/radius_cluster.py): the
        r-ball neighbor search runs per spatial tile (cells of size r plus
        a 2-cell halo) in the NumPy kernel the driver tail shares, origins
        and assignments are min-id rules, and one window per cluster rolls
        members up — fully deterministic, parallel, and SQL-expressible
        (the twin states it as a 3×3-cell equi-join), unlike the
        sequential greedy scan."""
        pts = _points_xy(spark, sf_dir).select(
            "id", "x", "y", F.lit(1).cast("long").alias("num_points")
        )
        out = rc.radius_cluster_level(pts, _z, OPTS)
        return out.select(
            "id",
            "num_points",
            F.round("x", 7).alias("cx_pos"),
            F.round("y", 7).alias("cy_pos"),
            "is_cluster",
        )

    return q


for _z in (4, 6):
    _mk_radius(_z)


@register("q_cluster_radius_hier", None)
def q_cluster_radius_hier(spark, sf_dir):
    """Full top-down hierarchy with the radius kernel (tiled levels over
    shrinking cluster levels, then the driver tail; rows-only — the 18-level
    composition is checked by conservation/determinism tests in
    tests/test_radius_cluster.py)."""
    pts = _points_xy(spark, sf_dir)
    return rc.radius_hierarchy(pts, OPTS)
