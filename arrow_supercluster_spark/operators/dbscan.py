"""Relational DBSCAN (Ester et al. 1996, public algorithm) — density-based
spatial clustering restated as joins + aggregates + connected components.

Semantics (classic): a point is CORE iff its eps-ball (including itself)
holds >= min_pts points; core points within eps of each other share a
cluster (transitive); a non-core point within eps of >= 1 core is a
BORDER point of (here, deterministically) the smallest such cluster id;
everything else is NOISE (cluster = -1). Cluster id = min core point id
of the component — stable under any partitioning.

Execution shape (the 100 TB story):
1. eps-sized grid cells; each point replicated into its 3x3 neighbor
   cells and equi-joined on the cell key (the relational KDBush-within
   pattern of radius_cluster.py's SQL twin) — the only quadratic work is within one cell
   neighborhood, never all-pairs;
2. one agg for neighbor counts (core flag);
3. min-label propagation + pointer jumping over CORE-CORE edges only
   (operators/dedup.connected_components — O(log n) rounds, one shuffle
   per round); border points never enter the component loop;
4. one broadcast-sized join assigns border labels.

The reference's clustering (arrow-cluster-engine.ts:354-416) is a
radius-greedy with count thresholds, not density-reachability; DBSCAN is
the density sibling the extension surface adds for corpus/geo curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from arrow_supercluster_spark.operators.dedup import (
    connected_components_adaptive,
)


def _eps_pairs(pts: DataFrame, eps: float) -> DataFrame:
    """(a_id, b_id) with 0 < planar distance <= eps, via 3x3-cell equi-join.

    Left side replicated into its 9 neighbor cells (explode of a 9-element
    offset array); right side keyed by home cell — both shuffle once on
    the cell key.
    """
    cell_x = F.floor(F.col("lng") / F.lit(eps)).cast("long")
    cell_y = F.floor(F.col("lat") / F.lit(eps)).cast("long")
    base = pts.select("id", "lng", "lat", cell_x.alias("cx"), cell_y.alias("cy"))
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    left = (
        base.select(
            F.col("id").alias("a_id"),
            F.col("lng").alias("a_lng"),
            F.col("lat").alias("a_lat"),
            F.explode(offsets).alias("o"),
            "cx",
            "cy",
        )
        .select(
            "a_id",
            "a_lng",
            "a_lat",
            (F.col("cx") + F.col("o.dx")).alias("jx"),
            (F.col("cy") + F.col("o.dy")).alias("jy"),
        )
    )
    right = base.select(
        F.col("id").alias("b_id"),
        F.col("lng").alias("b_lng"),
        F.col("lat").alias("b_lat"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    d2 = (F.col("a_lng") - F.col("b_lng")) * (F.col("a_lng") - F.col("b_lng")) + (
        F.col("a_lat") - F.col("b_lat")
    ) * (F.col("a_lat") - F.col("b_lat"))
    return (
        left.join(right, ["jx", "jy"])
        .filter(F.col("a_id") != F.col("b_id"))
        .filter(d2 <= F.lit(eps * eps))
        .select("a_id", "b_id")
    )


def dbscan(pts: DataFrame, eps: float, min_pts: int) -> DataFrame:
    """(id, role, cluster): role in {'core','border','noise'}; cluster =
    min core id of the density component, -1 for noise."""
    pairs = _eps_pairs(pts, eps)
    # neighbor counts EXCLUDING self; core iff cnt + 1 >= min_pts.  Left-join
    # against ALL points so an isolated point (absent from the pair set) still
    # counts itself — with min_pts=1 every point is core per the documented
    # eps-ball-including-self semantics.
    ncnt = pairs.groupBy(F.col("a_id").alias("id")).agg(
        F.count(F.lit(1)).alias("ncnt")
    )
    cores = (
        pts.select("id")
        .join(ncnt, "id", "left")
        .filter(F.coalesce(F.col("ncnt"), F.lit(0)) + 1 >= min_pts)
        .select("id")
    )
    core_edges = (
        pairs.join(cores.withColumnRenamed("id", "a_id"), "a_id", "leftsemi")
        .join(cores.withColumnRenamed("id", "b_id"), "b_id", "leftsemi")
        .filter(F.col("a_id") < F.col("b_id"))
    )
    # (node_id, component_id) — cores with >= 1 core neighbor.
    # r11: adaptive CC — the eps-graph of core points is contracted
    # far below the raw point count; exact min-id union-find
    # driver-side under 200k edges, the distributed fixpoint above
    comp = connected_components_adaptive(core_edges)
    core_labels = (
        cores.join(comp, cores.id == comp.node_id, "left")
        .select("id", F.coalesce(F.col("component_id"), F.col("id")).alias("cluster"))
    )
    # border: non-core with >= 1 core neighbor -> min neighboring cluster id
    border_labels = (
        pairs.join(core_labels.withColumnRenamed("id", "b_id"), "b_id")
        .join(cores.withColumnRenamed("id", "a_id"), "a_id", "leftanti")
        .groupBy(F.col("a_id").alias("id"))
        .agg(F.min("cluster").alias("cluster"))
    )
    labeled = core_labels.select(
        "id", F.lit("core").alias("role"), "cluster"
    ).unionByName(border_labels.select("id", F.lit("border").alias("role"), "cluster"))
    return (
        pts.select("id")
        .join(labeled, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("role"), F.lit("noise")).alias("role"),
            F.coalesce(F.col("cluster"), F.lit(-1).cast("long")).alias("cluster"),
        )
    )
