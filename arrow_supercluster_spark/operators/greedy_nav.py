"""Packed-cluster-id drill-down over the greedy hierarchy (SURVEY §4
"genuinely custom" item 3 — reference-id interop).

The reference's getChildren / getLeaves / getClusterExpansionZoom take a
packed cluster id and walk parent pointers + per-zoom trees
(arrow-cluster-engine.ts:198-256, 275-348). The greedy table
(operators/greedy.py) carries exactly that state relationally:

  row (zoom, cluster_id, x, y, parent_id, num_points, pos)

  * a cluster created while producing level z0 appears at zooms z1..z0
    (it passes through coarser levels unchanged until it merges); its
    packed id encodes origin_zoom = z0+1 — the level its children live at
    — which relationally is max(zoom of its rows) + 1, so no decode (and
    no `total` constant) is needed;
  * children(cid) = rows with parent_id == cid (they exist only at the
    origin zoom: pass-through rows keep parent −1, so the equality is
    already level-correct);
  * `pos` is the row's KDBush within()-visit rank in its level array
    (exact/partitioned modes; functions/kdbush_order.py) — the order the
    reference's within() yields children at ANY level size: kd-sorted
    position run through the static mid-right-left traversal rank, which
    is query-independent for the surviving items (theorem asserted in
    tests/test_kdbush_order.py). On levels ≤ nodeSize=64 this equals
    insertion order. mode="cc" tables carry insertion-order `pos`
    instead (its rank is a distributed re-rank; page boundaries on >64
    levels then follow the insertion convention — documented in
    greedy_hierarchy).

getLeaves pagination is DFS order (arrow-cluster-engine.ts:312-348),
computed in closed form: a subtree's leaves occupy the contiguous DFS
index range [lo, lo+num_points), so child lo = parent lo + prefix sum of
earlier siblings' counts (per-parent window over `pos`), a leaf's rank is
lo+1, and subtrees whose range misses the requested page are pruned —
the relational form of the reference's skipped+numPoints<=offset subtree
skip. No global sort anywhere.

Scale notes: every lookup is an equi-filter or broadcast join against a
zoom-partitioned persisted table — partition pruning + parquet min/max
does the index's job; no collect() of data rows, only the anchor row.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def greedy_children(nodes: DataFrame, cluster_id: int) -> DataFrame:
    """getChildren(clusterId) (arrow-cluster-engine.ts:198-226): rows whose
    parent pointer is the queried id. The reference's within-radius search
    at origin zoom is KDBush index acceleration for the same predicate
    (:275-302 keeps only parentId === clusterId hits)."""
    return nodes.filter(F.col("parent_id") == cluster_id)


def greedy_leaves(
    nodes: DataFrame,
    cluster_id: int,
    min_zoom: int = 0,
    leaf_zoom: int = 17,
    limit: Optional[int] = None,
    offset: int = 0,
) -> DataFrame:
    """getLeaves(clusterId, limit, offset) in DFS order
    (arrow-cluster-engine.ts:231-235, 312-348).

    DFS leaf ranks are computed in CLOSED FORM, no global sort: a node's
    leaves occupy the contiguous DFS-index range [lo, lo+num_points), so
    child_lo = parent_lo + Σ num_points of earlier siblings (a per-parent
    prefix sum over `pos` — the reference's child order). A leaf's rank
    is simply lo+1. This also gives the reference's subtree-skip
    (`skipped + numPoints <= offset`, :329-333) relationally: a subtree
    whose whole range falls outside (offset, offset+limit] is PRUNED from
    the frontier, so deep pagination into a billion-leaf cluster walks
    only the subtrees that intersect the page.

    The frontier must ACCUMULATE across levels (a descendant matched at
    its min-zoom row has children at its origin zoom, arbitrarily later),
    and `frontier ∪ f(frontier)` doubles the logical plan per level —
    each level eagerly localCheckpoints it (≤18 tiny jobs, bounded by the
    surviving subtree count, never the corpus).

    Returns (rank, id): rank = 1-based DFS position, filtered to
    (offset, offset+limit]."""
    hi = None if limit is None else offset + limit
    frontier = (
        nodes.filter(F.col("cluster_id") == cluster_id)
        .select(F.col("cluster_id").alias("_fid"), F.lit(0).cast("long").alias("_lo"))
        .distinct()  # pass-through rows repeat the id across zooms
        .localCheckpoint(eager=True)
    )
    leaf_parts = []
    for z in range(min_zoom, leaf_zoom + 1):
        level = nodes.filter(F.col("zoom") == z)
        w = (
            Window.partitionBy("_fid")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        joined = (
            level.join(F.broadcast(frontier), level["parent_id"] == F.col("_fid"))
            .select("_fid", "_lo", "cluster_id", "num_points", "pos")
            .withColumn(
                "_clo",
                F.col("_lo") + F.coalesce(F.sum("num_points").over(w), F.lit(0)),
            )
        )
        # subtree-skip: keep only subtrees intersecting the page
        kept = joined.filter(F.col("_clo") + F.col("num_points") > F.lit(offset))
        if hi is not None:
            kept = kept.filter(F.col("_clo") < F.lit(hi))
        leaf_parts.append(
            kept.filter(F.col("num_points") == 1).select(
                F.col("cluster_id").alias("id"),
                (F.col("_clo") + 1).alias("rank"),
            )
        )
        if z < leaf_zoom:
            frontier = frontier.unionByName(
                kept.filter(F.col("num_points") > 1).select(
                    F.col("cluster_id").alias("_fid"), F.col("_clo").alias("_lo")
                )
            ).localCheckpoint(eager=True)
    leaves = leaf_parts[0]
    for p in leaf_parts[1:]:
        leaves = leaves.unionByName(p)
    ranked = leaves.filter(F.col("rank") > offset)
    if hi is not None:
        ranked = ranked.filter(F.col("rank") <= hi)
    return ranked.select("rank", "id")


def greedy_expansion_zoom(nodes: DataFrame, cluster_id: int) -> DataFrame:
    """getClusterExpansionZoom(clusterId) (arrow-cluster-engine.ts:240-256)
    as one aggregate: the zoom where the cluster splits is where its
    children live — min zoom of rows with parent_id == cid. (A greedy
    cluster merges ≥2 items at creation, so the reference's
    exactly-one-cluster-child follow loop never iterates: every cluster
    has ≥2 children at its origin zoom.)"""
    return (
        nodes.filter(F.col("parent_id") == cluster_id)
        .agg(F.min("zoom").alias("expansion_zoom"))
    )
