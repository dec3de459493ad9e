"""ArrowClusterEngine — the session-layer analog of the reference engine
instance (SURVEY.md §3.3).

Mirrors the reference's public API surface
(packages/arrow-supercluster/src/arrow-cluster-engine.ts:14-19; README API
section): `load`, `get_clusters`, `get_children`, `get_leaves`,
`get_cluster_expansion_zoom`, `indexed_point_count`.

Two tiers answer the reads. The node table is a zoom-partitioned parquet
table under the workdir, the durable state `load()` and `append()` write.
On top of it sits a resident pyramid, the analog of the reference's
per-zoom KDBush trees (arrow-cluster-engine.ts:103-112, 151-156): every
zoom from `min_zoom` down to the deepest one whose running node count fits
`_RESIDENT_NODE_CAP`, finalized by Spark and held on the driver as one
Arrow table sorted by (zoom, cell_x, cell_y). A coarse zoom never has more
nodes than occupied cells, so the top of the pyramid fits whatever the
corpus size. The first read builds it (at most 3 jobs); `load()`,
`append()` and `unload()` drop it. `get_clusters`, `get_children` and the
expansion-zoom walk at resident zooms are slices and `searchsorted` over
that table and run no Spark job; deeper zooms read the node table,
partition-pruned on zoom.

`get_leaves` has its own resident copy, the analog of the reference's
DFS over indexes that cover every point (arrow-cluster-engine.ts:231-235,
312-348): when the loaded points fit `_RESIDENT_POINT_CAP`, the first
leaves read fetches them with their leaf-zoom cells (one job) and holds
them sorted by id, and a page is a NumPy mask over those cells and a
slice, with no Spark job. Over the cap, pages read the points.

Caching/invalidation follows the layer's rules
(arrow-cluster-layer.ts:46-55,84-118): rebuild only when data/options
change (load() is the rebuild), re-query per call.

Cluster identity: grid nodes are identified by (zoom, cell_x, cell_y);
the reference's (origin<<5)+zoom+count bit packing is carried by the
greedy pipeline (operators/greedy.py), with the codec itself covered by
Q5 (q_clusterid_roundtrip).
"""

from __future__ import annotations

import logging
from typing import Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.window import Window

from arrow_supercluster_spark.config import DEFAULT_OPTIONS, ClusterOptions
from arrow_supercluster_spark.functions.small_side import small_side
from arrow_supercluster_spark.operators import grid_cluster as gc
from arrow_supercluster_spark.operators.filters import bbox_predicate, normalize_bbox

log = logging.getLogger(__name__)

# Node budget of the resident pyramid. A finalized node row is about 53 B
# in Arrow (9.65 MB for 181,682 rows), so the cap holds about 53 MB.
_RESIDENT_NODE_CAP = 1_000_000

# Row budget of the resident leaves. A point row with its two leaf cells
# is about 50 B in Arrow for (id, lng, lat, city), so the cap holds
# about 50 MB.
_RESIDENT_POINT_CAP = 1_000_000


def _shifted(c: str, shift) -> F.Column:
    """`c >> shift` with the shift taken from a column (F.shiftright takes
    only a literal shift). Cells are non-negative, so this is the exact
    ancestor cell `shift` zooms up."""
    return F.call_function("shiftright", F.col(c), shift)


class _Pyramid:
    """Zooms min_zoom..`zoom` of the finalized node table on the driver,
    sorted by (zoom, cell_x, cell_y). `starts` holds each zoom's first
    row, and inside a zoom cell_x is sorted, so a cell_x range is two
    `searchsorted` probes."""

    def __init__(self, tbl: pa.Table, min_zoom: int, zoom: int):
        self.min_zoom, self.zoom = min_zoom, zoom
        self.tbl = tbl.sort_by(
            [("zoom", "ascending"), ("cell_x", "ascending"), ("cell_y", "ascending")]
        ).combine_chunks()
        col = lambda c: self.tbl.column(c).to_numpy()  # noqa: E731
        self.cx, self.cy = col("cell_x"), col("cell_y")
        self.lng, self.lat = col("lng"), col("lat")
        self.starts = np.searchsorted(col("zoom"), np.arange(min_zoom, zoom + 2))

    def _rows(self, z: int) -> tuple[int, int]:
        """Row range of zoom z (empty for a zoom below min_zoom)."""
        i = z - self.min_zoom
        return (0, 0) if i < 0 else (self.starts[i], self.starts[i + 1])

    def in_bbox(self, z: int, bbox) -> np.ndarray:
        """Rows of zoom z inside the bbox: `bbox_predicate`'s rule, an OR
        of inclusive ranges over normalize_bbox's boxes."""
        lo, hi = self._rows(z)
        lng, lat = self.lng[lo:hi], self.lat[lo:hi]
        keep = np.zeros(hi - lo, dtype=bool)
        for a, b, c, d in normalize_bbox(*bbox):
            keep |= (lng >= a) & (lng <= c) & (lat >= b) & (lat <= d)
        return lo + np.flatnonzero(keep)

    def under(self, z: int, x: int, y: int, d: int) -> np.ndarray:
        """Rows of zoom z whose cell `d` zooms up is (x, y)."""
        lo, hi = self._rows(z)
        a, b = lo + np.searchsorted(self.cx[lo:hi], [x << d, (x + 1) << d])
        return a + np.flatnonzero(self.cy[a:b] >> d == y)

    def frame(self, spark: SparkSession, rows: np.ndarray) -> DataFrame:
        """The rows as a local DataFrame: its collect() runs no job."""
        return spark.createDataFrame(self.tbl.take(rows))


class _Leaves:
    """The loaded points on the driver, sorted by id with nulls first
    (Spark's ascending order), and their leaf-zoom cells as NumPy
    arrays."""

    def __init__(self, tbl: pa.Table, leaf_zoom: int):
        self.leaf_zoom = leaf_zoom
        tbl = tbl.sort_by([("id", "ascending")], null_placement="at_start").combine_chunks()
        self.cx, self.cy = tbl.column("cell_x").to_numpy(), tbl.column("cell_y").to_numpy()
        self.tbl = tbl.drop_columns(["cell_x", "cell_y"])

    def page(self, z: int, x: int, y: int, limit: Optional[int], offset: int) -> pa.Table:
        """Ranks offset + 1 .. offset + limit of the points in cell (x, y)
        of zoom z <= leaf_zoom, with an int32 `rank`. A point's zoom-z
        cell is its leaf cell shifted right by leaf_zoom - z (the nested
        floor identity the hierarchy rollup relies on)."""
        d = self.leaf_zoom - z
        rows = np.flatnonzero((self.cx >> d == x) & (self.cy >> d == y))
        rows = rows[offset:] if limit is None else rows[offset:offset + limit]
        rank = np.arange(offset + 1, offset + 1 + len(rows), dtype=np.int32)
        return self.tbl.take(rows).append_column("rank", pa.array(rank))


class ArrowClusterEngine:
    """load(points) → query surface over the persisted hierarchy."""

    def __init__(
        self,
        spark: SparkSession,
        opts: ClusterOptions = DEFAULT_OPTIONS,
        workdir: Optional[str] = None,
    ):
        import tempfile

        self.spark = spark
        self.opts = opts
        self.workdir = workdir or tempfile.mkdtemp(prefix="arrow_supercluster_")
        self._nodes: Optional[DataFrame] = None
        self._points: Optional[DataFrame] = None
        self._indexed_count: Optional[int] = None
        self._pyramid: Optional[_Pyramid] = None
        # None until the first leaves read, then _Leaves or False (over the cap)
        self._leaves = None

    # -- §3.1 load -------------------------------------------------------

    def load(self, points: DataFrame, mask=None) -> "ArrowClusterEngine":
        """Index build: mask (F1) → null-drop (F2) → project (P2/P4) →
        hierarchy checkpointed level-by-level to a zoom-partitioned parquet
        table under workdir (the engine-instance state; raw points are
        shuffled exactly once — see gc.materialize_hierarchy)."""
        pts = points.filter(mask) if mask is not None else points
        pts = gc.prepare_points(pts)
        self._points = pts
        self._nodes = gc.materialize_hierarchy(
            pts, f"{self.workdir}/hierarchy", self.opts, prepared=True
        )
        self._indexed_count = None
        self._pyramid = None
        self._leaves = None
        return self

    def _require(self) -> DataFrame:
        if self._nodes is None:
            raise RuntimeError("call load() first")  # engine.ts throws similarly pre-load
        return self._nodes

    def append(self, points: DataFrame) -> "ArrowClusterEngine":
        """Incremental refresh: aggregate ONLY the new points to leaf
        cells, merge into the existing leaf via the leaf merge algebra
        (counts/sums add, mins min — gc.merge_leaf_aggregates), and
        re-derive the upper levels from the merged leaf. Old raw points
        are never rescanned: the cost is O(|new| + occupied cells),
        which is what keeps a 100 TB index refreshable. Writes the new
        hierarchy generation beside the old one (the old table is being
        read while the new one is written)."""
        pts = gc.prepare_points(points)
        new_leaf = gc.cell_agg(
            gc.with_cells(pts, self.opts.leaf_zoom, self.opts),
            self.opts.leaf_zoom,
        )
        old_leaf = self._require().filter(
            F.col("zoom") == self.opts.leaf_zoom
        ).select(*new_leaf.columns)
        merged = gc.merge_leaf_aggregates(old_leaf, new_leaf, self.opts)
        self._generation = getattr(self, "_generation", 0) + 1
        path = f"{self.workdir}/hierarchy_gen{self._generation}"
        self._nodes = gc.materialize_from_leaf(merged, path, self.opts)
        self._points = (
            self._points.unionByName(pts) if self._points is not None else pts
        )
        self._indexed_count = None
        self._pyramid = None
        self._leaves = None
        return self

    @property
    def indexed_point_count(self) -> int:
        """A7 (arrow-cluster-engine.ts:49-53)."""
        if self._indexed_count is None:
            leaf = self._require().filter(F.col("zoom") == self.opts.leaf_zoom)
            self._indexed_count = (
                leaf.agg(F.sum("num_points")).collect()[0][0] or 0
            )
        return self._indexed_count

    # -- resident pyramid -------------------------------------------------

    @property
    def resident_zoom(self) -> Optional[int]:
        """Deepest zoom the resident pyramid holds (the node table's top
        zoom minus one when not even that fits the cap), or None before
        the first read."""
        return None if self._pyramid is None else self._pyramid.zoom

    def _resident(self) -> _Pyramid:
        """The resident pyramid, built on first use: one zoom-grouped
        count picks the deepest zoom whose running node count fits
        `_RESIDENT_NODE_CAP`, then one `small_side` fetch of the
        finalized zooms down to it. The pyramid starts at the node
        table's top zoom: min_zoom, or the leaf zoom when
        max_zoom < min_zoom leaves no other level."""
        if self._pyramid is None:
            nodes, cap = self._require(), _RESIDENT_NODE_CAP
            top = min(self.opts.min_zoom, self.opts.leaf_zoom)
            counts = dict(nodes.groupBy("zoom").count().collect())
            z, total = top - 1, 0
            for zz in range(top, self.opts.leaf_zoom + 1):
                total += counts.get(zz, 0)
                if total > cap:
                    break
                z = zz
            fin = gc.finalize_clusters(nodes.filter(F.col("zoom") <= z), self.opts)
            tbl = small_side(fin, cap) if z >= top else None
            if tbl is None:
                z, tbl = top - 1, to_arrow_schema(fin.schema).empty_table()
            log.info(
                "resident pyramid: nodes per zoom %s, resident to zoom %d, cap %d",
                dict(sorted(counts.items())), z, cap,
            )
            self._pyramid = _Pyramid(tbl, top, z)
        return self._pyramid

    @property
    def leaves_resident(self) -> Optional[bool]:
        """Whether get_leaves pages come from the driver-held points, or
        None before the first leaves read after load()/append()."""
        return None if self._leaves is None else bool(self._leaves)

    def _resident_leaves(self) -> Optional[_Leaves]:
        """The resident leaves, built on the first leaves read: one
        `small_side` fetch of the loaded points with their leaf cells, so
        the cells are the hierarchy's own. None when the points exceed
        `_RESIDENT_POINT_CAP`, a decision kept until load()/append()."""
        if self._leaves is None:
            cap, lz = _RESIDENT_POINT_CAP, self.opts.leaf_zoom
            tbl = small_side(gc.with_cells(self._points, lz, self.opts).drop("x", "y"), cap)
            self._leaves = False if tbl is None else _Leaves(tbl, lz)
            log.info(
                "resident leaves: %s points, cap %d, %s",
                f"> {cap}" if tbl is None else tbl.num_rows, cap,
                "on Spark" if tbl is None else "resident",
            )
        return self._leaves or None

    # -- §3.2 getClusters ------------------------------------------------

    def _limit_zoom(self, zoom: int) -> int:
        """arrow-cluster-engine.ts:428-433."""
        return max(self.opts.min_zoom, min(int(zoom), self.opts.max_zoom + 1))

    def get_clusters(self, bbox, zoom: int) -> DataFrame:
        """Q1: bbox+zoom → ClusterOutput-shaped DataFrame. A resident zoom
        is a NumPy bbox mask over its slice; a deeper one is partition
        pruning on zoom, then bbox on output positions (antimeridian
        handled inside bbox_predicate as an OR of ranges)."""
        z = self._limit_zoom(zoom)
        res = self._resident()
        if z <= res.zoom:
            return res.frame(self.spark, res.in_bbox(z, bbox))
        nodes = self._require().filter(F.col("zoom") == z)
        out = gc.finalize_clusters(nodes, self.opts)
        return out.filter(bbox_predicate(*bbox))

    # -- §3.3 drill-down -------------------------------------------------

    def get_children(self, zoom: int, cell_x: int, cell_y: int) -> DataFrame:
        """Q2: nodes at zoom+1 whose cell>>1 equals the given cell."""
        x, y = int(cell_x), int(cell_y)
        res = self._resident()
        if zoom + 1 <= res.zoom:
            return res.frame(self.spark, res.under(zoom + 1, x, y, 1))
        nodes = self._require().filter(F.col("zoom") == zoom + 1)
        return gc.finalize_clusters(
            nodes.filter(
                (F.shiftright("cell_x", 1) == x) & (F.shiftright("cell_y", 1) == y)
            ),
            self.opts,
        )

    def get_leaves(
        self, zoom: int, cell_x: int, cell_y: int,
        limit: Optional[int] = None, offset: int = 0,
    ) -> DataFrame:
        """Q3: member points of a node, paginated deterministically by id
        (the reference's DFS skip/limit, arrow-cluster-engine.ts:312-348):
        the loaded points' columns (id, lng, lat, city), then rank.

        Scale shape (VERDICT r4 "What's wrong" #2): a zoom-0 cluster's
        leaf set is the whole corpus, so ranking it with a global
        `row_number` window funnels every member through one reducer.
        With a limit, the page is the rank-(offset, offset+limit] slice
        of the id order: `orderBy("id").limit(offset+limit)` compiles to
        TakeOrderedAndProject (distributed partial top-k), and the
        `row_number` window then runs over that page alone, so its frame
        is at most offset+limit rows (rank within a prefix page = global
        rank). One scan of the points, one job. Without a limit the full
        leaf set is requested, so the rank comes from the distributed
        two-pass scan (functions/distrank.zip_scan) over the member rows
        — no single-partition stage either way.

        When the loaded points are resident (`_resident_leaves`), a page
        at a zoom in [0, leaf_zoom] runs no Spark job: it is the slice of
        the id-sorted points under the node, as a local DataFrame with
        the Spark path's columns and dataTypes."""
        if self._points is None:
            raise RuntimeError("call load() first")
        z = int(zoom)
        if 0 <= z <= self.opts.leaf_zoom and offset >= 0 and (limit is None or limit >= 0):
            res = self._resident_leaves()
            if res is not None:
                return self.spark.createDataFrame(res.page(z, int(cell_x), int(cell_y), limit, offset))
        pts = gc.with_cells(self._points, zoom, self.opts)
        leaves = pts.filter(
            (F.col("cell_x") == cell_x) & (F.col("cell_y") == cell_y)
        ).drop("cell_x", "cell_y", "x", "y")
        if limit is not None:
            page = leaves.orderBy("id").limit(offset + limit)
            return page.withColumn(
                "rank", F.row_number().over(Window.orderBy("id"))
            ).filter(F.col("rank") > offset)
        from arrow_supercluster_spark.functions.distrank import zip_scan

        ranked, _, _ = zip_scan(leaves, ["id"], out="_r0")
        return ranked.select(
            *leaves.columns, (F.col("_r0") + 1).cast("int").alias("rank")
        ).filter(F.col("rank") > offset)

    def get_cluster_expansion_zoom(self, zoom: int, cell_x: int, cell_y: int) -> int:
        """Q4 (arrow-cluster-engine.ts:240-256): first zoom > `zoom` where
        the node splits into other than one child, else max_zoom + 1.

        The follow-the-single-child walk is equivalent to "first zoom whose
        descendant-cell count under the anchor is not 1": while the chain
        is single, the descendant count IS 1. Descendancy is a shiftright
        of the (non-negative) cell coords by `zoom - z0`. Resident zooms
        count their descendants with two `searchsorted` probes each; once
        the walk passes the resident pyramid, one partition-pruned scan of
        the remaining zooms and one groupBy("zoom") count give every
        remaining level's count, and the walk goes on over those
        ≤ max_zoom + 1 collected rows. A nonexistent anchor cell has count
        0 at z0 + 1 and returns z0 + 1, and an anchor at the leaf zoom has
        no level below it and returns max_zoom + 1, both like the walk."""
        z0, top = int(zoom), self.opts.max_zoom + 1
        x, y = int(cell_x), int(cell_y)
        res = self._resident()
        first = z0 + 1
        while first <= min(top, res.zoom):
            if len(res.under(first, x, y, first - z0)) != 1:
                return first
            first += 1
        if first > top:
            return top
        below = self._require().filter((F.col("zoom") >= first) & (F.col("zoom") <= top))
        shift = F.col("zoom") - z0
        counts = dict(
            below.filter((_shifted("cell_x", shift) == x) & (_shifted("cell_y", shift) == y))
            .groupBy("zoom")
            .count()
            .collect()
        )
        for z in range(first, top + 1):
            if counts.get(z, 0) != 1:
                return z
        return top

    def get_descendants(self, zoom: int, cell_x: int, cell_y: int, max_depth_zoom: int) -> DataFrame:
        """J2: all nodes under (zoom,cell) down to max_depth_zoom —
        closed-form ancestor test (the expansion zoom's shiftright), no
        recursion."""
        nodes = self._require().filter(
            (F.col("zoom") > zoom) & (F.col("zoom") <= max_depth_zoom)
        )
        shift = F.col("zoom") - zoom
        return nodes.filter(
            (_shifted("cell_x", shift) == cell_x) & (_shifted("cell_y", shift) == cell_y)
        )

    def unload(self) -> None:
        self._nodes = None
        self._points = None
        self._indexed_count = None
        self._pyramid = None
        self._leaves = None


class GreedyClusterEngine:
    """Full reference API over the GREEDY hierarchy — the reference-id
    interop engine (SURVEY §4 item 3): getClusters(bbox, zoom) plus
    getChildren / getLeaves / getClusterExpansionZoom keyed by the
    reference's (origin<<5)+zoom+count packed ids
    (arrow-cluster-engine.ts:126-256), answered from the materialized
    greedy table's per-zoom snapshots and parent pointers."""

    def __init__(
        self,
        spark: SparkSession,
        opts: ClusterOptions = DEFAULT_OPTIONS,
        workdir: Optional[str] = None,
    ):
        import tempfile

        self.spark = spark
        self.opts = opts
        self.workdir = workdir or tempfile.mkdtemp(prefix="ascs_greedy_")
        self._nodes: Optional[DataFrame] = None
        self._points: Optional[DataFrame] = None

    def load(
        self, points: DataFrame, mode: str = "exact", mask=None
    ) -> "GreedyClusterEngine":
        """mask: reference filterMask semantics — masked rows skip the
        index but still count toward the id-space salt (see
        greedy_hierarchy), so ids interoperate with a reference engine
        loaded with the same mask."""
        from arrow_supercluster_spark.operators.greedy import greedy_hierarchy

        path = f"{self.workdir}/nodes"
        greedy_hierarchy(points, self.opts, mode=mode, mask=mask).write.mode(
            "overwrite"
        ).parquet(path)
        self._nodes = self.spark.read.parquet(path)
        self._points = points if mask is None else points.filter(mask)
        return self

    def _require(self) -> DataFrame:
        if self._nodes is None:
            raise RuntimeError("call load() first")
        return self._nodes

    def _finalize(self, items: DataFrame) -> DataFrame:
        """ClusterOutput-shaped rows: clusters get inverse-Mercator
        centroids, singletons keep ORIGINAL coords bit-exactly via a join
        back to the loaded points (the no-trig fast path,
        arrow-cluster-engine.ts:175-180, 209-219)."""
        from arrow_supercluster_spark.functions import projection as proj

        orig = self._points.select(
            F.col("id").alias("_oid"),
            F.col("lng").alias("_olng"),
            F.col("lat").alias("_olat"),
        )
        out = items.join(orig, items["cluster_id"] == F.col("_oid"), "left")
        is_cluster = F.col("num_points") > F.lit(1)
        return out.select(
            F.col("cluster_id").alias("id"),
            F.col("num_points").alias("point_count"),
            is_cluster.alias("is_cluster"),
            F.when(is_cluster, proj.x_lng(F.col("x"))).otherwise(F.col("_olng")).alias("lng"),
            F.when(is_cluster, proj.y_lat(F.col("y"))).otherwise(F.col("_olat")).alias("lat"),
            "pos",
        )

    def get_clusters(self, bbox, zoom: int) -> DataFrame:
        """Q1 over the GREEDY hierarchy (arrow-cluster-engine.ts:126-193):
        clamp zoom, select that level's item snapshot (levels[z] ==
        treeData[z] — clusters formed at z plus pass-through items),
        finalize positions, then the normalized bbox filter on output
        coordinates (antimeridian = OR of ranges, Q6's relational form)."""
        from arrow_supercluster_spark.operators.filters import bbox_predicate

        z = max(self.opts.min_zoom, min(int(zoom), self.opts.max_zoom + 1))
        items = self._require().filter(F.col("zoom") == z)
        return self._finalize(items).filter(bbox_predicate(*bbox))

    def get_children(self, cluster_id: int) -> DataFrame:
        """Q2 keyed by packed cluster id (arrow-cluster-engine.ts:198-226)."""
        from arrow_supercluster_spark.operators.greedy_nav import greedy_children

        return self._finalize(greedy_children(self._require(), cluster_id))

    def get_leaves(
        self, cluster_id: int, limit: Optional[int] = None, offset: int = 0
    ) -> DataFrame:
        from arrow_supercluster_spark.operators.greedy_nav import greedy_leaves

        return greedy_leaves(
            self._require(), cluster_id,
            min_zoom=self.opts.min_zoom, leaf_zoom=self.opts.leaf_zoom,
            limit=limit, offset=offset,
        )

    def get_cluster_expansion_zoom(self, cluster_id: int) -> int:
        from arrow_supercluster_spark.operators.greedy_nav import (
            greedy_expansion_zoom,
        )

        row = greedy_expansion_zoom(self._require(), cluster_id).collect()[0]
        return int(row["expansion_zoom"])


WORLD_BBOX = (-180.0, -85.0, 180.0, 85.0)


class ClusterLayer:
    """Session-layer memoization over ArrowClusterEngine — the analog of
    the reference's deck.gl layer state machine
    (arrow-cluster-layer.ts:84-118, 294-303):

      * REBUILD (engine.load — the expensive path) only when the data
        reference actually changes, the filter mask changes, or a
        clustering option changes (:96-107 — dataActuallyChanged is an
        identity check, mirrored here with Python `is`);
      * RE-QUERY only when the engine was rebuilt or floor(zoom) moves
        to a new integer (:109-112) or the bbox changes (the reference
        layer pins bbox to the world viewport, :301);
      * otherwise serve the cached, already-collected output — zero new
        Spark jobs, like the reference serving `state.clusterOutput`.

    The cache holds COLLECTED rows (the reference caches the materialized
    output table, not a lazy query): cluster outputs at one zoom are
    screen-sized by construction, never corpus-sized. A re-query at a
    zoom the engine's resident pyramid holds runs no Spark job either:
    the engine answers it from its driver-held node table, and collecting
    that local frame runs none; deeper zooms are one pruned scan. The
    engine's leaves pages are resident in the same way while the loaded
    points fit `_RESIDENT_POINT_CAP`."""

    def __init__(
        self,
        spark: SparkSession,
        opts: ClusterOptions = DEFAULT_OPTIONS,
        workdir: Optional[str] = None,
    ):
        self.spark = spark
        self._workdir = workdir
        self._opts = opts
        self._engine: Optional[ArrowClusterEngine] = None
        self._data: Optional[DataFrame] = None
        self._mask = None
        self._mask_repr: Optional[str] = None
        self._last_key = None
        self._output: Optional[list] = None

    def _rebuild(self, points: DataFrame, mask) -> None:
        self._engine = ArrowClusterEngine(
            self.spark, self._opts, self._workdir
        ).load(points, mask=mask)
        self._data = points
        self._mask = mask
        self._mask_repr = repr(mask) if mask is not None else None
        self._last_key = None  # engineChanged forces the next query

    def set_data(self, points: DataFrame, mask=None) -> "ClusterLayer":
        """Rebuild only if the DataFrame reference or mask changed
        (dataComparator + belt-and-suspenders identity check,
        arrow-cluster-layer.ts:51-55, 96-98)."""
        mask_repr = repr(mask) if mask is not None else None
        if points is not self._data or mask_repr != self._mask_repr:
            self._rebuild(points, mask)
        return self

    def set_options(self, opts: ClusterOptions) -> "ClusterLayer":
        """Config change → rebuild (arrow-cluster-engine rebuild props,
        arrow-cluster-layer.ts:99-106)."""
        if opts != self._opts:
            self._opts = opts
            if self._data is not None:
                # rebuild constructs a FRESH engine — the current mask
                # must ride along or masked points silently reappear
                self._rebuild(self._data, self._mask)
        return self

    def get_clusters(self, zoom: float, bbox=WORLD_BBOX) -> list:
        """Memoized Q1: returns the collected ClusterOutput rows; recomputes
        only on engine rebuild / integer-zoom change / bbox change."""
        if self._engine is None:
            raise RuntimeError("call set_data() first")
        import math as _math

        key = (int(_math.floor(zoom)), tuple(bbox))
        if key != self._last_key:
            self._output = self._engine.get_clusters(list(bbox), key[0]).collect()
            self._last_key = key
        return self._output
