"""Grid clustering — the SQL-checkable, order-independent decomposition of
the reference's hierarchical radius clustering (SURVEY.md §2a A1 variant b).

The reference clusters greedily within radius r = radius/(extent·2^zoom)
in Web-Mercator space, per zoom, top-down (arrow-cluster-engine.ts:354-416,
zoom loop :107-112). The grid variant discretizes Mercator space into cells
of exactly that radius — `cell = floor(coord · extent·2^zoom / radius)` —
and aggregates per cell: count (A3), count-weighted centroid (A2). Points
in the same cell are within ~r of each other, so the hierarchy, counts and
centroids carry the same semantics while being fully order-independent and
relational (hash-matchable against a DuckDB oracle). The faithful greedy
variant lives in operators/greedy.py and is checked by golden parity tests.

Scale design (100 TB):
  * `cluster_grid` (one zoom) is scan → map → one hash aggregation; partial
    aggregation (map-side combine) means the shuffle carries one row per
    cell per input partition, not per point.
  * `cluster_hierarchy` (all zooms) aggregates raw points ONCE at the leaf
    zoom, then rolls up level-by-level over aggregates only — the exact-cell
    identity floor(u/2) == floor(floor(u)/2) makes parent cells derivable
    from child cells, so levels maxZoom−1..0 never touch raw data. 18
    levels cost one full shuffle + 17 shuffles over exponentially shrinking
    aggregate tables (the Spark analog of the reference's per-level
    re-index, §3.1, without re-reading points).
  * Output is partitioned by `zoom` so bbox queries (Q1) prune 17/18 of
    the data before the cell-range filter (§3.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arrow_supercluster_spark.config import DEFAULT_OPTIONS, ClusterOptions
from arrow_supercluster_spark.functions.projection import (
    project,
    sql_fround,
    sql_lat_y,
    sql_lng_x,
)
from arrow_supercluster_spark.operators.filters import drop_null_geometry

# Per-zoom write-parallelism floor for the upper-levels rebalance (see
# materialize_from_leaf): a PARALLELISM key, not a size cap — AQE still
# coalesces small buckets together and splits oversized ones to the
# advisory size, so the value only bounds how many read tasks a
# zoom-pruned scan gets at small scale; at 100 TB advisory splitting
# dominates it.
_WRITE_BUCKETS = 8

NODE_COLS = [
    "zoom", "cell_x", "cell_y", "num_points",
    "sum_x", "sum_y", "min_id", "min_lng", "min_lat",
]


def prepare_points(points: DataFrame, lng: str = "lng", lat: str = "lat") -> DataFrame:
    """Load-path prefix (§3.1 steps 2-3): null-drop (F2) then Mercator
    projection with float32 rounding (P2+P4)."""
    return project(drop_null_geometry(points, lng, lat), lng, lat)


def with_cells(points_xy: DataFrame, zoom: int, opts: ClusterOptions = DEFAULT_OPTIONS) -> DataFrame:
    """Attach grid-cell coordinates for one zoom. `scale` is computed in
    Python (one double) and inlined, so the oracle multiplies by the
    bit-identical literal."""
    scale = opts.cell_scale(zoom)
    return points_xy.withColumns(
        {
            "cell_x": F.floor(F.col("x") * F.lit(scale)),
            "cell_y": F.floor(F.col("y") * F.lit(scale)),
        }
    )


def cell_agg(points_cells: DataFrame, zoom: int) -> DataFrame:
    """Per-cell aggregate node: count, coordinate sums (for exact rollup),
    and singleton passthrough info (min_* is THE point when num_points=1 —
    the reference's no-trig singleton fast path needs the original
    coordinates, arrow-cluster-engine.ts:175-180)."""
    return points_cells.groupBy("cell_x", "cell_y").agg(
        F.count(F.lit(1)).alias("num_points"),
        F.sum("x").alias("sum_x"),
        F.sum("y").alias("sum_y"),
        F.min("id").alias("min_id"),
        F.min("lng").alias("min_lng"),
        F.min("lat").alias("min_lat"),
    ).select(F.lit(zoom).alias("zoom"), *[c for c in NODE_COLS if c != "zoom"])


def cluster_grid(
    points: DataFrame, zoom: int, opts: ClusterOptions = DEFAULT_OPTIONS,
    prepared: bool = False,
) -> DataFrame:
    """A1-grid at a single zoom: one scan, one hash-agg shuffle."""
    pts = points if prepared else prepare_points(points)
    return cell_agg(with_cells(pts, zoom, opts), zoom)


def _upper_levels(leaf: DataFrame, opts: ClusterOptions) -> DataFrame:
    """Zooms min_zoom..max_zoom of the node table, rolled up from the leaf
    aggregates in one hash aggregation. The leaf table is the compressed
    representation (one row per occupied cell), and cell_z =
    floor(cell_leaf / 2^(leaf_zoom − z)) exactly (nested floor identity),
    so a zoom-range cross join replaces 17 sequential rollup jobs; the
    shuffle volume is |leaf| × levels, independent of the raw point
    count."""
    zooms = leaf.sparkSession.range(opts.min_zoom, opts.max_zoom + 1).select(
        F.col("id").cast("int").alias("zoom")
    )
    shift = F.pow(F.lit(2.0), F.lit(opts.leaf_zoom) - F.col("zoom"))
    return (
        leaf.drop("zoom")
        .crossJoin(F.broadcast(zooms))
        .groupBy(
            "zoom",
            F.floor(F.col("cell_x") / shift).alias("cell_x"),
            F.floor(F.col("cell_y") / shift).alias("cell_y"),
        )
        .agg(
            F.sum("num_points").alias("num_points"),
            F.sum("sum_x").alias("sum_x"),
            F.sum("sum_y").alias("sum_y"),
            F.min("min_id").alias("min_id"),
            F.min("min_lng").alias("min_lng"),
            F.min("min_lat").alias("min_lat"),
        )
        .select(*NODE_COLS)
    )


def cluster_hierarchy(
    points: DataFrame, opts: ClusterOptions = DEFAULT_OPTIONS, prepared: bool = False,
) -> DataFrame:
    """Full per-zoom node table, zooms min_zoom..leaf_zoom (leaf_zoom =
    maxZoom+1 = the unclustered level the reference indexes raw points
    at).

    r10: the leaf aggregation is materialized ONCE (eager
    localCheckpoint) and every upper level derives directly from it via
    cell_z = floor(cell_leaf / 2^(leaf_zoom − z)) — the same nested
    floor identity `materialize_from_leaf` uses for the production
    path, minus the durable write.  The previous lazy union re-derived
    each level's whole lineage from raw points, so the scan + leaf
    aggregation ran once PER LEVEL (18× — measured 9.3 s at sf0.1 for
    q_count_conservation; ~2 s after).  Raw points are now scanned and
    shuffled exactly once per call.  (Per-level .persist() remains a
    trap: 18 nested InMemoryRelations materialize with heavy lock
    contention inside the first action — measured 5×+ slower than even
    the lazy plan.)"""
    from arrow_supercluster_spark.functions.checkpoint import truncate

    pts = points if prepared else prepare_points(points)
    leaf = truncate(
        cell_agg(with_cells(pts, opts.leaf_zoom, opts), opts.leaf_zoom)
    )
    return leaf.select(*NODE_COLS).unionByName(_upper_levels(leaf, opts)).repartition("zoom")


def materialize_hierarchy(
    points: DataFrame,
    path: str,
    opts: ClusterOptions = DEFAULT_OPTIONS,
    prepared: bool = False,
) -> DataFrame:
    """The production load path (§3.1): build the hierarchy bottom-up with
    each level CHECKPOINTED to a zoom-partitioned parquet table.

    Raw points are scanned and shuffled exactly once (leaf aggregation);
    every subsequent level is one small job reading the previous level's
    parquet (aggregates, exponentially shrinking). The result is a durable
    `zoom=` partitioned table — partition pruning serves Q1 directly, and
    the sequential driver loop never builds nested lineage (the
    lineage-blowup hazard SURVEY §7 flags). At 100 TB this is the only
    shape that works: level files are also the natural unit of incremental
    refresh and of engine-restart recovery."""
    pts = points if prepared else prepare_points(points)
    leaf = cell_agg(with_cells(pts, opts.leaf_zoom, opts), opts.leaf_zoom)
    return materialize_from_leaf(leaf, path, opts)


def merge_leaf_aggregates(a: DataFrame, b: DataFrame, opts: ClusterOptions = DEFAULT_OPTIONS) -> DataFrame:
    """Leaf node tables form a MERGE ALGEBRA (counts/sums add, mins min):
    combining two corpora's leaves is one aggregation over the two
    aggregate tables — no raw point is ever rescanned. This is what makes
    incremental refresh O(|new| + |occupied cells|) at 100 TB."""
    return (
        a.unionByName(b)
        .groupBy("cell_x", "cell_y")
        .agg(
            F.sum("num_points").alias("num_points"),
            F.sum("sum_x").alias("sum_x"),
            F.sum("sum_y").alias("sum_y"),
            F.min("min_id").alias("min_id"),
            F.min("min_lng").alias("min_lng"),
            F.min("min_lat").alias("min_lat"),
        )
        .select(
            F.lit(opts.leaf_zoom).alias("zoom"),
            *[c for c in NODE_COLS if c != "zoom"],
        )
    )


def materialize_from_leaf(
    leaf: DataFrame, path: str, opts: ClusterOptions = DEFAULT_OPTIONS
) -> DataFrame:
    """Write the leaf level, derive all upper levels from it in one job,
    return the zoom-partitioned table (see materialize_hierarchy)."""
    spark = leaf.sparkSession
    # Write layout, r11 (VERDICT r10 "Next round" #4 — the r10
    # REBALANCE(zoom) on BOTH writes collapsed the sf0.1 hierarchy to one
    # file per zoom, so every zoom-pruned read ran as a single task
    # (bench_query 0.80×) and the extra exchange+AQE stage per write
    # inverted mask selectivity monotonicity).  Measured A/B
    # (tools/hier_ab.py, one session, 3 alternated rounds, sf0.1):
    #   rebalance(zoom) both writes: load 1.62 query 1.50 mask10 1.19, 18 files
    #   no hint (r9):                load 1.37 query 1.13 mask10 0.97, 102 files
    #   leaf unhinted + upper rebalance(zoom, bucket8):
    #                                load 1.41 query 1.14 mask10 1.03, 78 files
    # The LEAF write now inherits the cell-agg exchange partitioning
    # again (no extra shuffle on the dominant write; AQE's partition
    # coalescing already sizes those tasks toward the advisory target).
    leaf.write.mode("overwrite").partitionBy("zoom").parquet(path)

    # Derive ALL upper levels from the written leaf in one job
    # (_upper_levels). Explicit schema on read-back: an EMPTY input writes
    # a partitioned dir with no part files, and schema inference would
    # throw UNABLE_TO_INFER_SCHEMA (the reference engine accepts empty
    # tables, edge-cases.test.ts:13-20); zoom stays a partition column for
    # pruning.
    upper = _upper_levels(spark.read.schema(leaf.schema).parquet(path), opts)
    # The UPPER write keeps the rebalance node, keyed (zoom, 8-way cell
    # bucket) instead of zoom alone (guide §6 output sizing): at 100 TB
    # the rebalance still splits oversized partitions into advisory-sized
    # files per zoom (where the bare agg partitioning would shred each
    # task across all 17 zooms), while at small SF the bucket key stops
    # the layout from collapsing to one single-task file per zoom —
    # restoring pruned-read parallelism (sf0.1: 2-6 files/zoom, see A/B
    # above).  The bucket is a deterministic hash of the cell key (§2.5:
    # never rand()-derived), added/dropped around the hint because
    # REBALANCE accepts only plain column references.
    (
        upper.withColumn(
            "_wb", F.pmod(F.xxhash64("cell_x", "cell_y"), F.lit(_WRITE_BUCKETS))
        )
        .hint("rebalance", "zoom", "_wb")
        .drop("_wb")
        .write.mode("append").partitionBy("zoom").parquet(path)
    )
    return spark.read.schema(leaf.schema).parquet(path)


def finalize_clusters(nodes: DataFrame, opts: ClusterOptions = DEFAULT_OPTIONS) -> DataFrame:
    """Node table → ClusterOutput-shaped result (types.ts:4-15): centroid
    inverse-projected for clusters, ORIGINAL coordinates for singletons
    (bit-exact, no trig — arrow-cluster-engine.ts:175-180), point count,
    is_cluster flag.

    Only valid for min_points ≤ 2: a multi-point node below min_points
    would need per-point passthrough rows (the reference emits each
    unclustered point individually), but this grid rollup keeps one row
    per cell — min_* columns of different points would fabricate a
    position. The greedy/radius variants handle higher min_points."""
    if opts.min_points > 2:
        raise ValueError(
            "finalize_clusters supports min_points <= 2; use the greedy or "
            "radius clustering variants for higher min_points"
        )
    from arrow_supercluster_spark.functions.projection import x_lng, y_lat

    cx = F.col("sum_x") / F.col("num_points")
    cy = F.col("sum_y") / F.col("num_points")
    is_cluster = F.col("num_points") >= opts.min_points
    return nodes.select(
        "zoom", "cell_x", "cell_y",
        F.col("num_points"),
        is_cluster.alias("is_cluster"),
        F.when(is_cluster, x_lng(cx)).otherwise(F.col("min_lng")).alias("lng"),
        F.when(is_cluster, y_lat(cy)).otherwise(F.col("min_lat")).alias("lat"),
        F.col("min_id").alias("rep_id"),
    )


# ---------------------------------------------------------------------------
# SQL twins (DuckDB oracle)
# ---------------------------------------------------------------------------

def sql_points_xy(points_sql: str) -> str:
    """points (id,lng,lat,city) → + x,y (f32-rounded Mercator), null-dropped."""
    x = sql_fround(sql_lng_x("lng"))
    y = sql_fround(sql_lat_y("lat"))
    return f"""
SELECT id, lng, lat, city, {x} AS x, {y} AS y
FROM ({points_sql})
WHERE lng IS NOT NULL AND lat IS NOT NULL AND NOT isnan(lng) AND NOT isnan(lat)
"""


def sql_cells(points_xy_sql: str, zoom: int, opts: ClusterOptions = DEFAULT_OPTIONS) -> str:
    scale = opts.cell_scale(zoom)
    return f"""
SELECT *, CAST(floor(x * {scale!r}) AS BIGINT) AS cell_x,
          CAST(floor(y * {scale!r}) AS BIGINT) AS cell_y
FROM ({points_xy_sql})
"""


def sql_cell_agg(points_xy_sql: str, zoom: int, opts: ClusterOptions = DEFAULT_OPTIONS) -> str:
    return f"""
SELECT {zoom} AS zoom, cell_x, cell_y,
       COUNT(*) AS num_points,
       SUM(x) AS sum_x, SUM(y) AS sum_y,
       MIN(id) AS min_id, MIN(lng) AS min_lng, MIN(lat) AS min_lat
FROM ({sql_cells(points_xy_sql, zoom, opts)})
GROUP BY cell_x, cell_y
"""
