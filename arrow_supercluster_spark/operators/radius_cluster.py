"""Relational radius clustering — A1 variant (c): TRUE within-radius
clustering (Euclidean r-ball, like the reference's KDBush search — not the
grid-cell approximation) by min-id rules, so it is deterministic,
parallel, AND oracle-checkable in SQL (`sql_radius_cluster` states one
level as joins and aggregates).

Semantics ("min-order-neighbor" clustering; a relational projection of the
reference's insertion-order greedy, arrow-cluster-engine.ts:354-416):

  1. For each item p, N(p) = items within Euclidean r (including p),
     r = radius/(extent·2^zoom) in Mercator space (:356).
  2. origin(p) = the minimum-order item of N(p) (order = id; the greedy
     scan would reach it first).
  3. An item o is a VALID origin iff origin(o) = o (no earlier item would
     have absorbed it — exactly greedy's "not already visited" test).
  4. p joins the cluster of its minimum-order VALID neighbor; items with
     no valid neighbor, and members of groups below min_points, pass
     through as singletons.
  5. Cluster position = count-weighted mean of members (A2); counts sum
     (A3).

Where it matches greedy exactly: whenever clusters don't chain (no member
of a cluster is within r of a different, earlier origin) — the common
case. Where it deviates: greedy's cascading availability (an item freed
because its would-be origin was absorbed) — a sequential-scan effect no
bounded-round parallel algorithm reproduces; this variant resolves those
items deterministically to their next valid origin or passthrough.

Execution shape: one kernel serves both paths.  `_assign` runs steps
2-4 in NumPy: `_min_neighbor` finds each item's minimum-id neighbour
within r (cell key floor(x / r), the 3×3 neighbour cells, the float64
dx·dx + dy·dy <= r·r test), evaluating candidate pairs in chunks of
`_PAIR_CHUNK` with per-item running minima, so memory is O(items +
chunk) whatever the pair fan-out.

A distributed level (`radius_cluster_level`) cuts the plane into tiles
of `_TILE_CELLS` × `_TILE_CELLS` = 64 × 64 cells and copies each item
into every tile within 2 cells of its own cell, flagged `own` in its
home tile only.  Two cells of halo are enough: an owned item only
tests the items of its 3×3 cells, and their validity needs only THEIR
3×3 cells.  One repartition by tile, one mapInPandas per partition
(`_assign` over the partition's rows, deduplicated by id; the owned
items come out with their cluster id), then one window per cluster id
rolls the members up.
An origin is a member of its own cluster, so a cluster's row is its
origin's row and the level needs no join.  Parallelism is the number of
occupied tiles: the unit square spans 1/r cells, so with the default
options zoom 4 has 4×4 tiles and zooms 0-2 a single one.  Those levels
are small (each level consumes the previous level's clusters) and
usually run on the driver tail anyway.

Driver tail: each distributed level costs a shuffle, a Python stage and
a checkpoint job however few items it holds, so once a level has at most
`_DRIVER_LEVEL_CAP` items (one bounded `small_side` collect decides),
every remaining zoom runs `_assign` on the driver over the whole level
and the result goes back as one createDataFrame.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from arrow_supercluster_spark.config import DEFAULT_OPTIONS, ClusterOptions
from arrow_supercluster_spark.functions.small_side import small_side

# A level with at most this many items finishes the hierarchy on the
# driver (the bound of connected_components_adaptive's union-find fast
# path).
_DRIVER_LEVEL_CAP = 200_000
# Candidate pairs evaluated per NumPy chunk: about a dozen int64/float64
# temporaries of this length are live at once.
_PAIR_CHUNK = 1 << 20
# Side of a distributed level's tile, in cells of size r: the 2-cell
# halo adds (68² − 64²) / 64² ≈ 13 % copies per tile.
_TILE_CELLS = 64
_NO_NEIGHBOR = np.iinfo(np.int64).max

_SCHEMA = "zoom int, id long, x double, y double, num_points long, is_cluster boolean"
_ASSIGNED = "id long, x double, y double, num_points long, cluster_id long"


def radius_cluster_level(
    items: DataFrame, zoom: int, opts: ClusterOptions = DEFAULT_OPTIONS
) -> DataFrame:
    """One clustering level: items (id, x, y, num_points) → clusters/
    passthroughs at `zoom` with schema (id, x, y, num_points, is_cluster,
    origin of id = min member id for clusters).  Tiled `_assign`, then a
    window rollup per cluster id (see the module doc)."""
    r = opts.radius / (opts.extent * float(2**zoom))
    side = float(_TILE_CELLS)
    cx = F.floor(F.col("x") / F.lit(r))
    cy = F.floor(F.col("y") / F.lit(r))

    def tiles(c):
        return F.explode(F.sequence(F.floor((c - 2) / side), F.floor((c + 2) / side)))

    tiled = (
        items.select("id", "x", "y", "num_points", cx.alias("cx"), cy.alias("cy"))
        .withColumn("tx", tiles(F.col("cx")))
        .withColumn("ty", tiles(F.col("cy")))
        .repartition("tx", "ty")
        .select(
            "id", "x", "y", "num_points",
            (
                (F.col("tx") == F.floor(F.col("cx") / side))
                & (F.col("ty") == F.floor(F.col("cy") / side))
            ).alias("own"),
        )
    )

    def assign_partition(batches):
        frames = list(batches)
        if not frames:
            return
        part = pd.concat(frames, ignore_index=True)
        # an item lands here once per tile of this partition it touches
        part = part.sort_values("own", ascending=False, kind="stable").drop_duplicates("id")
        own = part["own"].to_numpy(dtype=bool)
        cluster = _assign(
            part["id"].to_numpy(dtype=np.int64),
            part["x"].to_numpy(dtype=np.float64),
            part["y"].to_numpy(dtype=np.float64),
            r, own,
        )
        yield part.loc[own, ["id", "x", "y", "num_points"]].assign(cluster_id=cluster)

    # step 5: rollup per cluster; groups below min_points dissolve back to
    # their members, which pass through unchanged
    w = Window.partitionBy("cluster_id")
    rolled = tiled.mapInPandas(assign_partition, _ASSIGNED).select(
        "*",
        F.sum("num_points").over(w).alias("total"),
        F.sum(F.col("x") * F.col("num_points")).over(w).alias("wx"),
        F.sum(F.col("y") * F.col("num_points")).over(w).alias("wy"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )
    keep = (F.col("n_members") > 1) & (F.col("total") >= opts.min_points)
    return rolled.filter(~keep | (F.col("id") == F.col("cluster_id"))).select(
        "id",
        F.when(keep, F.col("wx") / F.col("total")).otherwise(F.col("x")).alias("x"),
        F.when(keep, F.col("wy") / F.col("total")).otherwise(F.col("y")).alias("y"),
        F.when(keep, F.col("total")).otherwise(F.col("num_points")).alias("num_points"),
        (keep | (F.col("num_points") > 1)).alias("is_cluster"),
    )


def _rank(sorted_vals: np.ndarray, q: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Position of each q in `sorted_vals`, and whether it is there."""
    i = np.searchsorted(sorted_vals, q)
    hit = i < len(sorted_vals)
    hit[hit] = sorted_vals[i[hit]] == q[hit]
    return i, hit


def _row_minima(
    ax: np.ndarray, ay: np.ndarray, bx: np.ndarray, by: np.ndarray, bval: np.ndarray,
    r2: float, a: np.ndarray, start: np.ndarray, lens: np.ndarray,
) -> np.ndarray:
    """Per row k: the minimum `bval[b]` over b in [start[k], start[k] +
    lens[k]) with d²(a[k], b) <= r2, else _NO_NEIGHBOR.  Rows are
    expanded to candidate pairs at most `_PAIR_CHUNK` at a time."""
    res = np.empty(len(a), dtype=np.int64)
    ends = np.cumsum(lens)
    lo = 0
    while lo < len(a):
        done = ends[lo - 1] if lo else 0
        hi = max(int(np.searchsorted(ends, done + _PAIR_CHUNK, side="right")), lo + 1)
        n = lens[lo:hi]
        seg = np.zeros(hi - lo, dtype=np.int64)
        np.cumsum(n[:-1], out=seg[1:])
        b = np.repeat(start[lo:hi] - seg, n) + np.arange(int(ends[hi - 1] - done))
        dx = np.repeat(ax[a[lo:hi]], n) - bx[b]
        dy = np.repeat(ay[a[lo:hi]], n) - by[b]
        cand = np.where(dx * dx + dy * dy <= r2, bval[b], _NO_NEIGHBOR)
        res[lo:hi] = np.minimum.reduceat(cand, seg)
        lo = hi
    return res


def _min_neighbor(
    ax: np.ndarray, ay: np.ndarray,
    bx: np.ndarray, by: np.ndarray, bval: np.ndarray, r: float,
) -> np.ndarray:
    """For each a item, the minimum `bval` over b items within r, or
    _NO_NEIGHBOR — the SQL twin's pair join + min-aggregation: same cell
    key floor(x / r), same 3×3 neighbor cells, same float64 dx·dx + dy·dy
    <= r·r test, so the candidate set is the join's.

    b items are sorted by (cell, bval); each (a item, occupied neighbor
    cell) is one "row" naming a contiguous b range.  A row's minimum is
    its FIRST b within r, so rows are scanned in doubling windows and
    leave the scan at their first hit: inside a dense cell nearly every
    row stops after one window, while a row without a hit still sees its
    whole cell exactly once."""
    out = np.full(len(ax), _NO_NEIGHBOR, dtype=np.int64)
    if len(ax) == 0 or len(bx) == 0:
        return out
    bcx = np.floor(bx / r).astype(np.int64)
    bcy = np.floor(by / r).astype(np.int64)
    ux, uy = np.unique(bcx), np.unique(bcy)
    bkey = np.searchsorted(ux, bcx) * len(uy) + np.searchsorted(uy, bcy)
    order = np.lexsort((bval, bkey))
    bx, by, bval = bx[order], by[order], bval[order]
    keys, starts, counts = np.unique(bkey[order], return_index=True, return_counts=True)
    lo_x, hi_x = np.minimum.reduceat(bx, starts), np.maximum.reduceat(bx, starts)
    lo_y, hi_y = np.minimum.reduceat(by, starts), np.maximum.reduceat(by, starts)

    r2 = r * r
    acx = np.floor(ax / r).astype(np.int64)
    acy = np.floor(ay / r).astype(np.int64)
    row_a, row_cell = [], []
    for dcx in (-1, 0, 1):
        rx, hit_x = _rank(ux, acx + dcx)
        for dcy in (-1, 0, 1):
            ry, hit_y = _rank(uy, acy + dcy)
            a = np.nonzero(hit_x & hit_y)[0]
            cell, hit = _rank(keys, rx[a] * len(uy) + ry[a])
            a, cell = a[hit], cell[hit]
            # drop rows whose cell's bounding box is out of reach: rounding
            # is monotone, so no b in the box can pass the d² test either
            gx = np.maximum(np.maximum(lo_x[cell] - ax[a], ax[a] - hi_x[cell]), 0.0)
            gy = np.maximum(np.maximum(lo_y[cell] - ay[a], ay[a] - hi_y[cell]), 0.0)
            near = gx * gx + gy * gy <= r2
            row_a.append(a[near])
            row_cell.append(cell[near])
    row_a = np.concatenate(row_a)
    row_cell = np.concatenate(row_cell)
    row_start, row_len = starts[row_cell], counts[row_cell]

    best = np.full(len(row_a), _NO_NEIGHBOR, dtype=np.int64)
    live = np.arange(len(row_a))
    done, width = 0, 16
    while len(live):
        got = _row_minima(
            ax, ay, bx, by, bval, r2, row_a[live], row_start[live] + done,
            np.minimum(row_len[live] - done, width),
        )
        best[live] = got
        done += width
        width *= 2
        live = live[(got == _NO_NEIGHBOR) & (row_len[live] > done)]
    np.minimum.at(out, row_a, best)
    return out


def _assign(
    ids: np.ndarray, x: np.ndarray, y: np.ndarray, r: float, own: np.ndarray
) -> np.ndarray:
    """Steps 2-4: the cluster id of each `own` item, its min-id VALID
    neighbor within r, else its own id.  Validity comes from all the
    items, so an owned item's answer is exact whenever the items hold
    every item within 2 cells of it."""
    # steps 2-3: origin = min-id neighbor (the self-pair is a candidate,
    # so origin <= id); valid origins are their own origin
    valid = _min_neighbor(x, y, x, y, ids, r) == ids
    # step 4
    cluster = _min_neighbor(x[own], y[own], x[valid], y[valid], ids[valid], r)
    return np.where(cluster == _NO_NEIGHBOR, ids[own], cluster)


def _cluster_level_np(
    ids: np.ndarray, x: np.ndarray, y: np.ndarray, num: np.ndarray,
    r: float, min_points: int,
) -> tuple[np.ndarray, ...]:
    """`radius_cluster_level` on NumPy arrays: (id, x, y, num_points,
    is_cluster) of the clusters, then of the passthrough items."""
    if len(ids) == 0:
        return ids, x, y, num, np.zeros(0, dtype=bool)
    cluster = _assign(ids, x, y, r, np.ones(len(ids), dtype=bool))
    # step 5: rollup per cluster id
    order = np.argsort(cluster, kind="stable")
    cid, first, n_members = np.unique(cluster[order], return_index=True, return_counts=True)
    num_o = num[order]
    total = np.add.reduceat(num_o, first)
    wx = np.add.reduceat(x[order] * num_o, first)
    wy = np.add.reduceat(y[order] * num_o, first)
    keep = (n_members > 1) & (total >= min_points)
    single = order[~np.repeat(keep, n_members)]
    return (
        np.concatenate([cid[keep], ids[single]]),
        np.concatenate([wx[keep] / total[keep], x[single]]),
        np.concatenate([wy[keep] / total[keep], y[single]]),
        np.concatenate([total[keep], num[single]]),
        np.concatenate([np.ones(int(keep.sum()), dtype=bool), num[single] > 1]),
    )


def _driver_tail(
    spark, level: pa.Table, zooms: range, opts: ClusterOptions, level_zoom: int | None = None
) -> DataFrame:
    """The hierarchy levels at `zooms` clustered from one collected level
    (plus that level itself at `level_zoom`, when given) as a single
    DataFrame in the hierarchy's output schema."""
    ids = level.column("id").to_numpy().astype(np.int64)
    x = level.column("x").to_numpy().astype(np.float64)
    y = level.column("y").to_numpy().astype(np.float64)
    num = level.column("num_points").to_numpy().astype(np.int64)
    parts = []

    def emit(z, is_cluster):
        parts.append(pa.table({
            "zoom": pa.array(np.full(len(ids), z, dtype=np.int32)),
            "id": ids, "x": x, "y": y, "num_points": num, "is_cluster": is_cluster,
        }))

    if level_zoom is not None:
        emit(level_zoom, num > 1)
    for z in zooms:
        r = opts.radius / (opts.extent * float(2**z))
        ids, x, y, num, is_cluster = _cluster_level_np(ids, x, y, num, r, opts.min_points)
        emit(z, is_cluster)
    return spark.createDataFrame(pa.concat_tables(parts), _SCHEMA)


def radius_hierarchy(
    points_xy: DataFrame, opts: ClusterOptions = DEFAULT_OPTIONS
) -> DataFrame:
    """Full top-down hierarchy with the radius kernel: level z
    consumes level z+1's output. Returns union with a zoom column (zoom of
    the level the items appear at, leaf_zoom..min_zoom), schema
    (zoom int, id long, x double, y double, num_points long, is_cluster
    boolean) when ids are long. With max_zoom < min_zoom the hierarchy is
    the leaf level alone.

    Before each kernel level one bounded `small_side` collect checks the
    level's size: at most `_DRIVER_LEVEL_CAP` items and that level and
    every remaining zoom come from the driver tail (`_driver_tail`).
    Larger levels run distributed (`radius_cluster_level`: tiled `_assign`
    and a window rollup, see the module doc) — driver loop,
    localCheckpoint per level to keep lineage flat — and re-check after
    each level they produce."""
    spark = points_xy.sparkSession
    items = points_xy.select(
        "id", "x", "y", F.lit(1).cast("long").alias("num_points")
    )
    zooms = range(opts.max_zoom, opts.min_zoom - 1, -1)
    local = small_side(items, _DRIVER_LEVEL_CAP)
    if local is not None:
        return _driver_tail(spark, local, zooms, opts, level_zoom=opts.leaf_zoom)

    cur = items.localCheckpoint()
    levels = [
        cur.select(
            F.lit(opts.leaf_zoom).alias("zoom"), "id", "x", "y", "num_points",
            (F.col("num_points") > 1).alias("is_cluster"),
        )
    ]
    for z in zooms:
        out = radius_cluster_level(cur, z, opts).localCheckpoint()
        levels.append(
            out.select(F.lit(z).alias("zoom"), "id", "x", "y", "num_points", "is_cluster")
        )
        cur = out.select("id", "x", "y", "num_points")
        rest = range(z - 1, opts.min_zoom - 1, -1)
        local = small_side(cur, _DRIVER_LEVEL_CAP) if rest else None
        if local is not None:
            levels.append(_driver_tail(spark, local, rest, opts))
            break
    result = levels[0]
    for lv in levels[1:]:
        result = result.unionByName(lv)
    return result


# ---------------------------------------------------------------------------
# SQL twin (DuckDB oracle) for one level over raw points
# ---------------------------------------------------------------------------

def sql_radius_cluster(points_xy_sql: str, zoom: int, opts: ClusterOptions = DEFAULT_OPTIONS) -> str:
    r = opts.radius / (opts.extent * float(2**zoom))
    return f"""
WITH items AS (
  SELECT id, x, y, CAST(1 AS BIGINT) AS num_points,
         CAST(floor(x / {r!r}) AS BIGINT) AS cx,
         CAST(floor(y / {r!r}) AS BIGINT) AS cy
  FROM ({points_xy_sql})
),
pairs AS (
  SELECT a.id AS a_id, b.id AS b_id
  FROM items a
  JOIN items b
    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {r * r!r}
),
origin AS (
  SELECT a_id, MIN(b_id) AS origin_id FROM pairs GROUP BY a_id
),
valid AS (
  SELECT a_id AS valid_id FROM origin WHERE a_id = origin_id
),
assign AS (
  SELECT p.a_id, MIN(p.b_id) AS cluster_id
  FROM pairs p JOIN valid v ON p.b_id = v.valid_id
  GROUP BY p.a_id
),
members AS (
  SELECT i.id, i.x, i.y, i.num_points,
         COALESCE(a.cluster_id, i.id) AS cluster_id
  FROM items i LEFT JOIN assign a ON i.id = a.a_id
),
grouped AS (
  SELECT cluster_id, SUM(num_points) AS num_points,
         SUM(x * num_points) AS wx, SUM(y * num_points) AS wy,
         COUNT(*) AS n_members
  FROM members GROUP BY cluster_id
)
SELECT cluster_id AS id, num_points,
       round(wx / num_points, 7) AS cx_pos,
       round(wy / num_points, 7) AS cy_pos,
       (n_members > 1 AND num_points >= {opts.min_points}) AS is_cluster
FROM grouped
WHERE n_members > 1 AND num_points >= {opts.min_points}
UNION ALL
SELECT m.id, m.num_points,
       round(m.x, 7) AS cx_pos, round(m.y, 7) AS cy_pos,
       FALSE AS is_cluster
FROM members m
JOIN grouped g ON m.cluster_id = g.cluster_id
WHERE NOT (g.n_members > 1 AND g.num_points >= {opts.min_points})
"""
