"""Faithful greedy hierarchical clustering (SURVEY.md §2a A1 variant a,
§7 Phase 4).

Reimplements the SEMANTICS of the reference's `_cluster`
(packages/arrow-supercluster/src/arrow-cluster-engine.ts:354-416, zoom loop
:107-112) — insertion-order greedy radius clustering, Supercluster-exact:

  * per zoom z (top-down maxZoom→minZoom), radius r = radius/(extent·2^z)
    in Web-Mercator space over float32-rounded coords;
  * scan items in insertion order; skip items already visited at ≥ this
    zoom; gather unvisited neighbors within r (Euclidean);
  * cluster only if joined count exceeds the origin's own count AND meets
    minPoints; position = count-weighted mean; members get parent_id;
  * cluster id = (index_in_level << 5) + (zoom+1) + total_point_count
    (:378); otherwise the item (and, when it absorbed nothing but saw
    neighbors, each still-unvisited neighbor) passes through unchanged.

The greedy scan is order-dependent — NOT expressible relationally. It runs
as a pandas/numpy kernel inside `applyInPandas`:

  * `greedy_hierarchy(mode="exact")` — ONE group ⇒ the kernel sees all
    points in insertion order ⇒ bit-faithful to the single-threaded
    reference. This is the golden-parity mode; at 100 TB it is the wrong
    tool (single task) and exists because exactness is the contract.
  * `greedy_hierarchy(mode="partitioned")` — the fast approximate scale
    path: points are partitioned by their grid cell at `partition_zoom`
    (coarse), each cell clustered independently in parallel. Clusters
    never span partition-cell boundaries (documented, deterministic
    divergence from the sequential order; results are invariant to
    executor count because the partition key is data-derived, not
    spark-partition-derived).
  * `greedy_hierarchy(mode="cc")` — the EXACT distributed path (SURVEY §7
    Phase 4's halo design, strengthened): at each zoom, visited-state can
    only propagate along within-r edges, so the greedy outcome of a
    connected component of the r-proximity graph depends ONLY on that
    component's points and their relative insertion order. Components are
    therefore the *exact* dependency closure — the adaptive form of a
    fixed halo, with no residual boundary effect and no conflicts to
    resolve (a fixed-width halo breaks whenever a consumption chain
    outruns it; a component never does). Per level: grid-bin 3×3
    candidate join → within-r edge list → distributed connected
    components → one-zoom sequential scan per component (applyInPandas,
    insertion order preserved via global level indices) → global
    re-rank of emissions (sort + zipWithIndex, range-partitioned — no
    single-reducer window) to rebuild the reference's level array for id
    encoding and the next level. Output is BIT-IDENTICAL to mode="exact"
    (ids, parents, positions, pos) and invariant to input partitioning.
    Round-4 cost pass: a level whose candidate edge list fits under
    _CC_EDGE_CAP is handled almost entirely on the driver — the edge
    probe carries both endpoints' item state, so union-find, the SAME
    per-component `_scan_one_zoom` kernel, and a closed-form dense
    re-rank (idx' = e0 + D(e0) + e1, `_rank_step_fn`) all run locally,
    leaving two Spark jobs and zero shuffles per level; a lookahead
    probe (bin at r·2^k with d² collected) proves identity stretches k+1
    levels at a time. Levels above the cap take the fully distributed
    fixpoint + zip-scan path (~3 shuffles + CC fixpoint per zoom), which
    stays bit-identical (forced-fallback parity test). Worst case: at
    the coarsest zooms components merge toward one group — but by then
    the level array has already collapsed to cluster counts.

Neighbor search: uniform grid binning at cell size r (the same
decomposition KDBush's within() bounds) — each point probes its 3×3
neighborhood; O(n) per level instead of O(n²).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from arrow_supercluster_spark.config import DEFAULT_OPTIONS, ClusterOptions

RESULT_SCHEMA = (
    "zoom int, cluster_id long, x double, y double, "
    "parent_id long, num_points long, pos long"
)


def _neighbors_within(
    x: np.ndarray, y: np.ndarray, r: float
) -> "dict[tuple[int, int], np.ndarray]":
    """Uniform grid bins at cell size r → cell → member indices (sorted =
    insertion order within each bin)."""
    cx = np.floor(x / r).astype(np.int64)
    cy = np.floor(y / r).astype(np.int64)
    bins: dict[tuple[int, int], list[int]] = {}
    for i in range(len(x)):
        bins.setdefault((cx[i], cy[i]), []).append(i)
    return {k: np.asarray(v, dtype=np.int64) for k, v in bins.items()}, cx, cy


def greedy_cluster_kernel(
    x0: np.ndarray,
    y0: np.ndarray,
    ids0: np.ndarray,
    opts: ClusterOptions = DEFAULT_OPTIONS,
    total_points: int | None = None,
    group_salt: int | None = None,
    pos_order: str = "kdbush",
) -> pd.DataFrame:
    """Run the full top-down zoom loop over one in-memory partition.

    Inputs are the float32-rounded Mercator coords and original point ids,
    in insertion order. Returns the per-zoom item table for zooms
    min_zoom..max_zoom+1 (leaf level included), parent pointers resolved.

    group_salt: when multiple kernel instances run in parallel
    (partitioned mode), the reference's index-based id encoding
    (arrow-cluster-engine.ts:378) collides across groups — per-group
    array indices repeat. The salt (the group's unique non-negative cell
    key) is packed into the high bits: cid = ((salt<<21 | index) << 5) +
    (zoom+1) + total — globally unique, still decodes zoom the
    reference's way. Requires salt < 2^33 and < 2^21 items per group.

    pos_order: "kdbush" (default) stores each row's KDBush within()-visit
    rank as `pos` — the reference's child-enumeration order at any level
    size; "insertion" stores the plain level-array index (identical on
    levels ≤ 64; the convention mode="cc" reproduces distributively).
    """
    if group_salt is not None and not (0 <= group_salt < (1 << 33)):
        raise ValueError(f"group_salt out of range: {group_salt}")
    if pos_order not in ("kdbush", "insertion"):
        raise ValueError(f"unknown pos_order: {pos_order}")

    def mk_pos(lx: np.ndarray, ly: np.ndarray) -> np.ndarray:
        """Row's KDBush visit rank within its level array — the order the
        reference's within() yields children at ANY level size
        (functions/kdbush_order.py: kd-sort + mid-right-left traversal of
        the per-level Float32 tree, arrow-cluster-engine.ts:291-302,418-426;
        identical to insertion order on levels ≤ nodeSize=64).  Drives
        getChildren ordering and DFS getLeaves pagination (greedy_nav).
        Salted like cluster ids in partitioned mode — there each kernel
        ranks only its own group's items, so cross-group order is
        documented as group-major (exact single-group mode is the
        reference-faithful parity oracle)."""
        if pos_order == "kdbush":
            from arrow_supercluster_spark.functions.kdbush_order import (
                kdbush_visit_rank,
            )

            p = kdbush_visit_rank(lx, ly)
        else:
            p = np.arange(len(lx), dtype=np.int64)
        return p if group_salt is None else (group_salt << 21) | p
    n = len(x0)
    total = total_points if total_points is not None else n
    # level arrays (AoS equivalent, kept as parallel numpy arrays)
    x = x0.astype(np.float64).copy()
    y = y0.astype(np.float64).copy()
    ids = ids0.astype(np.int64).copy()
    parent = np.full(n, -1, dtype=np.int64)
    nump = np.ones(n, dtype=np.int64)
    visited = np.full(n, np.inf)  # zoom at which item was consumed

    levels: dict[int, pd.DataFrame] = {}
    leaf_zoom = opts.leaf_zoom

    for z in range(opts.max_zoom, opts.min_zoom - 1, -1):
        r = opts.radius / (opts.extent * (2.0**z))
        r2 = r * r
        m = len(x)
        bins, bcx, bcy = _neighbors_within(x, y, r)

        nx: list[float] = []
        ny: list[float] = []
        nids: list[int] = []
        nnum: list[int] = []

        # one concatenated 3×3-neighborhood candidate array per occupied
        # cell (shared by all points in the cell) — keeps the greedy scan
        # itself O(n) with vectorized distance checks
        hood_cache: dict[tuple[int, int], np.ndarray] = {}

        def hood(cell: tuple[int, int]) -> np.ndarray:
            got = hood_cache.get(cell)
            if got is None:
                parts = [
                    bins[c]
                    for c in (
                        (cell[0] + dxc, cell[1] + dyc)
                        for dxc in (-1, 0, 1)
                        for dyc in (-1, 0, 1)
                    )
                    if c in bins
                ]
                got = np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
                hood_cache[cell] = got
            return got

        for i in range(m):
            if visited[i] <= z:
                continue
            visited[i] = z

            xi, yi = x[i], y[i]
            cand = hood((bcx[i], bcy[i]))
            dx = x[cand] - xi
            dy = y[cand] - yi
            neigh = cand[(dx * dx + dy * dy <= r2) & (cand != i)]

            n_origin = nump[i]
            n_total = n_origin
            for k in neigh:
                if visited[k] > z:
                    n_total += nump[k]

            if n_total > n_origin and n_total >= opts.min_points:
                wx = xi * n_origin
                wy = yi * n_origin
                origin_key = i if group_salt is None else (group_salt << 21) | i
                cid = (origin_key << 5) + (z + 1) + total
                for k in neigh:
                    if visited[k] <= z:
                        continue
                    visited[k] = z
                    wx += x[k] * nump[k]
                    wy += y[k] * nump[k]
                    parent[k] = cid
                parent[i] = cid
                nx.append(wx / n_total)
                ny.append(wy / n_total)
                nids.append(cid)
                nnum.append(int(n_total))
            else:
                nx.append(xi)
                ny.append(yi)
                nids.append(int(ids[i]))
                nnum.append(int(nump[i]))
                if n_total > 1:
                    for k in neigh:
                        if visited[k] <= z:
                            continue
                        visited[k] = z
                        nx.append(x[k])
                        ny.append(y[k])
                        nids.append(int(ids[k]))
                        nnum.append(int(nump[k]))

        # snapshot the CONSUMED level (z+1) now that its parent pointers
        # are final
        levels[z + 1] = pd.DataFrame(
            {
                "zoom": np.int32(z + 1),
                "cluster_id": ids,
                "x": x,
                "y": y,
                "parent_id": parent,
                "num_points": nump,
                "pos": mk_pos(x, y),
            }
        )
        x = np.asarray(nx)
        y = np.asarray(ny)
        ids = np.asarray(nids, dtype=np.int64)
        nump = np.asarray(nnum, dtype=np.int64)
        parent = np.full(len(nx), -1, dtype=np.int64)
        visited = np.full(len(nx), np.inf)

    levels[opts.min_zoom] = pd.DataFrame(
        {
            "zoom": np.int32(opts.min_zoom),
            "cluster_id": ids,
            "x": x,
            "y": y,
            "parent_id": parent,
            "num_points": nump,
            "pos": mk_pos(x, y),
        }
    )
    out = pd.concat(
        [levels[z] for z in range(opts.min_zoom, leaf_zoom + 1)],
        ignore_index=True,
    )
    return out.astype(
        {
            "zoom": "int32",
            "cluster_id": "int64",
            "x": "float64",
            "y": "float64",
            "parent_id": "int64",
            "num_points": "int64",
            "pos": "int64",
        }
    )


def greedy_hierarchy(
    points,
    opts: ClusterOptions = DEFAULT_OPTIONS,
    mode: str = "exact",
    partition_zoom: int = 3,
    mask=None,
    pos_order: str | None = None,
):
    """Spark operator: points (id, lng, lat — nulls already dropped or will
    be dropped here) → per-zoom greedy item table.

    mode="exact": single-group applyInPandas, bit-faithful to the
    sequential reference (golden-parity mode; not for 100 TB).
    mode="partitioned": group by coarse grid cell at `partition_zoom` —
    embarrassingly parallel, deterministic, clusters bounded by cell walls.
    mode="cc": exact AND distributed — per-level dependency-closure
    groups, bit-identical to mode="exact" (see module docstring).

    mask: optional boolean Column with the reference's filterMask
    semantics (arrow-cluster-engine.ts:62,79): masked-out rows never
    enter the index but STILL count toward table.numRows, the id-space
    salt — so ids stay interoperable with a reference engine loaded with
    the same mask. Pre-filtering `points` instead would shift every id.

    pos_order: `pos` ordering convention — "kdbush" (reference's
    within()-traversal child order, default for mode="exact", where
    cross-group fidelity is actually guaranteed) or "insertion" (plain
    level index, default for mode="partitioned": the kd visit rank is a
    pure-Python Floyd–Rivest select per level per group, a real
    per-group cost on the scale-out path for an ordering that is only
    group-local there anyway — ADVICE r3). mode="cc" always emits
    insertion order: its `pos` is built by a distributed global re-rank
    and the kd-sort's swap sequence is inherently sequential — so cc
    output is bit-identical to mode="exact" UNDER pos_order="insertion"
    (sets, ids, parents, floats all identical either way; only the
    >64-item page-boundary convention differs).
    """
    from pyspark.sql import functions as F

    if mode == "cc":
        if pos_order == "kdbush":
            raise ValueError(
                "mode='cc' emits insertion-order pos (distributed re-rank); "
                "use mode='exact' for KDBush-order drill-down parity"
            )
        return greedy_hierarchy_cc(points, opts, mask=mask)
    if pos_order is None:
        pos_order = "kdbush" if mode == "exact" else "insertion"

    from arrow_supercluster_spark.operators.filters import drop_null_geometry
    from arrow_supercluster_spark.functions.projection import fround, lat_y, lng_x

    # The reference encodes this.numPoints = table.numRows BEFORE the
    # null/mask filtering (arrow-cluster-engine.ts:64,378), so cluster ids
    # must be salted with the PRE-drop row count or they diverge from
    # reference-produced ids on inputs containing null geometry. Callers
    # applying a filter mask should do so via the mask contract AFTER this
    # operator's id space is fixed — i.e. rows the reference would count
    # (masked rows included) must still be present in `points` here.
    total, max_id = points.agg(
        F.count(F.lit(1)), F.max("id")
    ).collect()[0]
    # Packed cluster ids live at (idx<<5)+(z+1)+total, i.e. strictly
    # above total; a USER point id >= total CAN collide with one of them,
    # making drill-down by id ambiguous (the reference can't hit this —
    # its ids are table row indices by construction; the clustering
    # itself stays correct either way). Surface it loudly.
    if max_id is not None and max_id >= total:
        import warnings

        warnings.warn(
            f"point id {max_id} >= row count {total}: packed cluster ids "
            "may collide with point ids, making id-keyed drill-down "
            "(get_children/get_leaves) ambiguous. Re-index ids to 0..n-1 "
            "(row indices, the reference's id space) for drill-down use.",
            stacklevel=3,
        )
    if mask is not None:
        points = points.filter(mask)  # AFTER the id-space salt is fixed
    pts = (
        drop_null_geometry(points)
        .select(
            "id",
            fround(lng_x(F.col("lng"))).alias("x"),
            fround(lat_y(F.col("lat"))).alias("y"),
        )
    )

    def run_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id", kind="mergesort")  # insertion order
        return greedy_cluster_kernel(
            pdf["x"].to_numpy(),
            pdf["y"].to_numpy(),
            pdf["id"].to_numpy(),
            opts,
            total_points=total,
            # per-group array indices collide across parallel groups; the
            # group's unique cell key salts the id's high bits
            group_salt=None if mode == "exact" else int(key[0]),
            pos_order=pos_order,
        )

    if mode == "exact":
        grouped = pts.withColumn("g", F.lit(0)).groupBy("g")
    elif mode == "partitioned":
        scale = opts.cell_scale(partition_zoom)
        grouped = pts.withColumn(
            "g",
            F.floor(F.col("x") * F.lit(scale)) * F.lit(1_000_003)
            + F.floor(F.col("y") * F.lit(scale)),
        ).groupBy("g")
    else:
        raise ValueError(f"unknown mode {mode!r}")

    return grouped.applyInPandas(run_group, schema=RESULT_SCHEMA)


# ===========================================================================
# mode="cc": exact distributed greedy (per-level dependency-closure groups)
# ===========================================================================

# union schema carrying both row kinds out of the per-component scan:
# kind=0 → consumed-level snapshot rows, kind=1 → next-level items with
# their (origin index, emission sub-order) key for the global re-rank
_CC_SCHEMA = (
    "kind int, zoom int, cluster_id long, x double, y double, "
    "parent_id long, num_points long, pos long, e0 long, e1 long"
)


def _scan_one_zoom(pdf: pd.DataFrame, z: int, opts: ClusterOptions, total: int) -> pd.DataFrame:
    """One zoom level of the sequential greedy scan over ONE dependency
    component, bit-faithful to the inner loop of `greedy_cluster_kernel`
    (same hood construction order, same neighbor iteration order, same
    float accumulation order). `idx` is the item's GLOBAL level-array
    index: processing the component's points in ascending `idx` equals
    the global scan restricted to the component, and cluster ids encode
    `idx` exactly as the reference encodes the level index
    (arrow-cluster-engine.ts:378)."""
    pdf = pdf.sort_values("idx", kind="mergesort")
    x = pdf["x"].to_numpy(dtype=np.float64)
    y = pdf["y"].to_numpy(dtype=np.float64)
    gidx = pdf["idx"].to_numpy(dtype=np.int64)
    ids = pdf["cluster_id"].to_numpy(dtype=np.int64)
    nump = pdf["num_points"].to_numpy(dtype=np.int64)
    m = len(x)
    r = opts.radius / (opts.extent * (2.0**z))
    r2 = r * r
    bins, bcx, bcy = _neighbors_within(x, y, r)

    hood_cache: dict[tuple[int, int], np.ndarray] = {}

    def hood(cell: tuple[int, int]) -> np.ndarray:
        got = hood_cache.get(cell)
        if got is None:
            parts = [
                bins[c]
                for c in (
                    (cell[0] + dxc, cell[1] + dyc)
                    for dxc in (-1, 0, 1)
                    for dyc in (-1, 0, 1)
                )
                if c in bins
            ]
            got = np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
            hood_cache[cell] = got
        return got

    visited = np.zeros(m, dtype=bool)
    parent = np.full(m, -1, dtype=np.int64)
    it_e0: list[int] = []
    it_e1: list[int] = []
    it_id: list[int] = []
    it_x: list[float] = []
    it_y: list[float] = []
    it_n: list[int] = []

    for i in range(m):
        if visited[i]:
            continue
        visited[i] = True
        xi, yi = x[i], y[i]
        cand = hood((bcx[i], bcy[i]))
        dx = x[cand] - xi
        dy = y[cand] - yi
        neigh = cand[(dx * dx + dy * dy <= r2) & (cand != i)]

        n_origin = nump[i]
        n_total = n_origin
        for k in neigh:
            if not visited[k]:
                n_total += nump[k]

        if n_total > n_origin and n_total >= opts.min_points:
            wx = xi * n_origin
            wy = yi * n_origin
            cid = (int(gidx[i]) << 5) + (z + 1) + total
            for k in neigh:
                if visited[k]:
                    continue
                visited[k] = True
                wx += x[k] * nump[k]
                wy += y[k] * nump[k]
                parent[k] = cid
            parent[i] = cid
            it_e0.append(int(gidx[i]))
            it_e1.append(0)
            it_id.append(cid)
            it_x.append(wx / n_total)
            it_y.append(wy / n_total)
            it_n.append(int(n_total))
        else:
            it_e0.append(int(gidx[i]))
            it_e1.append(0)
            it_id.append(int(ids[i]))
            it_x.append(xi)
            it_y.append(yi)
            it_n.append(int(nump[i]))
            if n_total > 1:
                sub = 1
                for k in neigh:
                    if visited[k]:
                        continue
                    visited[k] = True
                    it_e0.append(int(gidx[i]))
                    it_e1.append(sub)
                    it_id.append(int(ids[k]))
                    it_x.append(x[k])
                    it_y.append(y[k])
                    it_n.append(int(nump[k]))
                    sub += 1

    consumed = pd.DataFrame(
        {
            "kind": 0,
            "zoom": np.int32(z + 1),
            "cluster_id": ids,
            "x": x,
            "y": y,
            "parent_id": parent,
            "num_points": nump,
            "pos": gidx,
            "e0": np.int64(0),
            "e1": np.int64(0),
        }
    )
    items = pd.DataFrame(
        {
            "kind": 1,
            "zoom": np.int32(0),
            "cluster_id": np.asarray(it_id, dtype=np.int64),
            "x": np.asarray(it_x, dtype=np.float64),
            "y": np.asarray(it_y, dtype=np.float64),
            "parent_id": np.int64(-1),
            "num_points": np.asarray(it_n, dtype=np.int64),
            "pos": np.int64(0),
            "e0": np.asarray(it_e0, dtype=np.int64),
            "e1": np.asarray(it_e1, dtype=np.int64),
        }
    )
    out = pd.concat([consumed, items], ignore_index=True)
    return out.astype(
        {
            "kind": "int32",
            "zoom": "int32",
            "cluster_id": "int64",
            "x": "float64",
            "y": "float64",
            "parent_id": "int64",
            "num_points": "int64",
            "pos": "int64",
            "e0": "int64",
            "e1": "int64",
        }
    )


def _zip_rank(df, sort_cols: list, out: str = "idx"):
    """Global dense 0-based rank by `sort_cols` WITHOUT a single-partition
    window — delegates to the generalized functions/distrank.py zip_scan
    (promoted from here in round 4 so registry entries can share it)."""
    from arrow_supercluster_spark.functions.distrank import zip_scan

    return zip_scan(df, sort_cols, out=out)[0]


# Adaptive bound shared with operators/dedup.connected_components_adaptive:
# a level whose candidate edge list fits under this cap is labeled, scanned
# and re-ranked with driver-side closed forms (one collect of edge rows
# that carry both endpoints' item state); larger levels take the fully
# distributed fixpoint + zip-scan path.
_CC_EDGE_CAP = 200_000
# Lookahead probe net: bin at r·2^k so one collect also proves the next k
# levels identity when nothing is within reach (r doubles per level).
_CC_LOOKAHEAD = 3
# Once the LEVEL table itself fits under this row cap, the remaining
# zooms run entirely on the driver with the same `_scan_one_zoom` kernel
# (zero Spark jobs) — levels shrink monotonically, so on any corpus the
# coarse-zoom tail eventually crosses this bound. Same adaptive design
# (and honesty contract: bit-identical, fallback-tested) as
# connected_components_adaptive.
_CC_DRIVER_LEVEL_CAP = 150_000


def _cc_edge_plan(cur, bin_r: float):
    """Candidate within-`bin_r` pairs of the current level via the 3×3
    grid-cell equi-join, each row carrying BOTH endpoints' full item
    state plus d² — so the driver fast path can reconstruct component
    members without a second collect. Built with selectExpr strings (one
    parse round-trip instead of dozens of per-Column py4j calls — this
    plan is rebuilt every zoom level). d² is the kernel's exact float
    form (dx·dx + dy·dy, no pow)."""
    from pyspark.sql import functions as F  # noqa: F811

    rl = repr(float(bin_r))
    b = cur.selectExpr(
        "idx", "cluster_id", "num_points", "x", "y",
        f"floor(x / {rl}) as cx", f"floor(y / {rl}) as cy",
    )
    neigh = ",".join(
        f"struct(cx + {dx} as ncx, cy + {dy} as ncy)"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    )
    probe = b.selectExpr(
        "idx as p_idx", "cluster_id as p_cid", "num_points as p_np",
        "x as px", "y as py", f"explode(array({neigh})) as nc",
    )
    return (
        probe.join(b, F.expr("nc.ncx = cx AND nc.ncy = cy"))
        .where("p_idx < idx")
        .selectExpr(
            "p_idx as a_id", "px as a_x", "py as a_y",
            "p_np as a_np", "p_cid as a_cid",
            "idx as b_id", "x as b_x", "y as b_y",
            "num_points as b_np", "cluster_id as b_cid",
            "(px - x) * (px - x) + (py - y) * (py - y) as d2",
        )
        .where(f"d2 <= {repr(float(bin_r) * float(bin_r))}")
    )


def _local_cc_labels_pd(e_pd: pd.DataFrame) -> pd.DataFrame:
    """Union-find (path halving) over a collected edge frame →
    (node_id, component_id) pandas frame, component_id = min member."""
    parent: dict = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(
        e_pd["a_id"].to_numpy(dtype="int64"), e_pd["b_id"].to_numpy(dtype="int64")
    ):
        u, v = int(u), int(v)
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    nodes = np.fromiter(parent.keys(), dtype=np.int64, count=len(parent))
    comps = np.fromiter((find(int(n)) for n in nodes), dtype=np.int64, count=len(nodes))
    return pd.DataFrame({"node_id": nodes, "component_id": comps})


def _rank_step_fn(comp_nodes: np.ndarray, key_e0: np.ndarray):
    """The closed-form dense re-rank's step function (round-4 greedy-cc
    cost pass): given the current level's idx dense 0..n-1, the next
    level's lexicographic (e0, e1) rank is

        idx' = e0 + D(e0) + e1

    where D(i) = Σ_{j<i} (f_j − 1) and f_j is node j's survivor fanout
    (0 consumed, 1 normal, 1+k head-with-passthrough). f_j ≠ 1 only on
    component members (isolated nodes always emit exactly their own
    row), so D is a sparse step function over the sorted component-node
    array. Bijective onto 0..n'-1 by construction (survivor keys within
    one e0 are contiguous e1 = 0..k). Returns (nodes_sorted, cum_pad):
    D(i) = cum_pad[searchsorted(nodes_sorted, i, 'left')]."""
    nodes_sorted = np.sort(comp_nodes.astype(np.int64))
    counts = np.zeros(len(nodes_sorted), dtype=np.int64)
    kpos = np.searchsorted(nodes_sorted, key_e0.astype(np.int64))
    np.add.at(counts, kpos, 1)
    cum_pad = np.concatenate(([0], np.cumsum(counts - 1)))
    return nodes_sorted, cum_pad


def greedy_hierarchy_cc(points, opts: ClusterOptions = DEFAULT_OPTIONS, mask=None):
    """Exact distributed greedy hierarchy (mode="cc" of greedy_hierarchy;
    see module docstring for why components are the exact dependency
    closure). Bit-identical output to mode="exact", partition-invariant."""
    from pyspark.sql import functions as F

    from arrow_supercluster_spark.functions.checkpoint import truncate
    from arrow_supercluster_spark.functions.projection import fround, lat_y, lng_x
    from arrow_supercluster_spark.operators.dedup import (
        connected_components_adaptive,
    )
    from arrow_supercluster_spark.operators.filters import drop_null_geometry

    import functools

    # pre-drop, pre-mask: the reference id salt; same id<total guard as
    # greedy_hierarchy (packed ids live above total)
    total, max_id = points.agg(
        F.count(F.lit(1)), F.max("id")
    ).collect()[0]
    if max_id is not None and max_id >= total:
        import warnings

        warnings.warn(
            f"point id {max_id} >= row count {total}: packed cluster ids "
            "may collide with point ids — see greedy_hierarchy's guard.",
            stacklevel=3,
        )
    if mask is not None:
        points = points.filter(mask)
    pts = drop_null_geometry(points).select(
        F.col("id").alias("cluster_id"),
        fround(lng_x(F.col("lng"))).alias("x"),
        fround(lat_y(F.col("lat"))).alias("y"),
    )
    from arrow_supercluster_spark.functions.distrank import zip_scan

    cur, n_cur, _ = zip_scan(
        pts.withColumn("num_points", F.lit(1).cast("long")), ["cluster_id"]
    )
    cur = truncate(cur.select("idx", "cluster_id", "x", "y", "num_points"))

    spark_s = points.sparkSession
    try:
        n_parts = int(spark_s.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        # the conf may be non-numeric ("auto" under some AQE platforms)
        n_parts = spark_s.sparkContext.defaultParallelism
    out_parts = []

    def identity_level(z: int) -> None:
        out_parts.append(
            cur.select(
                F.lit(z + 1).cast("int").alias("zoom"),
                "cluster_id",
                "x",
                "y",
                F.lit(-1).cast("long").alias("parent_id"),
                "num_points",
                F.col("idx").alias("pos"),
            )
        )

    # levels with r² strictly below this are provably identity (no pair
    # closer than the horizon exists) — set by the lookahead probe below
    skip_until_r2: float | None = None
    finished_locally = False
    for z in range(opts.max_zoom, opts.min_zoom - 1, -1):
        if n_cur is not None and n_cur <= _CC_DRIVER_LEVEL_CAP:
            # driver tail (round-4 cost pass): the whole level fits —
            # run every remaining zoom with the exact kernel locally
            # (_scan_one_zoom over the full level IS the sequential
            # one-zoom scan; dense re-rank = lexsort by (e0, e1)), ship
            # the result back in one createDataFrame. Zero jobs/level.
            lvl = (
                cur.toPandas()
                .sort_values("idx", kind="mergesort")
                .reset_index(drop=True)
            )
            local_out = []
            for zz in range(z, opts.min_zoom - 1, -1):
                resl = _scan_one_zoom(lvl, z=zz, opts=opts, total=total)
                local_out.append(
                    resl[resl["kind"] == 0][
                        ["zoom", "cluster_id", "x", "y",
                         "parent_id", "num_points", "pos"]
                    ]
                )
                items = resl[resl["kind"] == 1]
                order = np.lexsort(
                    (items["e1"].to_numpy(), items["e0"].to_numpy())
                )
                items = items.iloc[order].reset_index(drop=True)
                lvl = items[
                    ["cluster_id", "x", "y", "num_points"]
                ].copy()
                lvl.insert(0, "idx", np.arange(len(items), dtype=np.int64))
            final = lvl[["cluster_id", "x", "y", "num_points"]].copy()
            final.insert(0, "zoom", np.int32(opts.min_zoom))
            final["parent_id"] = np.int64(-1)
            final["pos"] = lvl["idx"].to_numpy()
            local_out.append(
                final[
                    ["zoom", "cluster_id", "x", "y",
                     "parent_id", "num_points", "pos"]
                ]
            )
            out_parts.append(
                spark_s.createDataFrame(
                    pd.concat(local_out, ignore_index=True),
                    "zoom int, cluster_id long, x double, y double, "
                    "parent_id long, num_points long, pos long",
                )
            )
            finished_locally = True
            break
        r = opts.radius / (opts.extent * (2.0**z))
        r2 = r * r
        if skip_until_r2 is not None and r2 < skip_until_r2:
            identity_level(z)
            continue
        # LOOKAHEAD probe (round-4 cost pass): bin at R = r·2^k and
        # collect candidate pairs with their d² up to R — one evaluation
        # answers "is this level identity?" for THIS and the next k
        # levels (r doubles per level; positions only move when a level
        # actually clusters). On the fine-zoom identity stretch this
        # collapses k+1 probes into one; when clustering resumes the
        # probe degrades to exactly the per-level collect it replaces.
        z_eff = max(z - _CC_LOOKAHEAD, 0)
        bigr = opts.radius / (opts.extent * (2.0**z_eff))
        e_pd = (
            _cc_edge_plan(cur, bigr)
            .limit(_CC_EDGE_CAP + 1)
            .toPandas()
        )
        if len(e_pd) > _CC_EDGE_CAP and z_eff != z:
            # lookahead net too wide for the cap — retry at the exact
            # level radius before falling back to the distributed path
            e_pd = (
                _cc_edge_plan(cur, r).limit(_CC_EDGE_CAP + 1).toPandas()
            )
            bigr = r
        if len(e_pd) <= _CC_EDGE_CAP:
            e_sub = e_pd[e_pd["d2"].to_numpy() <= r2]
            if len(e_sub) == 0:
                # identity level — and the collected d² set bounds how
                # long the stretch lasts: no pair exists closer than
                # min(d²) (or than R, if nothing was within R at all)
                skip_until_r2 = (
                    float(e_pd["d2"].min())
                    if len(e_pd)
                    else float(np.nextafter(bigr * bigr, np.inf))
                )
                identity_level(z)
                continue
            skip_until_r2 = None
            e_pd = e_sub
            labels_pd = _local_cc_labels_pd(e_pd)
            comp_of = dict(
                zip(
                    labels_pd["node_id"].to_numpy(),
                    labels_pd["component_id"].to_numpy(),
                )
            )
            # member table straight from the edge endpoints (every
            # component node touches ≥1 edge)
            a_side = e_pd[["a_id", "a_x", "a_y", "a_np", "a_cid"]].rename(
                columns={"a_id": "idx", "a_x": "x", "a_y": "y",
                         "a_np": "num_points", "a_cid": "cluster_id"}
            )
            b_side = e_pd[["b_id", "b_x", "b_y", "b_np", "b_cid"]].rename(
                columns={"b_id": "idx", "b_x": "x", "b_y": "y",
                         "b_np": "num_points", "b_cid": "cluster_id"}
            )
            mem = pd.concat([a_side, b_side]).drop_duplicates("idx")
            mem["comp"] = mem["idx"].map(comp_of)
            scans = [
                _scan_one_zoom(grp, z=z, opts=opts, total=total)
                for _, grp in mem.groupby("comp", sort=False)
            ]
            local = pd.concat(scans, ignore_index=True)
            is_item = local["kind"].to_numpy() == 1
            nodes_sorted, cum_pad = _rank_step_fn(
                mem["idx"].to_numpy(),
                local["e0"].to_numpy(dtype="int64")[is_item],
            )
            # closed-form dense re-rank (see _rank_step_fn): local items
            # get idx in numpy here; the distributed iso rows (e1 = 0)
            # get idx' = idx + D(idx) in the narrow Arrow map below
            local = local.copy()
            local["idx"] = np.where(
                is_item,
                local["e0"].to_numpy(dtype="int64")
                + cum_pad[
                    np.searchsorted(
                        nodes_sorted, local["e0"].to_numpy(dtype="int64")
                    )
                ]
                + local["e1"].to_numpy(dtype="int64"),
                0,
            )
            # ONE local frame per level carries the consumed rows, the
            # ranked survivor items AND (via the consumed rows' pos = the
            # members' old idx) the anti-join key set — one
            # createDataFrame round-trip instead of three; left lazy (a
            # LocalRelation re-evaluation is a deserialization, not a job)
            local_df = spark_s.createDataFrame(
                local[
                    ["kind", "zoom", "cluster_id", "x", "y",
                     "parent_id", "num_points", "pos", "idx"]
                ],
                "kind int, zoom int, cluster_id long, x double, "
                "y double, parent_id long, num_points long, "
                "pos long, idx long",
            )
            nodes_df = F.broadcast(
                local_df.filter(F.col("kind") == 0)
                .select(F.col("pos").alias("node_id"))
            )
            # iso rows: everything not in a component — identity rows
            iso = cur.join(
                nodes_df, cur["idx"] == nodes_df["node_id"], "left_anti"
            )
            out_parts.append(
                iso.select(
                    F.lit(z + 1).cast("int").alias("zoom"),
                    "cluster_id",
                    "x",
                    "y",
                    F.lit(-1).cast("long").alias("parent_id"),
                    "num_points",
                    F.col("idx").alias("pos"),
                ).unionByName(
                    local_df.filter(F.col("kind") == 0).select(
                        "zoom", "cluster_id", "x", "y",
                        "parent_id", "num_points", "pos",
                    )
                )
            )

            def iso_rank(batches, _ns=nodes_sorted, _cp=cum_pad):
                for pdf in batches:
                    i0 = pdf["idx"].to_numpy(dtype="int64")
                    out = pdf[
                        ["cluster_id", "x", "y", "num_points"]
                    ].copy()
                    out.insert(
                        0, "idx", i0 + _cp[np.searchsorted(_ns, i0)]
                    )
                    yield out

            cur_schema = (
                "idx long, cluster_id long, x double, y double, "
                "num_points long"
            )
            cur = truncate(
                iso.select("idx", "cluster_id", "x", "y", "num_points")
                .mapInPandas(iso_rank, cur_schema)
                .unionByName(
                    local_df.filter(F.col("kind") == 1).select(
                        "idx", "cluster_id", "x", "y", "num_points"
                    )
                )
                .coalesce(n_parts)
            )
            if n_cur is not None:
                # members left the level, their survivors re-entered
                n_cur = n_cur - len(mem) + int(is_item.sum())
        else:
            # ---- fully distributed path (level too large to collect) ----
            skip_until_r2 = None
            edges = _cc_edge_plan(cur, r).where(
                F.col("d2") <= F.lit(r2)
            )
            labels = connected_components_adaptive(
                truncate(edges.select("a_id", "b_id"))
            )
            lab = cur.join(
                labels, cur["idx"] == labels["node_id"], "left"
            ).select(
                "idx",
                "cluster_id",
                "x",
                "y",
                "num_points",
                F.col("component_id").alias("comp"),
            )
            # isolated points (no within-r neighbor at all) are identity
            # rows: narrow projections, never shuffled into the scan —
            # at fine zooms the vast majority of the corpus
            iso = lab.filter(F.col("comp").isNull())
            iso_consumed = iso.select(
                F.lit(0).cast("int").alias("kind"),
                F.lit(z + 1).cast("int").alias("zoom"),
                "cluster_id",
                "x",
                "y",
                F.lit(-1).cast("long").alias("parent_id"),
                "num_points",
                F.col("idx").alias("pos"),
                F.lit(0).cast("long").alias("e0"),
                F.lit(0).cast("long").alias("e1"),
            )
            iso_items = iso.select(
                F.lit(1).cast("int").alias("kind"),
                F.lit(0).cast("int").alias("zoom"),
                "cluster_id",
                "x",
                "y",
                F.lit(-1).cast("long").alias("parent_id"),
                "num_points",
                F.lit(0).cast("long").alias("pos"),
                F.col("idx").alias("e0"),
                F.lit(0).cast("long").alias("e1"),
            )
            scan = (
                lab.filter(F.col("comp").isNotNull())
                .groupBy("comp")
                .applyInPandas(
                    functools.partial(
                        _scan_one_zoom, z=z, opts=opts, total=total
                    ),
                    schema=_CC_SCHEMA,
                )
            )
            res = truncate(
                scan.unionByName(iso_consumed)
                .unionByName(iso_items)
                .coalesce(n_parts)
            )
            out_parts.append(
                res.filter(F.col("kind") == 0).select(
                    "zoom", "cluster_id", "x", "y",
                    "parent_id", "num_points", "pos",
                )
            )
            ranked, n_cur, _ = zip_scan(
                res.filter(F.col("kind") == 1).select(
                    "e0", "e1", "cluster_id", "x", "y", "num_points"
                ),
                ["e0", "e1"],
            )
            cur = truncate(
                ranked.select("idx", "cluster_id", "x", "y", "num_points")
            )

    if not finished_locally:
        out_parts.append(
            cur.select(
                F.lit(opts.min_zoom).cast("int").alias("zoom"),
                "cluster_id",
                "x",
                "y",
                F.lit(-1).cast("long").alias("parent_id"),
                "num_points",
                F.col("idx").alias("pos"),
            )
        )
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionByName(p)
    return out
