"""Graph operators beyond connected components (dedup.py): one
propagation primitive with its callers (PageRank, label propagation and
the registry's fixpoint queries), the user co-occurrence edge set and
triangles.

`propagate` is the semiring reading of a fixpoint query (GraphBLAS,
Kepner et al., HPEC 2016): every round is one sparse matrix-vector
product over the edge table, x'[v] = post(⊕ over the in-edges (u, v) of
x[u] ⊗ w), synchronous, with ⊕ from a closed set:

- "sum":  Σ x[u]·w (w = 1 without a weight column) — Katz, eigenvector
  centrality, Markov chains;
- "walk": Σ x[u] / outdeg(u), the random-walk step — PageRank (the
  division, not a product with 1/outdeg, is its SQL twin's arithmetic);
- "min":  min(x[v], min x[u] + w), a null value is "not reached" — BFS
  hops, Bellman-Ford;
- "mode": the most frequent x[u], ties to the smallest, a node with no
  in-edge keeps its own — label propagation.

Scale shape (100 TB of edges):
- the edge list is materialized once, then gated by one bounded
  `small_side` fetch: at most `_DRIVER_EDGE_CAP` rows run every round on
  the driver in NumPy (`bincount`, `minimum.at`, a mode over a lexsort)
  and come back as one createDataFrame — at that size a round costs its
  Spark jobs, not its data;
- above the cap, a round is one edge join keyed by the source, one
  aggregate keyed by the destination and the post-map over |nodes| rows,
  cut by a lazy `localCheckpoint` so the plan stays O(1) deep (no round
  joins the state with itself, so the size estimate the cut copies
  never squares; functions/checkpoint.py);
- a post-map that rounds every round (`m.round`) rounds alike on both
  paths: summation order is partition-dependent in Spark and edge
  order on the driver, and without re-rounding the drift compounds
  across rounds (plans/registry.py's float discipline).  The tail
  rounds with `blockpairs.round_half_up`, which reproduces F.round.
"""

from __future__ import annotations

import logging

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DoubleType, StructField, StructType

from arrow_supercluster_spark.functions.blockpairs import round_half_up
from arrow_supercluster_spark.functions.checkpoint import truncate
from arrow_supercluster_spark.functions.small_side import small_side

log = logging.getLogger(__name__)

# Largest gated table (edges plus the start vector's extra nodes) whose
# rounds run on the driver. The sf0.1 user co-occurrence graph (1.58M
# edges) fits: q_pagerank there took 5.7 s on the tail against 6.8 s
# distributed (one run each, 4 local cores).
_DRIVER_EDGE_CAP = 2_000_000
_COMBINES = ("sum", "walk", "min", "mode")


def cooccurrence_edges(events: DataFrame) -> DataFrame:
    """Directed user co-occurrence edges (src, dst), distinct: two users
    are linked when each has an event of the same type in the same hour
    (src != dst, so both directions of every link are present).
    `events` needs user_id, event_type and ts."""
    ev = events.select("user_id", "event_type", F.date_trunc("hour", "ts").alias("h"))
    a = ev.select(F.col("user_id").alias("src"), "event_type", "h")
    b = ev.select(F.col("user_id").alias("dst"), "event_type", "h")
    return (
        a.join(b, ["event_type", "h"])
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def propagate(
    edges: DataFrame, x0, combine: str, post=None, iters: int = 1, nodes: DataFrame | None = None
) -> DataFrame:
    """`iters` synchronous rounds of `combine` (see the module doc) over
    `edges` (src, dst[, w]) from the start vector `x0`; returns
    (node, x).  The nodes are the edges' endpoints plus the keys of
    `nodes` (a "node" column: isolated nodes the start vector carries);
    a null key is not a node.

    `x0(node, m)` gives the start value ("mode": a node key) and
    `post(s, node, m)` maps the combined value s to the next one ("sum"
    and "walk"; a node with no in-edge combines to 0.0).  Both are
    written once with operators a Spark Column and a NumPy array share,
    plus `m`, the few that differ: `m.where(c, a, b)` (b None: null),
    `m.sqrt`, `m.round(e, d)` (F.round, or `blockpairs.round_half_up`,
    which reproduces it) and `m.total(e)`, the sum of e over all nodes.
    x is a double for "sum" and "walk", has the type of `x0 + w` for
    "min" and the node key's for "mode"."""
    if combine not in _COMBINES:
        raise ValueError(f"combine must be one of {_COMBINES}, not {combine!r}")
    w = ["w"] if "w" in edges.columns else []
    table = edges.select("src", "dst", *w).filter(F.col("dst").isNotNull())
    if nodes is not None:
        fill = [F.lit(None).cast(table.schema[c].dataType).alias(c) for c in table.columns[1:]]
        table = table.unionByName(nodes.select(F.col("node").alias("src"), *fill))
    # materialized once: the gate reads the stored rows, and above the
    # cap every round joins them
    table = truncate(table.filter(F.col("src").isNotNull()))
    kind = DoubleType() if combine in ("sum", "walk") else table.schema["src"].dataType
    if combine == "min":  # the type of x0 + w, read off an analyzed plan (no job)
        start = _spark_map(table.withColumnRenamed("src", "node"), x0, "node")
        step = F.lit(None).cast(table.schema["w"].dataType) if w else F.lit(1)
        kind = start.select(F.col("x") + step).schema[0].dataType
    local = small_side(table, _DRIVER_EDGE_CAP)
    if local is None:
        log.info("propagate %s: > %d edges, cap %d, distributed", combine, _DRIVER_EDGE_CAP,
                 _DRIVER_EDGE_CAP)
        return _rounds_spark(table, x0, combine, post, iters, kind)
    log.info("propagate %s: %d edges, cap %d, driver tail", combine,
             local.num_rows - local.column("dst").null_count, _DRIVER_EDGE_CAP)
    node, x = _rounds_np(local, x0, combine, post, iters)
    schema = StructType([StructField("node", table.schema["src"].dataType), StructField("x", kind)])
    return table.sparkSession.createDataFrame(
        pa.table({"node": node, "x": x.cast(to_arrow_type(kind))}), schema
    )


class _SparkOps:
    """`m` for Spark columns over the rows of `frame`; `total(e)` joins
    the sum of e back to the frame as a broadcast one-row column."""

    round = staticmethod(F.round)
    sqrt = staticmethod(F.sqrt)

    def __init__(self, frame: DataFrame):
        self.frame = frame

    @staticmethod
    def where(c, a, b):
        return F.when(c, a) if b is None else F.when(c, a).otherwise(b)

    def total(self, e):
        t = f"_t{len(self.frame.columns)}"
        self.frame = self.frame.crossJoin(F.broadcast(self.frame.agg(F.sum(F.lit(e)).alias(t))))
        return F.col(t)


class _NumpyOps:
    """`m` for NumPy arrays over n nodes; `where(c, a, None)` is a masked
    array, null where c is false."""

    sqrt = staticmethod(np.sqrt)

    def __init__(self, n: int):
        self.n = n

    @staticmethod
    def where(c, a, b):
        if b is None:
            return np.ma.masked_array(np.broadcast_to(a, np.shape(c)), mask=~np.asarray(c))
        return np.where(c, a, b)

    def round(self, e, digits):
        return round_half_up(np.broadcast_to(e, (self.n,)), digits)

    def total(self, e):
        return np.broadcast_to(e, (self.n,)).sum()


def _spark_map(frame: DataFrame, f, *cols: str) -> DataFrame:
    """(node, x) with x = f(*cols, m) over the rows of `frame`."""
    m = _SparkOps(frame)
    x = f(*(F.col(c) for c in cols), m)
    return m.frame.select("node", F.lit(x).alias("x"))


def _rounds_spark(table: DataFrame, x0, combine: str, post, iters: int, kind) -> DataFrame:
    """The relational rounds of `propagate` over its materialized table."""
    edges = table.filter(F.col("dst").isNotNull())
    nodes = (
        table.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    w = F.col("w") if "w" in table.columns else F.lit(1)
    if combine == "walk":
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        edges = edges.join(deg, "src").localCheckpoint(eager=False)
    x = _spark_map(nodes, x0, "node").select("node", F.col("x").cast(kind).alias("x"))
    for _ in range(iters):
        sent = edges.join(x.filter(F.col("x").isNotNull()).withColumnRenamed("node", "src"), "src")
        to = F.col("dst").alias("node")
        if combine == "mode":
            count = sent.groupBy(to, F.col("x").alias("label")).agg(F.count(F.lit(1)).alias("c"))
            first = Window.partitionBy("node").orderBy(F.col("c").desc(), "label")
            pick = count.withColumn("rn", F.row_number().over(first)).filter(F.col("rn") == 1)
            x = x.join(pick.select("node", "label"), "node", "left").select(
                "node", F.coalesce("label", "x").alias("x")
            )
        elif combine == "min":
            relaxed = sent.select(to, (F.col("x") + w).cast(kind).alias("x"))
            x = x.unionByName(relaxed).groupBy("node").agg(F.min("x").alias("x"))
        else:
            msg = F.col("x") / F.col("deg") if combine == "walk" else F.col("x") * w
            s = sent.groupBy(to).agg(F.sum(msg).alias("s"))
            x = nodes.join(s, "node", "left").select("node", F.coalesce("s", F.lit(0.0)).alias("s"))
            x = _spark_map(x, post or (lambda s, node, m: s), "s", "node")
        x = x.select("node", F.col("x").cast(kind).alias("x")).localCheckpoint(eager=False)
    return x


def _rounds_np(tbl: pa.Table, x0, combine: str, post, iters: int) -> tuple[pa.Array, pa.Array]:
    """The rounds of `propagate` on its collected table: (sorted node
    keys, values).  Sums run in the edge table's order; "min" holds an
    unreached node as its dtype's largest value and "mode" rounds on
    label codes, the positions of the label keys in sorted order."""
    e = tbl.filter(pc.is_valid(tbl.column("dst")))
    chunks = tbl.column("src").chunks + e.column("dst").chunks
    keys = pc.unique(pa.chunked_array(chunks, type=tbl.schema.field("src").type))
    keys = keys.take(pc.array_sort_indices(keys))
    si, di = (pc.index_in(e.column(c), value_set=keys).to_numpy() for c in ("src", "dst"))
    n, m = len(keys), _NumpyOps(len(keys))
    node = keys.to_numpy(zero_copy_only=False)
    w = e.column("w").to_numpy() if "w" in e.column_names else 1
    deg = np.bincount(si, minlength=n)
    with np.errstate(divide="ignore", invalid="ignore"):
        v = x0(node, m)
        if combine == "mode":
            x = pc.index_in(pa.array(v, type=keys.type), value_set=keys).to_numpy()
        elif combine == "min":
            v = np.ma.asarray(v)
            v = v.astype(np.result_type(v, w))
            top = np.iinfo(v.dtype).max if v.dtype.kind in "iu" else np.inf
            x = np.broadcast_to(v.filled(top), (n,)).copy()
        else:
            x = np.broadcast_to(v, (n,)).astype(np.float64)
        for _ in range(iters):
            if combine == "mode":
                x = _mode_round(x, x[si], di)
            elif combine == "min":
                ok = x[si] != top
                np.minimum.at(x, di[ok], x[si[ok]] + (w[ok] if np.ndim(w) else w))
            else:
                # a walk divides per node: (x / deg)[s] is x[s] / deg[s] bit for bit
                sent = (x / deg)[si] if combine == "walk" else x[si] * w
                x = np.bincount(di, weights=sent, minlength=n)
                if post is not None:
                    x = np.broadcast_to(post(x, node, m), (n,)).astype(np.float64)
    if combine == "mode":
        return keys, keys.take(pa.array(x))
    return keys, pa.array(x, mask=x == top if combine == "min" else None)


def _mode_round(x: np.ndarray, got: np.ndarray, to: np.ndarray) -> np.ndarray:
    """One "mode" round on label codes: node `to[i]` received label
    `got[i]`; each receiver adopts its most frequent label, ties to the
    smallest."""
    if len(to) == 0:
        return x
    (to, got), count = np.unique(np.stack([to, got]), axis=1, return_counts=True)
    first = np.lexsort((got, -count, to))
    first = first[np.r_[True, to[first][1:] != to[first][:-1]]]
    x = x.copy()
    x[to[first]] = got[first]
    return x


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    restart=None,
) -> DataFrame:
    """PageRank over a directed edge list, fixed iteration count, on
    `propagate`'s "walk" combine. Simplified dangling treatment (their
    mass is dropped, the common relational variant). Returns
    (node, rank), rank rounded to 6 (9 after every round).

    Restart: uniform by default — start 1/N and jump (1 − d)/N. With
    `restart`, a predicate on the node key written with operators a
    Spark Column and a NumPy array share (e.g. `lambda v: v % 17 == 0`),
    the walk restarts into that seed set only (personalized PageRank):
    seeds start at 1/|seeds| and jump (1 − d)·(1/|seeds|), the rest start
    and jump at 0. Each form keeps the arithmetic of its SQL twin."""
    start, post = _pagerank_maps(damping, restart)
    ranks = propagate(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")),
        start, "walk", post, iters=iterations,
    )
    return ranks.select("node", F.round("x", 6).alias("rank"))


def _pagerank_maps(damping: float, restart):
    """PageRank's start vector and post-map for `propagate`."""

    def tele(node, m):
        if restart is None:
            return 1.0 / m.total(1.0)
        seed = restart(node)
        return m.where(seed, 1.0 / m.total(m.where(seed, 1.0, 0.0)), 0.0)

    def post(inflow, node, m):
        if restart is None:
            jump = (1.0 - damping) / m.total(1.0)
        else:
            jump = (1.0 - damping) * tele(node, m)
        return m.round(jump + damping * inflow, 9)

    return (lambda node, m: m.round(tele(node, m), 9)), post


def undirected_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Canonical undirected edge set: (u, v) with u < v, distinct."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


_TRI_BITSET_MAX_NODES = 16384  # 2 KB bitmap/node, <= 32 MB broadcast


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, n_tri) — number of triangles each node participates in.

    Two regimes behind a bounded dispatch probe (the q_setsim_join
    design language):

    * node domain <= _TRI_BITSET_MAX_NODES: BITSET kernel — adjacency
      bitmaps (n/8 bytes per node) build distributed, broadcast as one
      <= 32 MB matrix, and every edge's common-neighbor count is one
      vectorized AND+popcount over the batch (numpy).  n_tri(x) =
      Σ_{(x,y)∈E} |N(x)∩N(y)| / 2.  Work is O(m·n/64) WORD ops and the
      shuffle carries one row per edge — on the dense bench graph
      (1.5k nodes, 789k edges, ~1.7e9 wedges) this replaces a
      ~2e8-row wedge/corner stream with a ~40 ms popcount pass.
    * above the cap: relational enumeration with DEGREE ORIENTATION —
      orient each edge from its lower-(degree, id) endpoint; every
      triangle has exactly one apex with two out-edges, so counts are
      identical and the wedge frame is Σ outdeg² (bounded by
      arboricity: outdeg = O(√m)) instead of Σ deg².  This is the
      any-scale path: equi-joins on node keys only.

    Counts are invariant to the strategy (equivalence-tested), so the
    DuckDB oracle is unaffected by dispatch.
    """
    und = undirected_edges(edges, src, dst)
    # bounded probe: at most cap + 1 distinct nodes, one job
    nodes = small_side(
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .distinct(),
        _TRI_BITSET_MAX_NODES,
    )
    if nodes is not None:
        return _triangle_counts_bitset(und, sorted(nodes.column("n").to_pylist()))
    return _triangle_counts_oriented(und)


def _triangle_counts_bitset(und: DataFrame, ids: list) -> DataFrame:
    """Dense/bounded-domain fast path: broadcast adjacency bitmaps,
    one AND+popcount per edge.  ids = the full sorted node domain
    (<= _TRI_BITSET_MAX_NODES by dispatch)."""
    spark = und.sparkSession
    n = len(ids)
    if n == 0:
        return spark.createDataFrame([], "node long, n_tri long")
    n_bytes = (n + 7) // 8
    idx_df = F.broadcast(
        spark.createDataFrame(
            [(int(v), i) for i, v in enumerate(ids)], "node long, idx int"
        )
    )
    ei = (
        und.join(idx_df.select(F.col("node").alias("u"),
                               F.col("idx").alias("ui")), "u")
        .join(idx_df.select(F.col("node").alias("v"),
                            F.col("idx").alias("vi")), "v")
        .select("ui", "vi")
    )
    sym = ei.unionAll(ei.select(F.col("vi").alias("ui"),
                                F.col("ui").alias("vi")))
    adj = sym.groupBy("ui").agg(F.collect_list("vi").alias("nbrs"))

    def pack(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for ui, nbrs in zip(pdf["ui"], pdf["nbrs"]):
                bm = np.zeros(n_bytes, dtype=np.uint8)
                a = np.asarray(nbrs, dtype=np.int64)
                np.bitwise_or.at(bm, a // 8,
                                 (1 << (a % 8)).astype(np.uint8))
                rows.append((int(ui), bm.tobytes()))
            yield pd.DataFrame(rows, columns=["ui", "bm"])

    # bitmap table: <= cap rows x n/8 bytes — bounded by dispatch
    bm_rows = adj.mapInPandas(pack, "ui int, bm binary").collect()
    bms = np.zeros((n, n_bytes), dtype=np.uint8)
    for r in bm_rows:
        bms[r.ui] = np.frombuffer(r.bm, dtype=np.uint8)
    bc = spark.sparkContext.broadcast(bms)
    pop = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None],
                        axis=1).sum(axis=1).astype(np.int64)
    bc_pop = spark.sparkContext.broadcast(pop)

    def common(batches):
        import pandas as pd

        B = bc.value
        P = bc_pop.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            u = pdf["ui"].to_numpy()
            v = pdf["vi"].to_numpy()
            inter = np.bitwise_and(B[u], B[v])
            c = P[inter].sum(axis=1)
            yield pd.DataFrame({"ui": u, "vi": v, "c": c})

    ec = ei.mapInPandas(common, "ui int, vi int, c long")
    corners = ec.select(F.col("ui").alias("i"), "c").unionAll(
        ec.select(F.col("vi").alias("i"), "c")
    )
    per_idx = (
        corners.groupBy("i")
        .agg((F.sum("c") / 2).cast("long").alias("n_tri"))
        .filter(F.col("n_tri") > 0)
    )
    return per_idx.join(
        idx_df.select(F.col("idx").alias("i"), "node"), "i"
    ).select("node", "n_tri")


def _triangle_counts_oriented(und: DataFrame) -> DataFrame:
    """Any-scale relational path: degree-oriented wedge enumeration."""
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = truncate(
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(lo_first, F.col("dv")).otherwise(F.col("du")).alias(
                "db"
            ),
        )
    )
    e1 = oriented.select("a", "b", "db")
    e2 = oriented.select(
        F.col("a").alias("a2"), F.col("b").alias("c"),
        F.col("db").alias("dc"),
    )
    wedge_order = (F.col("db") < F.col("dc")) | (
        (F.col("db") == F.col("dc")) & (F.col("b") < F.col("c"))
    )
    wedges = e1.join(e2, F.col("a") == F.col("a2")).filter(wedge_order)
    closing = oriented.select(
        F.col("a").alias("b"), F.col("b").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"], "leftsemi")
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007, public algorithm), made DETERMINISTIC: each round every node
    adopts the most frequent label among its neighbors (the `dst` of its
    edges), ties broken by smallest label (the textbook random tie-break
    would not be reproducible across partitionings, let alone engines).

    Returns (node, label) after `iterations` rounds of `propagate`'s
    "mode" combine; labels start as the node's own id."""
    labels = propagate(
        edges.select(F.col(dst).alias("src"), F.col(src).alias("dst")),
        lambda node, m: node, "mode", iters=iterations,
    )
    return labels.select("node", F.col("x").alias("label"))
