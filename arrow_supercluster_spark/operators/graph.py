"""Graph operators beyond connected components (dedup.py): PageRank,
the user co-occurrence edge set, triangles, label propagation.

Public algorithm (Brin & Page 1998), expressed relationally: rank
iteration = one join + one aggregate per round, driver-controlled like
the zoom recursion (SURVEY §3.1) and the components loop (dedup.py).

Scale shape (100 TB of edges):
- the edge list is materialized once, then gated by one bounded
  `small_side` fetch: at most `_DRIVER_EDGE_CAP` edges run every round
  on the driver in NumPy (two `bincount`s per round) and come back as
  one createDataFrame — the radius hierarchy's tail, for the same
  reason: at that size a round costs its Spark jobs, not its data;
- above the cap, edges shuffle ONCE per iteration keyed by destination;
  ranks are |nodes| rows (small side → broadcastable when nodes ≪
  edges), and per-iteration results are localCheckpointed so the
  lineage stays O(1) instead of O(iterations) — the same discipline as
  the zoom loop;
- ranks round to 9 decimals each iteration on both paths: double
  summation order is partition-dependent, and without re-rounding the
  drift compounds across iterations (the cross-engine parity rationale
  of plans/registry.py's float discipline).  The tail rounds with
  `blockpairs.round_half_up`, which reproduces Spark's F.round.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from arrow_supercluster_spark.functions.blockpairs import round_half_up
from arrow_supercluster_spark.functions.checkpoint import truncate
from arrow_supercluster_spark.functions.small_side import small_side

# Largest edge list whose iterations run on the driver. The sf0.1 user
# co-occurrence graph (1.58M edges) fits: q_pagerank there took 5.7 s on
# the tail against 6.8 s distributed (one run each, 4 local cores).
_DRIVER_EDGE_CAP = 2_000_000


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


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    restart=None,
) -> DataFrame:
    """PageRank over a directed edge list, fixed iteration count.
    Simplified dangling treatment (their mass is dropped, the common
    relational variant). Returns (node, rank), rank rounded to 6.

    Restart: uniform by default — start 1/N and jump (1 − d)/N. With
    `restart`, a predicate on the node key written with operators a
    Spark Column and a NumPy array share (e.g. `lambda v: v % 17 == 0`),
    the walk restarts into that seed set only (personalized PageRank):
    seeds start at 1/|seeds| and jump (1 − d)·(1/|seeds|), the rest start
    and jump at 0. Each form keeps the arithmetic of its SQL twin.

    r10: the edge list is materialized ONCE (eager truncate) — callers
    pass expensive lineages (the co-occurrence self-join), and the
    iteration loop re-ran that lineage per round per consumer. The
    driver-tail gate then reads the stored table, so an input above the
    cap pays one bounded `limit` job, not a second derivation."""
    edges = truncate(edges.select(F.col(src).alias(src), F.col(dst).alias(dst)))
    local = small_side(edges, _DRIVER_EDGE_CAP)
    if local is not None:
        node, rank = _pagerank_np(local, iterations, damping, restart)
        schema = StructType([
            StructField("node", edges.schema[src].dataType),
            StructField("rank", DoubleType()),
        ])
        ranks = edges.sparkSession.createDataFrame(
            pa.table({"node": node, "rank": rank}), schema
        )
        return ranks.select("node", F.round("rank", 6).alias("rank"))
    return _pagerank_distributed(edges, src, dst, iterations, damping, restart)


def _pagerank_np(
    edges: pa.Table, iterations: int, damping: float, restart=None
) -> tuple[pa.Array, np.ndarray]:
    """Every round of `pagerank` on a collected (src, dst) edge table:
    (node keys in their Arrow type, 9-decimal ranks before the final
    round to 6). Same sums as the distributed round — the inflow of a
    node is Σ rank[src] / deg[src] over its in-edges, then
    round(jump + d · inflow, 9) — with the summation order of the edge
    table instead of the shuffle's."""
    s, d = edges.column(0), edges.column(1)
    node = pc.unique(pa.chunked_array(s.chunks + d.chunks, type=s.type))
    si = pc.index_in(s, value_set=node).to_numpy()
    di = pc.index_in(d, value_set=node).to_numpy()
    n = len(node)
    if n == 0:
        return node, np.zeros(0)
    deg = np.bincount(si, minlength=n).astype(np.float64)
    if restart is None:
        tele = np.full(n, 1.0 / n)
        jump = (1.0 - damping) / n
    else:
        seed = np.asarray(restart(node.to_numpy(zero_copy_only=False)), dtype=bool)
        ns = float(seed.sum())
        tele = np.where(seed, 1.0 / ns if ns else 0.0, 0.0)
        jump = (1.0 - damping) * tele
    rank = round_half_up(tele, 9)
    for _ in range(iterations):
        inflow = np.bincount(di, weights=rank[si] / deg[si], minlength=n)
        rank = round_half_up(jump + damping * inflow, 9)
    return node, rank


def _pagerank_distributed(
    edges: DataFrame, src: str, dst: str, iterations: int, damping: float, restart=None
) -> DataFrame:
    """The relational rounds of `pagerank` over a materialized edge list."""
    nodes = truncate(
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        # empty graph (e.g. a co-occurrence window that matched nothing)
        # → empty rank table, not a ZeroDivisionError at plan build
        return nodes.select("node", F.lit(0.0).alias("rank")).limit(0)
    if restart is None:
        tele = F.lit(1.0 / n)
        jump = F.lit((1.0 - damping) / n)
    else:
        is_seed = restart(F.col("node"))
        ns = float(nodes.filter(is_seed).count())
        tele = F.when(is_seed, F.lit(1.0 / ns if ns else 0.0)).otherwise(F.lit(0.0))
        jump = (1.0 - damping) * tele
    deg = truncate(edges.groupBy(src).agg(F.count(F.lit(1)).alias("deg")))
    ranks = nodes.select("node", F.round(tele, 9).alias("rank"))
    for _ in range(iterations):
        contribs = (
            edges.join(deg, src)
            .join(ranks, F.col(src) == F.col("node"))
            .select(F.col(dst).alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                F.round(jump + damping * F.coalesce(F.col("inflow"), F.lit(0.0)), 9).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


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
    adopts the most frequent label among its neighbors, ties broken by
    smallest label (the textbook random tie-break would not be
    reproducible across partitionings, let alone engines).

    Returns (node, label) after `iterations` synchronous rounds; labels
    start as the node's own id. Per round: one join keyed on the edge
    destination + one (src, label) agg + one bounded per-src window
    (frame = the node's distinct neighbor labels, degree-bounded) —
    edges shuffle once per round, labels are |nodes|-sized.
    localCheckpoint per round keeps lineage O(1).
    """
    from pyspark.sql import Window

    # r10: materialize the caller's edge lineage once — each of the 3
    # rounds re-joined `e`, whose unmaterialized lineage (typically the
    # co-occurrence self-join) re-ran per round (8.9 s → ~3 s for
    # q_label_prop at sf0.1).
    e = truncate(edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst")))
    nodes = (
        e.select(F.col("e_src").alias("node"))
        .unionByName(e.select(F.col("e_dst").alias("node")))
        .distinct()
    )
    labels = nodes.withColumn("label", F.col("node"))
    w = Window.partitionBy("e_src").orderBy(F.col("c").desc(), F.col("label"))
    for _ in range(iterations):
        cnt = (
            e.join(labels, e.e_dst == labels.node)
            .groupBy("e_src", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        pick = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("e_src").alias("node"), F.col("label").alias("new_label"))
        )
        labels = (
            labels.join(pick, "node", "left")
            .select(
                "node", F.coalesce("new_label", F.col("label")).alias("label")
            )
            .localCheckpoint(eager=False)
        )
    return labels
