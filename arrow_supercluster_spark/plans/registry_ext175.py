"""Round-7 registry additions, batch 170 — graph-analytics completions
(the q_pagerank / q_hits / q_katz_centrality family):

- q_personalized_pagerank: PageRank with RESTART into a deterministic
  seed set (user_id mod 17 = 0) — the recommendation/trust primitive
  ("rank everything from THESE nodes' point of view"). Same
  graph.pagerank as q_pagerank with a restart predicate, oracle =
  the identical 3 rounds unrolled as generated CTEs, ranks re-rounded
  to 9 each round so summation order cannot compound.
- q_knn_reciprocity: edge reciprocity of the DIRECTED exact 5-NN
  embedding graph — the fraction of directed edges whose reverse also
  exists. The single number that says how symmetric a kNN graph is
  (and therefore how much the mutual-kNN pruning of q_kcore /
  q_katz_centrality throws away).
- q_two_hop: one- and two-hop neighborhood sizes per node on the
  MUTUAL 5-NN graph — friend-of-a-friend reach. Degrees are ≤ 5 by
  construction, so the two-hop join fans out ≤ 25 rows per node; the
  same join at 100 TB stays bounded by k², which is WHY kNN graphs
  are the scalable social-reach substrate.

At 100 TB: PPR is k bounded edge-joins (below the driver-tail cap, one
bounded edge fetch); reciprocity is one self-join on reversed keys;
two-hop is one bounded two-step join. The kNN edge
builds are the documented eval-only exact kernels — the production
graph constructor is knn_edges_lsh.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arrow_supercluster_spark.operators import graph
from arrow_supercluster_spark.plans.registry_core import register
from arrow_supercluster_spark.plans.registry_ext import _emb
from arrow_supercluster_spark.plans.registry_ext158 import mutual_knn_edges
from arrow_supercluster_spark.sources.tables import read_events

_PPR_D = 0.85
_PPR_ITERS = 3
_PPR_SEED_MOD = 17
_TH_K = 5

# Shared kNN SQL fragment (the q_knn_accuracy / q_katz_centrality tie
# discipline: cosines round to 6dp BEFORE ranking, ties break by dst).
_SQL_KNN = f"""
    e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             round(list_inner_product(a.v, b.v)
                   / (sqrt(list_inner_product(a.v, a.v))
                      * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ),
    knn AS (
      SELECT src, dst FROM (
        SELECT src, dst, ROW_NUMBER() OVER (
          PARTITION BY src ORDER BY cos DESC, dst) AS rk
        FROM scored
      ) WHERE rk <= {_TH_K}
    )
"""


# ===========================================================================
# R507 — personalized PageRank
# ===========================================================================

def _ppr_iter_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
      SELECT nodes.node,
             round((CAST(1.0 AS DOUBLE) - CAST({_PPR_D} AS DOUBLE))
                   * CASE WHEN nodes.node % {_PPR_SEED_MOD} = 0
                          THEN CAST(1.0 AS DOUBLE) / sstat.ns
                          ELSE CAST(0.0 AS DOUBLE) END
                   + CAST({_PPR_D} AS DOUBLE) * coalesce(c.inflow, 0.0),
                   9) AS rank
      FROM nodes CROSS JOIN sstat
      LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank / d.deg) AS inflow
        FROM edges e JOIN deg d ON d.src = e.src
                     JOIN {prev} r ON r.node = e.src
        GROUP BY e.dst
      ) c USING (node)
    )"""


_PPR_SQL = (
    f"""
    WITH edges AS (
      SELECT DISTINCT a.user_id AS src, b.user_id AS dst
      FROM events a JOIN events b
        ON a.event_type = b.event_type
       AND date_trunc('hour', a.ts) = date_trunc('hour', b.ts)
       AND a.user_id <> b.user_id
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    sstat AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM nodes
      WHERE node % {_PPR_SEED_MOD} = 0
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (
      SELECT nodes.node,
             round(CASE WHEN nodes.node % {_PPR_SEED_MOD} = 0
                        THEN CAST(1.0 AS DOUBLE) / sstat.ns
                        ELSE CAST(0.0 AS DOUBLE) END, 9) AS rank
      FROM nodes CROSS JOIN sstat
    ),"""
    + ",".join(
        _ppr_iter_sql(f"r{i}", f"r{i + 1}") for i in range(_PPR_ITERS)
    )
    + f"""
    SELECT node, round(rank, 6) AS ppr FROM r{_PPR_ITERS}
    ORDER BY node
    """
)


@register("q_personalized_pagerank", _PPR_SQL)
def q_personalized_pagerank(spark, sf_dir):
    """R507 — personalized PageRank on the user co-occurrence graph:
    restart mass (1−d) returns to the deterministic seed set
    (node mod {m} = 0) instead of everywhere, so rank concentrates in
    the seeds' neighborhoods — the "browse from here" primitive
    behind people-you-may-know and trust propagation. {it} iterations
    at d = {d}, ranks re-rounded to 9 per round (the q_pagerank drift
    discipline), dangling mass dropped (same stated variant). Oracle:
    the identical rounds unrolled as generated CTEs. Runs on
    graph.pagerank with the seed set as its restart predicate, so it
    shares q_pagerank's driver tail below graph._DRIVER_EDGE_CAP edges
    and its relational rounds above.""".format(
        m=_PPR_SEED_MOD, it=_PPR_ITERS, d=_PPR_D
    )
    edges = graph.cooccurrence_edges(read_events(spark, sf_dir))
    ranks = graph.pagerank(
        edges, iterations=_PPR_ITERS, damping=_PPR_D,
        restart=lambda node: node % _PPR_SEED_MOD == 0,
    )
    return ranks.select("node", F.col("rank").alias("ppr")).orderBy("node")


# ===========================================================================
# R508 — directed kNN reciprocity
# ===========================================================================

@register(
    "q_knn_reciprocity",
    f"""
    WITH {_SQL_KNN}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(CASE WHEN EXISTS (
                 SELECT 1 FROM knn k2
                 WHERE k2.src = knn.dst AND k2.dst = knn.src)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_reciprocated,
           round(SUM(CASE WHEN EXISTS (
                 SELECT 1 FROM knn k2
                 WHERE k2.src = knn.dst AND k2.dst = knn.src)
               THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS reciprocity
    FROM knn
    """,
)
def q_knn_reciprocity(spark, sf_dir):
    """R508 — reciprocity of the directed exact {k}-NN embedding
    graph: the fraction of (src→dst) edges whose (dst→src) twin also
    exists. Quantifies how much the mutual-kNN pruning (q_kcore /
    q_katz_centrality graphs) keeps: reciprocity IS that retention
    rate. Plan: the kNN build (eval-only exact kernel), then one
    self-join on reversed keys counted with a left-semi.""".format(
        k=_TH_K
    )
    from arrow_supercluster_spark.operators.similarity import (
        knn_edges_exact,
    )

    emb = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    knn = knn_edges_exact(emb, _TH_K).persist()
    rev = knn.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    n_edges = knn.count()
    n_recip = knn.join(rev, ["src", "dst"], "left_semi").count()
    knn.unpersist()
    return spark.createDataFrame(
        [(n_edges, n_recip, round(n_recip / n_edges, 6))],
        "n_edges long, n_reciprocated long, reciprocity double",
    )


# ===========================================================================
# R509 — two-hop neighborhood reach (mutual graph)
# ===========================================================================

@register(
    "q_two_hop",
    f"""
    WITH {_SQL_KNN},
    mut AS (
      SELECT k1.src, k1.dst
      FROM knn k1 JOIN knn k2 ON k1.src = k2.dst AND k1.dst = k2.src
    ),
    reach AS (
      SELECT m1.src AS node, m2.dst AS hop2
      FROM mut m1 JOIN mut m2 ON m1.dst = m2.src
      WHERE m2.dst <> m1.src
      UNION
      SELECT src AS node, dst AS hop2 FROM mut
    ),
    one AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS n_1hop
      FROM mut GROUP BY src
    )
    SELECT one.node AS vec_id, one.n_1hop,
           CAST(COUNT(*) AS BIGINT) AS n_within_2hops
    FROM reach JOIN one ON one.node = reach.node
    GROUP BY one.node, one.n_1hop
    ORDER BY vec_id
    """,
)
def q_two_hop(spark, sf_dir):
    """R509 — friend-of-a-friend reach on the mutual {k}-NN graph:
    per node, the direct-neighbor count and the distinct nodes within
    two hops (union of 1- and 2-hop, self excluded). Degree ≤ {k} by
    construction bounds the 2-hop join fan-out at k² rows per node —
    the property that keeps social-reach queries shuffle-bounded at
    any corpus size. Nodes with no mutual edge emit no row (stated;
    matches the SQL twin's join semantics).""".format(k=_TH_K)
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    mut = mutual_knn_edges(emb, _TH_K).persist()
    m1 = mut.select(F.col("src").alias("node"), F.col("dst").alias("mid"))
    m2 = mut.select(F.col("src").alias("mid"), F.col("dst").alias("hop2"))
    two = (
        m1.join(m2, "mid")
        .filter(F.col("hop2") != F.col("node"))
        .select("node", "hop2")
    )
    reach = two.unionByName(
        mut.select(F.col("src").alias("node"), F.col("dst").alias("hop2"))
    ).distinct()
    one = mut.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("n_1hop")
    )
    out = (
        reach.join(one, "node")
        .groupBy("node", "n_1hop")
        .agg(F.count(F.lit(1)).alias("n_within_2hops"))
        .select(
            F.col("node").alias("vec_id"), "n_1hop", "n_within_2hops"
        )
        .orderBy("vec_id")
    )
    out = out.localCheckpoint()
    mut.unpersist()
    return out
