"""Round-8 registry additions, batch 212 — graph-structure completions
on the embedding kNN graphs (the three classical metrics the family
still lacked beside pagerank/HITS/Katz/k-core/assortativity):

- q_eigenvector_centrality: the principal-eigenvector prestige score on
  the mutual 5-NN graph — x ← Ax/‖Ax‖₂ for 12 power iterations from
  x⁰ = 1 (the un-damped counterpart of Katz/pagerank: prestige flows
  ONLY through edges, no teleport/base term).  SQL twin unrolls the
  identical 12 iterations as generated CTEs with a scalar-norm CTE per
  step (the q_katz_centrality pattern).
- q_reciprocity: edge reciprocity of the DIRECTED exact 5-NN graph —
  the fraction of kNN edges whose reverse edge also exists.  Low
  reciprocity is the hubness signature read structurally (q_hubness
  reads it momentwise).
- q_transitivity: the global clustering coefficient of the mutual 5-NN
  graph — 3·triangles / wedges, wedges = Σ deg(deg−1)/2.  The
  one-number "is this graph locally clique-y" readout over the exact
  small-degree graph.

At 100 TB: the kNN edge build is the documented eval-only exact kernel
(BLAS top-k; LSH/IVF is the production path); everything above the
edges is degree-bounded — power iterations are 12 edge-keyed join+aggs,
reciprocity one self-join on ≤ k·n edges, triangles two edge-keyed
joins on a ≤ k·n/2-edge graph.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arrow_supercluster_spark.operators import graph
from arrow_supercluster_spark.plans.registry_core import register
from arrow_supercluster_spark.plans.registry_ext import _emb
from arrow_supercluster_spark.plans.registry_ext158 import mutual_knn_edges

_EC_ITERS = 12
_EC_K = 5

# the q_katz_centrality graph construction verbatim (round-6 cosine,
# (cos DESC, dst) rank, k=5, mutual closure)
_SQL_GRAPH = f"""
    e AS MATERIALIZED (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    scored AS MATERIALIZED (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             round(list_inner_product(a.v, b.v)
                   / (sqrt(list_inner_product(a.v, a.v))
                      * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ),
    knn AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT src, dst, ROW_NUMBER() OVER (
          PARTITION BY src ORDER BY cos DESC, dst) AS rk
        FROM scored
      ) WHERE rk <= {_EC_K}
    ),
    mut AS MATERIALIZED (
      SELECT k1.src, k1.dst
      FROM knn k1 JOIN knn k2 ON k1.src = k2.dst AND k1.dst = k2.src
    ),
    nodes AS MATERIALIZED (SELECT vec_id AS id FROM e)"""


def _ec_iter_ctes(iters: int) -> str:
    out = []
    for t in range(1, iters + 1):
        out.append(f""",
    y{t} AS MATERIALIZED (
      SELECT n.id, COALESCE(SUM(p.x), 0.0) AS y
      FROM nodes n
      LEFT JOIN mut m ON m.src = n.id
      LEFT JOIN x{t - 1} p ON p.id = m.dst
      GROUP BY n.id
    ),
    nrm{t} AS MATERIALIZED (
      SELECT sqrt(SUM(y * y)) AS s FROM y{t}
    ),
    x{t} AS MATERIALIZED (
      SELECT y{t}.id,
             CASE WHEN nrm{t}.s > 0 THEN y{t}.y / nrm{t}.s ELSE 0.0 END AS x
      FROM y{t} CROSS JOIN nrm{t}
    )""")
    return "".join(out)


@register(
    "q_eigenvector_centrality",
    f"""
    WITH {_SQL_GRAPH},
    x0 AS (SELECT id, 1.0 AS x FROM nodes){_ec_iter_ctes(_EC_ITERS)}
    SELECT id AS vec_id, round(x, 6) AS eigencentrality
    FROM x{_EC_ITERS} ORDER BY vec_id
    """,
)
def q_eigenvector_centrality(spark, sf_dir):
    """R629 — eigenvector centrality on the mutual {k}-NN graph:
    x⁰ = 1, xᵗ⁺¹ = Axᵗ/‖Axᵗ‖₂ for {it} iterations — the un-damped
    prestige score (Katz without the +1 base, pagerank without the
    budget).  Isolated nodes stay exactly 0.  Each iteration is one
    graph.propagate "sum" round whose post-map divides by the norm
    (`m.total`); the SQL twin unrolls the identical {it} steps (q_katz
    pattern).""".format(
        k=_EC_K, it=_EC_ITERS
    )
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )

    def normalized(s, node, m):
        nrm = m.sqrt(m.total(s * s))
        return m.where(nrm > 0, s / nrm, 0.0)

    x = graph.propagate(
        mutual_knn_edges(emb, _EC_K), lambda node, m: 1.0, "sum", normalized,
        iters=_EC_ITERS, nodes=emb.select(F.col("vec_id").alias("node")),
    )
    return x.select(
        F.col("node").alias("vec_id"), F.round("x", 6).alias("eigencentrality")
    ).orderBy("vec_id")


@register(
    "q_reciprocity",
    f"""
    WITH {_SQL_GRAPH},
    rec AS (
      SELECT k1.src, k1.dst,
             CASE WHEN k2.src IS NOT NULL THEN 1 ELSE 0 END AS mutual
      FROM knn k1
      LEFT JOIN knn k2 ON k2.src = k1.dst AND k2.dst = k1.src
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(mutual) AS BIGINT) AS n_mutual,
           round(SUM(mutual) * 1.0 / COUNT(*), 6) AS reciprocity
    FROM rec
    """,
)
def q_reciprocity(spark, sf_dir):
    """R630 — reciprocity of the directed exact {k}-NN graph: the
    fraction of (src→dst) kNN edges whose reverse also exists.  Hubs
    absorb many edges they don't return, so falling reciprocity is the
    structural face of the q_hubness skew.  One self-join on ≤ k·n
    edge rows above the shared kNN build.""".format(k=_EC_K)
    from arrow_supercluster_spark.operators.similarity import (
        knn_edges_exact,
    )

    emb = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    knn = knn_edges_exact(emb, _EC_K)
    rev = knn.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        F.lit(1).alias("m"),
    )
    rec = knn.join(rev, ["src", "dst"], "left").select(
        F.coalesce(F.col("m"), F.lit(0)).alias("mutual")
    )
    return rec.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum("mutual").cast("long").alias("n_mutual"),
        F.round(F.sum("mutual") * 1.0 / F.count(F.lit(1)), 6).alias(
            "reciprocity"
        ),
    )


@register(
    "q_transitivity",
    f"""
    WITH {_SQL_GRAPH},
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
      FROM mut
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM und UNION ALL SELECT v FROM und
      ) GROUP BY node
    ),
    tri AS (
      SELECT COUNT(*) AS t
      FROM und e1
      JOIN und e2 ON e2.u = e1.v
      JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    wed AS (SELECT SUM(d * (d - 1) / 2) AS w FROM deg)
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_edges,
           CAST(tri.t AS BIGINT) AS n_triangles,
           CAST(wed.w AS BIGINT) AS n_wedges,
           round(CASE WHEN wed.w > 0
                 THEN 3.0 * tri.t / wed.w ELSE 0.0 END, 6) AS transitivity
    FROM tri CROSS JOIN wed
    """,
)
def q_transitivity(spark, sf_dir):
    """R631 — global clustering coefficient (transitivity) of the
    mutual {k}-NN graph: 3·triangles / wedges with wedges =
    Σ deg(deg−1)/2 over nodes with ≥1 edge.  Triangles enumerate by the
    oriented two-join (u<v edges, e1.v=e2.u, closing edge) — with
    degree ≤ {k} the join fan-out is degree-bounded, never n².""".format(
        k=_EC_K
    )
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    mut = mutual_knn_edges(emb, _EC_K)
    und = (
        mut.select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
        .persist()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u"))
            & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    wed = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("w")
    )
    counts = deg.agg(F.count(F.lit(1)).alias("n_nodes")).crossJoin(
        und.agg(F.count(F.lit(1)).alias("n_edges"))
    )
    out = (
        counts.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wed))
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("t").cast("long").alias("n_triangles"),
            F.col("w").cast("long").alias("n_wedges"),
            F.round(
                F.when(
                    F.col("w") > 0, 3.0 * F.col("t") / F.col("w")
                ).otherwise(0.0),
                6,
            ).alias("transitivity"),
        )
    )
    out = out.localCheckpoint()
    und.unpersist()
    return out
