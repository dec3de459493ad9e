"""Round-2 registry additions, batch 32 — graph cohesion metrics and
embedding-label evaluation:

- q_clustering_coeff: per-node clustering coefficient (triangles over
  wedge count) — local cohesion, completing triangles→cohesion;
- q_degree_assortativity: degree-degree correlation across edges — the
  one-number mixing pattern (hubs-with-hubs vs hubs-with-leaves);
- q_knn_accuracy: 5-NN cosine majority-vote label prediction over the
  embeddings — the ANN stack's eval harness (exact kernel; the IVF/LSH
  paths are the scale route).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from arrow_supercluster_spark.operators import graph, similarity
from arrow_supercluster_spark.plans.registry_core import register
from arrow_supercluster_spark.sources.tables import read_events

_SQL_UND = """
    edges AS (
      SELECT DISTINCT a.user_id AS src, b.user_id AS dst
      FROM events a JOIN events b
        ON a.event_type = b.event_type
       AND date_trunc('hour', a.ts) = date_trunc('hour', b.ts)
       AND a.user_id <> b.user_id
    ),
    und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM edges
    )
"""


@register(
    "q_clustering_coeff",
    f"""
    WITH {_SQL_UND},
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM und UNION ALL SELECT v FROM und
      ) GROUP BY 1
    ),
    tri AS (
      SELECT node, COUNT(*) AS n_tri FROM (
        SELECT a AS node FROM (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM und e1 JOIN und e2 ON e2.u = e1.v
          WHERE EXISTS (SELECT 1 FROM und e3 WHERE e3.u = e1.u AND e3.v = e2.v)
        )
        UNION ALL SELECT b FROM (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM und e1 JOIN und e2 ON e2.u = e1.v
          WHERE EXISTS (SELECT 1 FROM und e3 WHERE e3.u = e1.u AND e3.v = e2.v)
        )
        UNION ALL SELECT c FROM (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM und e1 JOIN und e2 ON e2.u = e1.v
          WHERE EXISTS (SELECT 1 FROM und e3 WHERE e3.u = e1.u AND e3.v = e2.v)
        )
      ) GROUP BY node
    )
    SELECT d.node, d.deg, coalesce(t.n_tri, 0) AS n_tri,
           CASE WHEN d.deg >= 2
                THEN round(2.0 * coalesce(t.n_tri, 0)
                           / (d.deg * (d.deg - 1)), 6)
                ELSE 0.0 END AS cc
    FROM deg d LEFT JOIN tri t ON t.node = d.node
    """,
)
def q_clustering_coeff(spark, sf_dir):
    """Graph family — local clustering coefficient: cc(v) = 2·tri(v) /
    (deg(v)·(deg(v)−1)) on the undirected user co-occurrence graph —
    how clique-like each neighborhood is (the cohesion ratio on top of
    q_triangle_count's raw counts). Triangle enumeration is the same
    two-equi-join + closing-semi-join plan; degrees are one agg;
    the division is a |nodes|-row projection."""
    und = (
        graph.cooccurrence_edges(read_events(spark, sf_dir))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = graph.triangle_counts(
        und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    ).withColumnRenamed("n_tri", "n_tri")
    cc = F.when(
        F.col("deg") >= 2,
        F.round(
            2.0 * F.coalesce(F.col("n_tri"), F.lit(0))
            / (F.col("deg") * (F.col("deg") - 1)),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(tri, deg.node == tri.node, "left")
        .select(
            deg.node.alias("node"),
            "deg",
            F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
            cc.alias("cc"),
        )
    )


@register(
    "q_degree_assortativity",
    f"""
    WITH {_SQL_UND},
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM und UNION ALL SELECT v FROM und
      ) GROUP BY 1
    ),
    ends AS (
      SELECT du.deg AS dx, dv.deg AS dy
      FROM und JOIN deg du ON du.node = und.u JOIN deg dv ON dv.node = und.v
    ),
    sym AS (
      SELECT dx, dy FROM ends UNION ALL SELECT dy, dx FROM ends
    )
    SELECT COUNT(*) AS n_ends,
           round(corr(CAST(dx AS DOUBLE), CAST(dy AS DOUBLE)), 6) AS assortativity
    FROM sym
    """,
)
def q_degree_assortativity(spark, sf_dir):
    """Graph family — degree assortativity (Newman 2002): Pearson
    correlation of endpoint degrees over the symmetrized edge list —
    positive: hubs attach to hubs; negative: hub-and-spoke. One degree
    agg broadcast onto the edges, then a single correlation aggregate;
    rounded to 6 (moment summation order)."""
    und = (
        graph.cooccurrence_edges(read_events(spark, sf_dir))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dy"))
    ends = und.join(F.broadcast(du), "u").join(F.broadcast(dv), "v").select("dx", "dy")
    sym = ends.unionByName(
        ends.select(F.col("dy").alias("dx"), F.col("dx").alias("dy"))
    )
    return sym.agg(
        F.count(F.lit(1)).alias("n_ends"),
        F.round(
            F.corr(F.col("dx").cast("double"), F.col("dy").cast("double")), 6
        ).alias("assortativity"),
    )


# ===========================================================================
# k-NN label accuracy
# ===========================================================================

_KNN_K = 5


@register(
    "q_knn_accuracy",
    f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    scored AS (
      SELECT a.vec_id, a.label AS true_label, b.label AS nb_label, b.vec_id AS b_id,
             round(list_inner_product(a.v, b.v)
                   / (sqrt(list_inner_product(a.v, a.v))
                      * sqrt(list_inner_product(b.v, b.v))), 6) AS cos
      FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ),
    topk AS (
      SELECT vec_id, true_label, nb_label FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY cos DESC, b_id) AS rk
        FROM scored
      ) WHERE rk <= {_KNN_K}
    ),
    votes AS (
      SELECT vec_id, true_label, nb_label, COUNT(*) AS c
      FROM topk GROUP BY 1, 2, 3
    )
    SELECT vec_id, true_label, pred_label,
           CAST(pred_label = true_label AS INTEGER) AS correct
    FROM (
      SELECT vec_id, true_label, nb_label AS pred_label,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY c DESC, nb_label) AS rk
      FROM votes
    ) WHERE rk = 1
    """,
)
def q_knn_accuracy(spark, sf_dir):
    """Embedding eval — 5-NN cosine majority-vote label prediction,
    leave-one-out over the embeddings table: the standard sanity
    harness for any ANN index (the exact kernel here; q_ann_ivf /
    q_cosine_topk_lsh are the scale routes and should reproduce these
    neighborhoods). Cosines round to 6 BEFORE ranking (tie discipline);
    majority ties break to the smaller label. The all-pairs scoring is
    the CHECKED form — at corpus scale the candidate set comes from the
    bucketed paths."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    labels = emb.select("vec_id", "label")
    # r7: the leave-one-out frame runs through the BLAS top-k kernel
    # (k+1 then self-exclusion + re-rank under the same (cos DESC, id)
    # rule) — identical neighborhoods up to round-6, ~50x the HOF join
    topk1 = similarity.cosine_topk_gemm(
        corpus=emb,
        queries=emb.select(F.col("vec_id").alias("q_id"), "embedding"),
        k=_KNN_K + 1,
    ).filter(F.col("vec_id") != F.col("q_id"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "vec_id")
    topk = (
        topk1.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KNN_K)
        .join(
            labels.select(
                F.col("vec_id").alias("q_id"),
                F.col("label").alias("true_label"),
            ),
            "q_id",
        )
        .join(
            labels.select("vec_id", F.col("label").alias("nb_label")),
            "vec_id",
        )
        .select(F.col("q_id").alias("a_id"), "true_label", "nb_label")
    )
    votes = topk.groupBy("a_id", "true_label", "nb_label").agg(
        F.count(F.lit(1)).alias("c")
    )
    wv = Window.partitionBy("a_id").orderBy(F.col("c").desc(), "nb_label")
    return (
        votes.withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select(
            F.col("a_id").alias("vec_id"),
            "true_label",
            F.col("nb_label").alias("pred_label"),
            (F.col("nb_label") == F.col("true_label")).cast("int").alias("correct"),
        )
    )
