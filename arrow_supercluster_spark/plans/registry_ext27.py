"""Round-2 registry additions, batch 22 — community detection, hybrid
retrieval fusion, robust outliers:

- q_label_prop: deterministic synchronous label-propagation communities
  over the user co-occurrence graph (oracle: 3 unrolled CTE rounds —
  the PageRank differential pattern);
- q_rrf_fusion: reciprocal-rank fusion of two retrieval rankings (BM25
  and normalized term frequency) — the hybrid-search combiner;
- q_mad_outliers: median-absolute-deviation robust z-scores per event
  type (Iglewicz-Hoaglin modified z) — the outlier gate that survives
  the heavy tails that break q_zscore_outliers' mean/std.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from arrow_supercluster_spark.operators import graph, relevance
from arrow_supercluster_spark.operators.dedup import tokenize
from arrow_supercluster_spark.plans.registry_core import register
from arrow_supercluster_spark.plans.registry_ext import SQL_TOKS, _docs
from arrow_supercluster_spark.sources.tables import read_events

# ===========================================================================
# Label propagation
# ===========================================================================

_LP_ITERS = 3

_SQL_LP_EDGES = """
    edges AS (
      SELECT DISTINCT a.user_id AS src, b.user_id AS dst
      FROM events a JOIN events b
        ON a.event_type = b.event_type
       AND date_trunc('hour', a.ts) = date_trunc('hour', b.ts)
       AND a.user_id <> b.user_id
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    l0 AS (SELECT node, node AS label FROM nodes)
"""


def _sql_lp_iter(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
      SELECT n.node, coalesce(p.new_label, o.label) AS label
      FROM nodes n
      LEFT JOIN (
        SELECT src AS node, label AS new_label FROM (
          SELECT e.src, r.label, COUNT(*) AS c,
                 ROW_NUMBER() OVER (
                   PARTITION BY e.src
                   ORDER BY COUNT(*) DESC, r.label
                 ) AS rn
          FROM edges e JOIN {prev} r ON r.node = e.dst
          GROUP BY e.src, r.label
        ) WHERE rn = 1
      ) p ON p.node = n.node
      LEFT JOIN {prev} o ON o.node = n.node
    )"""


_LP_SQL = (
    "WITH "
    + _SQL_LP_EDGES
    + ","
    + ",".join(_sql_lp_iter(f"l{i}", f"l{i + 1}") for i in range(_LP_ITERS))
    + f" SELECT node, label FROM l{_LP_ITERS}"
)


@register("q_label_prop", _LP_SQL)
def q_label_prop(spark, sf_dir):
    """Graph family — label-propagation communities over the user
    co-occurrence graph (same event type, same hour — the q_pagerank
    edge set), 3 synchronous rounds, DETERMINISTIC tie-break (count
    desc, label asc; the textbook random tie-break is not reproducible).
    Per round: one edge-keyed join + one (src,label) agg + one
    degree-bounded window; labels stay |nodes|-sized; localCheckpoint
    keeps lineage O(1). Oracle unrolls the same three rounds as chained
    CTEs — the whole adoption algebra is differentially checked."""
    edges = graph.cooccurrence_edges(read_events(spark, sf_dir))
    return graph.label_propagation(edges, iterations=_LP_ITERS)


# ===========================================================================
# Reciprocal-rank fusion
# ===========================================================================

_RRF_TERMS = ["spark", "hash", "vector"]
_RRF_DEPTH = 50  # per-ranking candidate depth
_RRF_K = 60      # the standard RRF constant
_RRF_OUT = 20

_SQL_TF_RANK = f"""
    SELECT doc_id,
           round(SUM(tf) * 1.0 / ANY_VALUE(dl), 6) AS score
    FROM (
      SELECT doc_id, dl, tok, COUNT(*) AS tf
      FROM (
        SELECT doc_id, len({SQL_TOKS}) AS dl, unnest({SQL_TOKS}) AS tok
        FROM documents
      )
      WHERE tok IN ({", ".join(f"'{t}'" for t in _RRF_TERMS)})
      GROUP BY 1, 2, 3
    )
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT {_RRF_DEPTH}
"""


@register(
    "q_rrf_fusion",
    f"""
    WITH a AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank_a
      FROM ({relevance.sql_bm25_topk(_RRF_TERMS, _RRF_DEPTH, SQL_TOKS)})
    ),
    b AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank_b
      FROM ({_SQL_TF_RANK})
    )
    SELECT doc_id, rank_a, rank_b, rrf FROM (
      SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
             rank_a, rank_b,
             round(coalesce(1.0 / ({_RRF_K} + rank_a), 0.0)
                   + coalesce(1.0 / ({_RRF_K} + rank_b), 0.0), 9) AS rrf
      FROM a FULL OUTER JOIN b USING (doc_id)
    )
    ORDER BY rrf DESC, doc_id
    LIMIT {_RRF_OUT}
    """,
)
def q_rrf_fusion(spark, sf_dir):
    """Retrieval — reciprocal-rank fusion (Cormack et al. 2009, the
    standard hybrid-search combiner): fuse the BM25 ranking with a
    normalized-term-frequency ranking for the same query, score =
    Σ 1/(60 + rank). Both candidate lists are top-50 (TakeOrdered — no
    full-corpus sort), so the fusion join runs on 50-row inputs; ranks
    are computed over rounded scores, making every rank — and therefore
    the fused order — engine-exact. The full-outer-join handles docs
    present in only one list (the whole point of fusion)."""
    docs = _docs(spark, sf_dir)
    bm25 = relevance.bm25_topk(docs, _RRF_TERMS, k=_RRF_DEPTH)
    a = bm25.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), "doc_id"))
        .alias("rank_a"),
    )
    toks = tokenize(F.col("text"))
    tf = (
        docs.select("doc_id", F.size(toks).alias("dl"), F.explode(toks).alias("tok"))
        .filter(F.col("tok").isin(_RRF_TERMS))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.count(F.lit(1)) * F.lit(1.0) / F.first("dl"), 6
            ).alias("score")
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_RRF_DEPTH)
    )
    b = tf.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), "doc_id"))
        .alias("rank_b"),
    )
    fused = a.join(b, "doc_id", "full_outer").select(
        "doc_id",
        "rank_a",
        "rank_b",
        F.round(
            F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("rank_b")), F.lit(0.0)),
            9,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(_RRF_OUT)


# ===========================================================================
# MAD robust outliers
# ===========================================================================

_MAD_CUT = 3.5  # Iglewicz-Hoaglin recommended threshold


@register(
    "q_mad_outliers",
    f"""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS m
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    mad AS (
      SELECT e.event_type, ANY_VALUE(m) AS m,
             quantile_cont(abs(e.value - m), 0.5) AS mad
      FROM events e JOIN med USING (event_type)
      WHERE e.value IS NOT NULL
      GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           round(0.6745 * (e.value - m) / mad, 6) AS robust_z
    FROM events e JOIN mad USING (event_type)
    WHERE e.value IS NOT NULL AND mad > 0
      AND abs(round(0.6745 * (e.value - m) / mad, 6)) > {_MAD_CUT}
    """,
)
def q_mad_outliers(spark, sf_dir):
    """Profiling — robust outlier flags via the modified z-score
    (Iglewicz-Hoaglin 1993): 0.6745·(x − median)/MAD, |z| > 3.5. Median
    and MAD need two passes (MAD is the median of deviations FROM the
    median), each a |event_types|-row agg broadcast back — the fact
    table scans twice, shuffles never. The mean/std z-score
    (q_zscore_outliers) breaks down under heavy tails because the
    outliers inflate its own std; MAD has a 50% breakdown point."""
    ev = read_events(spark, sf_dir).filter(F.col("value").isNotNull())
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("m")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("m").alias("m"),
            F.expr("percentile(abs(value - m), 0.5)").alias("mad"),
        )
    )
    z = F.round(0.6745 * (F.col("value") - F.col("m")) / F.col("mad"), 6)
    return (
        ev.join(F.broadcast(mad), "event_type")
        .filter(F.col("mad") > 0)
        .select("event_id", "event_type", "value", z.alias("robust_z"))
        .filter(F.abs(F.col("robust_z")) > _MAD_CUT)
    )
