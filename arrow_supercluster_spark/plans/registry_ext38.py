"""Round-2 registry additions, batch 33 — link analysis, tail statistics,
and seasonality:

- q_hits: HITS hubs-and-authorities (Kleinberg 1999), 3 relational
  iterations with per-round L2 normalization — the directed companion
  of q_pagerank, oracle-unrolled;
- q_hill_tail_index: Hill estimator of the value distribution's
  heavy-tail exponent over the top-k order statistics;
- q_seasonality: hour-of-day × day-of-week activity profile with
  per-cell deviation from the hourly mean.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arrow_supercluster_spark.operators import graph
from arrow_supercluster_spark.plans.registry_core import register
from arrow_supercluster_spark.sources.tables import read_events

# ===========================================================================
# HITS
# ===========================================================================

_HITS_ITERS = 3

_SQL_HITS_EDGES = """
    edges AS (
      SELECT DISTINCT a.user_id AS src, b.user_id AS dst
      FROM events a JOIN events b
        ON a.event_type = b.event_type
       AND date_trunc('hour', a.ts) = date_trunc('hour', b.ts)
       AND a.user_id < b.user_id
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)
"""


def _sql_hits_iter(prev_h: str, prev_a: str, i: int) -> str:
    return f"""
    ra{i} AS (
      SELECT n.node, coalesce(SUM(h.score), 0.0) AS s
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN {prev_h} h ON h.node = e.src
      GROUP BY n.node
    ),
    na{i} AS (SELECT round(sqrt(SUM(s * s)), 9) AS nrm FROM ra{i}),
    a{i} AS (
      SELECT node, CASE WHEN nrm > 0 THEN round(s / nrm, 9) ELSE 0.0 END AS score
      FROM ra{i} CROSS JOIN na{i}
    ),
    rh{i} AS (
      SELECT n.node, coalesce(SUM(a.score), 0.0) AS s
      FROM nodes n
      LEFT JOIN edges e ON e.src = n.node
      LEFT JOIN a{i} a ON a.node = e.dst
      GROUP BY n.node
    ),
    nh{i} AS (SELECT round(sqrt(SUM(s * s)), 9) AS nrm FROM rh{i}),
    h{i} AS (
      SELECT node, CASE WHEN nrm > 0 THEN round(s / nrm, 9) ELSE 0.0 END AS score
      FROM rh{i} CROSS JOIN nh{i}
    )"""


_HITS_SQL = (
    "WITH "
    + _SQL_HITS_EDGES
    + """,
    h0 AS (SELECT node, 1.0 AS score FROM nodes),
    a0 AS (SELECT node, 1.0 AS score FROM nodes),"""
    + ",".join(
        _sql_hits_iter(f"h{i}", f"a{i}", i + 1) for i in range(_HITS_ITERS)
    )
    + f"""
    SELECT h.node, round(h.score, 6) AS hub, round(a.score, 6) AS authority
    FROM h{_HITS_ITERS} h JOIN a{_HITS_ITERS} a ON a.node = h.node
    """
)


@register("q_hits", _HITS_SQL)
def q_hits(spark, sf_dir):
    """Graph family — HITS hubs & authorities over the DIRECTED
    (low-id → high-id) co-occurrence graph, 3 iterations: authority =
    normalized in-link hub mass, hub = normalized out-link authority
    mass. Per half-round: one edge join + one node-keyed agg + a 1-row
    L2 norm — the PageRank loop with two interleaved score vectors.
    Scores re-round to 9 per half-round (summation-order discipline);
    the oracle unrolls all six half-rounds as CTEs."""
    from arrow_supercluster_spark.functions.checkpoint import truncate

    # r10: edges and nodes materialized once — the six half-rounds each
    # re-joined `nodes`, whose unmaterialized distinct re-ran the
    # co-occurrence self-join per half-round.
    edges = truncate(
        graph.cooccurrence_edges(read_events(spark, sf_dir)).filter(F.col("src") < F.col("dst"))
    )
    nodes = truncate(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    hub = nodes.withColumn("score", F.lit(1.0))
    auth = nodes.withColumn("score", F.lit(1.0))

    def _normalize(scored):
        nrm = scored.agg(
            F.round(F.sqrt(F.sum(F.col("s") * F.col("s"))), 9).alias("nrm")
        )
        return scored.crossJoin(F.broadcast(nrm)).select(
            "node",
            F.when(F.col("nrm") > 0, F.round(F.col("s") / F.col("nrm"), 9))
            .otherwise(F.lit(0.0))
            .alias("score"),
        )

    for _ in range(_HITS_ITERS):
        ra = (
            nodes.join(edges, edges.dst == nodes.node, "left")
            .join(
                hub.select(F.col("node").alias("hn"), F.col("score").alias("hs")),
                F.col("src") == F.col("hn"),
                "left",
            )
            .groupBy(nodes.node)
            .agg(F.coalesce(F.sum("hs"), F.lit(0.0)).alias("s"))
        )
        auth = _normalize(ra).localCheckpoint(eager=False)
        rh = (
            nodes.join(edges, edges.src == nodes.node, "left")
            .join(
                auth.select(F.col("node").alias("an"), F.col("score").alias("as_")),
                F.col("dst") == F.col("an"),
                "left",
            )
            .groupBy(nodes.node)
            .agg(F.coalesce(F.sum("as_"), F.lit(0.0)).alias("s"))
        )
        hub = _normalize(rh).localCheckpoint(eager=False)
    return (
        hub.select("node", F.round("score", 6).alias("hub"))
        .join(
            auth.select(F.col("node").alias("n2"), F.round("score", 6).alias("authority")),
            F.col("node") == F.col("n2"),
        )
        .select("node", "hub", "authority")
    )


# ===========================================================================
# Hill tail-index estimator
# ===========================================================================

_HILL_K = 200


@register(
    "q_hill_tail_index",
    f"""
    WITH ranked AS (
      SELECT value,
             ROW_NUMBER() OVER (ORDER BY value DESC, event_id) AS rk
      FROM events WHERE value IS NOT NULL AND value > 0
    ),
    xk AS (SELECT value AS x_k FROM ranked WHERE rk = {_HILL_K + 1}),
    top AS (SELECT value FROM ranked WHERE rk <= {_HILL_K})
    SELECT {_HILL_K} AS k,
           round(AVG(ln(value / x_k)), 6) AS mean_log_excess,
           round(1.0 / AVG(ln(value / x_k)), 6) AS alpha
    FROM top CROSS JOIN xk
    """,
)
def q_hill_tail_index(spark, sf_dir):
    """Tail statistics — Hill estimator of the heavy-tail exponent:
    α̂ = [ (1/k) Σ ln(x₍ᵢ₎ / x₍ₖ₊₁₎) ]⁻¹ over the top-k order
    statistics — the quantitative form of 'how heavy is this value
    distribution's tail' (α ≤ 2 ⇒ infinite variance ⇒ mean/std
    screens like q_zscore_outliers are meaningless; cf. q_mad_outliers).
    The top-(k+1) rows come from a TakeOrdered (per-partition partial
    top-k, no full sort); the estimate is one agg over k rows."""
    ev = read_events(spark, sf_dir).filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    top = (
        ev.select("value", "event_id")
        .orderBy(F.col("value").desc(), "event_id")
        .limit(_HILL_K + 1)
    )
    from pyspark.sql import Window

    ranked = top.select(
        "value",
        F.row_number()
        .over(Window.orderBy(F.col("value").desc(), "event_id"))
        .alias("rk"),
    )
    xk = ranked.filter(F.col("rk") == _HILL_K + 1).select(
        F.col("value").alias("x_k")
    )
    mean_log = F.avg(F.log(F.col("value") / F.col("x_k")))
    return (
        ranked.filter(F.col("rk") <= _HILL_K)
        .crossJoin(F.broadcast(xk))
        .agg(
            F.lit(_HILL_K).alias("k"),
            F.round(mean_log, 6).alias("mean_log_excess"),
            F.round(1.0 / mean_log, 6).alias("alpha"),
        )
    )


# ===========================================================================
# Seasonality profile
# ===========================================================================

@register(
    "q_seasonality",
    """
    WITH cell AS (
      SELECT CAST(strftime(ts, '%w') AS INTEGER) AS dow,
             CAST(strftime(ts, '%H') AS INTEGER) AS hod,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    m AS (SELECT AVG(n) AS mean_n FROM cell)
    SELECT dow, hod, n,
           round(n / mean_n, 6) AS load_ratio
    FROM cell CROSS JOIN m
    """,
)
def q_seasonality(spark, sf_dir):
    """Ops analytics — seasonality profile: event counts per (day-of-
    week × hour-of-day) cell with the load ratio vs the grid mean — the
    capacity-planning heatmap. One partial agg onto ≤168 cells; the
    mean is a 1-row broadcast. Day-of-week uses the 0=Sunday convention
    on both engines (Spark 'e'→dayofweek()-1 mapped to match
    strftime('%w'))."""
    ev = read_events(spark, sf_dir)
    cell = ev.groupBy(
        (F.dayofweek("ts") - 1).alias("dow"),  # Spark: 1=Sunday → 0=Sunday
        F.hour("ts").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("n"))
    m = cell.agg(F.avg("n").alias("mean_n"))
    return cell.crossJoin(F.broadcast(m)).select(
        "dow", "hod", "n",
        F.round(F.col("n") / F.col("mean_n"), 6).alias("load_ratio"),
    )
