"""Round-2 registry additions, batch 59 — chain equilibria and
concentration lookups:

- q_markov_stationary: the event-type Markov chain's distribution
  after 3 power steps from uniform (q_event_transitions' long-run
  counterpart, oracle-unrolled like PageRank);
- q_pareto_ratio: the smallest user fraction producing ≥80% of spend —
  the single-number concentration readout off the Lorenz curve.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from arrow_supercluster_spark.operators import graph
from arrow_supercluster_spark.plans.registry_core import register
from arrow_supercluster_spark.sources.tables import read_events

_MS_STEPS = 3

_SQL_TRANS = """
    pairs AS (
      SELECT user_id, event_type AS a,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS b
      FROM events
    ),
    trans AS (
      SELECT a, b, COUNT(*) AS c FROM pairs WHERE b IS NOT NULL GROUP BY a, b
    ),
    rowsum AS (SELECT a, SUM(c) AS tot FROM trans GROUP BY a),
    p AS (
      SELECT t.a, t.b, round(t.c * 1.0 / r.tot, 9) AS p
      FROM trans t JOIN rowsum r USING (a)
    ),
    states AS (SELECT DISTINCT event_type AS s FROM events),
    ns AS (SELECT COUNT(*) AS n FROM states),
    v0 AS (SELECT s, 1.0 / (SELECT n FROM ns) AS w FROM states)
"""


def _sql_ms_iter(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
      SELECT st.s, round(coalesce(SUM(v.w * p.p), 0.0), 9) AS w
      FROM states st
      LEFT JOIN p ON p.b = st.s
      LEFT JOIN {prev} v ON v.s = p.a
      GROUP BY st.s
    )"""


_MS_SQL = (
    "WITH "
    + _SQL_TRANS
    + ","
    + ",".join(_sql_ms_iter(f"v{i}", f"v{i + 1}") for i in range(_MS_STEPS))
    + f" SELECT s AS event_type, round(w, 6) AS weight FROM v{_MS_STEPS}"
)


@register("q_markov_stationary", _MS_SQL)
def q_markov_stationary(spark, sf_dir):
    """Sequence analytics — the event-type chain's distribution after 3
    power steps v ← vᵀP from uniform (the empirical transition matrix
    of q_event_transitions; with 5 states this is effectively the
    stationary mix — where user behavior settles regardless of entry
    point). P is a |states|² table; each step is one graph.propagate
    "sum" round weighted by p, re-rounded to 9 (the PageRank
    discipline); the oracle unrolls all three steps. Mass is NOT
    conserved exactly (terminal events leak probability — the
    absorbing-boundary effect, visible as Σw < 1)."""
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    trans = pairs.groupBy(F.col("event_type").alias("a"), "b").agg(
        F.count(F.lit(1)).alias("c")
    )
    rowsum = trans.groupBy("a").agg(F.sum("c").alias("tot"))
    p = trans.join(rowsum, "a").select(
        F.col("a").alias("src"), F.col("b").alias("dst"),
        F.round(F.col("c") * 1.0 / F.col("tot"), 9).alias("w"),
    )
    v = graph.propagate(
        p, lambda node, m: 1.0 / m.total(1.0), "sum", lambda s, node, m: m.round(s, 9),
        iters=_MS_STEPS, nodes=ev.select(F.col("event_type").alias("node")).distinct(),
    )
    return v.select(F.col("node").alias("event_type"), F.round("x", 6).alias("weight"))


@register(
    "q_pareto_ratio",
    """
    WITH per_user AS (
      SELECT user_id, round(SUM(value), 4) AS spend
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    ranked AS (
      SELECT spend,
             ROW_NUMBER() OVER (ORDER BY spend DESC, user_id) AS rk,
             SUM(spend) OVER (ORDER BY spend DESC, user_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(spend) OVER () AS tot,
             COUNT(*) OVER () AS n
      FROM per_user
    )
    SELECT MIN(rk) AS k_users,
           ANY_VALUE(n) AS n_users,
           round(MIN(rk) * 1.0 / ANY_VALUE(n), 6) AS user_fraction,
           0.8 AS spend_share
    FROM ranked WHERE cum >= 0.8 * tot
    """,
)
def q_pareto_ratio(spark, sf_dir):
    """Concentration — the Pareto lookup: the smallest top-spender count
    (and fraction) whose cumulative spend reaches 80% — the '80/20'
    number the Lorenz curve (q_lorenz) draws and q_gini integrates. One
    user collapse, then rank + descending running sum + totals from a
    single distributed zip_scan pass (functions/distrank.py, VERDICT r3
    de-weak — no user-dimension global window), one min over the
    crossing rows."""
    from arrow_supercluster_spark.functions.distrank import zip_scan

    ev = read_events(spark, sf_dir).filter(F.col("value").isNotNull())
    per_user = ev.groupBy("user_id").agg(
        F.round(F.sum("value"), 4).alias("spend")
    )
    ranked, n, tot = zip_scan(
        per_user, [F.col("spend").desc(), "user_id"], out="_idx",
        scan_col="spend", scan_out="cum",
    )
    return (
        ranked.filter(F.col("cum") >= 0.8 * F.lit(tot))
        .agg(
            F.min(F.col("_idx") + 1).alias("k_users"),
            F.lit(n).cast("long").alias("n_users"),
            F.round(F.min(F.col("_idx") + 1) * 1.0 / F.lit(n), 6)
            .alias("user_fraction"),
            F.lit(0.8).alias("spend_share"),
        )
    )
