"""Round-2 registry additions, batch 31 — graph distances and
dispersion/readability profiling:

- q_bfs_hops: multi-source BFS hop distance (≤ 3 hops) over the user
  co-occurrence graph — the reachability/centrality primitive (oracle:
  recursive CTE with hop minimization);
- q_readability: Flesch-style readability proxy per document (words
  per sentence, chars per word) — the curation signal family's
  prose-complexity member;
- q_fano_dispersion: Fano factor (variance/mean) of hourly event
  counts per type — burstiness vs Poisson-ness of the stream.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arrow_supercluster_spark.operators import graph
from arrow_supercluster_spark.plans.registry_core import register
from arrow_supercluster_spark.sources.tables import read_events

# ===========================================================================
# Multi-source BFS
# ===========================================================================

_BFS_MAX_HOPS = 3
_BFS_SEED_MOD = 50  # deterministic seed set: node % 50 = 0
_BFS_SOURCES = f"node % {_BFS_SEED_MOD} = 0"

_SQL_BFS_EDGES = """
    edges AS (
      SELECT DISTINCT a.user_id AS src, b.user_id AS dst
      FROM events a JOIN events b
        ON a.event_type = b.event_type
       AND date_trunc('hour', a.ts) = date_trunc('hour', b.ts)
       AND a.user_id <> b.user_id
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)
"""


@register(
    "q_bfs_hops",
    f"""
    WITH RECURSIVE {_SQL_BFS_EDGES},
    seeds AS (SELECT node FROM nodes WHERE {_BFS_SOURCES}),
    reach(node, hop) AS (
      SELECT node, 0 FROM seeds
      UNION
      SELECT e.dst, r.hop + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.hop < {_BFS_MAX_HOPS}
    )
    SELECT node, MIN(hop) AS hops FROM reach GROUP BY node
    """,
)
def q_bfs_hops(spark, sf_dir):
    """Graph family — multi-source BFS: minimum hop distance (≤ {h})
    from the deterministic seed set (node id % 50 = 0) over the user
    co-occurrence graph, as graph.propagate's "min" combine with unit
    weights: unreached nodes are null, every round relaxes hops + 1
    along the edges. Oracle: recursive CTE minimizing hops — a
    different evaluation strategy for the same fixpoint.""".format(h=_BFS_MAX_HOPS)
    hops = graph.propagate(
        graph.cooccurrence_edges(read_events(spark, sf_dir)),
        lambda node, m: m.where(node % _BFS_SEED_MOD == 0, 0, None), "min",
        iters=_BFS_MAX_HOPS,
    )
    return hops.filter(F.col("x").isNotNull()).select("node", F.col("x").alias("hops"))


# ===========================================================================
# Readability proxy
# ===========================================================================

@register(
    "q_readability",
    """
    WITH t AS (
      SELECT doc_id,
             greatest(len(list_filter(string_split(regexp_replace(trim(text),
                 '[.!?]+', '.', 'g'), '.'), s -> trim(s) != '')), 1) AS n_sent,
             greatest(len(list_filter(string_split(text, ' '),
                 w -> w != '')), 1) AS n_words,
             length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS n_alnum
      FROM documents
    )
    SELECT doc_id, n_sent, n_words,
           round(n_words * 1.0 / n_sent, 6) AS words_per_sent,
           round(n_alnum * 1.0 / n_words, 6) AS chars_per_word,
           round(206.835 - 1.015 * (n_words * 1.0 / n_sent)
                 - 84.6 * ((n_alnum * 1.0 / n_words) / 3.0), 6) AS flesch_proxy
    FROM t
    """,
)
def q_readability(spark, sf_dir):
    """Text quality — Flesch-style readability proxy: words/sentence and
    alnum-chars/word (chars/3 standing in for syllables — syllable
    counting needs a dictionary; the proxy keeps the formula's shape and
    monotonicity). One narrow pass, in-row splits, no shuffle — at
    100 TB this is a map-only stage next to q_text_quality and
    q_char_entropy in the quality-gate family."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sents = F.filter(
        F.split(F.regexp_replace(F.trim(F.col("text")), "[.!?]+", "."), "\\."),
        lambda s: F.trim(s) != F.lit(""),
    )
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != F.lit(""))
    n_sent = F.greatest(F.size(sents), F.lit(1))
    n_words = F.greatest(F.size(words), F.lit(1))
    n_alnum = F.length(F.regexp_replace("text", "[^A-Za-z0-9]", ""))
    wps = n_words * F.lit(1.0) / n_sent
    cpw = n_alnum * F.lit(1.0) / n_words
    return docs.select(
        "doc_id",
        n_sent.alias("n_sent"),
        n_words.alias("n_words"),
        F.round(wps, 6).alias("words_per_sent"),
        F.round(cpw, 6).alias("chars_per_word"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * (cpw / F.lit(3.0)),
            6,
        ).alias("flesch_proxy"),
    )


# ===========================================================================
# Fano dispersion
# ===========================================================================

@register(
    "q_fano_dispersion",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           COUNT(*) AS n_hours,
           round(AVG(n), 6) AS mean_n,
           round(var_samp(n), 6) AS var_n,
           round(var_samp(n) / AVG(n), 6) AS fano
    FROM hourly GROUP BY 1
    """,
)
def q_fano_dispersion(spark, sf_dir):
    """Stream profiling — Fano factor (variance/mean of hourly counts)
    per event type: ≈1 for a Poisson arrival process, >1 for bursty
    traffic, <1 for regular — the dispersion diagnostic behind anomaly
    thresholds (q_daily_anomaly's statistical footing). Two partial
    aggs: (type, hour) counts, then |types|-row moments; floats round
    to 6 (variance summation order)."""
    ev = read_events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    return hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.round(F.avg("n"), 6).alias("mean_n"),
        F.round(F.var_samp("n"), 6).alias("var_n"),
        F.round(F.var_samp("n") / F.avg("n"), 6).alias("fano"),
    )
