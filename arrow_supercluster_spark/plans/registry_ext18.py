"""Round-2 registry additions, batch 13 — substring-level dedup signal,
bigram language-model scoring, and triangle counting:

- q_dup_spans: longest duplicated token span per document pair
  (positioned-n-gram islands — the distributed restatement of
  suffix-array substring dedup, Lee et al. 2021);
- q_bigram_lm: per-doc interpolated-bigram log-probability
  (Jelinek-Mercer, the step past the unigram CCNet signal);
- q_triangle_count: per-node triangle participation on the user
  co-occurrence graph (two equi-joins, Cohen's MapReduce method).
"""

from __future__ import annotations

from arrow_supercluster_spark.operators import decontam, graph, relevance
from arrow_supercluster_spark.plans.registry_core import register
from arrow_supercluster_spark.plans.registry_ext import SQL_TOKS, _docs
from arrow_supercluster_spark.sources.tables import read_events


# ===========================================================================
# Duplicate spans
# ===========================================================================

_SPAN_N = 8
_SPAN_MAX_DF = 20
_SPAN_MIN_RUN = 2


@register(
    "q_dup_spans",
    f"""
    WITH toked AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    pg AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(toks[i:i+{_SPAN_N}-1], ' ')) AS g
      FROM toked, unnest(generate_series(1, len(toks) - {_SPAN_N} + 1)) AS u(i)
      WHERE len(toks) >= {_SPAN_N}
    ),
    rare AS (
      SELECT pg.* FROM pg JOIN (
        SELECT g FROM pg GROUP BY g
        HAVING COUNT(DISTINCT doc_id) <= {_SPAN_MAX_DF}
      ) ok USING (g)
    ),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.pos AS pa,
             a.pos - b.pos AS diag
      FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT a_id, b_id, diag,
             pa - ROW_NUMBER() OVER (PARTITION BY a_id, b_id, diag
                                     ORDER BY pa) AS island
      FROM pairs
    ),
    rl AS (
      SELECT a_id, b_id, COUNT(*) AS run
      FROM runs GROUP BY a_id, b_id, diag, island
    )
    SELECT a_id, b_id, MAX(run) + {_SPAN_N - 1} AS max_span_tokens
    FROM rl GROUP BY a_id, b_id HAVING MAX(run) >= {_SPAN_MIN_RUN}
    """,
)
def q_dup_spans(spark, sf_dir):
    """E2 depth — substring-level duplicate spans: document pairs
    sharing >= {min_run} consecutive word-8-grams, with the longest
    shared span in tokens. See decontam.dup_spans for the islands
    construction and the df-cap scale argument (grams in more than 20
    docs are boilerplate and excluded by definition — the posting-list
    cap that keeps the pair join from exploding at corpus scale)."""
    return decontam.dup_spans(
        _docs(spark, sf_dir),
        n=_SPAN_N,
        max_df=_SPAN_MAX_DF,
        min_run=_SPAN_MIN_RUN,
    )


# ===========================================================================
# Interpolated bigram LM
# ===========================================================================

_LM_LAM = 0.7


@register("q_bigram_lm", relevance.sql_bigram_logprob(_LM_LAM, SQL_TOKS))
def q_bigram_lm(spark, sf_dir):
    """Pipeline — per-doc mean interpolated-bigram log-probability
    (Jelinek-Mercer lambda=0.7 between the bigram MLE and the unigram
    prior): the next LM-quality signal up from q_unigram_logprob,
    catching word-salad documents whose unigram profile looks normal
    but whose transitions are improbable. Counts and scoring shapes in
    relevance.bigram_logprob."""
    return relevance.bigram_logprob(_docs(spark, sf_dir), lam=_LM_LAM)


# ===========================================================================
# Triangle counting
# ===========================================================================

@register(
    "q_triangle_count",
    """
    WITH edges AS (
      SELECT DISTINCT a.user_id AS src, b.user_id AS dst
      FROM events a JOIN events b
        ON a.event_type = b.event_type
       AND date_trunc('hour', a.ts) = date_trunc('hour', b.ts)
       AND a.user_id <> b.user_id
    ),
    und AS (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM edges WHERE src <> dst
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM und e1
      JOIN und e2 ON e2.u = e1.v
      WHERE EXISTS (SELECT 1 FROM und e3
                    WHERE e3.u = e1.u AND e3.v = e2.v)
    )
    SELECT node, COUNT(*) AS n_tri FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ) corners GROUP BY node
    """,
)
def q_triangle_count(spark, sf_dir):
    """Graph family — per-node triangle participation over the same
    user co-occurrence graph q_pagerank walks (same event type, same
    hour). Two edge-keyed equi-joins + a closing semi-join; each
    triangle enumerated once via id-ordering (a < b < c). Completes the
    graph trio: components (connectivity), PageRank (centrality),
    triangles (cohesion)."""
    edges = graph.cooccurrence_edges(read_events(spark, sf_dir))
    return graph.triangle_counts(edges)
