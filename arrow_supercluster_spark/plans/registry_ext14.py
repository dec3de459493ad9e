"""Round-2 registry additions, batch 7: PIVOT cross-tabulation,
KL-divergence distribution profiling, and relational PageRank over a
derived co-occurrence graph.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arrow_supercluster_spark.operators import centroids, graph
from arrow_supercluster_spark.plans.registry_core import register
from arrow_supercluster_spark.plans.registry_ext import _docs, _emb
from arrow_supercluster_spark.sources.tables import read_events

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q_pivot_counts",
    f"""
    SELECT user_id,
           {', '.join(
               f"COUNT(*) FILTER (event_type = '{t}') AS n_{t}" for t in _EVENT_TYPES
           )},
           round(SUM(value), 4) AS total_value
    FROM events GROUP BY user_id
    """,
)
def q_pivot_counts(spark, sf_dir):
    """Relational substrate — PIVOT cross-tab (user × event-type counts,
    the report shape behind every cohort dashboard). Spark's pivot with
    an EXPLICIT value list compiles to a single partial-aggregable
    hash agg (no second pass to discover the pivot values — at 100 TB
    value-discovery is a full extra scan). One shuffle keyed by
    user_id."""
    ev = read_events(spark, sf_dir)
    # one scan, one shuffle: counts AND value sums ride the same pivot
    # agg; the overall total is the fixed-order sum of the 5 per-type
    # partials (drift ~1e-12 ≪ the 1e-4 rounding grid)
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    )
    total = sum(
        [F.coalesce(F.col(f"{t}_sv"), F.lit(0.0)) for t in _EVENT_TYPES],
        F.lit(0.0),
    )
    return pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
        F.round(total, 4).alias("total_value"),
    )


@register(
    "q_source_lang_kl",
    """
    WITH sl AS (
      SELECT source, lang, COUNT(*) AS c_sl FROM documents GROUP BY 1, 2
    ),
    s AS (SELECT source, COUNT(*) AS c_s FROM documents GROUP BY 1),
    l AS (SELECT lang, COUNT(*) AS c_l FROM documents GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT sl.source,
           round(SUM((c_sl * 1.0 / c_s)
                     * ln((c_sl * 1.0 / c_s) / (c_l * 1.0 / n))), 6) AS kl
    FROM sl JOIN s USING (source) JOIN l USING (lang) CROSS JOIN n
    GROUP BY sl.source
    """,
)
def q_source_lang_kl(spark, sf_dir):
    """Pipeline — per-source KL divergence of the language distribution
    vs the corpus marginal (the domain-mixture health metric: how
    skewed is each source's language mix?). Three tiny aggregates
    (|source×lang|, |source|, |lang| rows) broadcast-joined; the scan
    is the only big read. Zero-count langs contribute nothing (the
    standard plug-in estimator); KL rounded before hashing (ln +
    double sums)."""
    docs = _docs(spark, sf_dir)
    sl = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c_sl"))
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("c_s"))
    lang = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c_l"))
    n = docs.count()
    p_sl = F.col("c_sl") * 1.0 / F.col("c_s")
    p_l = F.col("c_l") * 1.0 / F.lit(float(n))
    return (
        sl.join(F.broadcast(s), "source")
        .join(F.broadcast(lang), "lang")
        .groupBy("source")
        .agg(F.round(F.sum(p_sl * F.log(p_sl / p_l)), 6).alias("kl"))
    )


def _pagerank_iter_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
      SELECT nodes.node,
             round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nstat.n
                   + CAST(0.85 AS DOUBLE) * coalesce(c.inflow, 0.0), 9) AS rank
      FROM nodes CROSS JOIN nstat
      LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank / d.deg) AS inflow
        FROM edges e JOIN deg d ON d.src = e.src
                     JOIN {prev} r ON r.node = e.src
        GROUP BY e.dst
      ) c USING (node)
    )"""


_PR_SQL = (
    """
    WITH edges AS (
      SELECT DISTINCT a.user_id AS src, b.user_id AS dst
      FROM events a JOIN events b
        ON a.event_type = b.event_type
       AND date_trunc('hour', a.ts) = date_trunc('hour', b.ts)
       AND a.user_id <> b.user_id
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nstat AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (
      SELECT node, round(CAST(1.0 AS DOUBLE) / nstat.n, 9) AS rank
      FROM nodes CROSS JOIN nstat
    ),"""
    + ",".join(_pagerank_iter_sql(f"r{i}", f"r{i + 1}") for i in range(3))
    + """
    SELECT node, round(rank, 6) AS rank FROM r3
    """
)


@register("q_pagerank", _PR_SQL)
def q_pagerank(spark, sf_dir):
    """Graph family (with connected components, dedup.py) — PageRank
    over the user co-occurrence graph (same event type in the same
    hour), 3 iterations, damping 0.85. The edge list is materialized
    once and gated: up to graph._DRIVER_EDGE_CAP edges (the sf0.1 graph
    included) every round runs on the driver in NumPy and the ranks
    come back as one createDataFrame; above it the relational rounds
    run with per-round localCheckpoint (lineage O(1), like the zoom
    loop). The oracle unrolls the same three rounds as chained CTEs —
    differentially checking the whole iteration algebra. Ranks
    re-round to 9 each round so summation order can't compound drift
    across engines."""
    edges = graph.cooccurrence_edges(read_events(spark, sf_dir))
    return graph.pagerank(edges, iterations=3, damping=0.85)


@register(
    "q_embedding_stats",
    """
    SELECT pos,
           round(AVG(CAST(v AS DOUBLE)), 6) AS mu,
           round(stddev_samp(CAST(v AS DOUBLE)), 6) AS sd,
           MIN(v) AS mn, MAX(v) AS mx
    FROM (
      SELECT unnest(embedding) AS v,
             unnest(generate_series(0, len(embedding) - 1)) AS pos
      FROM embeddings
    ) t GROUP BY pos
    """,
)
def q_embedding_stats(spark, sf_dir):
    """Embedding ops — per-dimension feature profile (mean/std/min/max
    per position): the stats pass behind standardization, outlier
    clipping, and drift monitoring. One posexplode + dimension-keyed
    agg; output is |dims| rows."""
    return centroids.dimension_stats(_emb(spark, sf_dir))


@register(
    "q_embedding_standardize",
    """
    WITH stats AS (
      SELECT pos,
             round(AVG(CAST(v AS DOUBLE)), 6) AS mu,
             round(stddev_samp(CAST(v AS DOUBLE)), 6) AS sd
      FROM (
        SELECT unnest(embedding) AS v,
               unnest(generate_series(0, len(embedding) - 1)) AS pos
        FROM embeddings
      ) t GROUP BY pos
    ),
    comp AS (
      SELECT e.vec_id, u.pos,
             round((CAST(u.v AS DOUBLE) - s.mu) / s.sd, 6) AS z
      FROM (
        SELECT vec_id,
               unnest(embedding) AS v,
               unnest(generate_series(0, len(embedding) - 1)) AS pos
        FROM embeddings
      ) u
      JOIN embeddings e ON e.vec_id = u.vec_id
      JOIN stats s ON s.pos = u.pos
    )
    SELECT vec_id, list(z ORDER BY pos) AS z FROM comp GROUP BY vec_id
    """,
)
def q_embedding_standardize(spark, sf_dir):
    """Embedding ops — per-dimension z-score standardization. Spark
    ships the |dims|-row stats as literal arrays (kmeans_step's seed
    discipline) so scaling is a narrow zip_with — the corpus never
    shuffles or joins; the oracle rebuilds vectors the relational way
    (unnest → join stats → list(ORDER BY pos)), differentially checking
    the literal-broadcast rewrite. Stats and outputs rounded at 6."""
    return centroids.standardize(_emb(spark, sf_dir))


@register(
    "q_first_last_agg",
    """
    SELECT user_id,
           (MIN(row(ts, event_id, event_type)))[3] AS first_type,
           (MAX(row(ts, event_id, event_type)))[3] AS last_type,
           epoch_us(MIN(ts)) AS first_us,
           epoch_us(MAX(ts)) AS last_us,
           COUNT(*) AS n
    FROM events GROUP BY user_id
    """,
)
def q_first_last_agg(spark, sf_dir):
    """Relational substrate — first/last-event-per-user via min_by/max_by
    (the sessionless funnel shape: acquisition channel → latest action).
    A single partial-aggregable agg — the window-free form of
    'first/last value per group' that at 100 TB avoids materializing a
    per-user ordering entirely. Keyed by (ts, event_id) so timestamp
    ties can't make the answer engine-dependent."""
    ev = read_events(spark, sf_dir)
    key = F.struct("ts", "event_id")
    return ev.groupBy("user_id").agg(
        F.min_by("event_type", key).alias("first_type"),
        F.max_by("event_type", key).alias("last_type"),
        F.unix_micros(F.min("ts")).alias("first_us"),
        F.unix_micros(F.max("ts")).alias("last_us"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_cross_source_overlap",
    """
    WITH norms AS (
      SELECT source, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm
      FROM documents WHERE length(text) >= 100
    ),
    hashes AS (
      SELECT DISTINCT source, md5(substr(norm, s.i, 100)) AS h
      FROM norms, unnest(generate_series(1, 301, 100)) AS s(i)
      WHERE s.i <= length(norm)
    ),
    pair AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM hashes a JOIN hashes b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2
    ),
    per_src AS (SELECT source, COUNT(*) AS n FROM hashes GROUP BY 1)
    SELECT p.src_a, p.src_b, p.n_common,
           round(p.n_common * 1.0 / (na.n + nb.n - p.n_common), 6)
             AS jaccard
    FROM pair p
    JOIN per_src na ON na.source = p.src_a
    JOIN per_src nb ON nb.source = p.src_b
    """,
)
def q_cross_source_overlap(spark, sf_dir):
    """Pipeline — cross-source duplication matrix: for every source
    pair, the count and Jaccard of shared (normalized-text) hashes —
    the dataset-audit view that tells you which crawls re-scraped the
    same pages before you mix them. The join carries 32-byte digests,
    never text; per-source totals broadcast back onto the ~|sources|²
    pair rows."""
    from arrow_supercluster_spark.operators.dedup import normalize_text

    docs = _docs(spark, sf_dir)
    # 100-char chunk digests (offsets 1,101,201,301 of the normalized
    # text): the corpus has no FULL-document cross-source duplicates, so
    # whole-doc hashing is a trivial empty matrix; chunk granularity is
    # also what a real crawl-overlap audit uses (partial re-scrapes)
    offs = F.array(*[F.lit(i) for i in (1, 101, 201, 301)])
    hashes = (
        docs.filter(F.length("text") >= 100)
        .select(
            "source",
            normalize_text(F.col("text")).alias("norm"),
            F.explode(offs).alias("i"),
        )
        # only real substrings: an offset past the normalized length would
        # hash '' — a sentinel shared by every source with one shortish doc,
        # inflating the common-chunk counts
        .filter(F.col("i") <= F.length("norm"))
        .select("source", F.md5(F.expr("substr(norm, i, 100)")).alias("h"))
        .distinct()
    )
    a = hashes.select(F.col("source").alias("src_a"), "h")
    b = hashes.select(F.col("source").alias("src_b"), "h")
    pair = (
        a.join(b, "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    per = hashes.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    na = per.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    nb = per.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        pair.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "q_ntile_quartiles",
    """
    SELECT doc_id, lang,
           ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
             AS quartile
    FROM documents
    """,
)
def q_ntile_quartiles(spark, sf_dir):
    """Relational substrate — NTILE quartile assignment per language
    (the bucketing step behind 'drop the bottom length quartile'
    curation rules; complements the threshold form in
    q_median_length_filter). Window keys on lang (bounded cardinality);
    ordered by (n_chars, doc_id) so ties can't make bucket boundaries
    engine-dependent."""
    from pyspark.sql.window import Window as W

    docs = _docs(spark, sf_dir)
    w = W.partitionBy("lang").orderBy("n_chars", "doc_id")
    return docs.select(
        "doc_id", "lang", F.ntile(4).over(w).alias("quartile")
    )


@register(
    "q_regex_extract_all",
    """
    SELECT doc_id,
           regexp_extract_all(text, '[a-z]*ar[a-z]*') AS hits,
           len(regexp_extract_all(text, '[a-z]*ar[a-z]*')) AS n_hits
    FROM documents
    """,
)
def q_regex_extract_all(spark, sf_dir):
    """Text ops — regexp_extract_all as a row-local generator (the
    PII/entity/candidate-span extraction primitive — q_pii_scrub is the
    replace form, this is the extract form): all 'ar'-containing words
    per document, with counts. Narrow projection, zero shuffle; both
    engines use RE2-class regex semantics so hit lists match exactly."""
    docs = _docs(spark, sf_dir)
    hits = F.regexp_extract_all("text", F.lit("[a-z]*ar[a-z]*"), 0)
    return docs.select(
        "doc_id", hits.alias("hits"), F.size(hits).alias("n_hits")
    )
