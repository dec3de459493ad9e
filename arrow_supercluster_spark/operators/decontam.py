"""Corpus-hygiene operators for a pretraining pipeline: benchmark
decontamination (n-gram overlap vs an eval set), PII redaction, and
repetition-based quality signals (Gopher-style rules).

These extend the reference's data-model scope (it has no text surface;
its filter semantics F1-F3 at
packages/arrow-supercluster/src/arrow-cluster-engine.ts:79-91 are the
closest analog: "excluded rows never enter the index") with the brief's
LLM-data-pipeline mandate. All public-knowledge techniques: n-gram
overlap decontamination (GPT-2/3 papers' 8-gram / 13-gram method),
regex PII scrubbing, and the repetition filters of Rae et al. 2021
(Gopher) §A1.1.

Scale notes (100 TB):
- n-gram sets cross the shuffle as md5 digests, never raw text;
- the eval-set side of the decontamination join is tiny by nature
  (benchmarks are MBs) -> broadcast, so the corpus never shuffles;
- PII scrubbing is a narrow per-row map (pure JVM regex, no Python);
- repetition stats need one doc_id-keyed shuffle for token counts; the
  sentence-level signals are narrow HOF expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from arrow_supercluster_spark.operators.dedup import normalize_text

# --------------------------------------------------------------------------
# Benchmark decontamination
# --------------------------------------------------------------------------


def _ngram_expr(toks: str, n: int) -> F.Column:
    """Array of space-joined n-grams over a token-array column (empty when
    the doc is shorter than n tokens).

    NOTE: guarded with CASE because Spark's sequence(1, 0) yields the
    DESCENDING [1, 0], not an empty array.
    """
    return F.expr(
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n} + 1), "
        f"i -> array_join(slice({toks}, i, {n}), ' ')) "
        f"ELSE array() END"
    )


def doc_ngram_digests(docs: DataFrame, n: int = 8) -> DataFrame:
    """(doc_id, g) — the distinct md5 digests of each document's
    word-level n-grams. Digests (32-byte hex) cross the wire, not text."""
    toks = F.split(normalize_text(F.col("text")), " ")
    return (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(_ngram_expr("toks", n), F.md5)
                )
            ).alias("g"),
        )
    )


def _not_eval(eval_pred: F.Column) -> F.Column:
    """Train-side row predicate: NOT coalesce(eval_pred, false).

    r10 (guide §2.3 "project before the exchange" / §6 pushdown): the
    train side previously digested the ENTIRE corpus and then removed
    eval docs with a broadcast anti-join on doc_id — generating and
    hashing every eval doc's n-grams just to throw them away, and the
    anti-join sat ABOVE the n-gram generator where Catalyst cannot push
    it.  A row-level filter is pushed into the parquet scan, so eval
    docs never reach the shingle+md5 stage at all.  coalesce keeps the
    anti-join's NULL semantics: rows where eval_pred is NULL are not
    eval rows, so they stay on the train side."""
    return ~F.coalesce(eval_pred, F.lit(False))


def decontaminate(
    docs: DataFrame, eval_pred: F.Column, n: int = 8, eval_grams=None
) -> DataFrame:
    """Flag training documents sharing any word n-gram with the eval set.

    `eval_pred` selects the held-out/benchmark rows within `docs` (in a
    real pipeline the eval side is a separate tiny table; the join shape
    is identical). Returns (doc_id, n_overlap) for contaminated non-eval
    docs. The eval n-gram set is broadcast — the corpus side never
    shuffles; scoring is a broadcast-hash semi-ish join + one partial agg.
    `eval_grams` lets decontaminate_auto pass in its already-materialized
    distinct-gram frame instead of recomputing it.

    Contract (ADVICE r10): eval membership is decided PER ROW by
    ``eval_pred`` — callers must ensure doc_ids are unique (or at least
    that ``eval_pred`` is constant per doc_id and deterministic).  The
    pre-r10 form anti-joined on doc_id, so a duplicate doc_id sharing an
    id with an eval row was excluded from the train side; with the pushed
    row filter such rows stay on the train side instead.  All in-repo
    callers satisfy this (unique doc_ids, pure column predicates).
    """
    # digest the EVAL side from the filtered docs directly: a join below
    # the n-gram generator can't be pushed by Catalyst, so joining after
    # doc_ngram_digests(docs) would shingle+md5 the ENTIRE corpus a
    # second time just to keep the MB-scale eval slice
    if eval_grams is None:
        eval_grams = (
            doc_ngram_digests(docs.filter(eval_pred), n).select("g").distinct()
        )
    train_grams = doc_ngram_digests(docs.filter(_not_eval(eval_pred)), n)
    return (
        train_grams.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def decontaminate_auto(
    docs: DataFrame,
    eval_pred: F.Column,
    n: int = 8,
    bloom_threshold: int = 200_000,
    k: int = 4,
) -> DataFrame:
    """Production decontamination entry point — picks the join strategy by
    the measured eval-gram cardinality (VERDICT r2 ask #4):

    * below `bloom_threshold` distinct eval grams: the plain broadcast
      semi-join (`decontaminate`) — cheapest when the broadcast side is
      genuinely tiny;
    * above it: the relational-Bloom prefilter + exact verify
      (`operators/bloomfilter.py`), whose bitmap cost is FIXED no matter
      how large the eval set grows.  d601b82:tools/text_scale_sweep.py
      measured the broadcast path superlinear at 16× eval (60.2 s vs the
      bloom's flat 13.3 s at sf0.1×16, SCALING.md) — the crossover sits
      around a few hundred thousand grams, hence the default threshold.

    The bitmap is auto-sized at ~10 bits per eval gram (next power of
    two, floor 2^20) from the same cardinality count, so a growing eval
    set can never silently saturate the bloom into a no-op prefilter
    (SCALING.md's FPR≈22% finding).  The cardinality count is one job
    over the EVAL slice only — MB-scale by nature, never the corpus.

    Both paths return the same (doc_id, n_overlap) contaminated-doc
    frame, and the bloom path is exactly verified, so the result is
    identical regardless of which path ran — the DuckDB twin of
    q_decontam_auto is the same SQL as q_decontaminate's."""
    from arrow_supercluster_spark.operators.bloomfilter import (
        bloom_build,
        bloom_prefilter,
    )

    from arrow_supercluster_spark.functions.checkpoint import truncate

    # truncate (eager localCheckpoint), not persist: the grams are
    # materialized exactly once and reused lazily by WHICHEVER branch
    # runs, with no session-lifetime cache entry to leak (ADVICE r3: the
    # bloom branch previously never unpersisted, and the broadcast branch
    # threw the cached frame away and recomputed inside decontaminate())
    eval_grams = truncate(
        doc_ngram_digests(docs.filter(eval_pred), n).select("g").distinct()
    )
    n_eval = eval_grams.count()
    if n_eval <= bloom_threshold:
        return decontaminate(docs, eval_pred, n, eval_grams=eval_grams)
    m_bits = 1 << max(20, (10 * n_eval - 1).bit_length())
    train_grams = doc_ngram_digests(docs.filter(_not_eval(eval_pred)), n)
    bloom = bloom_build(eval_grams, "g", m_bits, k)
    candidates = bloom_prefilter(train_grams, "g", bloom, m_bits, k)
    return (
        candidates.join(eval_grams, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# Kept to syntax valid AND identical in Java regex (Spark) and RE2 (DuckDB
# oracle): no backreferences, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails/phone numbers and count redactions per doc.

    Narrow, pure-JVM regex map (no Python in the path); emits the
    scrubbed text plus per-kind counts so downstream stats can audit
    redaction rates."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    scrubbed = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    n_phones = F.size(
        F.regexp_extract_all(scrubbed, F.lit(PHONE_RE), F.lit(0))
    )
    scrubbed = F.regexp_replace(scrubbed, PHONE_RE, "<PHONE>")
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        scrubbed.alias("scrubbed_text"),
    )


# --------------------------------------------------------------------------
# Repetition quality signals (Gopher §A1.1-style)
# --------------------------------------------------------------------------


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-doc repetition signals: duplicate-sentence fraction and the
    fraction of tokens taken by the single most frequent token.

    Sentence signals are narrow HOF expressions; the top-token fraction
    needs one explode + doc_id-keyed aggregation (the scalable form — a
    per-doc HOF count would be O(tokens²) per row). Both branches hash
    on doc_id, so the final join co-partitions without a new Exchange
    under AQE."""
    toks = F.split(normalize_text(F.col("text")), " ")
    sents = F.split(F.col("text"), r"\. ")
    sent_stats = docs.select(
        "doc_id",
        F.size(sents).alias("n_sents"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(sents))
            / F.greatest(F.size(sents), F.lit(1)).cast("double"),
            6,
        ).alias("dup_sent_frac"),
    )
    tok_stats = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.max("cnt") / F.sum("cnt").cast("double"), 6
            ).alias("top_tok_frac"),
            F.sum("cnt").alias("n_tokens"),
        )
    )
    return sent_stats.join(tok_stats, "doc_id").select(
        "doc_id",
        "n_sents",
        "dup_sent_frac",
        "n_tokens",
        "top_tok_frac",
        (
            (F.col("dup_sent_frac") > 0.3) | (F.col("top_tok_frac") > 0.2)
        ).alias("repetitive"),
    )


# --------------------------------------------------------------------------
# Duplicate-span detection (substring-level dedup signal)
# --------------------------------------------------------------------------


def positioned_gram_digests(docs: DataFrame, n: int = 8) -> DataFrame:
    """(doc_id, pos, g) — md5 digest of the word n-gram starting at each
    1-based token position (NOT deduplicated: positions matter here,
    unlike doc_ngram_digests)."""
    toks = F.split(normalize_text(F.col("text")), " ")
    pg = F.expr(
        f"CASE WHEN size(toks) >= {n} THEN "
        f"transform(sequence(1, size(toks) - {n} + 1), "
        f"i -> struct(i AS pos, md5(array_join(slice(toks, i, {n}), ' ')) AS g)) "
        f"ELSE array() END"
    )
    return (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(pg).alias("p"))
        .select("doc_id", F.col("p.pos").alias("pos"), F.col("p.g").alias("g"))
    )


def dup_spans(
    docs: DataFrame, n: int = 8, max_df: int = 20, min_run: int = 2
) -> DataFrame:
    """Substring-level duplicate spans between document pairs: for each
    pair sharing a run of >= `min_run` CONSECUTIVE word n-grams, the
    longest such run in tokens — the relational form of the
    substring-dedup signal of Lee et al. 2021 ("Deduplicating Training
    Data Makes Language Models Better", which uses suffix arrays on a
    single machine; the distributed equivalent is positioned-n-gram
    matching + islands detection, all joins/windows here).

    Returns (a_id, b_id, max_span_tokens), a_id < b_id.

    Semantics & scale:
    - grams with document frequency > `max_df` are excluded FIRST
      (boilerplate: a gram shared by hundreds of docs would otherwise
      quadratically explode the pair join — same posting-list cap
      every MapReduce dedup pipeline applies). The cap is part of the
      operator's definition and the oracle applies it identically.
    - the pair join is keyed on the gram digest (equi-join; digests
      cross the shuffle, never text);
    - runs are found with the islands trick (pos − row_number per
      (a, b, diagonal) — a window over at most one document's worth of
      positions, never a global sort): consecutive positions on the
      same diagonal pa − pb form one island;
    - span length in tokens = run length in grams + n − 1.
    """
    pg = positioned_gram_digests(docs, n)
    rare = pg.join(
        pg.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("g"),
        "g",
        "leftsemi",
    )
    a = rare.select(
        F.col("doc_id").alias("a_id"), F.col("pos").alias("pa"), "g"
    )
    b = rare.select(
        F.col("doc_id").alias("b_id"), F.col("pos").alias("pb"), "g"
    )
    pairs = a.join(b, "g").filter(F.col("a_id") < F.col("b_id")).select(
        "a_id", "b_id", "pa", (F.col("pa") - F.col("pb")).alias("diag")
    )
    w = Window.partitionBy("a_id", "b_id", "diag").orderBy("pa")
    runs = (
        pairs.withColumn("island", F.col("pa") - F.row_number().over(w))
        .groupBy("a_id", "b_id", "diag", "island")
        .agg(F.count(F.lit(1)).alias("run"))
    )
    return (
        runs.groupBy("a_id", "b_id")
        .agg(F.max("run").alias("max_run"))
        .filter(F.col("max_run") >= min_run)
        .select(
            "a_id",
            "b_id",
            (F.col("max_run") + F.lit(n - 1)).alias("max_span_tokens"),
        )
    )
