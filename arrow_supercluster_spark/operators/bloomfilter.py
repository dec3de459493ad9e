"""Relational Bloom filter — a fixed-size membership summary built and
probed entirely with DataFrame expressions, used as a RUNTIME PREFILTER
in front of exact joins (the classic "semi-join reduction" / runtime-
filter technique every warehouse engine ships; Spark's own
spark.sql.optimizer.runtime.bloomFilter applies it automatically to
shuffle joins, but its building aggregate is not exposed to SQL/PySpark,
so pipelines that want an EXPLICIT, reusable filter — e.g. benchmark
decontamination against an eval set too large to broadcast raw — need
this relational form).

Spark-first shape (100 TB posture):
- the bitmap is FIXED SIZE by construction (`m_bits` — a parameter, not
  a function of data volume): m_bits/64 longs, e.g. 2^20 bits = 16 K
  rows of (bucket, bits). It broadcast-joins to the probe side no matter
  how large the key set it summarizes;
- building it is one agg over the key set: k probe positions per key
  (explode of a k-literal seed array — narrow), `bit_or` of single-bit
  masks keyed by 64-bit bucket — map-side combined, shuffle carries at
  most m_bits/64 rows per partition;
- probing is narrow + k broadcast hash joins (one per hash function):
  each join decorates the probe row with that depth's bucket word —
  the probe side never explodes, never shuffles, never grows — and the
  row survives only if ALL k bits are set. False positives are possible
  (bounded by
  the standard (1-e^{-kn/m})^k), false NEGATIVES are not — so a
  downstream EXACT join over the few survivors restores exact
  semantics. The composition (bloom prefilter + exact verify) therefore
  equals the plain exact join — which is what the DuckDB oracle checks.

The reference has no bloom filters; this extends its F1 "excluded rows
never enter the index" filter semantics
(packages/arrow-supercluster/src/arrow-cluster-engine.ts:79) to the
LLM-pipeline mandate. Public knowledge: Bloom 1970; the k-hash
derivation-from-two-hashes trick is Kirsch & Mitzenmacher 2006 — here
we simply salt xxhash64 with the probe index, which Spark evaluates
JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _positions(col: F.Column, m_bits: int, k: int) -> F.Column:
    """Array of the k bit positions for a key: pmod(xxhash64(key, seed),
    m_bits) for seed = 0..k-1. xxhash64 over (value, seed-literal) gives
    k independent-enough hash streams, all JVM-side."""
    return F.array(
        *[
            F.pmod(F.xxhash64(col, F.lit(s)), F.lit(m_bits))
            for s in range(k)
        ]
    )


def bloom_build(keys: DataFrame, col: str, m_bits: int = 1 << 20, k: int = 4) -> DataFrame:
    """Build the bitmap: (bucket: long, bits: long) with bucket =
    position >> 6 and bits the OR of 1 << (position & 63) over all keys.
    At most m_bits/64 rows regardless of |keys|."""
    pos = keys.select(
        F.explode(_positions(F.col(col), m_bits, k)).alias("pos")
    )
    return (
        pos.select(
            (F.col("pos") / 64).cast("long").alias("bucket"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("mask"),
        )
        .groupBy("bucket")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_prefilter(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Rows of `df` whose `col` MIGHT be in the set the bloom summarizes
    (superset of the true matches — no false negatives). One broadcast
    hash join per hash function (k small, bitmap ≤ m/64 rows): the probe
    side is never exploded, never shuffled, and its row count never
    grows — each join only decorates the row with that depth's bucket
    word, and the final filter requires all k bits set. (A first cut
    exploded k-fold and re-grouped by the probe key to count hits; that
    re-group was a full shuffle of the probe stream — measured 8× slower
    at 16× corpus scale — exactly the anti-pattern the bloom exists to
    avoid; d601b82:tools/text_scale_sweep.py measured it, and no test or
    script in this tree guards the regression now.)
    Probe-side columns are carried through unchanged."""
    out = df
    conds = []
    for s in range(k):
        pos = F.pmod(F.xxhash64(F.col(col), F.lit(s)), F.lit(m_bits))
        out = (
            out.withColumn(f"__pos{s}", pos)
            .withColumn(f"__bucket{s}", (F.col(f"__pos{s}") / 64).cast("long"))
            .withColumn(
                f"__mask{s}",
                F.expr(f"shiftleft(1L, CAST(__pos{s} % 64 AS INT))"),
            )
        )
        side = bloom.select(
            F.col("bucket").alias(f"__b{s}"), F.col("bits").alias(f"__bits{s}")
        )
        out = out.join(
            F.broadcast(side),
            F.col(f"__bucket{s}") == F.col(f"__b{s}"),
            "left",
        )
        conds.append(
            F.col(f"__bits{s}").isNotNull()
            & (
                F.col(f"__bits{s}").bitwiseAND(F.col(f"__mask{s}"))
                == F.col(f"__mask{s}")
            )
        )
    pred = conds[0]
    for c in conds[1:]:
        pred = pred & c
    return out.filter(pred).select(*df.columns)


def bloom_decontaminate(
    docs: DataFrame,
    eval_pred,
    n: int = 8,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Decontamination with a bloom prefilter: training docs (rows where
    NOT eval_pred) that share NO word-n-gram with the eval slice — the
    clean training set. Equivalent to the exact n-gram anti-join
    (q_decontaminate's complement); the bloom only prunes the candidate
    space before the exact verify:

      eval grams  → bloom bitmap (fixed m_bits, broadcast)
      train grams → bloom probe (narrow + broadcast join) → candidates
      candidates  → EXACT semi-join vs eval grams → dirty doc_ids
      docs        → anti-join dirty doc_ids

    At 100 TB the train-gram side never shuffles for the prefilter; only
    the (rare) bloom survivors enter the exact join. Returns
    (doc_id, lang)."""
    from arrow_supercluster_spark.operators.decontam import doc_ngram_digests

    grams = doc_ngram_digests(docs, n)
    eval_g = grams.filter(eval_pred).select("g").distinct()
    bloom = bloom_build(eval_g, "g", m_bits, k)
    train_g = grams.filter(~eval_pred)
    candidates = bloom_prefilter(train_g, "g", bloom, m_bits, k)
    dirty = (
        candidates.join(eval_g, "g", "leftsemi").select("doc_id").distinct()
    )
    return (
        docs.filter(~eval_pred)
        .join(dirty, "doc_id", "left_anti")
        .select("doc_id", "lang")
    )
