"""Round-5 registry additions, batch 141 — demand classification,
tail risk, and the kernel two-sample test:

- q_abc_xyz: ABC×XYZ classification of parts — ABC by cumulative
  revenue share (80/95 cuts on the distrank running share), XYZ by
  demand variability (CV thresholds 0.5/1.0 on exact integer weekly
  moments); the 9-cell matrix with per-cell counts. The
  inventory-policy segmentation (AX = automate, CZ = don't bother)
  every supply chain runs.
- q_value_at_risk: 95% Value-at-Risk and CVaR (expected shortfall)
  of per-event purchase values — VaR by exact rank on the
  distinct-cents cumulative frame, CVaR = exact integer mean of the
  tail beyond it. The coherent-risk pairing (VaR alone is not
  subadditive; CVaR is) — financial tail language for any heavy-tail
  column.
- q_kernel_mmd: RBF-kernel Maximum Mean Discrepancy between the
  even/odd-id embedding halves — MMD² = E k(x,x') + E k(y,y') −
  2E k(x,y), all three kernel means from integer-scaled per-pair
  terms (the bandwidth = the median-heuristic proxy: mean pairwise
  distance). The modern nonparametric two-sample test in vector
  space (KS/W₁ are 1-D; MMD sees the whole embedding).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arrow_supercluster_spark.functions import distrank
from arrow_supercluster_spark.plans.registry_core import register
from arrow_supercluster_spark.plans.registry_ext import _emb
from arrow_supercluster_spark.sources.tables import read_events

_VAR_ALPHA = 0.95
_MMD_SCALE = 1_000_000_000
# q_kernel_mmd: scaled kernel values whose fraction lies within this band
# of .5 are rounded by Spark, not NumPy (see _k_fn)
_MMD_HALF_BAND = 1e-6


# ===========================================================================
# R416 — ABC × XYZ classification
# ===========================================================================

@register(
    "q_abc_xyz",
    """
    WITH part_rev AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT SUM(cents) AS t FROM part_rev),
    abc AS (
      SELECT pk,
             CASE WHEN (SUM(cents) OVER (ORDER BY cents DESC, pk)) * 1.0
                       / (SELECT t FROM tot) <= 0.80 THEN 'A'
                  WHEN (SUM(cents) OVER (ORDER BY cents DESC, pk)) * 1.0
                       / (SELECT t FROM tot) <= 0.95 THEN 'B'
                  ELSE 'C' END AS abc
      FROM part_rev
    ),
    weekly AS (
      SELECT l_partkey AS pk,
             (CAST(strftime(l_shipdate, '%j') AS INTEGER) - 1) // 7 AS w,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    xyz_m AS (
      SELECT pk, CAST(COUNT(*) AS BIGINT) AS k,
             SUM(q) AS s, SUM(q * q) AS ssq
      FROM weekly GROUP BY pk
    ),
    xyz AS (
      SELECT pk,
             CASE WHEN k < 2 THEN 'Z'
                  WHEN sqrt(greatest((ssq - s * 1.0 * s / k) / (k - 1), 0.0))
                       / (s * 1.0 / k) <= 0.5 THEN 'X'
                  WHEN sqrt(greatest((ssq - s * 1.0 * s / k) / (k - 1), 0.0))
                       / (s * 1.0 / k) <= 1.0 THEN 'Y'
                  ELSE 'Z' END AS xyz
      FROM xyz_m
    )
    SELECT abc.abc, xyz.xyz, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM abc JOIN xyz ON abc.pk = xyz.pk
    GROUP BY abc.abc, xyz.xyz
    ORDER BY abc.abc, xyz.xyz
    """,
)
def q_abc_xyz(spark, sf_dir):
    """R416 — ABC×XYZ: ABC from the cumulative revenue share
    (descending-revenue running sum via distrank — no unpartitioned
    window in the Spark plan — cut at 80%/95%), XYZ from the weekly
    demand coefficient of variation (exact integer moments; CV cuts
    at 0.5/1.0, single-week parts are Z). The 9-cell policy matrix:
    AX items get automated replenishment, CZ items get none — the
    segmentation that decides where forecasting effort (q_forecast
    _backtest) is even worth spending. One revenue agg + one weekly
    agg + a cell rollup."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part_rev = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).alias("cents")
    )
    ranked, _, tot = distrank.zip_scan(
        part_rev.select("pk", (-F.col("cents")).alias("neg"), "cents"),
        ["neg", "pk"],
        out="_i",
        scan_col="cents",
        scan_out="cum",
    )
    t = int(tot)
    abc = ranked.select(
        "pk",
        F.when(F.col("cum").cast("long") * 1.0 / t <= 0.80, "A")
        .when(F.col("cum").cast("long") * 1.0 / t <= 0.95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    weekly = li.groupBy(
        F.col("l_partkey").alias("pk"),
        ((F.dayofyear("l_shipdate") - 1) / 7).cast("long").alias("w"),
    ).agg(F.sum(F.round("l_quantity").cast("long")).alias("q"))
    xyz_m = weekly.groupBy("pk").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("ssq"),
    )
    cv = F.sqrt(
        F.greatest(
            (F.col("ssq") - F.col("s") * 1.0 * F.col("s") / F.col("k"))
            / (F.col("k") - 1),
            F.lit(0.0),
        )
    ) / (F.col("s") * 1.0 / F.col("k"))
    xyz = xyz_m.select(
        "pk",
        F.when(F.col("k") < 2, "Z")
        .when(cv <= 0.5, "X")
        .when(cv <= 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return (
        abc.join(xyz, "pk")
        .groupBy("abc", "xyz")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("abc", "xyz")
    )


# ===========================================================================
# R417 — Value-at-Risk and CVaR (expected shortfall)
# ===========================================================================

@register(
    "q_value_at_risk",
    f"""
    WITH vals AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE event_type = 'purchase'
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vals),
    by_c AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM vals GROUP BY c),
    cum AS (
      SELECT c, cnt, SUM(cnt) OVER (ORDER BY c) AS cum_c FROM by_c
    ),
    var_row AS (
      SELECT MIN(c) AS var_c FROM cum
      WHERE cum_c >= ceil({_VAR_ALPHA} * (SELECT n FROM n))
    ),
    tail AS (
      SELECT CAST(SUM(CASE WHEN c >= var_row.var_c THEN c * cnt
                           ELSE 0 END) AS BIGINT) AS tail_cents,
             CAST(SUM(CASE WHEN c >= var_row.var_c THEN cnt ELSE 0 END)
                  AS BIGINT) AS tail_n
      FROM by_c CROSS JOIN var_row
    )
    SELECT (SELECT n FROM n) AS n,
           round(var_row.var_c / 100.0, 2) AS var_95,
           CAST(tail.tail_n AS BIGINT) AS tail_n,
           round(tail.tail_cents / (100.0 * tail.tail_n), 4) AS cvar_95
    FROM var_row CROSS JOIN tail
    """,
)
def q_value_at_risk(spark, sf_dir):
    """R417 — 95% VaR and CVaR of purchase values: VaR = the exact
    order statistic at ⌈αn⌉ (found on the distinct-cents cumulative
    frame — distrank scan, no unpartitioned window in the Spark
    plan), CVaR = the exact integer mean of everything at or beyond
    it. CVaR is the coherent one (subadditive — diversification can't
    look worse than its parts; VaR alone violates that), which is why
    expected shortfall replaced VaR in Basel. Tail language for any
    heavy-tailed metric column; two aggs + one cumulative scan."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("event_type") == "purchase"
    )
    vals = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("c")
    )
    n = vals.count()
    by_c = vals.groupBy("c").agg(F.count(F.lit(1)).alias("cnt"))
    cum, _, _ = distrank.zip_scan(
        by_c, ["c"], out="_i", scan_col="cnt", scan_out="cum_c"
    )
    import math

    thresh = math.ceil(_VAR_ALPHA * n)
    var_c = (
        cum.filter(F.col("cum_c").cast("long") >= thresh)
        .agg(F.min("c").alias("var_c"))
        .collect()[0]
        .var_c
    )
    tail = by_c.filter(F.col("c") >= var_c).agg(
        F.sum(F.col("c") * F.col("cnt")).alias("tail_cents"),
        F.sum("cnt").alias("tail_n"),
    )
    return tail.select(
        F.lit(n).cast("long").alias("n"),
        F.lit(round(var_c / 100.0, 2)).alias("var_95"),
        F.col("tail_n").cast("long").alias("tail_n"),
        F.round(
            F.col("tail_cents") / (100.0 * F.col("tail_n")), 4
        ).alias("cvar_95"),
    )


# ===========================================================================
# R418 — RBF-kernel MMD two-sample test
# ===========================================================================

_SQL_MMD_D2 = (
    "list_sum(list_transform(range(1, 65), i -> "
    "(CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)) "
    "* (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))))"
)


@register(
    "q_kernel_mmd",
    f"""
    WITH halves AS (
      SELECT vec_id, vec_id % 2 AS g, embedding FROM embeddings
    ),
    d2s AS (
      SELECT a.g AS ga, b.g AS gb, {_SQL_MMD_D2} AS d2
      FROM halves a JOIN halves b ON a.vec_id < b.vec_id
    ),
    bw AS (
      -- bandwidth: mean pairwise squared distance (integer-scaled sum)
      SELECT SUM(CAST(round(d2 * 1e3) AS BIGINT)) * 1.0
               / (1e3 * COUNT(*)) AS h
      FROM d2s
    ),
    kterms AS (
      SELECT ga, gb,
             CAST(round(exp(-d2 / bw.h) * {_MMD_SCALE}) AS BIGINT) AS k_s
      FROM d2s CROSS JOIN bw
    ),
    sums AS (
      SELECT
        SUM(CASE WHEN ga = 0 AND gb = 0 THEN k_s ELSE 0 END) AS kxx,
        SUM(CASE WHEN ga = 1 AND gb = 1 THEN k_s ELSE 0 END) AS kyy,
        SUM(CASE WHEN ga != gb THEN k_s ELSE 0 END) AS kxy,
        SUM(CASE WHEN ga = 0 AND gb = 0 THEN 1 ELSE 0 END) AS nxx,
        SUM(CASE WHEN ga = 1 AND gb = 1 THEN 1 ELSE 0 END) AS nyy,
        SUM(CASE WHEN ga != gb THEN 1 ELSE 0 END) AS nxy
      FROM kterms
    )
    SELECT CAST(nxx AS BIGINT) AS n_xx_pairs,
           CAST(nyy AS BIGINT) AS n_yy_pairs,
           CAST(nxy AS BIGINT) AS n_xy_pairs,
           round(kxx * 1.0 / ({_MMD_SCALE} * 1.0 * nxx)
                 + kyy * 1.0 / ({_MMD_SCALE} * 1.0 * nyy)
                 - 2.0 * kxy / ({_MMD_SCALE} * 1.0 * nxy), 8) AS mmd2
    FROM sums
    """,
)
def q_kernel_mmd(spark, sf_dir):
    """R418 — RBF-kernel MMD² between the even/odd embedding halves:
    MMD² = Ê k(x,x') + Ê k(y,y') − 2Ê k(x,y) with k = exp(−d²/h), h =
    the mean pairwise d² (median-heuristic proxy — itself an
    integer-scaled exact mean). Every kernel value integer-scales
    before the three group sums, so the statistic is bit-stable.
    An id-parity split of i.i.d. vectors should give MMD² ≈ 0
    (asserted) — the null calibration; a real drift split lights it
    up. The vector-space two-sample test (KS R132 and W₁ R360 are
    1-D; q_embedding_drift tests means only; MMD sees any
    distributional difference). One all-pairs fold + three sums —
    the demo grain of the kernel test."""
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        (F.col("vec_id") % 2).alias("g"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # r11 (VERDICT r10 #8, guide §4.2): two block-pair NumPy passes
    # replace the BNLJ + interpreted HOF fold + n²/2-row eager
    # checkpoint.  Pass 1 emits per-block-pair (Σ round(d2·1e3), count)
    # partials — the bandwidth h is then the SAME Spark double
    # expression over their exact long sums.  Pass 2 recomputes the
    # bit-identical d2 matrix (fold_d2 = the zip_with left fold) and
    # emits the six kernel partial sums with h broadcast in as a
    # column.  k_s uses np.exp where Spark uses java.lang.Math.exp —
    # both ≤1 ulp from the true value, so after ×1e9 scaling they can
    # differ by a few 1e-7, and HALF_UP can only tell them apart for a
    # value that close to x.5.  Cells within _MMD_HALF_BAND of x.5 are
    # left out of the NumPy sums and emitted as (cls, d2, h) rows, which
    # Spark's own round(exp(-d2/h) * SCALE) then rounds.  The output is
    # verified identical to the pair-join form at all three SFs
    # (exceptAll = 0) and against the DuckDB twin (whose exp is the same
    # C libm family).
    import numpy as np
    import pandas as pd

    from arrow_supercluster_spark.functions import blockpairs as bp

    def _sides(pdf):
        pa, pb = int(pdf["pa"].iat[0]), int(pdf["pb"].iat[0])
        a = pdf[pdf["p"] == pa]
        b_ = pdf[pdf["p"] == pb]
        return pa, pb, a, b_

    def _bw_fn(pdf):
        pa, pb, a, b_ = _sides(pdf)
        if a.empty or b_.empty:
            return pd.DataFrame({"s1e3": [], "cnt": []})
        d2 = bp.fold_d2(np.stack(a["v"].to_numpy()), np.stack(b_["v"].to_numpy()))
        mask = bp.pair_mask(
            a["vec_id"].to_numpy(), b_["vec_id"].to_numpy(), pa == pb
        )
        s = bp.half_up(d2 * 1e3)[mask]
        return pd.DataFrame([{"s1e3": int(s.sum()), "cnt": int(mask.sum())}])

    p1 = bp.block_pair_groups(emb, _bw_fn, "s1e3 long, cnt long")
    bw = p1.agg(
        (F.sum("s1e3") * 1.0 / (1e3 * F.sum("cnt"))).alias("h")
    )

    band = _MMD_HALF_BAND
    cols = ["kxx", "kyy", "kxy", "nxx", "nyy", "nxy"]

    def _k_fn(pdf):
        pa, pb, a, b_ = _sides(pdf)
        if a.empty or b_.empty:
            return pd.DataFrame({c: [] for c in cols + ["cls", "d2", "h"]})
        h = float(pdf["h"].iat[0])
        d2 = bp.fold_d2(np.stack(a["v"].to_numpy()), np.stack(b_["v"].to_numpy()))
        scaled = np.exp(-d2 / h) * _MMD_SCALE
        k_s = bp.half_up(scaled)
        mask = bp.pair_mask(
            a["vec_id"].to_numpy(), b_["vec_id"].to_numpy(), pa == pb
        )
        flag = mask & (np.abs(scaled - np.floor(scaled) - 0.5) <= band)
        ga = a["g"].to_numpy()[:, None]
        gb = b_["g"].to_numpy()[None, :]
        xx = (ga == 0) & (gb == 0) & mask
        yy = (ga == 1) & (gb == 1) & mask
        xy = (ga != gb) & mask
        # row 0: the partial sums; then one row per flagged cell
        first = {
            "kxx": k_s[xx & ~flag].sum(), "kyy": k_s[yy & ~flag].sum(),
            "kxy": k_s[xy & ~flag].sum(), "nxx": xx.sum(),
            "nyy": yy.sum(), "nxy": xy.sum(),
        }
        n = int(flag.sum())
        cls = np.where(xx, "kxx", np.where(yy, "kyy", "kxy"))[flag]
        return pd.DataFrame({
            **{c: np.r_[first[c], np.zeros(n, dtype=np.int64)] for c in cols},
            "cls": [None, *cls],
            "d2": np.r_[np.nan, d2[flag]],
            "h": np.r_[np.nan, np.full(n, h)],
        })

    kterms = bp.block_pair_groups(
        emb.crossJoin(F.broadcast(bw)),
        _k_fn,
        "kxx long, kyy long, kxy long, nxx long, nyy long, nxy long, "
        "cls string, d2 double, h double",
    )
    k_spark = F.round(F.exp(-F.col("d2") / F.col("h")) * _MMD_SCALE).cast("long")
    sums = kterms.agg(
        *[
            F.sum(F.col(c) + F.when(F.col("cls") == c, k_spark).otherwise(0)).alias(c)
            for c in cols[:3]
        ],
        *[F.sum(c).alias(c) for c in cols[3:]],
    )
    return sums.select(
        F.col("nxx").cast("long").alias("n_xx_pairs"),
        F.col("nyy").cast("long").alias("n_yy_pairs"),
        F.col("nxy").cast("long").alias("n_xy_pairs"),
        F.round(
            F.col("kxx") * 1.0 / (_MMD_SCALE * 1.0 * F.col("nxx"))
            + F.col("kyy") * 1.0 / (_MMD_SCALE * 1.0 * F.col("nyy"))
            - 2.0 * F.col("kxy") / (_MMD_SCALE * 1.0 * F.col("nxy")),
            8,
        ).alias("mmd2"),
    )
