"""Round-5 registry additions, batch 118 — density-based outliers,
rolling engagement, and instrumental-variable estimation:

- q_lof_outliers: Local Outlier Factor (Breunig et al. 2000) over the
  embedding 5-NN graph — DENSITY-relative outlier scoring (a point in
  a sparse region among dense clusters scores high even when its
  global Mahalanobis distance is ordinary). Entire pipeline in exact
  integers: micro-scaled squared distances pick the kNN, k-distance
  and reachability are integer max/greatest, reach-sums are integer
  sums, and lrd reciprocals are integer-scaled before the final
  neighbor aggregation — no float crosses a shuffle.
- q_rolling_mau: 7-day sliding distinct active users per day — each
  event day explodes into the ≤7 window-ends it belongs to, then one
  (window_end)-keyed COUNT(DISTINCT user). The "rolling MAU/WAU"
  query every engagement dashboard runs; linear ×7 blowup, no window
  function, no state.
- q_iv_2sls: instrumental-variable estimate (single instrument, the
  2SLS/Wald closed form): β_IV = cov(z, y)/cov(z, x) at user grain
  (z = parity instrument, x = click exposure, y = purchase cents),
  with the naive OLS slope alongside — the confounding-robust
  counterpart to q_ols_2var. All covariances assemble from exact
  integer sums.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from arrow_supercluster_spark.plans.registry_core import register
from arrow_supercluster_spark.plans.registry_ext import _emb
from arrow_supercluster_spark.sources.tables import read_events

_LOF_K = 5
_LOF_DIMS = 64
_LOF_INV_SCALE = 10 ** 15
_MAU_DAYS = 7

_SQL_LOF_D2I = (
    "CAST(round(list_sum(list_transform(range(1, 65), i -> "
    "(CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)) "
    "* (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)))) "
    "* 1e6) AS BIGINT)"
)


def lof_d2i(av, bv):
    """Micro-scaled integer squared Euclidean distance between two
    double-array columns — the LOF edge weight (exact-integer discipline:
    the (d2i, dst) pair totally orders neighbors identically in every
    engine)."""
    return F.round(
        F.aggregate(
            F.zip_with(av, bv, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        * 1e6
    ).cast("long")


def lof_from_knn(knn):
    """The LOF algebra above the kNN edges, factored so the exact
    all-pairs kernel (q_lof_outliers, the eval oracle) and the LSH
    production path (q_lof_lsh, registry_ext213) share it verbatim:
    kdist = max d2i per node, reach(i→j) = max(d2i, kdist(j)),
    lrd = k/Σreach as an integer-scaled reciprocal, and
    LOF(i) = Σ_j lrd(j) · Σreach_i / k.  Input: (src, dst, d2i) edges,
    ≤ k per src; output: (vec_id, lof) for every src."""
    kdist = knn.groupBy(F.col("src").alias("node")).agg(
        F.max("d2i").alias("kd")
    )
    reach = knn.join(kdist, knn["dst"] == kdist["node"]).select(
        "src", "dst", F.greatest("d2i", "kd").alias("r")
    )
    sumreach = reach.groupBy("src").agg(F.sum("r").alias("sr"))
    inv = sumreach.select(
        F.col("src").alias("node"),
        F.round(_LOF_INV_SCALE * F.lit(1.0) / F.col("sr"))
        .cast("long")
        .alias("invsr"),
    )
    return (
        knn.join(inv, knn["dst"] == inv["node"])
        .join(sumreach, "src")
        .groupBy("src", "sr")
        .agg(F.sum("invsr").alias("sinv"))
        .select(
            F.col("src").alias("vec_id"),
            F.round(
                F.col("sinv")
                * F.col("sr")
                * 1.0
                / (_LOF_K * _LOF_INV_SCALE * 1.0),
                6,
            ).alias("lof"),
        )
    )


def _lof_topk(d2i, src, dst):
    """(src, dst, d2i) of each row's first _LOF_K columns of the
    block matrix `d2i` in (d2i, dst) order, self-pairs (src == dst)
    excluded: one lexsort over the whole matrix, self-pairs keyed last
    so they fall past the cut unless the row has fewer than _LOF_K
    other candidates, then dropped."""
    import numpy as np

    self_ = src[:, None] == dst[None, :]
    order = np.lexsort(
        (np.broadcast_to(dst, d2i.shape), d2i, self_), axis=1
    )[:, :_LOF_K]
    keep = ~np.take_along_axis(self_, order, axis=1)
    return (
        np.broadcast_to(src[:, None], order.shape)[keep],
        dst[order][keep],
        np.take_along_axis(d2i, order, axis=1)[keep],
    )


def _lof_knn_fn(pdf):
    """q_lof_outliers' block-pair kernel (blockpairs protocol): for
    every src in the group, its local top-_LOF_K by (d2i, dst) among
    the group's pairs — the a-side rows against the b-side, and for a
    cross-block group the b-side rows against the a-side too."""
    import numpy as np
    import pandas as pd

    from arrow_supercluster_spark.functions import blockpairs as bp

    pa, pb = int(pdf["pa"].iat[0]), int(pdf["pb"].iat[0])
    a = pdf[pdf["p"] == pa]
    b = pdf[pdf["p"] == pb]
    cols = ("src", "dst", "d2i")
    if a.empty or b.empty:
        return pd.DataFrame({c: np.zeros(0, dtype=np.int64) for c in cols})
    A = np.stack(a["v"].to_numpy())
    B = np.stack(b["v"].to_numpy())
    d2i = bp.half_up(bp.fold_d2(A, B) * 1e6)
    ia = a["vec_id"].to_numpy(dtype=np.int64)
    ib = b["vec_id"].to_numpy(dtype=np.int64)
    parts = [_lof_topk(d2i, ia, ib)]
    if pa != pb:
        parts.append(_lof_topk(d2i.T, ib, ia))
    return pd.DataFrame(
        {c: np.concatenate([p[i] for p in parts]) for i, c in enumerate(cols)}
    )


@register(
    "q_lof_outliers",
    f"""
    WITH scored AS (
      SELECT a.vec_id AS src, b.vec_id AS dst, {_SQL_LOF_D2I} AS d2i
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    knn AS (
      SELECT src, dst, d2i FROM (
        SELECT src, dst, d2i,
               ROW_NUMBER() OVER (PARTITION BY src ORDER BY d2i, dst) AS rk
        FROM scored
      ) WHERE rk <= {_LOF_K}
    ),
    kdist AS (SELECT src AS node, MAX(d2i) AS kd FROM knn GROUP BY src),
    reach AS (
      SELECT knn.src, knn.dst,
             GREATEST(knn.d2i, kdist.kd) AS r
      FROM knn JOIN kdist ON knn.dst = kdist.node
    ),
    sumreach AS (SELECT src, SUM(r) AS sr FROM reach GROUP BY src),
    inv AS (
      SELECT src AS node,
             CAST(round({_LOF_INV_SCALE} * 1.0 / sr) AS BIGINT) AS invsr
      FROM sumreach
    ),
    lof AS (
      SELECT knn.src,
             SUM(inv.invsr) * sumreach.sr * 1.0
               / ({_LOF_K} * {_LOF_INV_SCALE} * 1.0) AS lof
      FROM knn
      JOIN inv ON knn.dst = inv.node
      JOIN sumreach ON knn.src = sumreach.src
      GROUP BY knn.src, sumreach.sr
    )
    SELECT src AS vec_id, round(lof, 6) AS lof
    FROM lof
    ORDER BY round(lof, 6) DESC, src
    LIMIT 15
    """,
)
def q_lof_outliers(spark, sf_dir):
    """R348 — Local Outlier Factor (k={k}) over the embedding corpus:
    LOF(i) = (Σ_{{j∈N(i)}} lrd(j)) / (k·lrd(i)) = Σ_j(1/Σreach_j)·Σreach_i/k,
    with lrd = k/Σreach
    and reach(i→j) = max(d²(i,j), kdist(j)). Exact-integer discipline
    end to end: micro-scaled d² picks neighbors ((d2i, dst) total
    order — identical kNN in every engine), kdist/reach are integer
    max, Σreach is an integer sum, and lrd reciprocals are scaled to
    ints before the neighbor sum, so LOF is a deterministic double and
    the top-15 cut (on the ROUNDED score) cannot flip. Density-based:
    flags points in locally sparse regions that global scans
    (q_mahalanobis_outliers) miss. The all-pairs kNN here is the EVAL
    ORACLE path — the production sibling q_lof_lsh (registry_ext213)
    swaps the candidate step for banded sign-LSH equi-joins and feeds
    the identical lof_from_knn algebra; its recall floor vs this exact
    kernel is pytest-asserted (tests/test_batch208.py).""".format(
        k=_LOF_K
    )
    emb = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # r11 (VERDICT r10 #8, guide §4.2): the n²/2 join + interpreted HOF
    # fold becomes a block-pair NumPy kernel (the family shared with
    # q_dunn_index/q_energy_distance/q_silhouette).  fold_d2 reproduces
    # the zip_with left fold bit-for-bit and half_up reproduces
    # F.round's HALF_UP, so every candidate d2i is identical to the
    # pair-join form.  Each block pair emits, per src it contains, that
    # group's LOCAL top-k by the exact (d2i, dst) total order; the
    # global window below then selects the true kNN from ≤ B·k
    # candidates per src — a per-group top-k can never lose a global
    # top-k member because each directed (src, dst) pair lives in
    # exactly one group (knn exceptAll vs the pair-join form = 0 at
    # sf0.1).
    from arrow_supercluster_spark.functions import blockpairs as bp

    cand = bp.block_pair_groups(
        emb, _lof_knn_fn, "src long, dst long, d2i long"
    )
    w = Window.partitionBy("src").orderBy("d2i", "dst")
    knn = (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _LOF_K)
        .select("src", "dst", "d2i")
    )
    lof = lof_from_knn(knn)
    return lof.orderBy(F.col("lof").desc(), "vec_id").limit(15)


@register(
    "q_rolling_mau",
    f"""
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    exploded AS (
      SELECT user_id, d,
             d + CAST(k AS INTEGER) AS window_end
      FROM days CROSS JOIN (SELECT unnest(range(0, {_MAU_DAYS})) AS k) t
    ),
    bounds AS (SELECT MAX(CAST(ts AS DATE)) AS mx FROM events)
    SELECT CAST(window_end AS VARCHAR) AS window_end,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users,
           CAST(COUNT(*) AS BIGINT) AS user_days
    FROM exploded CROSS JOIN bounds
    WHERE window_end <= bounds.mx
    GROUP BY window_end
    ORDER BY window_end
    """,
)
def q_rolling_mau(spark, sf_dir):
    """R349 — rolling {d}-day active users per day: each (user, day)
    fact explodes into the ≤{d} window-ends it falls inside, then one
    keyed COUNT(DISTINCT user) per window end — no window function, no
    state store, a fixed ×{d} linear blowup that shuffles only
    (user, window_end) pairs. Partial leading windows are kept (both
    engines identically); trailing ends beyond the corpus are cut.
    The engagement dashboard's MAU/WAU curve as one agg.""".format(
        d=_MAU_DAYS
    )
    ev = read_events(spark, sf_dir)
    days = ev.select(
        F.to_date("ts").alias("d"), "user_id"
    ).distinct()
    exploded = days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), _MAU_DAYS - 1))
        ).alias("window_end"),
    )
    bounds = ev.agg(F.max(F.to_date("ts")).alias("mx"))
    return (
        exploded.crossJoin(F.broadcast(bounds))
        .filter(F.col("window_end") <= F.col("mx"))
        .groupBy("window_end")
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.count(F.lit(1)).alias("user_days"),
        )
        .select(
            F.col("window_end").cast("string").alias("window_end"),
            "active_users",
            "user_days",
        )
        .orderBy("window_end")
    )


@register(
    "q_iv_2sls",
    """
    WITH per_user AS (
      SELECT user_id,
             user_id % 2 AS z,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(z) AS sz, SUM(x) AS sx, SUM(y) AS sy,
             SUM(z * x) AS szx, SUM(z * y) AS szy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy,
             SUM(z * z) AS szz
      FROM per_user
    )
    SELECT n,
           round((szy - sz * 1.0 * sy / n)
                 / (szx - sz * 1.0 * sx / n) / 100.0, 6) AS beta_iv,
           round((sxy - sx * 1.0 * sy / n)
                 / (sxx - sx * 1.0 * sx / n) / 100.0, 6) AS beta_ols,
           round((szx - sz * 1.0 * sx / n)
                 / (szz - sz * 1.0 * sz / n), 6) AS first_stage
    FROM s
    """,
)
def q_iv_2sls(spark, sf_dir):
    """R350 — instrumental-variable (Wald/2SLS, single instrument)
    estimate at user grain: β_IV = cov(z,y)/cov(z,x) with z = user
    parity, x = click exposure, y = purchase cents (reported in
    dollars per click). The first-stage slope cov(z,x)/var(z) is the
    instrument-strength diagnostic, and the naive OLS slope sits
    alongside for the confounding contrast. Every covariance assembles
    from exact integer sums in one agg — the causal-inference closed
    form at any scale."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("y"),
    ).withColumn("z", F.col("user_id") % 2)
    s = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z").alias("sz"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("z") * F.col("x")).alias("szx"),
        F.sum(F.col("z") * F.col("y")).alias("szy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    n = F.col("n")
    return s.select(
        n.cast("long").alias("n"),
        F.round(
            (F.col("szy") - F.col("sz") * 1.0 * F.col("sy") / n)
            / (F.col("szx") - F.col("sz") * 1.0 * F.col("sx") / n)
            / 100.0,
            6,
        ).alias("beta_iv"),
        F.round(
            (F.col("sxy") - F.col("sx") * 1.0 * F.col("sy") / n)
            / (F.col("sxx") - F.col("sx") * 1.0 * F.col("sx") / n)
            / 100.0,
            6,
        ).alias("beta_ols"),
        F.round(
            (F.col("szx") - F.col("sz") * 1.0 * F.col("sx") / n)
            / (F.col("szz") - F.col("sz") * 1.0 * F.col("sz") / n),
            6,
        ).alias("first_stage"),
    )
