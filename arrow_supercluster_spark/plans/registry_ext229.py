"""Round-9 registry additions, batch 229 — forecasting + queueing +
graph completions, all SQL-backed:

- q_holt_winters: additive Holt-Winters (level + trend + weekly
  season) over the daily event series — the seasonal completion of
  q_holt_linear, same calendar-bounded fold discipline (ONE sorted
  array in a single-row aggregation; the recurrence is an `aggregate`
  fold, the oracle an identical recursive CTE).
- q_bellman_ford: K-hop bounded Bellman-Ford relaxation over the
  event-type transition graph with −ln(P) integer edge weights — the
  most-probable signup→* paths.  The bounded-relaxation pattern IS the
  100 TB shape (hop-capped iterations, each one join + min-agg).
- q_bass_diffusion: Bass adoption model fit on daily first-event
  adopters via the discrete regression n_t = a + b·N + c·N² —
  closed-form 2-predictor OLS (centered normal equations), with the
  implied (M, p, q) from the quadratic root.
- q_little_law: empirical Little's-law audit — L (time-averaged
  concurrent user-day visits, measured INDEPENDENTLY on an hourly
  grid) vs λ·W (arrival rate × mean visit duration); the ratio's
  deviation from 1 is grid-sampling error, bounded in tests.

At 100 TB: the HW/Bass series are calendar-bounded; Bellman-Ford's
state is |event types|² and hop-capped; Little's grid join is
(visits × 720 hours) with the visit table user-day-keyed.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arrow_supercluster_spark.operators import graph
from arrow_supercluster_spark.plans.registry_core import register
from arrow_supercluster_spark.sources.tables import read_events

# ===========================================================================
# R665 — additive Holt-Winters (weekly season)
# ===========================================================================

_HW_A, _HW_B, _HW_G, _HW_M = 0.3, 0.05, 0.2, 7


def _sql_holt_winters() -> str:
    a, b, g, m = _HW_A, _HW_B, _HW_G, _HW_M
    return f"""
    WITH RECURSIVE daily AS (
      SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1
    ),
    idx AS (SELECT y, ROW_NUMBER() OVER (ORDER BY d) AS t FROM daily),
    ys AS (SELECT list(y ORDER BY t) AS ys, COUNT(*) AS n FROM idx),
    init AS (
      SELECT n, ys,
             list_sum(ys[1:{m}]) / {m} AS l0,
             (list_sum(ys[{m + 1}:{2 * m}]) / {m}
              - list_sum(ys[1:{m}]) / {m}) / {m} AS b0,
             list_transform(range(1, {m} + 1),
                            i -> ys[i] - list_sum(ys[1:{m}]) / {m}) AS s0
      FROM ys
    ),
    rec AS (
      SELECT {m} AS t, l0 AS l, b0 AS b, s0 AS s, ys, n FROM init
      UNION ALL
      SELECT r.t + 1,
             {a} * (r.ys[r.t + 1] - r.s[(r.t % {m}) + 1])
               + (1 - {a}) * (r.l + r.b),
             {b} * ({a} * (r.ys[r.t + 1] - r.s[(r.t % {m}) + 1])
                    + (1 - {a}) * (r.l + r.b) - r.l)
               + (1 - {b}) * r.b,
             list_transform(range(1, {m} + 1),
               i -> CASE WHEN i = (r.t % {m}) + 1
               THEN {g} * (r.ys[r.t + 1]
                           - ({a} * (r.ys[r.t + 1] - r.s[(r.t % {m}) + 1])
                              + (1 - {a}) * (r.l + r.b)))
                    + (1 - {g}) * r.s[i]
               ELSE r.s[i] END),
             r.ys, r.n
      FROM rec r WHERE r.t < r.n
    )
    SELECT h.h,
           round(r.l + h.h * r.b + r.s[((r.n + h.h - 1) % {m}) + 1], 6)
             AS forecast
    FROM rec r, (SELECT UNNEST(range(1, {m} + 1)) AS h) h
    WHERE r.t = r.n
    ORDER BY h.h
    """


@register("q_holt_winters", _sql_holt_winters())
def q_holt_winters(spark, sf_dir):
    """R665 — additive Holt-Winters (α={a}, β={b}, γ={g}, m={m}) over
    daily event counts: lₜ = α(yₜ−sₜ₋ₘ) + (1−α)(lₜ₋₁+bₜ₋₁), bₜ =
    β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁, sₜ = γ(yₜ−lₜ) + (1−γ)sₜ₋ₘ; init l = mean
    of week 1, b = (week-2 mean − week-1 mean)/m, s = week-1 residuals.
    Output: the m-step-ahead forecasts lₙ + h·bₙ + s.  Same fold
    discipline as q_holt_linear: the series is calendar-bounded, so it
    collapses to ONE sorted array inside a 1-row aggregation and the
    coupled recurrence runs as an `aggregate` fold over struct state
    (l, b, s[7]) — no window, no driver loop; the only corpus-sized
    stage is the daily count agg.  Oracle: recursive CTE carrying the
    same struct, identical association order → round(6).""".format(
        a=_HW_A, b=_HW_B, g=_HW_G, m=_HW_M
    )
    a, b, g, m = _HW_A, _HW_B, _HW_G, _HW_M
    ev = read_events(spark, sf_dir)
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )
    ys_row = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "y"))).alias("dy")
    ).select(
        F.transform(F.col("dy"), lambda s: s["y"]).alias("ys"),
        F.size("dy").alias("n"),
    )

    def lsum(arr, lo, hi):
        # left fold over arr[lo..hi] (1-based, inclusive) — mirrors
        # DuckDB's list_sum over the same slice
        return F.aggregate(
            F.slice(arr, lo, hi - lo + 1),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    init = ys_row.select(
        "ys",
        "n",
        (lsum(F.col("ys"), 1, m) / m).alias("l0"),
        (
            (lsum(F.col("ys"), m + 1, 2 * m) / m - lsum(F.col("ys"), 1, m) / m)
            / m
        ).alias("b0"),
        F.transform(
            F.sequence(F.lit(1), F.lit(m)),
            lambda i: F.element_at(F.col("ys"), i)
            - lsum(F.col("ys"), 1, m) / m,
        ).alias("s0"),
    )

    def step(state, t):
        ys = F.col("ys")
        l_, b_, s_ = state["l"], state["b"], state["s"]
        yt = F.element_at(ys, t)
        j = ((t - 1) % m) + 1  # 1-based seasonal slot of step t
        s_old = F.element_at(s_, j)
        l_new = a * (yt - s_old) + (1 - a) * (l_ + b_)
        b_new = b * (l_new - l_) + (1 - b) * b_
        s_new = F.transform(
            s_,
            lambda x, i: F.when(
                i == j - 1, g * (yt - l_new) + (1 - g) * x
            ).otherwise(x),
        )
        return F.struct(
            l_new.alias("l"), b_new.alias("b"), s_new.alias("s")
        )

    folded = init.select(
        "n",
        F.aggregate(
            F.sequence(F.lit(m + 1), F.col("n")),
            F.struct(
                F.col("l0").alias("l"),
                F.col("b0").alias("b"),
                F.col("s0").alias("s"),
            ),
            step,
        ).alias("st"),
    )
    h = spark.range(1, m + 1).select(F.col("id").cast("int").alias("h"))
    out = folded.crossJoin(F.broadcast(h)).select(
        "h",
        F.round(
            F.col("st")["l"]
            + F.col("h") * F.col("st")["b"]
            + F.element_at(
                F.col("st")["s"], ((F.col("n") + F.col("h") - 1) % m + 1).cast("int")
            ),
            6,
        ).alias("forecast"),
    )
    return out.orderBy("h")


# ===========================================================================
# R666 — K-hop Bellman-Ford over the event-type transition graph
# ===========================================================================

_BF_HOPS = 4
_BF_SRC = "signup"
_BF_SCALE = 1_000_000


def _sql_bellman_ford() -> str:
    head = f"""
    WITH seq AS MATERIALIZED (
      SELECT user_id, event_type, ts,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    trans AS MATERIALIZED (
      SELECT event_type AS u, nxt AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    outdeg AS MATERIALIZED (
      SELECT u, SUM(c) AS tot FROM trans GROUP BY u
    ),
    edges AS MATERIALIZED (
      SELECT trans.u, trans.v,
             CAST(round(-ln(trans.c * 1.0 / outdeg.tot) * {_BF_SCALE})
                  AS BIGINT) AS w
      FROM trans JOIN outdeg ON outdeg.u = trans.u
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT u AS id FROM edges
      UNION SELECT DISTINCT v FROM edges
    ),
    d0 AS MATERIALIZED (
      SELECT id, CASE WHEN id = '{_BF_SRC}' THEN CAST(0 AS BIGINT)
                      ELSE NULL END AS dist
      FROM nodes
    )"""
    steps = []
    for t in range(1, _BF_HOPS + 1):
        steps.append(f""",
    d{t} AS MATERIALIZED (
      SELECT id, MIN(dist) AS dist FROM (
        SELECT id, dist FROM d{t - 1}
        UNION ALL
        SELECT e.v AS id, p.dist + e.w AS dist
        FROM edges e JOIN d{t - 1} p ON p.id = e.u
        WHERE p.dist IS NOT NULL
      ) GROUP BY id
    )""")
    tail = f"""
    SELECT id AS event_type, dist AS neg_log_prob_micro,
           round(exp(-(dist * 1.0) / {_BF_SCALE}), 6) AS path_prob
    FROM d{_BF_HOPS}
    WHERE dist IS NOT NULL
    ORDER BY id
    """
    return head + "".join(steps) + tail


@register("q_bellman_ford", _sql_bellman_ford())
def q_bellman_ford(spark, sf_dir):
    """R666 — hop-capped Bellman-Ford: most-probable ≤{k}-hop path from
    '{src}' to every event type under the MLE transition graph, as a
    shortest path with integer −ln(P)·10⁶ edge weights (products of
    probabilities become exact integer sums — cross-engine-safe min
    comparisons).  Each relaxation round is one graph.propagate "min"
    round (unreached is null); the hop cap bounds the unroll, which IS
    the production 100 TB shape for negative-cycle-free path queries
    (q_bfs_hops' weighted sibling).  Oracle: the identical {k} rounds
    as materialized CTEs.""".format(
        k=_BF_HOPS, src=_BF_SRC
    )
    from pyspark.sql import Window

    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("u"), F.col("nxt").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    outdeg = trans.groupBy("u").agg(F.sum("c").alias("tot"))
    edges = trans.join(outdeg, "u").select(
        F.col("u").alias("src"),
        F.col("v").alias("dst"),
        F.round(-F.log(F.col("c") * 1.0 / F.col("tot")) * _BF_SCALE)
        .cast("long")
        .alias("w"),
    )
    d = graph.propagate(
        edges, lambda node, m: m.where(node == _BF_SRC, 0, None), "min",
        iters=_BF_HOPS,
    )
    return (
        d.filter(F.col("x").isNotNull())
        .select(
            F.col("node").alias("event_type"),
            F.col("x").alias("neg_log_prob_micro"),
            F.round(F.exp(-(F.col("x") * 1.0) / _BF_SCALE), 6).alias(
                "path_prob"
            ),
        )
        .orderBy("event_type")
    )


# ===========================================================================
# R667 — Bass diffusion fit (discrete regression)
# ===========================================================================


@register(
    "q_bass_diffusion",
    """
    WITH firsts AS MATERIALIZED (
      SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS d0
      FROM orders GROUP BY o_custkey
    ),
    adopt AS MATERIALIZED (
      SELECT d0 AS d, CAST(COUNT(*) AS DOUBLE) AS n_new FROM firsts
      GROUP BY 1
    ),
    idx AS MATERIALIZED (
      SELECT n_new,
             SUM(n_new) OVER (ORDER BY d
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS n_prev,
             ROW_NUMBER() OVER (ORDER BY d) AS t
      FROM adopt
    ),
    s AS MATERIALIZED (
      SELECT n_new AS w, n_prev AS u, n_prev * n_prev AS v
      FROM idx WHERE n_prev IS NOT NULL
    ),
    m AS MATERIALIZED (
      SELECT COUNT(*) AS n, AVG(w) AS mw, AVG(u) AS mu, AVG(v) AS mv
      FROM s
    ),
    c AS MATERIALIZED (
      SELECT MIN(m.n) AS n, MIN(m.mw) AS mw, MIN(m.mu) AS mu,
             MIN(m.mv) AS mv,
             SUM((u - m.mu) * (u - m.mu)) AS suu,
             SUM((v - m.mv) * (v - m.mv)) AS svv,
             SUM((u - m.mu) * (v - m.mv)) AS suv,
             SUM((u - m.mu) * (w - m.mw)) AS suw,
             SUM((v - m.mv) * (w - m.mw)) AS svw
      FROM s CROSS JOIN m
    ),
    fit AS (
      SELECT n,
             (suw * svv - svw * suv) / (suu * svv - suv * suv) AS bb,
             (svw * suu - suw * suv) / (suu * svv - suv * suv) AS cc,
             mw - (suw * svv - svw * suv) / (suu * svv - suv * suv) * mu
                - (svw * suu - suw * suv) / (suu * svv - suv * suv) * mv
               AS aa
      FROM c
    )
    SELECT CAST(n AS BIGINT) AS n_samples,
           round(aa, 6) AS a, round(bb, 6) AS b, round(cc, 6) AS c,
           round((-bb - sqrt(bb * bb - 4 * aa * cc)) / (2 * cc), 4)
             AS market_m,
           round(aa / ((-bb - sqrt(bb * bb - 4 * aa * cc)) / (2 * cc)), 6)
             AS p_innovation,
           round(bb + aa / ((-bb - sqrt(bb * bb - 4 * aa * cc)) / (2 * cc)),
                 6) AS q_imitation
    FROM fit
    """,
)
def q_bass_diffusion(spark, sf_dir):
    """R667 — Bass diffusion fit on MONTHLY first-order adopters (the
    customer acquisition curve — the events fixture is a 30-day window
    where everyone "adopts" on day 1, so orders' multi-year spread is
    the honest diffusion series): the discrete Bass regression
    nₜ = a + b·Nₜ₋₁ + c·Nₜ₋₁² (a = pM, b = q−p, c = −q/M) solved in
    closed form by centered 2×2 normal equations, with the implied
    market size M from the quadratic root and (p, q) back-substituted.
    Calendar-bounded series; the only corpus-sized stage is the
    per-customer first-order agg.  The cumulative Nₜ₋₁ comes from the
    distributed prefix scan."""
    from arrow_supercluster_spark.sources.tables import read_table

    orders = read_table(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("d0")
    )
    adopt = firsts.groupBy(F.col("d0").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("n_new")
    )
    from arrow_supercluster_spark.functions.distrank import zip_scan

    idx, _, _ = zip_scan(adopt, ["d"], out="t0", scan_col="n_new",
                         scan_out="cum")
    s = idx.select(
        F.col("n_new").alias("w"),
        (F.col("cum") - F.col("n_new")).alias("u"),
    ).filter(F.col("u") > 0).select(
        "w", "u", (F.col("u") * F.col("u")).alias("v")
    )
    m = s.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("w").alias("mw"),
        F.avg("u").alias("mu"),
        F.avg("v").alias("mv"),
    )
    c = s.crossJoin(F.broadcast(m)).agg(
        F.min("n").alias("n"),
        F.min("mw").alias("mw"),
        F.min("mu").alias("mu"),
        F.min("mv").alias("mv"),
        F.sum((F.col("u") - F.col("mu")) * (F.col("u") - F.col("mu"))).alias("suu"),
        F.sum((F.col("v") - F.col("mv")) * (F.col("v") - F.col("mv"))).alias("svv"),
        F.sum((F.col("u") - F.col("mu")) * (F.col("v") - F.col("mv"))).alias("suv"),
        F.sum((F.col("u") - F.col("mu")) * (F.col("w") - F.col("mw"))).alias("suw"),
        F.sum((F.col("v") - F.col("mv")) * (F.col("w") - F.col("mw"))).alias("svw"),
    )
    det = F.col("suu") * F.col("svv") - F.col("suv") * F.col("suv")
    bb = (F.col("suw") * F.col("svv") - F.col("svw") * F.col("suv")) / det
    cc = (F.col("svw") * F.col("suu") - F.col("suw") * F.col("suv")) / det
    aa = F.col("mw") - bb * F.col("mu") - cc * F.col("mv")
    mm = (-bb - F.sqrt(bb * bb - 4 * aa * cc)) / (2 * cc)
    return c.select(
        F.col("n").cast("long").alias("n_samples"),
        F.round(aa, 6).alias("a"),
        F.round(bb, 6).alias("b"),
        F.round(cc, 6).alias("c"),
        F.round(mm, 4).alias("market_m"),
        F.round(aa / mm, 6).alias("p_innovation"),
        F.round(bb + aa / mm, 6).alias("q_imitation"),
    )


# ===========================================================================
# R668 — Little's law audit (L = λW)
# ===========================================================================


@register(
    "q_little_law",
    """
    WITH visits AS MATERIALIZED (
      SELECT user_id, date_trunc('day', ts) AS d,
             epoch_us(MIN(ts)) AS s_us, epoch_us(MAX(ts)) AS e_us
      FROM events GROUP BY 1, 2
    ),
    horizon AS MATERIALIZED (
      SELECT epoch_us(date_trunc('hour', MIN(ts))) AS h0,
             epoch_us(date_trunc('hour', MAX(ts))) + 3600000000 AS h1
      FROM events
    ),
    grid AS MATERIALIZED (
      SELECT h0 + g * CAST(3600000000 AS BIGINT) AS g_us
      FROM horizon,
           (SELECT UNNEST(range(0, CAST(1000 AS BIGINT))) AS g)
      WHERE h0 + g * CAST(3600000000 AS BIGINT) < h1
    ),
    sampled AS (
      SELECT grid.g_us, CAST(COUNT(visits.user_id) AS BIGINT) AS l_g
      FROM grid LEFT JOIN visits
        ON visits.s_us <= grid.g_us AND grid.g_us < visits.e_us
      GROUP BY grid.g_us
    ),
    agg AS (
      SELECT (SELECT AVG(l_g * 1.0) FROM sampled) AS l_sampled,
             (SELECT COUNT(*) * 1.0 FROM visits) AS n_visits,
             (SELECT AVG((e_us - s_us) / 3600000000.0) FROM visits) AS w_hours,
             (SELECT (h1 - h0) / 3600000000.0 FROM horizon) AS horizon_hours
    )
    SELECT round(l_sampled, 6) AS l_sampled,
           round(n_visits / horizon_hours, 6) AS lambda_per_hour,
           round(w_hours, 6) AS w_hours,
           round(l_sampled / (n_visits / horizon_hours * w_hours), 4)
             AS little_ratio
    FROM agg
    """,
)
def q_little_law(spark, sf_dir):
    """R668 — Little's law (L = λW) audited empirically: visits are
    user-days (first→last event span); λ = visits/hour over the
    horizon, W = mean visit hours, and L is measured INDEPENDENTLY as
    the average number of visits covering each hourly grid point (an
    interval join against the calendar-bounded 720-hour grid).  The
    ratio L/(λW) deviates from 1 only by grid-sampling error on the
    open/closed interval ends — the sanity identity every
    capacity-planning dashboard rests on.  The grid is calendar-bounded;
    the visit table is user-day-keyed (dimension-sized)."""
    ev = read_events(spark, sf_dir)
    visits = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).agg(
        F.unix_micros(F.min("ts")).alias("s_us"),
        F.unix_micros(F.max("ts")).alias("e_us"),
    )
    hz = ev.agg(
        F.unix_micros(F.date_trunc("hour", F.min("ts"))).alias("h0"),
        (
            F.unix_micros(F.date_trunc("hour", F.max("ts")))
            + F.lit(3_600_000_000)
        ).alias("h1"),
    )
    grid = (
        hz.select(
            F.explode(
                F.sequence(
                    F.col("h0"),
                    F.col("h1") - 1,
                    F.lit(3_600_000_000).cast("long"),
                )
            ).alias("g_us")
        )
    )
    sampled = (
        grid.join(
            visits,
            (F.col("s_us") <= F.col("g_us")) & (F.col("g_us") < F.col("e_us")),
            "left",
        )
        .groupBy("g_us")
        .agg(F.count("user_id").alias("l_g"))
    )
    l_sampled = sampled.agg(F.avg(F.col("l_g") * 1.0).alias("l"))
    nv = visits.agg(
        F.count(F.lit(1)).cast("double").alias("n_visits"),
        F.avg((F.col("e_us") - F.col("s_us")) / 3_600_000_000.0).alias(
            "w_hours"
        ),
    )
    hh = hz.select(((F.col("h1") - F.col("h0")) / 3_600_000_000.0).alias(
        "horizon_hours"
    ))
    j = l_sampled.crossJoin(nv).crossJoin(hh)
    lam = F.col("n_visits") / F.col("horizon_hours")
    return j.select(
        F.round("l", 6).alias("l_sampled"),
        F.round(lam, 6).alias("lambda_per_hour"),
        F.round("w_hours", 6).alias("w_hours"),
        F.round(F.col("l") / (lam * F.col("w_hours")), 4).alias(
            "little_ratio"
        ),
    )
