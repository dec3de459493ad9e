"""Plan gate (VERDICT r3 "Next round" #1): no registered query may run an
unpartitioned Window over an unbounded-cardinality frame.

A `Window.orderBy(...)` with no partitionBy funnels the WHOLE frame
through one reducer — fine on a frame whose size is structurally bounded
(calendar days, languages, ten deciles, a top-k), a scale-killer on a
corpus/user-dimension frame at 10^9 rows. The distributed alternative is
functions/distrank.py (zip_scan rank / running scan + closed-form NTILE),
which round 4 swapped into q_quality_logit, q_rfm_segments,
q_calibration, q_lift_chart, q_auc, q_lorenz and q_pareto_ratio.

This sweep walks EVERY registry entry's optimized logical plan and fails
if a Window node with an empty partitionSpec appears outside the
explicit allowlist below. Adding a new global-window query without
consciously classifying its frame here is a test failure — the gate is
how the pattern stays dead.
"""

import pytest

from arrow_supercluster_spark.plans.registry import REGISTRY

# Every entry here has a structurally BOUNDED frame under the window
# (bound stated), verified in the round-4 audit. User/document-dimension
# frames do NOT qualify — those must use functions/distrank.py.
ALLOWED_GLOBAL_WINDOWS = {
    # (q_get_leaves ranks only its TakeOrdered 12-row page, listed below;
    #  a window over the whole leaf set would not qualify — a zoom-0
    #  cluster's leaf set is corpus-sized)
    # calendar-time frames: one row per day/hour — years of data ≈ 10^3
    "q_daily_anomaly", "q_cusum_changepoint", "q_ema_daily",
    "q_autocorrelation", "q_kaplan_meier", "q_hazard_rate", "q_ols_2var",
    # distribution summaries on PRE-COLLAPSED small frames: deciles,
    # quantile grids, top-k vocab slices (explicit LIMIT upstream)
    "q_lift_chart",      # 10 decile rows (the |users| rank is distrank now)
    "q_heaps_law",       # 10 corpus-growth deciles
    "q_zipf_fit",        # top-200 vocab slice
    "q_hill_tail_index", # top-k tail slice
    "q_stylometry_delta",  # MFW vocab slice × sources
    "q_apportion",       # one row per language
    "q_rrf_fusion",      # two top-k ranker outputs (bounded candidate set)
    "q_rbo",             # same two top-10 ranker outputs (RBO agreement)
    # calendar/day-collapsed or dimension-collapsed frames
    "q_runs_test",   # daily counts (calendar-bounded)
    # batch-213 time-series complexity: all on the ≤31-row daily frame
    "q_permutation_entropy", "q_sample_entropy", "q_kpss_level",
    # batch-216 survival completions: interval/death-time frames ≤31 rows
    "q_life_table", "q_cumulative_incidence",
    # batch-218 forecast accuracy: all on the ≤31-row daily frame
    "q_forecast_accuracy", "q_tracking_signal", "q_interval_coverage",
    "q_gini",        # rank over |sources| / |langs| group counts
    # (q_mann_whitney / q_ks_test / q_spearman were de-weaked in round 4:
    #  group-collapsed zip_scan midranks/ECDFs, no user-dimension window)
    # round-6 calendar/bin-bounded frames (audited in the r6 gate run)
    "q_kendall_w",      # three ROW_NUMBER ranks over <=31 day rows
    "q_page_hinkley",   # running mean/sum/min over <=31 day rows
    "q_croston",        # demand-day index/lag over <=31 day rows
    "q_theta_forecast", # day index + day count over the series' day
                        # rollup (calendar-bounded, the q_croston class)
    "q_stl_lite",       # 7-day centered MA over <=31 day rows
    "q_qn_scale",       # pairwise-|diff| rank over <=31*30/2 day pairs
    "q_hist_quantiles", # cumulative counts over <=40 literal bins PLUS
                        # a value-collapsed cum-count frame bounded by
                        # the <=50,001 distinct cent values of the
                        # [0,500] domain (type-1 exact quantile, r7)
    "q_ewma_chart",     # day index rank over <=31 day rows
    # structural scans over tiny administrative frames
    "q_concat_chunks",   # one row per input partition (prefix offsets)
    "q_shard_manifest",  # one row per output shard
    "q_bh_fdr",          # p-value ranking over |event types| rows
    "q_rank_aggregation",  # three rankings over the |sources| frame
    "q_reservoir_sample",  # rank over the TakeOrdered top-25 page
    "q_get_leaves",        # row_number over the TakeOrdered 12-row page
    # r7 EDF normality suite: running count over the value-collapsed
    # frame, bounded by the <=100,001 distinct cent values of the
    # [0,1000) 2-decimal domain (the q_hist_quantiles class)
    "q_anderson_darling", "q_lilliefors", "q_shapiro_francia",
    # r7 EVT pack: same value-collapsed cent-domain bound
    "q_l_moments", "q_gpd_pot", "q_mean_excess",
    # r7 ordinal effect sizes: same cent-domain bound
    "q_cliffs_delta", "q_somers_d",
    # r10 lakehouse-maintenance planners (batch 234): windows run at
    # MANIFEST grain, never fact grain
    "q_optimize_bins",    # prefix sum over the <=200-slot file manifest
    "q_tenant_fairness",  # unbounded SUM/COUNT over the 12-row tenant
                          # rollup (Jain index staple)
    # r10 batch 235: windows at BUCKET grain, never fact grain
    "q_hdr_quantiles",    # cumulative count over <=38*8=304 HDR buckets
                          # per priority (facts agg'd to bucket first)
}


def _unpartitioned_windows(df):
    found = []

    def walk(node):
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
        ):
            found.append(str(node.windowExpressions()))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return found


@pytest.mark.slow
def test_no_unpartitioned_window_outside_allowlist(spark, sf_dir):
    offenders, errors = {}, {}
    for name, qd in REGISTRY.items():
        try:
            w = _unpartitioned_windows(qd.spark(spark, sf_dir))
        except Exception as e:  # plan construction itself must not break
            errors[name] = repr(e)[:200]
            continue
        if w and name not in ALLOWED_GLOBAL_WINDOWS:
            offenders[name] = len(w)
    assert not errors, f"plan construction failed: {errors}"
    assert not offenders, (
        "unpartitioned Window on potentially unbounded frames — use "
        f"functions/distrank.py or allowlist with a stated bound: {offenders}"
    )
    # the allowlist must not rot: every name still registered
    gone = [n for n in ALLOWED_GLOBAL_WINDOWS if n not in REGISTRY]
    assert not gone, f"allowlist entries no longer registered: {gone}"
