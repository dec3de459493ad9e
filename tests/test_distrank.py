"""functions/distrank.py — the distributed replacement for unpartitioned
windows must agree EXACTLY with the window forms it replaces
(row_number / running SUM / NTILE), at multiple partition counts."""

# Timing tier (r11, VERDICT r10 "Next round" #2): this module's Spark
# work put it above the 8 s cut in the measured full-suite profile, so it
# is excluded from the DEFAULT pytest run (pyproject addopts -m 'not
# slow') to keep that run inside the driver's budget.  The full suite
# (tools/shard_tests.py, or pytest -m '') still runs it.
import pytest as _pytest_tier

pytestmark = _pytest_tier.mark.slow


import numpy as np
import pytest
from pyspark.sql import Window, functions as F

from arrow_supercluster_spark.functions.distrank import ntile_bucket, zip_scan


def _frame(spark, n=977, parts=7, seed=3):
    rng = np.random.RandomState(seed)
    rows = [
        (int(i), float(np.round(rng.uniform(0, 100), 4)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "uid long, v double").repartition(parts)


@pytest.mark.parametrize("parts", [1, 7, 32])
def test_zip_scan_rank_matches_row_number(spark, parts):
    df = _frame(spark, parts=parts)
    out, n, _ = zip_scan(df, [F.col("v").desc(), "uid"], out="idx")
    assert n == df.count()
    w = Window.orderBy(F.col("v").desc(), "uid")
    want = {
        (r.uid): r.rn - 1
        for r in df.select("uid", F.row_number().over(w).alias("rn")).collect()
    }
    got = {r.uid: r.idx for r in out.collect()}
    assert got == want


def test_zip_scan_running_sum_matches_window(spark):
    df = _frame(spark, n=500, parts=9)
    out, n, tot = zip_scan(df, ["v", "uid"], scan_col="v", scan_out="cum")
    w = Window.orderBy("v", "uid").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.uid: r.cum
        for r in df.select("uid", F.sum("v").over(w).alias("cum")).collect()
    }
    got = {r.uid: r.cum for r in out.collect()}
    assert n == 500
    for uid in want:
        # association differs only at partition boundaries (module doc):
        # residual must sit far below every consumer's rounding grid
        assert got[uid] == pytest.approx(want[uid], abs=1e-7)
    assert tot == pytest.approx(sum(r.v for r in df.collect()), abs=1e-7)


def test_zip_scan_integral_column_sums_exactly(spark):
    """An integral scan column is summed in int64: the total is an exact
    int and each running sum is the window's exact long rounded once to
    double, beyond 2^53 where float64 accumulation drifts; a null adds 0,
    as SQL's SUM skips it."""
    rows = [(i, None if i == 17 else (1 << 50) + 7 * i) for i in range(300)]
    df = spark.createDataFrame(rows, "uid long, c long").repartition(7)
    out, n, tot = zip_scan(df, ["uid"], scan_col="c", scan_out="cum")
    assert n == 300
    assert type(tot) is int and tot == sum(c for _, c in rows if c is not None)
    w = Window.orderBy("uid").rowsBetween(Window.unboundedPreceding, 0)
    want = {r.uid: float(r.cum) for r in df.select("uid", F.sum("c").over(w).alias("cum")).collect()}
    assert {r.uid: r.cum for r in out.collect()} == want


@pytest.mark.parametrize("n,k", [(977, 10), (40, 4), (3, 10), (10, 10), (11, 4)])
def test_ntile_bucket_matches_sql_ntile(spark, n, k):
    df = _frame(spark, n=n, parts=5)
    ranked, total, _ = zip_scan(df, ["v", "uid"], out="idx")
    assert total == n
    got = {
        r.uid: r.b
        for r in ranked.select(
            "uid", ntile_bucket(F.col("idx"), total, k).alias("b")
        ).collect()
    }
    w = Window.orderBy("v", "uid")
    want = {
        r.uid: r.b
        for r in df.select("uid", F.ntile(k).over(w).alias("b")).collect()
    }
    assert got == want
