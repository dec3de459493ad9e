"""The small-side gate and its connected-components caller."""

import pytest

from arrow_supercluster_spark.functions.small_side import small_side
from arrow_supercluster_spark.operators import dedup


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("cap, fits", [(0, False), (99, False), (100, True), (1000, True)])
def test_small_side_is_one_bounded_job(spark, cap, fits):
    df = spark.range(0, 100, numPartitions=4).localCheckpoint()
    tbl, jobs = _jobs(spark, f"small_side_{cap}", lambda: small_side(df, cap))
    assert jobs == 1
    if fits:
        assert sorted(tbl.column("id").to_pylist()) == list(range(100))
    else:
        assert tbl is None


def test_adaptive_components_match_distributed(spark):
    edges = [(1, 2), (2, 3), (10, 11), (12, 11), (20, 20), (7, 3)]
    pairs = spark.createDataFrame(edges, "a_id long, b_id long")
    want = sorted(map(tuple, dedup.connected_components(pairs).collect()))
    fast = sorted(map(tuple, dedup.connected_components_adaptive(pairs).collect()))
    slow = sorted(map(tuple, dedup.connected_components_adaptive(pairs, small_threshold=0).collect()))
    assert fast == want == slow
    assert dict(fast)[7] == 1 and dict(fast)[12] == 10
