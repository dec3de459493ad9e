"""Property tests of the NumPy kernels that claim to reproduce Spark
bit for bit (functions/blockpairs.py): each is checked against the Spark
expression it replaces, on random values and on the rounding boundaries
where a plausible shortcut goes wrong."""

import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from arrow_supercluster_spark.functions import blockpairs as bp
from arrow_supercluster_spark.plans.registry_ext123 import _LOF_K, _lof_knn_fn


def _spark_values(spark, xs, expr):
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(xs)), "x": xs}))
    rows = df.select("i", expr(F.col("x")).alias("y")).orderBy("i").collect()
    return np.array([r.y for r in rows], dtype=np.float64)


def _boundaries(rng, n, digits):
    """x.xxx5 at the first dropped digit, and both neighbouring doubles."""
    half = (rng.integers(0, 10**digits, n) + 0.5) / 10.0**digits
    return np.concatenate([half, np.nextafter(half, 0.0), np.nextafter(half, 1.0)])


@pytest.mark.parametrize("digits", [9, 6])
def test_round_half_up_matches_spark_round(spark, digits):
    rng = np.random.default_rng(digits)
    xs = np.concatenate([
        rng.random(4000),
        rng.random(2000) * 1e-4,
        -rng.random(1000),
        _boundaries(rng, 3000, digits),
        -_boundaries(rng, 500, digits),
        [0.0, -0.0, 1.5e-9, 2.5e-7, -5e-10, 1e300, 123456789.123456789],
    ])
    want = _spark_values(spark, xs, lambda c: F.round(c, digits))
    got = bp.round_half_up(xs, digits)
    assert (got == want).all(), xs[got != want][:10]
    assert not np.signbit(got[got == 0.0]).any()


def test_round_half_up_differs_from_a_scaled_floor_on_boundaries():
    """The band is live: some boundary values round differently from the
    exact-binary floor form, which is why the helper exists."""
    xs = _boundaries(np.random.default_rng(0), 2000, 9)
    floor_form = bp.half_up(xs * 1e9) / 1e9
    assert (bp.round_half_up(xs, 9) != floor_form).any()


def test_half_up_matches_spark_round_at_one_half(spark):
    rng = np.random.default_rng(1)
    k = np.concatenate([np.arange(0, 50), rng.integers(0, 2**51, 2000)]).astype(np.float64)
    xs = np.concatenate([k + 0.5, np.nextafter(k + 0.5, 0.0), np.nextafter(k + 0.5, np.inf)])
    want = _spark_values(spark, xs, lambda c: F.round(c, 0))
    assert (bp.half_up(xs) == want).all()


@pytest.mark.parametrize("dims", [1, 3, 64])
def test_fold_d2_matches_spark_zip_with_fold(spark, dims):
    rng = np.random.default_rng(dims)
    A = rng.normal(size=(7, dims)) * rng.choice([1e-3, 1.0, 1e3], size=(7, 1))
    B = rng.normal(size=(5, dims))
    rows = [(i, j, A[i].tolist(), B[j].tolist()) for i in range(len(A)) for j in range(len(B))]
    df = spark.createDataFrame(rows, "i int, j int, a array<double>, b array<double>")
    fold = F.aggregate(
        F.zip_with("a", "b", lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, t: acc + t
    )
    want = np.zeros((len(A), len(B)))
    for r in df.select("i", "j", fold.alias("d2")).collect():
        want[r.i, r.j] = r.d2
    assert (bp.fold_d2(A, B) == want).all()


# Blocks of 4: block 0 holds 0, 4, 8; block 1 holds only 1; blocks 2 and
# 3 are empty, so groups (0, 2), (1, 3), (2, 2), ... never exist.
IDS = [0, 4, 8, 1]


def test_block_pair_groups_cover_every_pair_once(spark):
    # defined here so the Python workers get it by value, not by module
    def _all_pairs_fn(pdf):
        pa_, pb = int(pdf["pa"].iat[0]), int(pdf["pb"].iat[0])
        a = pdf[pdf["p"] == pa_]["vec_id"].to_numpy()
        b = pdf[pdf["p"] == pb]["vec_id"].to_numpy()
        ia, ib = np.nonzero(bp.pair_mask(a, b, pa_ == pb))
        return pd.DataFrame({"pa": pa_, "pb": pb, "x": a[ia], "y": b[ib]})

    items = spark.createDataFrame([(i,) for i in IDS], "vec_id long")
    out = bp.block_pair_groups(items, _all_pairs_fn, "pa int, pb int, x long, y long", blocks=4).toPandas()
    pairs = sorted(tuple(sorted(p)) for p in zip(out.x, out.y))
    assert pairs == sorted(itertools.combinations(sorted(IDS), 2))
    assert set(zip(out.pa, out.pb)) == {(0, 0), (0, 1)}


def test_lof_kernel_on_zero_and_one_member_blocks(spark):
    """The LOF block kernel through block_pair_groups, including the
    one-member same-block group (1, 1) whose only pair is a self-pair:
    after the global (d2i, dst) cut every src has its exact kNN."""
    rng = np.random.default_rng(3)
    vecs = {i: rng.integers(0, 4, size=3).astype(float).tolist() for i in IDS}
    items = spark.createDataFrame([(i, v) for i, v in vecs.items()], "vec_id long, v array<double>")
    cand = bp.block_pair_groups(items, _lof_knn_fn, "src long, dst long, d2i long", blocks=4).toPandas()
    one = pd.DataFrame({"vec_id": [1], "v": [vecs[1]], "p": [1], "pa": [1], "pb": [1]})
    assert len(_lof_knn_fn(one)) == 0
    got = {
        s: [(int(r.d2i), int(r.dst)) for r in g.sort_values(["d2i", "dst"]).head(_LOF_K).itertuples()]
        for s, g in cand.groupby("src")
    }
    V = {i: np.array(v) for i, v in vecs.items()}
    want = {
        i: sorted((int(bp.half_up(np.array([((V[i] - V[j]) ** 2).sum() * 1e6]))[0]), j) for j in IDS if j != i)[:_LOF_K]
        for i in IDS
    }
    assert got == want
