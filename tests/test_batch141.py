"""Batch-141 tests: ABC-XYZ, VaR/CVaR, kernel MMD — python oracles +
null-calibration/coherence properties, and kernel MMD's rounding guard."""

import math
from collections import Counter, defaultdict


def test_abc_xyz_python_oracle(spark, sf_dir):
    from arrow_supercluster_spark.plans.registry_ext146 import q_abc_xyz

    got = {
        (r.abc, r.xyz): r.n_parts for r in q_abc_xyz(spark, sf_dir).collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    rev = Counter()
    weekly = defaultdict(Counter)
    for x in li:
        rev[x.l_partkey] += round(x.l_extendedprice * 100)
        w = (x.l_shipdate.timetuple().tm_yday - 1) // 7
        weekly[x.l_partkey][w] += round(x.l_quantity)
    t = sum(rev.values())
    abc = {}
    cum = 0
    for pk in sorted(rev, key=lambda p: (-rev[p], p)):
        cum += rev[pk]
        abc[pk] = "A" if cum / t <= 0.80 else ("B" if cum / t <= 0.95 else "C")
    cells = Counter()
    for pk in rev:
        qs = list(weekly[pk].values())
        k = len(qs)
        if k < 2:
            xyz = "Z"
        else:
            s, ssq = sum(qs), sum(q * q for q in qs)
            cv = math.sqrt(max((ssq - s * s / k) / (k - 1), 0.0)) / (s / k)
            xyz = "X" if cv <= 0.5 else ("Y" if cv <= 1.0 else "Z")
        cells[(abc[pk], xyz)] += 1
    assert got == dict(cells)
    # the matrix partitions the catalog (every part in exactly one cell)
    assert sum(cells.values()) == len(rev)
    assert {a for a, _ in cells} <= {"A", "B", "C"}
    assert {x for _, x in cells} <= {"X", "Y", "Z"}


def test_value_at_risk_python_oracle(spark, sf_dir):
    from arrow_supercluster_spark.plans.registry_ext146 import (
        _VAR_ALPHA,
        q_value_at_risk,
    )

    [r] = q_value_at_risk(spark, sf_dir).collect()
    cents = sorted(
        round(e.value * 100)
        for e in spark.read.parquet(f"{sf_dir}/events.parquet").collect()
        if e.event_type == "purchase"
    )
    n = len(cents)
    var_c = cents[math.ceil(_VAR_ALPHA * n) - 1]
    tail = [c for c in cents if c >= var_c]
    assert r.n == n
    assert abs(r.var_95 - round(var_c / 100.0, 2)) < 1e-9
    assert r.tail_n == len(tail)
    assert abs(
        r.cvar_95 - round(sum(tail) / (100.0 * len(tail)), 4)
    ) < 1e-9
    # coherence direction: CVaR dominates VaR
    assert r.cvar_95 >= r.var_95 - 1e-9


def test_kernel_mmd_python_oracle_and_null(spark, sf_dir):
    from arrow_supercluster_spark.plans.registry_ext146 import (
        _MMD_SCALE,
        q_kernel_mmd,
    )

    [r] = q_kernel_mmd(spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    vecs = {
        e.vec_id: [float(x) for x in e.embedding] for e in emb
    }
    ids = sorted(vecs)
    d2s = []
    for i_idx, i in enumerate(ids):
        for j in ids[i_idx + 1 :]:
            d2 = sum((a - b) ** 2 for a, b in zip(vecs[i], vecs[j]))
            d2s.append((i % 2, j % 2, d2))
    h = sum(round(d2 * 1e3) for _, _, d2 in d2s) / (1e3 * len(d2s))
    sums = Counter()
    cnt = Counter()
    for ga, gb, d2 in d2s:
        key = "xx" if ga == 0 and gb == 0 else ("yy" if ga == 1 and gb == 1 else "xy")
        sums[key] += round(math.exp(-d2 / h) * _MMD_SCALE)
        cnt[key] += 1
    mmd2 = (
        sums["xx"] / (_MMD_SCALE * cnt["xx"])
        + sums["yy"] / (_MMD_SCALE * cnt["yy"])
        - 2 * sums["xy"] / (_MMD_SCALE * cnt["xy"])
    )
    assert (r.n_xx_pairs, r.n_yy_pairs, r.n_xy_pairs) == (
        cnt["xx"], cnt["yy"], cnt["xy"],
    )
    assert abs(r.mmd2 - round(mmd2, 8)) < 1e-9
    # null calibration: an id-parity split of iid vectors ⇒ MMD² ≈ 0
    assert abs(r.mmd2) < 0.01


def test_kernel_mmd_guarded_cells_round_as_numpy(spark, sf_dir, monkeypatch):
    """Cells within _MMD_HALF_BAND of x.5 are rounded by Spark's own
    expression instead of NumPy's HALF_UP: closing the band (no cell goes
    to Spark) or widening it to 0.49 (98 % of cells do) gives the same
    row as the default band."""
    from arrow_supercluster_spark.plans import registry_ext146

    rows = []
    for band in (registry_ext146._MMD_HALF_BAND, -1.0, 0.49):
        monkeypatch.setattr(registry_ext146, "_MMD_HALF_BAND", band)
        rows += registry_ext146.q_kernel_mmd(spark, sf_dir).collect()
    assert rows[0] == rows[1] == rows[2]
