"""Block-pair enumeration for exact all-pairs kernels (r11, VERDICT r10
"Next round" #8; guide §4.2).

The eval-grain pairwise statistics (Dunn, energy distance, kernel MMD,
silhouette) were expressed as a BroadcastNestedLoopJoin over n²/2 row
pairs with the per-pair distance folded by interpreted higher-order
lambdas — n²·d interpreted lambda evaluations (the same per-element
interpretation cost that made the r10 minhash fold a measured loss).
This module replaces the PAIR ENUMERATION, not the arithmetic: items are
hash-bucketed into B blocks, every unordered block pair {p,q} becomes
one group, and a vectorized NumPy kernel computes the block's pair
statistics in C.  Each unordered ITEM pair {i,j} lands in exactly one
group (the group of its unordered block pair); same-block groups must
restrict to id_a < id_b, cross-block groups use the full cross product.

Bit-exactness discipline (the reason this is safe for oracle-checked
queries):
  * integer vectors: ‖a−b‖² = a·a − 2a·b + b·b in int64 — associative,
    exact, no rounding at all (< 2^53 by the callers' micro-grid bound);
  * float vectors: `fold_d2` reproduces Spark's aggregate/zip_with LEFT
    FOLD bit-for-bit — (x−y)² elementwise then np.add.accumulate along
    the dim axis (strictly sequential, same order, same IEEE ops);
  * rounding: `half_up` reproduces Spark's F.round (BigDecimal HALF_UP
    on a positive double) as floor(x) + (x − floor(x) >= 0.5), which is
    exact for x < 2^52 — NOT floor(x + 0.5), whose addition can cross an
    integer boundary one ulp early.  `round_half_up` is F.round at a
    positive scale, where the decimal Spark rounds is no longer the
    exact double (see its docstring).

Replication cost: each item is shipped to its B block pairs once →
B × |items| rows through one exchange, tiny at the eval grain these
queries are contracted to (n ≤ thousands; the production-scale siblings
are the LSH/IVF paths — see each query's docstring).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
from pyspark.sql import DataFrame, functions as F

BLOCKS = 16
# Enough digits to quantize any finite double at any practical scale.
_WIDE = Context(prec=1000)


def half_up(x: np.ndarray) -> np.ndarray:
    """Spark F.round / BigDecimal HALF_UP for positive doubles < 2^52."""
    fl = np.floor(x)
    return (fl + (x - fl >= 0.5)).astype(np.int64)


def round_half_up(x: np.ndarray, digits: int) -> np.ndarray:
    """Spark F.round(double, digits) for digits >= 0, elementwise.

    Spark computes BigDecimal.valueOf(x).setScale(digits, HALF_UP)
    .toDouble: it rounds the decimal Double.toString prints (Python's
    repr), not the exact binary value, so 1.5e-09 rounds up to 2e-09 at
    9 digits although the stored double is just below 1.5e-09.  A scaled
    floor decides every value whose scaled fraction is clear of one half
    by more than the scaling's rounding error (< 2 ulp); the values
    inside that band, and those too large to scale exactly, go through
    Decimal(repr(x)) as Spark does.  NaN and ±inf pass through; a zero
    result is +0.0, as BigDecimal has no negative zero."""
    x = np.asarray(x, dtype=np.float64)
    scale = 10.0**digits
    with np.errstate(over="ignore", invalid="ignore"):
        y = np.abs(x) * scale
        fl = np.floor(y)
        frac = y - fl
        k = fl + (frac >= 0.5)
        out = np.where(x < 0, -k, k) / scale + 0.0
        exact = np.isfinite(x) & ((y >= 2.0**53) | (np.abs(frac - 0.5) <= 4 * np.spacing(y)))
    q = Decimal(1).scaleb(-digits)
    for i in np.flatnonzero(exact):
        d = Decimal(repr(float(x[i])))
        out[i] = float(d.quantize(q, ROUND_HALF_UP, _WIDE)) + 0.0
    return out


def fold_d2(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(na, nb) matrix of Σ_dim (a−b)², bit-identical to Spark's
    aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0.0, acc+t) left
    fold (float64, strictly sequential along the dim axis)."""
    diff2 = (A[:, None, :] - B[None, :, :]) ** 2
    return np.add.accumulate(diff2, axis=2)[:, :, -1]


def d2_int(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(na, nb) exact int64 squared distances for integer vectors."""
    g = A @ B.T
    na2 = np.einsum("ij,ij->i", A, A)
    nb2 = np.einsum("ij,ij->i", B, B)
    return na2[:, None] - 2 * g + nb2[None, :]


def pair_mask(ia: np.ndarray, ib: np.ndarray, same_block: bool) -> np.ndarray:
    """Which (a, b) cells of the block-pair matrix are live pairs."""
    if same_block:
        return ia[:, None] < ib[None, :]
    return np.ones((len(ia), len(ib)), dtype=bool)


def block_pair_groups(
    items: DataFrame, fn, schema, id_col: str = "vec_id", blocks: int = BLOCKS
):
    """Run `fn` (a pandas applyInPandas kernel) once per unordered block
    pair.  `items` must carry `id_col` plus payload columns; the group
    frame `fn` receives additionally carries `p` (the row's block),
    `pa`, `pb` (the group's unordered block pair).  Protocol for `fn`:
    a-side = rows with p == pa, b-side = rows with p == pb, and when
    pa == pb it must restrict to id_a < id_b (use `pair_mask`)."""
    bl = items.withColumn(
        "p", F.pmod(F.col(id_col), F.lit(blocks)).cast("int")
    )
    rep = (
        bl.withColumn(
            "q", F.explode(F.sequence(F.lit(0), F.lit(blocks - 1)))
        )
        .withColumn("pa", F.least("p", "q"))
        .withColumn("pb", F.greatest("p", "q"))
        .drop("q")
    )
    # No dedup needed: for q == p the row lands in group (p, p) exactly
    # once, and for q != p the row lands in group {p, q} exactly once
    # (from its own q) — so each group holds each member item once.
    return rep.groupBy("pa", "pb").applyInPandas(fn, schema)
