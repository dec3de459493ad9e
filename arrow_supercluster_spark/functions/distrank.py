"""Distributed global rank / prefix-scan — the scale-safe replacement for
unpartitioned `Window.orderBy(...)` plans.

A global window (`Window.orderBy` with no partitionBy) funnels the ENTIRE
frame through one reducer: correct at sf0.1, a single-task wall at 10^9
keys. This module provides the same three primitives those windows were
used for, with no single-partition stage:

* `zip_scan` — global 0-based rank by a total order (and optionally the
  exact-order running sum of a value column), built as: range-partitioned
  sort, then the zipWithIndex construction in Arrow — pass 1 collects one
  tiny row per partition (count + partition value sum), pass 2 adds
  idx = partition offset + position (and cum = offset sum + local cumsum).
  Both passes are Arrow-batched mapInPandas; nothing leaves the JVM except
  the per-partition summary. Totals (row count, value sum) fall out of
  pass 1 for free — no extra `Window.partitionBy()` pass.
* `ntile_bucket` — NTILE(k) as a closed-form expression over that rank
  (identical bucket boundaries to SQL NTILE: the first n%k buckets get
  ceil(n/k) rows), so SQL twins keep their NTILE form while the Spark
  plan stays distributed.

Float note: the running sum accumulates left-to-right within each
partition (np.cumsum seeded with the partition's offset), with offsets
chained in partition order — the same association a sequential
single-reducer window uses up to the partition-boundary regroup, i.e.
bit-differences vs an oracle's sequential scan are confined to ~1 ulp
per boundary. Every registered consumer rounds its outputs at a digit
budget orders of magnitude above that residual (plans/registry.py module
doc), same policy as aggregate sums.

Origin: generalizes the exact distributed greedy's re-rank
(operators/greedy.py, which calls `zip_scan` directly), promoted here
per VERDICT r3 "What's wrong #2" to de-weak the four global-window registry entries
(q_quality_logit, q_rfm_segments, q_calibration, q_pareto_ratio).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zip_scan(
    df: DataFrame,
    sort_cols: list,
    out: str = "idx",
    scan_col=None,
    scan_out="cum",
):
    """Sort `df` globally by `sort_cols` and attach `out` = exact 0-based
    global rank (int64). When `scan_col` is given (a column name or a
    list of names), also attach `scan_out` (name or matching list) =
    running sum of each column in rank order (inclusive).

    Returns `(df_out, n_rows, scan_total)` — the totals are computed in
    pass 1 (scan_total is None without scan_col, a number for a single
    column, a list of numbers for a list). An integral scan column is
    summed in int64 end to end, so its total is an exact int and its
    running sum is exact up to 2^53 (the `scan_out` column stays double);
    a null in it adds 0, as SQL's SUM skips it. The sort is materialized
    (localCheckpoint) first so both passes see the identical
    partitioning; `df.sort` range-partitions, so no stage sees more than
    one partition's rows."""
    from pyspark import TaskContext
    from pyspark.sql.types import DoubleType, IntegralType, LongType, StructField, StructType

    from arrow_supercluster_spark.functions.checkpoint import truncate

    single = isinstance(scan_col, str)
    scan_cols = [scan_col] if single else list(scan_col or [])
    scan_outs = [scan_out] if single else list(
        scan_out if scan_col is not None else []
    )
    assert len(scan_cols) == len(scan_outs)
    k = len(scan_cols)

    s = truncate(df.sort(*sort_cols))

    if k == 0:
        # Rank-only fast path, fully JVM-side (no Arrow round-trip):
        # on the MATERIALIZED sorted frame, monotonically_increasing_id
        # is (partitionId << 33) | rowPositionInPartition, so the local
        # position falls out of the low 33 bits for free; pass 1 shrinks
        # to a per-partition count agg (map-side combined, one row per
        # partition crosses the wire) and pass 2 is a broadcast join of
        # the offsets + one add. Identical ranks to the Arrow path (both
        # read the same materialized row order — greedy mode="cc"
        # bit-parity tests pass unchanged); the hot greedy-cc re-rank
        # and the leaf-pagination limit=None path are rank-only, so they
        # skip the Python boundary entirely. Sweep numbers in SCALING.md.
        counts = (
            s.groupBy(F.spark_partition_id().alias("_zs_pid"))
            .agg(F.count(F.lit(1)).alias("_zs_n"))
            .collect()
        )
        parts_n = {r["_zs_pid"]: r["_zs_n"] for r in counts}
        off_rows, acc = [], 0
        for pid in sorted(parts_n):
            off_rows.append((pid, acc))
            acc += parts_n[pid]
        spark = df.sparkSession
        if not off_rows:
            return (
                s.withColumn(out, F.lit(0).cast("long")).limit(0), 0, None
            )
        off_df = spark.createDataFrame(off_rows, "_zs_pid int, _zs_off long")
        mid = F.monotonically_increasing_id()
        ranked = (
            s.withColumn("_zs_pid", F.spark_partition_id())
            .withColumn(
                "_zs_loc", mid.bitwiseAND(F.lit((1 << 33) - 1))
            )
            .join(F.broadcast(off_df), "_zs_pid")
            .withColumn(out, (F.col("_zs_off") + F.col("_zs_loc")))
            .drop("_zs_pid", "_zs_loc", "_zs_off")
        )
        return ranked, acc, None

    integral = [isinstance(s.schema[c].dataType, IntegralType) for c in scan_cols]
    zeros = [0 if i else 0.0 for i in integral]

    def values(pdf, i):
        if integral[i]:
            return pdf[scan_cols[i]].fillna(0).to_numpy(dtype="int64")
        return pdf[scan_cols[i]].to_numpy(dtype="float64")

    def summarize(batches):
        n, tot = 0, list(zeros)
        for pdf in batches:
            n += len(pdf)
            for i in range(k):
                if len(pdf):
                    # cumsum, not np.sum: keep strict left-to-right
                    # association so chained offsets reproduce a
                    # sequential scan's grouping (module doc)
                    tot[i] += np.cumsum(values(pdf, i))[-1].item()
        row = {"pid": [TaskContext.get().partitionId()], "n": [n]}
        for i in range(k):
            row[f"s{i}"] = [tot[i]]
        yield pd.DataFrame(row)

    schema1 = "pid int, n long" + "".join(
        f", s{i} {'long' if integral[i] else 'double'}" for i in range(k)
    )
    parts = {
        r["pid"]: (r["n"], [r[f"s{i}"] for i in range(k)])
        for r in s.mapInPandas(summarize, schema1).collect()
    }
    offsets: dict[int, tuple[int, list]] = {}
    acc_n, acc_s = 0, list(zeros)
    for pid in sorted(parts):
        offsets[pid] = (acc_n, list(acc_s))
        acc_n += parts[pid][0]
        for i in range(k):
            acc_s[i] += parts[pid][1][i]

    def add_cols(batches):
        pid = TaskContext.get().partitionId()
        seen, run = offsets.get(pid, (0, zeros))
        run = list(run)
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out] = np.arange(seen, seen + len(pdf), dtype="int64")
            seen += len(pdf)
            for i, o in enumerate(scan_outs):
                v = values(pdf, i)
                # seed the cumsum with the carried offset so association
                # stays ((offset + v1) + v2) + ... — sequential form
                cum = np.cumsum(np.concatenate(([run[i]], v)))[1:]
                pdf[o] = cum.astype("float64")
                run[i] = cum[-1].item() if len(cum) else run[i]
            yield pdf

    fields = list(s.schema.fields) + [StructField(out, LongType())]
    for o in scan_outs:
        fields.append(StructField(o, DoubleType()))
    totals = None if scan_col is None else (acc_s[0] if single else acc_s)
    return s.mapInPandas(add_cols, StructType(fields)), acc_n, totals


def ntile_bucket(idx_col, n: int, k: int) -> F.Column:
    """SQL NTILE(k) over n rows as a closed-form expression on the 0-based
    global rank `idx_col`: the first n % k buckets take ceil(n/k) rows,
    the rest floor(n/k) — byte-identical bucket boundaries to NTILE, no
    window. Returns an IntegerType column (Spark ntile's type)."""
    q, rem = divmod(int(n), int(k))
    if q == 0:
        # fewer rows than buckets: NTILE gives row i bucket i+1
        return (idx_col + 1).cast("int")
    big = q + 1
    head = rem * big
    return (
        F.when(idx_col < head, F.floor(idx_col / big))
        .otherwise(rem + F.floor((idx_col - head) / q))
        .cast("int")
        + 1
    ).cast("int")
