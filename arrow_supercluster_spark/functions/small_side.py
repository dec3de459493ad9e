"""Small-side gate: fetch a DataFrame to the driver only when it is small.

Adaptive operators keep a driver-side fast path for inputs that fit in
memory (union-find connected components, the radius hierarchy's NumPy
tail) and a distributed path for everything else. The gate decides with
ONE Spark job: `limit(cap + 1).toArrow()` evaluates the lineage once,
moves at most `cap + 1` rows, and the row count itself is the answer —
no separate `count()` pass over the same lineage.

Cost on a large input: the job's map stage keeps at most `cap + 1` rows
per partition and shuffles them into the single partition that applies
the global limit, so executors move up to n_partitions · (cap + 1) rows
before the driver sees `cap + 1` of them.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame


def small_side(df: DataFrame, cap: int) -> pa.Table | None:
    """The rows of `df` as an Arrow table when there are at most `cap`,
    else None (the caller takes its distributed path). Always one job,
    whatever `spark.sql.execution.arrow.pyspark.enabled` says."""
    tbl = df.limit(cap + 1).toArrow()
    return tbl if tbl.num_rows <= cap else None
