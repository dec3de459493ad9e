"""The pipeline workload's fixed tables and their expected outputs.

The tables are generated from a fixed seed, so the expected result of
every query is computed once, by DuckDB running the query's SQL twin, and
stored in ``expected_pipeline.json``. Regenerate that file with::

    python3 perfbench/pipeline_data.py --write-expected

which also checks that Spark agrees with DuckDB on every query.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected_pipeline.json")

DATA_SEED = 20240101
SIZES = dict(n_docs=500, n_vectors=500, n_events=10_000, n_users=150)
TABLES = ("documents", "embeddings", "events")


def write_tables(out_dir: str) -> str:
    from gen import write_pipeline_tables

    return write_pipeline_tables(out_dir, DATA_SEED, **SIZES)


def duck_connection(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def load_expected() -> dict:
    with open(EXPECTED) as f:
        return json.load(f)


def _write_expected(work: str) -> None:
    from metrics import PIPELINE_QUERIES
    from oracle import frame_digest
    from run import start_session, stop_session

    from arrow_supercluster_spark.plans.registry import REGISTRY
    from tests.oracle_harness import compare

    data = write_tables(os.path.join(work, "pipeline_data"))
    con = duck_connection(data)
    expected = {q: frame_digest(con.execute(REGISTRY[q].sql).fetchdf()) for q in PIPELINE_QUERIES}
    spark = start_session(work, trace=False)
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        for q in PIPELINE_QUERIES:
            errs = compare(q, REGISTRY[q].spark(spark, data), con, REGISTRY[q].sql)
            if errs:
                raise SystemExit(f"Spark and DuckDB disagree on {q}: {errs[0][:300]}")
    finally:
        stop_session(spark)
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if sys.argv[1:] != ["--write-expected"]:
        raise SystemExit(__doc__)
    sys.path.insert(0, HERE)
    from run import ROOT, work_dir

    sys.path.insert(0, ROOT)
    with work_dir("expected") as w:
        _write_expected(w)
