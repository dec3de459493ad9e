"""Expected outputs, computed by DuckDB from the generated parquet files.

The SQL comes from the package's own SQL twins (``sql_points_xy``,
``sql_cell_agg``, the projection and bbox twins), the same ones the
repository's oracle tests use; the Spark side is never consulted.
"""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np

from arrow_supercluster_spark.config import ClusterOptions
from arrow_supercluster_spark.functions.projection import sql_x_lng, sql_y_lat
from arrow_supercluster_spark.operators import grid_cluster as gc
from arrow_supercluster_spark.operators.filters import sql_bbox_predicate


def _parquet_list(paths) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


class PointsOracle:
    """DuckDB over one or more generated point files."""

    def __init__(self, paths, opts: ClusterOptions):
        self.opts = opts
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        src = f"SELECT id, lng, lat, city FROM read_parquet({_parquet_list(paths)})"
        self.con.execute(f"CREATE TABLE pts AS {gc.sql_points_xy(src)}")
        self.n_points = self.con.execute("SELECT count(*) FROM pts").fetchone()[0]

    def close(self) -> None:
        self.con.close()

    def level(self, zoom: int):
        """Grid nodes of one zoom, sorted by cell."""
        sql = gc.sql_cell_agg("SELECT * FROM pts", zoom, self.opts)
        return self.con.execute(f"{sql} ORDER BY cell_x, cell_y").fetchdf()

    def make_node_table(self) -> None:
        """All zooms' nodes with their output positions, as table ``nodes``."""
        mp = self.opts.min_points
        levels = " UNION ALL ".join(
            gc.sql_cell_agg("SELECT * FROM pts", z, self.opts)
            for z in range(self.opts.min_zoom, self.opts.leaf_zoom + 1)
        )
        self.con.execute(
            f"""CREATE TABLE nodes AS
            SELECT zoom, cell_x, cell_y, num_points, num_points >= {mp} AS is_cluster,
              CASE WHEN num_points >= {mp} THEN {sql_x_lng('sum_x / num_points')} ELSE min_lng END AS lng,
              CASE WHEN num_points >= {mp} THEN {sql_y_lat('sum_y / num_points')} ELSE min_lat END AS lat,
              min_id AS rep_id
            FROM ({levels})"""
        )

    def nodes(self):
        return self.con.execute("SELECT * FROM nodes ORDER BY zoom, cell_x, cell_y").fetchdf()

    def clusters(self, zoom: int, bbox):
        z = max(self.opts.min_zoom, min(int(zoom), self.opts.max_zoom + 1))
        return self.con.execute(
            f"SELECT * FROM nodes WHERE zoom = {z} AND {sql_bbox_predicate(*bbox)}"
        ).fetchdf()

    def children(self, zoom: int, cell_x: int, cell_y: int):
        return self.con.execute(
            f"SELECT * FROM nodes WHERE zoom = {zoom + 1} "
            f"AND floor(cell_x / 2) = {cell_x} AND floor(cell_y / 2) = {cell_y}"
        ).fetchdf()

    def leaves(self, zoom: int, cell_x: int, cell_y: int, limit: int, offset: int):
        cells = gc.sql_cells("SELECT * FROM pts", zoom, self.opts)
        return self.con.execute(
            f"""SELECT id, lng, lat, city, rank FROM (
                  SELECT id, lng, lat, city, row_number() OVER (ORDER BY id) AS rank
                  FROM ({cells}) WHERE cell_x = {cell_x} AND cell_y = {cell_y})
                WHERE rank > {offset} AND rank <= {offset + limit}"""
        ).fetchdf()

    def expansion_zoom(self, zoom: int, cell_x: int, cell_y: int) -> int:
        """First zoom below ``zoom`` where the node has other than one
        descendant cell (the reference's follow-the-single-child walk)."""
        rows = self.con.execute(
            f"""SELECT zoom, count(*) FROM nodes WHERE zoom > {zoom}
                AND (cell_x >> (zoom - {zoom})) = {cell_x}
                AND (cell_y >> (zoom - {zoom})) = {cell_y} GROUP BY zoom"""
        ).fetchall()
        counts = dict(rows)
        for z in range(zoom + 1, self.opts.max_zoom + 2):
            if counts.get(z, 0) != 1:
                return z
        return self.opts.max_zoom + 1


def hierarchy_sums(path: str) -> dict[int, int]:
    """Per-zoom ``sum(num_points)`` of a written zoom-partitioned hierarchy."""
    with duckdb.connect() as con:
        rows = con.execute(
            f"SELECT zoom, sum(num_points) FROM read_parquet('{path}/*/*.parquet', "
            "hive_partitioning = true) GROUP BY zoom"
        ).fetchall()
    return {int(z): int(s) for z, s in rows}


def hierarchy_nodes(path: str) -> int:
    with duckdb.connect() as con:
        return con.execute(f"SELECT count(*) FROM read_parquet('{path}/*/*.parquet')").fetchone()[0]


def hierarchy_level(path: str, zoom: int):
    with duckdb.connect() as con:
        return con.execute(
            f"SELECT * EXCLUDE (zoom) FROM read_parquet('{path}/zoom={zoom}/*.parquet') "
            "ORDER BY cell_x, cell_y"
        ).fetchdf()


def same_nodes(got, want) -> str | None:
    """Compare two node tables sorted by cell: keys, counts and mins
    exactly, coordinate sums to 1e-9 relative (summation order differs)."""
    if len(got) != len(want):
        return f"{len(got)} nodes, expected {len(want)}"
    for c in ("cell_x", "cell_y", "num_points", "min_id", "min_lng", "min_lat"):
        if not np.array_equal(got[c].to_numpy(), want[c].to_numpy()):
            return f"column {c} differs"
    for c in ("sum_x", "sum_y"):
        if not np.allclose(got[c].to_numpy(), want[c].to_numpy(), rtol=1e-9, atol=0.0):
            return f"column {c} differs beyond 1e-9"
    return None


def same_rows(got: list[dict], want, exact: list[str], close: list[str]) -> str | None:
    """Order-insensitive comparison of collected rows against a DuckDB
    frame: ``exact`` columns must match, ``close`` columns to 1e-9."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    g = sorted(got, key=lambda r: tuple(r[c] for c in exact))
    w = want.sort_values(exact).to_dict("records")
    for a, b in zip(g, w):
        for c in exact:
            if a[c] != b[c]:
                return f"{c}: {a[c]!r} != {b[c]!r}"
        for c in close:
            if abs(a[c] - b[c]) > 1e-9:
                return f"{c}: {a[c]!r} !~ {b[c]!r}"
    return None


def frame_digest(frame) -> dict:
    """Order-insensitive digest of a result frame: sorted column names,
    row count and a hash of the type-tagged canonical rows of the
    repository's oracle harness."""
    from tests.oracle_harness import _canon

    return {
        "columns": sorted(frame.columns),
        "rows": int(len(frame)),
        "sha256": hashlib.sha256(repr(_canon(frame)).encode()).hexdigest(),
    }
