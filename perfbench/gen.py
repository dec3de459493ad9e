"""Seeded input generators owned by the benchmark.

Everything the benchmarked program reads is written here, as parquet,
from a seed: the same seed gives byte-identical files. The program only
ever sees the generated files.

* ``write_points`` — the geospatial corpus: hotspot Gaussians plus a
  uniform background, with a share of null coordinates, in the
  ``(id, lng, lat, city)`` shape the load path consumes.
* ``write_pipeline_tables`` — ``documents``, ``embeddings`` and
  ``events`` in the schema of the query registry's testdata, for the
  LLM-pipeline and graph queries.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_HOTSPOTS = 64
# The hotspot layout is part of the corpus's fixed distribution; the
# workload seed draws the points, the append batch and the subset from it.
LAYOUT_SEED = 64
HOTSPOT_SHARE = 0.8
NULL_SHARE = 0.01
N_CITIES = 20

POINT_SCHEMA = pa.schema(
    [("id", pa.int64()), ("lng", pa.float64()), ("lat", pa.float64()), ("city", pa.string())]
)


def write_table(table: pa.Table, path: str) -> None:
    # fixed writer settings: no pandas metadata, one row group per 64k rows,
    # so equal tables always serialise to equal bytes
    pq.write_table(
        table, path, compression="snappy", row_group_size=65536,
        write_statistics=True, store_schema=False,
    )


def point_columns(rng: np.random.Generator, n: int, hotspots: np.ndarray, first_id: int) -> pa.Table:
    """``n`` points: ``HOTSPOT_SHARE`` drawn around the given hotspots
    (rows ``lng, lat, sigma_deg``), the rest uniform over the Mercator
    latitude band; about ``NULL_SHARE`` of the rows get null coordinates.
    Rows are shuffled, ids are consecutive from ``first_id``."""
    n_hot = int(round(n * HOTSPOT_SHARE))
    which = rng.integers(0, len(hotspots), n_hot)
    lng = np.empty(n)
    lat = np.empty(n)
    lng[:n_hot] = hotspots[which, 0] + rng.normal(size=n_hot) * hotspots[which, 2]
    lat[:n_hot] = hotspots[which, 1] + rng.normal(size=n_hot) * hotspots[which, 2]
    lng[n_hot:] = rng.uniform(-180.0, 180.0, n - n_hot)
    lat[n_hot:] = rng.uniform(-85.0, 85.0, n - n_hot)
    lng = (lng + 180.0) % 360.0 - 180.0
    lat = np.clip(lat, -85.0, 85.0)
    order = rng.permutation(n)
    lng, lat = lng[order], lat[order]
    null = rng.random(n) < NULL_SHARE
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    city = np.array([f"city_{k}" for k in range(N_CITIES)], dtype=object)[ids % N_CITIES]
    return pa.table(
        {
            "id": ids,
            "lng": pa.array(lng, mask=null),
            "lat": pa.array(lat, mask=null),
            "city": pa.array(city, type=pa.string()),
        },
        schema=POINT_SCHEMA,
    )


def make_hotspots(rng: np.random.Generator) -> np.ndarray:
    """``N_HOTSPOTS`` rows of (lng, lat, sigma) at random centres, with
    spreads on a log-spaced ladder from street scale (0.01°) to region
    scale (3°)."""
    sigma = np.geomspace(0.01, 3.0, N_HOTSPOTS)
    return np.column_stack(
        [
            rng.uniform(-175.0, 175.0, N_HOTSPOTS),
            rng.uniform(-70.0, 70.0, N_HOTSPOTS),
            sigma[rng.permutation(N_HOTSPOTS)],
        ]
    )


def write_points(
    out_dir: str, seed: int, n_base: int, n_append: int = 0, n_subset: int = 0
) -> dict[str, str]:
    """Write ``points.parquet`` (``n_base`` rows) from one seed and, when
    asked, ``append.parquet`` (``n_append`` new rows, ids continuing after
    the base) and ``subset.parquet`` (``n_subset`` base rows drawn without
    replacement, in id order). Returns the paths by name."""
    os.makedirs(out_dir, exist_ok=True)
    hotspots = make_hotspots(np.random.default_rng(LAYOUT_SEED))
    rng = np.random.default_rng(seed)
    base = point_columns(rng, n_base, hotspots, 0)
    paths = {"points": os.path.join(out_dir, "points.parquet")}
    write_table(base, paths["points"])
    if n_append:
        paths["append"] = os.path.join(out_dir, "append.parquet")
        write_table(point_columns(rng, n_append, hotspots, n_base), paths["append"])
    if n_subset:
        paths["subset"] = os.path.join(out_dir, "subset.parquet")
        write_table(base.take(np.sort(rng.choice(n_base, n_subset, replace=False))), paths["subset"])
    return paths


# -- pipeline tables ---------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMBED_DIM = 64


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; 5 % repeat an earlier document plus the token
    ``dup`` (near duplicates), 1 % repeat one verbatim (exact duplicates)."""
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 0 and u < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and u < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array([LANGS[k] for k in rng.choice(len(LANGS), n, p=LANG_P)], type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 vectors with a label in 0..9."""
    v = rng.normal(size=(n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """A 30-day event stream in time order; values are cents-rounded
    exponentials, users uniform."""
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00 UTC
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + start_us
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": pa.array([EVENT_TYPES[k] for k in rng.integers(0, 5, n)], type=pa.string()),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], type=pa.string()),
        }
    )


def write_pipeline_tables(
    out_dir: str, seed: int, n_docs: int, n_vectors: int, n_events: int, n_users: int
) -> str:
    """Write the three pipeline tables under ``out_dir`` and return it."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    write_table(_documents(rng, n_docs), os.path.join(out_dir, "documents.parquet"))
    write_table(_embeddings(rng, n_vectors), os.path.join(out_dir, "embeddings.parquet"))
    write_table(_events(rng, n_events, n_users), os.path.join(out_dir, "events.parquet"))
    return out_dir
