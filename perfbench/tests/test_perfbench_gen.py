"""The seeded generators: same seed, same bytes."""

import filecmp
import os

import numpy as np
import pyarrow.parquet as pq

import gen
import pipeline_data


def _same_dirs(a, b):
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


def test_points_are_byte_identical_per_seed(tmp_path):
    a = gen.write_points(str(tmp_path / "a"), 7, 3000, 300, 500)
    gen.write_points(str(tmp_path / "b"), 7, 3000, 300, 500)
    gen.write_points(str(tmp_path / "c"), 8, 3000, 300, 500)
    assert set(a) == {"points", "append", "subset"}
    assert _same_dirs(tmp_path / "a", tmp_path / "b")
    assert not filecmp.cmp(a["points"], str(tmp_path / "c" / "points.parquet"), shallow=False)


def test_points_shape(tmp_path):
    p = gen.write_points(str(tmp_path), 1, 20_000, 2_000, 1_000)
    base = pq.read_table(p["points"]).to_pandas()
    app = pq.read_table(p["append"]).to_pandas()
    sub = pq.read_table(p["subset"]).to_pandas()
    assert list(base.id) == list(range(20_000))
    assert list(app.id) == list(range(20_000, 22_000))
    assert sub.id.is_monotonic_increasing and set(sub.id) <= set(base.id) and len(sub) == 1_000
    null_share = base.lng.isna().mean()
    assert 0.005 < null_share < 0.02
    assert (base.lng.isna() == base.lat.isna()).all()
    ok = base.dropna()
    assert ok.lng.between(-180, 180).all() and ok.lat.between(-85, 85).all()
    merged = sub.merge(base, on="id", suffixes=("", "_b"))
    assert np.array_equal(merged.lng.fillna(999).values, merged.lng_b.fillna(999).values)


def test_pipeline_tables_are_fixed(tmp_path):
    pipeline_data.write_tables(str(tmp_path / "a"))
    pipeline_data.write_tables(str(tmp_path / "b"))
    assert _same_dirs(tmp_path / "a", tmp_path / "b")
    docs = pq.read_table(str(tmp_path / "a" / "documents.parquet")).to_pandas()
    assert len(docs) == pipeline_data.SIZES["n_docs"]
    assert (docs.text.str.len() == docs.n_chars).all()
    assert docs.text.duplicated().any()  # exact duplicates exist for the dedup queries
