"""The generated inputs depend on the seed and nothing else."""

import os

import pyarrow.parquet as pq

from perfbench import datagen

TABLES = {
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
}


def _bytes(path):
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = f.read()
    return out


def test_same_seed_same_bytes_other_seed_other_values(tmp_path):
    a = datagen.generate(7, str(tmp_path / "a"))
    b = datagen.generate(7, str(tmp_path / "b"))
    c = datagen.generate(8, str(tmp_path / "c"))
    assert _bytes(a) == _bytes(b)
    assert _bytes(a)["lineitem.parquet"] != _bytes(c)["lineitem.parquet"]
    assert {n.removesuffix(".parquet") for n in os.listdir(a)} == TABLES


def test_sizes_and_types(tmp_path):
    d = datagen.generate(1, str(tmp_path))
    for name, rows in datagen.ROWS.items():
        assert pq.ParquetFile(os.path.join(d, f"{name}.parquet")).metadata.num_rows == rows
    schema = pq.read_schema(os.path.join(d, "events.parquet"))
    assert str(schema.field("ts").type) == "timestamp[us]"
    emb = pq.read_table(os.path.join(d, "embeddings.parquet"))
    assert all(len(v) == datagen.EMBED_DIM for v in emb.column("embedding").to_pylist())
