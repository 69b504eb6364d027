"""``tools/cpu_split.py``'s byte split: compressed bytes per column of
each sink, read from the Parquet footers, on pyarrow-written files (no
Spark)."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from tools.cpu_split import byte_split, column_bytes


def _write(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="zstd")


def test_byte_split_counts_compressed_bytes_per_column(tmp_path):
    out = str(tmp_path / "predict")
    triples = pa.table({
        "doc_id": pa.array(range(200), pa.int64()),
        "rel_n": pa.array([1 + i % 3 for i in range(200)], pa.int32()),
        "pred": [f"rel-{i % 5}" for i in range(200)],
    })
    brat = pa.table({"doc_id": pa.array(range(50), pa.int64()),
                     "ann_text": [f"T{i}\tDrug 0 4\tname {i}"
                                  for i in range(50)]})
    for b in (0, 1):
        _write(f"{out}/triples/data/v0/b={b}/part-0.parquet",
               triples.slice(100 * b, 100))
    _write(f"{out}/brat/part-0.parquet", brat)
    with open(f"{out}/_ledger.json", "w") as f:
        json.dump({"0": {"status": "done"}}, f)

    def chunks(path):
        md = pq.ParquetFile(path).metadata
        return [(md.row_group(0).column(c).path_in_schema,
                 md.row_group(0).column(c).total_compressed_size)
                for c in range(md.num_columns)]

    assert column_bytes(f"{out}/brat/part-0.parquet") == \
        dict(chunks(f"{out}/brat/part-0.parquet"))

    got = byte_split(out)
    want = {}
    for b in (0, 1):
        for name, n in chunks(f"{out}/triples/data/v0/b={b}/part-0.parquet"):
            want[name] = want.get(name, 0) + n
    assert got["triples"]["columns"] == want
    assert list(want) == ["doc_id", "rel_n", "pred"]
    assert list(got["brat"]["columns"]) == ["doc_id", "ann_text"]
    for sink, files in (("triples", 2), ("brat", 1)):
        row = got[sink]
        assert row["parquet_files"] == files
        assert all(n > 0 for n in row["columns"].values())
        assert sum(row["columns"].values()) < row["parquet_data"], sink
    assert got["triples"]["ledger_json"] > 0
