"""The seed moves row order only: same seed, same bytes; another seed,
the same rows."""

import os

import pyarrow.parquet as pq

import gen


def _inputs(tmp_path, seed, base):
    out = str(tmp_path / f"seed-{seed}")
    gen.write_inputs(base, out, seed)
    return out


def test_seed_permutes_rows_only(tmp_path):
    base = str(tmp_path / "base")
    gen.write_base(base, 0.001, tile=2)
    a = _inputs(tmp_path, 1, base)
    a2 = str(tmp_path / "again")
    gen.write_inputs(base, a2, 1)
    b = _inputs(tmp_path, 2, base)
    for t in gen.TABLES:
        pa, pa2, pb = (os.path.join(d, f"{t}.parquet") for d in (a, a2, b))
        with open(pa, "rb") as f1, open(pa2, "rb") as f2:
            assert f1.read() == f2.read(), t
        assert pq.ParquetFile(pa).metadata.num_rows == pq.ParquetFile(pb).metadata.num_rows
        assert gen.content_digest(pa) == gen.content_digest(pb), t
    # the seed does move rows
    ids_a = pq.read_table(os.path.join(a, "orders.parquet")).column(0).to_pylist()
    ids_b = pq.read_table(os.path.join(b, "orders.parquet")).column(0).to_pylist()
    assert ids_a != ids_b


def test_tiling_multiplies_rows(tmp_path):
    one, three = str(tmp_path / "x1"), str(tmp_path / "x3")
    gen.write_base(one, 0.001)
    gen.write_base(three, 0.001, tile=3)
    for t in ("orders", "lineitem", "events", "documents"):
        n1 = pq.ParquetFile(os.path.join(one, f"{t}.parquet")).metadata.num_rows
        n3 = pq.ParquetFile(os.path.join(three, f"{t}.parquet")).metadata.num_rows
        assert n3 == 3 * n1, t
