"""Seeded input generator for the benchmark.

Content comes from a fixed content seed, so every workload seed sees
the same multiset of rows and the same oracle results. The workload
seed only permutes the row order of every table, which moves the
physical layout and the partition assignment of each row.

The tables follow the engine's harness tables (TESTDATA.md): a
TPC-H-like star schema plus ``events``, ``documents`` (5% planted
near-duplicates) and ``embeddings`` (unit 64-dim vectors). The
category lists are in the order that makes the star schema and
``events`` reproduce the harness values; ``compare_inputs.py`` checks
that against a copy of the harness tables. ``tile`` > 1 grows the data with
``tools/make_scale_data.py``'s key-offset tiling, imported unmodified.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONTENT_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def load_tool(name: str):
    """``tools/<name>.py`` of the repository as a module (``tools`` is
    not a package)."""
    path = os.path.join(ROOT, "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _ts(start: str, us: np.ndarray) -> pa.Array:
    base = int(
        datetime.fromisoformat(start).replace(tzinfo=timezone.utc).timestamp()
    ) * 1_000_000
    return pa.array(base + us.astype(np.int64), type=pa.timestamp("us"))


def _days(rng, start: str, n_days: int, n: int) -> pa.Array:
    return _ts(start, rng.integers(0, n_days + 1, n) * 86_400_000_000)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in lengths]
    # planted near-duplicates: 5% of documents repeat an earlier one
    # with one appended token, the structure the dedup operators find
    for i in sorted(rng.choice(np.arange(1, n), n // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The harness tables at scale factor ``sf``; a pure function of ``sf``."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(1, int(15_000 * sf))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": rng.choice(["R", "A", "N"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
        }),
        "events": pa.table({
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": _ts(
                "2024-01-01",
                np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt)),
            ),
            "user_id": rng.integers(0, n_users, n_evt),
            "event_type": rng.choice(_EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }),
        "documents": _documents(rng, n_doc),
    }
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return out


def write_base(out_dir: str, sf: float, tile: int = 1) -> None:
    """Write the seed-independent content once: ``sf`` in the harness
    layout (one row group per file), then tiled as
    ``tools/make_scale_data.py`` tiles the harness tables."""
    if os.path.exists(os.path.join(out_dir, "DONE")):
        return
    shutil.rmtree(out_dir, ignore_errors=True)
    scale = load_tool("make_scale_data")
    flat = out_dir + ".flat" if tile > 1 else out_dir
    os.makedirs(flat, exist_ok=True)
    for name, table in base_tables(sf).items():
        pq.write_table(table, os.path.join(flat, f"{name}.parquet"))
    if tile > 1:
        os.makedirs(out_dir, exist_ok=True)
        for name in TABLES:
            scale.scale_table(name, flat, out_dir, tile)
        shutil.rmtree(flat)
    open(os.path.join(out_dir, "DONE"), "w").close()


def write_inputs(base_dir: str, out_dir: str, seed: int,
                 tables: tuple[str, ...] = TABLES) -> None:
    """Write ``tables`` from ``base_dir`` to ``out_dir`` in seed-permuted
    row order, with the base file's row-group size."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for i, name in enumerate(TABLES):
        if name not in tables:
            continue
        src = pq.ParquetFile(os.path.join(base_dir, f"{name}.parquet"))
        table = src.read()
        perm = np.random.default_rng([seed, i]).permutation(table.num_rows)
        pq.write_table(table.take(perm), os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=src.metadata.row_group(0).num_rows)


def content_digest(path: str) -> str:
    """Order-insensitive digest of one parquet table: XOR-free, so
    duplicate rows count — the sorted list of per-row hashes, hashed."""
    rows = pq.read_table(path).to_pylist()
    hashes = sorted(
        hashlib.sha256(repr(sorted(r.items())).encode()).digest() for r in rows
    )
    return hashlib.sha256(b"".join(hashes)).hexdigest()
