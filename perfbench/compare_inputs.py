"""Compare the generated inputs with reference tables, such as the
engine's harness tables.

Usage:
  python3 perfbench/compare_inputs.py GENERATED_DIR REFERENCE_DIR

For every table in both directories it prints rows, file bytes, row
groups and how many columns hold identical values in identical order.
For ``events`` and ``documents`` it adds the shape figures the jobs are
sensitive to: distinct users, vocabulary size, tokens per document,
near-duplicate share (a document that is another one plus `` dup``),
exact duplicates and language shares.
"""

from __future__ import annotations

import collections
import os
import sys

import numpy as np
import pyarrow.parquet as pq


def table_row(name: str, gen_dir: str, ref_dir: str) -> str:
    g = pq.ParquetFile(os.path.join(gen_dir, f"{name}.parquet"))
    r = pq.ParquetFile(os.path.join(ref_dir, f"{name}.parquet"))
    gt, rt = g.read(), r.read()
    same = sum(c in gt.column_names and gt.column(c).equals(rt.column(c))
               for c in rt.column_names)
    size = [os.path.getsize(os.path.join(d, f"{name}.parquet"))
            for d in (gen_dir, ref_dir)]
    return (f"| {name} | {gt.num_rows} / {rt.num_rows} | {size[0]} / {size[1]} "
            f"| {g.metadata.num_row_groups} / {r.metadata.num_row_groups} "
            f"| {same} of {len(rt.column_names)} |")


def document_shape(path: str) -> dict[str, str]:
    t = pq.read_table(path, columns=["text", "lang"])
    texts = t.column("text").to_pylist()
    toks = [x.split() for x in texts]
    lens = np.array([len(x) for x in toks])
    known = set(texts)
    near = sum(len(x) > 1 and x[-1] == "dup" and " ".join(x[:-1]) in known
               for x in toks)
    langs = collections.Counter(t.column("lang").to_pylist())
    return {
        "vocabulary": str(len({w for x in toks for w in x})),
        "tokens/doc p10, p50, p90": ", ".join(
            f"{np.percentile(lens, q):g}" for q in (10, 50, 90)),
        "near-duplicate share": f"{near / len(texts):.4f}",
        "exact duplicates": str(len(texts) - len(known)),
        "lang shares": ", ".join(
            f"{k} {v / len(texts):.3f}" for k, v in sorted(langs.items())),
    }


def event_shape(path: str) -> dict[str, str]:
    t = pq.read_table(path, columns=["user_id", "value"])
    users = np.bincount(t.column("user_id").to_numpy())
    users = users[users > 0]
    return {
        "distinct users": str(len(users)),
        "events/user min, p50, max": f"{users.min()}, {np.median(users):g}, {users.max()}",
        "value p50, p99": ", ".join(
            f"{np.percentile(t.column('value').to_numpy(), q):.2f}" for q in (50, 99)),
    }


def main(gen_dir: str, ref_dir: str) -> int:
    names = sorted(
        f[:-len(".parquet")] for f in os.listdir(ref_dir)
        if f.endswith(".parquet") and os.path.exists(os.path.join(gen_dir, f))
    )
    print("| table | rows (gen / ref) | bytes (gen / ref) | row groups | identical columns |")
    print("|---|---|---|---|---|")
    for name in names:
        print(table_row(name, gen_dir, ref_dir))
    for name, shape in (("events", event_shape), ("documents", document_shape)):
        if name not in names:
            continue
        g, r = (shape(os.path.join(d, f"{name}.parquet")) for d in (gen_dir, ref_dir))
        print(f"\n| {name} | gen | ref |\n|---|---|---|")
        for k in r:
            print(f"| {k} | {g[k]} | {r[k]} |")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    raise SystemExit(main(sys.argv[1], sys.argv[2]))
