"""Run the benchmark on several seeds and report each metric's spread.

Usage: python3 perfbench/steadiness.py [--seeds 101-110 [--seeds 201-210]]
                                       [--workload W ...] [--out FILE]

Each ``--seeds`` range is one set of runs. With two or more sets, the
sets' runs are interleaved (seed i of every set, workload by workload,
before seed i+1), so drift of the host's speed over minutes reaches
every set alike. For every set, workload and end-to-end metric it
prints the median, the quartiles (``statistics.quantiles(values, n=4)``)
and the distance between the quartiles as a share of the median, next
to the metric's bound in BENCHMARK.json; then each later set's median
as a share of the first set's. ``--out`` also writes the raw values as
JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(bench: dict, wl: str, seed: int) -> tuple[dict, float]:
    """One benchmark run: (its metrics, its wall time in s)."""
    t0 = time.time()
    out = subprocess.run(
        bench["command"] + [
            "--workload", wl, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.time() - t0
    logs = os.path.join(ROOT, ".perfbench", "logs")
    os.makedirs(logs, exist_ok=True)
    with open(os.path.join(logs, f"{wl}-seed{seed}.log"), "w") as fh:
        fh.write(out.stderr)
    if out.returncode != 0:
        print(out.stderr[-3000:], file=sys.stderr)
        raise SystemExit(f"{wl} seed {seed}: exit {out.returncode}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if not res["correct"] or res["failed"]:
        raise SystemExit(f"{wl} seed {seed}: {res}")
    return {k: m["value"] for k, m in res["metrics"].items()}, wall


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", action="append",
                    help="seed range of one set, e.g. 101-110 (default 1-10)")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    sets = [{"seeds": _seeds(s), "values": {}, "walls": {}}
            for s in args.seeds or ["1-10"]]
    for i in range(max(len(s["seeds"]) for s in sets)):
        for wl in workloads:
            for k, st in enumerate(sets):
                if i >= len(st["seeds"]):
                    continue
                seed = st["seeds"][i]
                metrics, wall = run_once(bench, wl, seed)
                st["walls"].setdefault(wl, []).append(wall)
                for name, v in metrics.items():
                    st["values"].setdefault(wl, {}).setdefault(name, []).append(v)
                print(f"set {k} {wl} seed {seed} ({wall:.0f} s): "
                      + " ".join(f"{n}={v:.4g}" for n, v in metrics.items()),
                      flush=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for k, st in enumerate(sets):
        for wl, metrics in st["values"].items():
            walls = st["walls"][wl]
            print(f"\nset {k} {wl}: {len(walls)} runs, wall median "
                  f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s")
            for name, xs in metrics.items():
                med = statistics.median(xs)
                q1, _, q3 = statistics.quantiles(xs, n=4)
                spread = (q3 - q1) / med if med else float("nan")
                print(f"  {name:<14} median {med:<10.4g} q1 {q1:<10.4g} "
                      f"q3 {q3:<10.4g} spread {spread:.3f}  bound {bounds.get(name)}")
    for k, st in enumerate(sets[1:], start=1):
        print(f"\nset {k} median / set 0 median:")
        for wl, metrics in st["values"].items():
            for name, xs in metrics.items():
                first = statistics.median(sets[0]["values"][wl][name])
                ratio = statistics.median(xs) / first if first else float("nan")
                print(f"  {wl:<14} {name:<14} {ratio:.3f}  bound {bounds.get(name)}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"sets": sets}, fh, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
