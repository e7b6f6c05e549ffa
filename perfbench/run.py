"""Benchmark of the engine, driven from outside through its public entry
points: ``session.get_spark``, ``tables.load`` and the registry
functions in ``queries.QUERIES``.

Usage:
  python3 perfbench/run.py --workload relational_x3 --seed 1 --seconds 6 --trace 0

One client runs the workload's jobs one at a time in a fixed order from
this single driver process (a closed loop) on ``local[<cores>]``. A run:

1. writes the seed's inputs and flushes them to disk (outside every
   timed region);
2. sets the engine up ``SETUPS`` times (session, table loads, Python
   worker spin-up); the first set-up also launches the JVM;
3. runs one cold pass, untimed, that collects every job's result and
   compares it with the DuckDB oracle over the same inputs, then one
   untimed warm-up pass;
4. runs steady passes until ``--seconds`` have passed (at least
   ``MIN_PASSES``), each job built by its registry call and run by a
   ``noop`` write;
5. runs one fresh pass over a copy of the inputs at a new directory, so
   every memo keyed on the input directory misses.

Every timed pass starts from a quiesced state (see ``quiesce``).

The last line of stdout is one JSON object. With ``--trace 0`` it holds
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of
traced passes, read from Spark's status stores and a streaming listener.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import hashlib
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

SETUPS = 3
MIN_PASSES = 2
JOB_TIMEOUT_S = 120
DRIVER_MEMORY = "3g"

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, WRITE_DRAINS  # noqa: E402

check_oracle = gen.load_tool("check_oracle")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _env() -> None:
    """Keep every file the engine writes inside the checkout, and let
    the Python workers import the engine package."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        shutil.rmtree(d, ignore_errors=True)  # left behind by a killed run
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_cores()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "TZ": "UTC",
    })
    time.tzset()


# ---------------------------------------------------------------- inputs


def base_dir(name: str) -> str:
    """Where the workload's seed-independent content is written. The
    name changes with the code that makes the content: ``gen.py`` and
    ``tools/make_scale_data.py``."""
    wl = WORKLOADS[name]
    digest = hashlib.sha256()
    for path in (gen.__file__, os.path.join(ROOT, "tools", "make_scale_data.py")):
        with open(path, "rb") as fh:
            digest.update(fh.read())
    return os.path.join(WORK, "base", f"sf{wl.sf}x{wl.tile}-{digest.hexdigest()[:12]}")


def prepare_inputs(name: str, seed: int) -> tuple[str, str]:
    """(seed's input dir, a fresh copy of it at a new path)."""
    wl = WORKLOADS[name]
    base = base_dir(name)
    gen.write_base(base, wl.sf, wl.tile)
    parent = os.path.join(WORK, "inputs", name)
    shutil.rmtree(parent, ignore_errors=True)  # one seed on disk at a time
    inputs = os.path.join(parent, f"seed-{seed}")
    gen.write_inputs(base, inputs, seed, wl.inputs)
    # the same files under a new path: every memo keyed on the path misses
    fresh = os.path.join(parent, f"fresh-{seed}")
    shutil.copytree(inputs, fresh, copy_function=os.link)
    # write the new files back to disk now, not during the timed passes
    os.sync()
    return inputs, fresh


def result_multiset(columns, rows) -> tuple[tuple[str, ...], Counter]:
    """Sorted columns and the order-insensitive multiset of normalised
    rows, with ``tools/check_oracle.py``'s normalisation."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return (
        tuple(sorted(columns)),
        Counter(check_oracle.row_key(tuple(r), order) for r in rows),
    )


def oracle_results(sf_dir: str, tables, jobs) -> dict:
    """DuckDB oracle result of each job over the ``tables`` in ``sf_dir``."""
    import duckdb
    from syllabus_sense_spark import queries as q

    q.load_all_queries()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {_cores()}")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for job in jobs:
            res = con.execute(q.ORACLE[job])
            out[job] = result_multiset([d[0] for d in res.description],
                                       res.fetchall())
        return out
    finally:
        con.close()


def _write_oracle(name: str, sf_dir: str, path: str) -> None:
    wl = WORKLOADS[name]
    out = oracle_results(sf_dir, wl.inputs, wl.jobs)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(out, fh)
    os.replace(path + ".tmp", path)


def expected_results(name: str, sf_dir: str) -> dict:
    """``oracle_results`` for a workload, cached per workload, input
    content (the base directory's name) and oracle text: every seed of a
    workload holds the same rows in another order (see ``gen``), and an
    oracle's result does not depend on row order, so one computation
    serves all seeds. DuckDB runs in a child process that is waited for,
    so its threads and memory are gone before anything is timed."""
    from syllabus_sense_spark import queries as q

    q.load_all_queries()
    wl = WORKLOADS[name]
    key = hashlib.sha256(repr(
        (os.path.basename(base_dir(name)), wl, [q.ORACLE[j] for j in wl.jobs])
    ).encode()).hexdigest()[:16]
    path = os.path.join(WORK, "oracle", f"{name}-{key}.pkl")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        code = ("import sys; sys.path.insert(0, sys.argv[1]); import run; "
                "run._write_oracle(*sys.argv[2:])")
        child = subprocess.run([sys.executable, "-c", code, HERE, name, sf_dir, path])
        if child.returncode != 0:
            raise RuntimeError(f"oracle computation failed: exit {child.returncode}")
    with open(path, "rb") as fh:
        return pickle.load(fh)


# ------------------------------------------------------------------ jobs


class Timeout:
    """Cancels every running Spark job if the block outlives ``seconds``."""

    def __init__(self, spark, seconds: float) -> None:
        self._timer = threading.Timer(seconds, spark.sparkContext.cancelAllJobs)

    def __enter__(self):
        self._timer.start()
        return self

    def __exit__(self, *exc):
        self._timer.cancel()
        return False


def check_job(spark, fn, sf_dir: str, expected) -> str | None:
    """Run one job to a collected result and compare it with ``expected``;
    the reason it failed, or None."""
    try:
        with Timeout(spark, JOB_TIMEOUT_S):
            df = fn(spark, sf_dir)
            rows = df.collect()
            got = result_multiset(df.columns, rows)
    except Exception as exc:  # noqa: BLE001 — a failing job is a result
        return f"error: {type(exc).__name__}: {str(exc)[:200]}"
    if got[0] != expected[0]:
        return f"columns {got[0]} != {expected[0]}"
    if got[1] != expected[1]:
        return (f"rows differ: {sum(got[1].values())} rows vs "
                f"{sum(expected[1].values())} expected")
    return None


def run_job(spark, fn, sf_dir: str, tracer=None, name: str = ""):
    """Build one job and run it to a noop write: (construct s, execute s)."""
    with Timeout(spark, JOB_TIMEOUT_S):
        if tracer is None:
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            return t1 - t0, time.time() - t1
        with tracer.span(f"queries.construct:{name}", job=name) as c:
            df = fn(spark, sf_dir)
        with tracer.span(f"queries.execute:{name}", job=name) as e:
            df.write.format("noop").mode("overwrite").save()
        s = tracer.spans
        return (s[c.id]["end"] - s[c.id]["start"], s[e.id]["end"] - s[e.id]["start"])


def run_pass(spark, jobs, sf_dir: str, failures: list, tracer=None):
    """One pass over ``jobs``: (wall s, {job: (construct s, execute s)})."""
    from syllabus_sense_spark import queries as q

    times = {}
    t0 = time.time()
    for job in jobs:
        try:
            if tracer is None:
                times[job] = run_job(spark, q.QUERIES[job], sf_dir)
            else:
                with tracer.span(f"queries.job:{job}", job=job):
                    times[job] = run_job(spark, q.QUERIES[job], sf_dir, tracer, job)
        except Exception as exc:  # noqa: BLE001 — a failing job is a result
            failures.append(f"{job}: {type(exc).__name__}: {str(exc)[:200]}")
    return time.time() - t0, times


def quiesce() -> None:
    """Bring the driver to the same state before every timed pass: the
    files earlier passes wrote (the sink drain's output) flushed to disk
    and the Python heap collected, so neither write-back nor a collection
    of an earlier pass's garbage lands inside the pass. The JVM heap is
    left alone: a full collection lets it shrink, and the next pass then
    pays for growing it again."""
    os.sync()
    gc.collect()


# ----------------------------------------------------------------- setup


def setup(name: str, sf_dir: str, tracer=None):
    """Session, the workload's tables loaded and counted, Python workers
    spun up: (spark, session s, load s)."""
    from syllabus_sense_spark.session import get_spark
    from syllabus_sense_spark.tables import load

    t0 = time.time()
    spark = get_spark(f"perfbench-{name}")
    t1 = time.time()
    for t in WORKLOADS[name].tables:
        ts = time.time()
        load(spark, sf_dir, t).count()
        if tracer is not None:
            tracer.add(f"tables.load:{t}", ts, time.time(), tracer.current)
    t2 = time.time()
    spark.range(_cores() * 64).repartition(_cores()).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    if tracer is not None:
        tracer.add("session.get_spark", t0, t1, tracer.current)
        tracer.add("functions.worker_spinup", t2, time.time(), tracer.current)
    return spark, t1 - t0, t2 - t1


def stop() -> None:
    """Stop the running Spark context, then the JVM it launched, and wait
    for it. Does nothing once both are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts, so
    that one orphaned by its parent (a Python worker of the JVM) is
    reparented here and ``wait_for_children`` can wait for it."""
    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _children() -> list[int]:
    me = os.getpid()
    pids = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            pids.append(int(d))
    return pids


def wait_for_children(grace_s: float = 30.0) -> None:
    """Wait until every child, adopted ones too, has ended; kill those
    still running after ``grace_s``."""
    deadline = time.time() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left
        if pid:
            continue
        if time.time() > deadline:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


# ------------------------------------------------------------------- run


def _log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    """One run of one workload; the summary and the metrics to print."""
    _env()
    wl = WORKLOADS[name]
    inputs, fresh = prepare_inputs(name, seed)
    _log(f"inputs ready: {inputs}")
    expected = expected_results(name, inputs)
    _log("oracle results ready")
    from syllabus_sense_spark import queries as q

    q.load_all_queries()
    tracer = tracing.Tracer() if trace else None
    failures: list[str] = []

    setups, sessions, loads = [], [], []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.time()
        if tracer is None:
            spark, s, l = setup(name, inputs)
        else:
            with tracer.span("setup", index=i):
                spark, s, l = setup(name, inputs, tracer)
        setups.append(time.time() - t0)
        sessions.append(s)
        loads.append(l)
    tables_b = tracing.storage(spark)[0]
    _log(f"set-ups: {['%.2f' % x for x in setups]}")
    probe = tracing.Probe(spark, tracer, WRITE_DRAINS) if trace else None

    # cold pass: collect every job and check it against its oracle
    cold = {}
    for job in wl.jobs:
        t0 = time.time()
        why = check_job(spark, q.QUERIES[job], inputs, expected[job])
        cold[job] = time.time() - t0
        if why:
            failures.append(f"{job}: {why}")
    attempted = len(wl.jobs)
    _log(f"cold pass checked, {len(failures)} failed: "
         + ", ".join(f"{j} {t:.2f}" for j, t in cold.items()))

    # job times keep falling for a few passes after the cold one while
    # the JIT compiles the noop path; one more untimed pass absorbs most
    # of that
    attempted += len(wl.jobs)
    run_pass(spark, wl.jobs, inputs, failures)

    # steady passes; a traced run alternates plain and traced passes
    plain, traced, job_times = [], [], {j: [] for j in wl.jobs}
    t_end = time.time() + seconds
    while (time.time() < t_end or len(plain) + len(traced) < MIN_PASSES
           or (trace and len(traced) < 2)):
        attempted += len(wl.jobs)
        quiesce()
        if trace and len(plain) > len(traced):
            traced.append(probe.traced_pass(wl.jobs, inputs, failures, run_pass))
            times = traced[-1]["times"]
        else:
            wall, times = run_pass(spark, wl.jobs, inputs, failures)
            plain.append(wall)
        for j, (c, e) in times.items():
            job_times[j].append(c + e)

    attempted += len(wl.jobs)
    quiesce()
    if trace:
        fresh_rec = probe.traced_pass(wl.jobs, fresh, failures, run_pass)
        fresh_wall = fresh_rec["wall"]
    else:
        fresh_wall, _ = run_pass(spark, wl.jobs, fresh, failures)
    end_tables_b, end_total_b = tracing.storage(spark)
    _log(f"passes: {['%.2f' % x for x in plain]}, fresh {fresh_wall:.2f}")
    _log("jobs: " + ", ".join(f"{j} {median(v):.2f}" for j, v in job_times.items()))

    e2e = {
        "setup_s": (median(setups), "s"),
        "pass_s": (median(plain), "s"),
        "fresh_pass_s": (fresh_wall, "s"),
        "cached_mb": (end_total_b / tracing.MB, "MB"),
    }
    summary = dict(e2e)
    summary.update({
        "failed_share": (len(failures) / attempted, "1"),
        "steady_passes": (len(plain), "count"),
        "setups": (len(setups), "count"),
    })
    if trace:
        all_jobs = sorted({j for w in WORKLOADS.values() for j in w.jobs})
        metrics = tracing.per_layer(
            wl.jobs, all_jobs, tracer, traced, fresh_rec, plain, probe,
            sessions, loads, tables_b, end_tables_b, end_total_b, job_times,
        )
        for k in ("streaming.trigger_p50_s", "streaming.trigger_tail_s",
                  "streaming.trigger_tail_pct", "streaming.trigger_samples"):
            summary[k.split(".", 1)[1]] = metrics[k]
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(os.path.join(WORK, "traces", f"{name}-seed{seed}.json"))
    else:
        metrics = e2e
    stop()
    _log("session stopped")
    return {"attempted": attempted, "failures": failures,
            "summary": summary, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    adopt_orphans()
    # a terminated run unwinds through the cleanup below as well
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        stop()
        wait_for_children()
    for f in res["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    for k, (v, unit) in res["summary"].items():
        print(f"{args.workload} {k} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": len(res["failures"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
