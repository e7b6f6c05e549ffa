"""Spans and counters, read from outside the engine.

``Tracer`` keeps spans in memory (name, start, end, parent, run id) and
writes them once, at the end of a run. ``StatusReader`` reads Spark's
own status stores: the SQL store for executions and their per-operator
metrics, the core store for stage and task counters, and block-manager
storage for what is cached. ``TriggerLog`` is the streaming listener
that records each micro-batch's progress.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import tempfile
import threading
import time
import uuid
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

# Order of the micro-batch phases inside one trigger (MicroBatchExecution):
# plan offsets, log them, build the batch, plan it, run it, commit.
TRIGGER_PHASES = (
    "latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets",
)

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
# Operators whose metrics feed a per-layer counter; the Python ones are
# the UDF seams (ArrowEvalPython, MapInPandas, MapInArrow, ...).
_OPS = re.compile(r"^(BroadcastExchange|HashAggregate|ObjectHashAggregate|Sort)$"
                  r"|Python|Pandas|InArrow")
_PY = re.compile(r"Python|Pandas|InArrow")
_TOTAL = re.compile(r"([-0-9.,]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?")


def metric_total(text: str) -> float:
    """Total of one SQL metric as the status store formats it: a plain
    count ("1,234"), or "total (min, med, max ...)\\n12.3 MiB (...)"
    whose first figure after the header is the total. Sizes come back in
    bytes and times in seconds."""
    body = text.split("\n", 1)[-1]
    m = _TOTAL.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class Tracer:
    """In-memory spans of one run."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> int:
        self.spans.append({
            "id": len(self.spans), "name": name, "start": start, "end": end,
            "parent": parent, "run": self.run_id, **attrs,
        })
        return len(self.spans) - 1

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def self_times(self, root: int | None = None) -> dict[str, float]:
        """Self time per layer: a span's duration minus the part of it
        that its children cover, summed by layer (the span name up to the
        first ``:``). With ``root``, only that span's subtree counts."""
        children: dict[int | None, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        keep = None
        if root is not None:
            keep, todo = set(), [root]
            while todo:
                i = todo.pop()
                keep.add(i)
                todo.extend(c["id"] for c in children.get(i, ()))
        out: dict[str, float] = {}
        for s in self.spans:
            if keep is not None and s["id"] not in keep:
                continue
            covered, cur_end = 0.0, s["start"]
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            layer = s["name"].split(":", 1)[0]
            out[layer] = out.get(layer, 0.0) + max(0.0, s["end"] - s["start"] - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.id: int | None = None

    def __enter__(self):
        t = self.tracer
        self.id = t.add(self.name, time.time(), 0.0, t.current, **self.attrs)
        t._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t._stack.pop()
        t.spans[self.id]["end"] = time.time()
        return False


class TriggerLog(StreamingQueryListener):
    """Collects every micro-batch's progress as a plain dict."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self.progress = self.progress, []
        return out


class StatusReader:
    """Reads Spark's status stores through the JVM gateway."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._core = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until every posted event reached the stores and listeners."""
        self._bus.waitUntilEmpty()

    def executions_since(self, start_ms: int) -> list[dict]:
        """SQL executions submitted at or after ``start_ms`` (epoch ms),
        each with its stage counters and per-operator totals."""
        self.drain()
        n = self._sql.executionsCount()
        out = []
        # newest first, so the walk stops at the first older execution
        for off in range(n - 1, -1, -1):
            e = self._sql.executionsList(off, 1).head()
            sub = e.submissionTime()
            if sub < start_ms:
                break
            out.append(self._execution(e))
        out.reverse()
        return out

    def _execution(self, e) -> dict:
        eid = e.executionId()
        rec = {
            "id": eid,
            "start": e.submissionTime() / 1000.0,
            "end": (e.completionTime().get().getTime() / 1000.0
                    if e.completionTime().isDefined() else None),
            "jobs": e.jobs().size(),
            "stages": 0, "tasks": 0, "input_bytes": 0,
            "shuffle_write_bytes": 0, "shuffle_write_records": 0,
            "spill_bytes": 0, "ops": {},
        }
        it = e.stages().iterator()
        while it.hasNext():
            sid = it.next()
            try:
                st = self._core.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage already evicted
                continue
            if st.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            rec["stages"] += 1
            rec["tasks"] += st.numCompleteTasks()
            rec["input_bytes"] += st.inputBytes()
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["shuffle_write_records"] += st.shuffleWriteRecords()
            rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        values = self._sql.executionMetrics(eid)
        graph = self._sql.planGraph(eid)
        nodes = graph.allNodes().iterator()
        ops = rec["ops"]
        while nodes.hasNext():
            node = nodes.next()
            name = node.name()
            if not _OPS.search(name):
                continue
            mit = node.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                v = values.get(m.accumulatorId())
                if v.isEmpty():
                    continue
                key = f"{name}|{m.name()}"
                ops[key] = ops.get(key, 0.0) + metric_total(v.get())
        return rec



def storage(spark) -> tuple[int, int]:
    """(bytes of cached harness tables, bytes of everything cached):
    a table cached by ``tables.load`` is a bare parquet scan."""
    tables = total = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        size = info.memSize() + info.diskSize()
        total += size
        if info.name().startswith("*(1) ColumnarToRow\n+- FileScan parquet"):
            tables += size
    return tables, total


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _within(spans: list[dict], t: float) -> dict | None:
    """The latest-starting span of ``spans`` whose interval holds ``t``."""
    best = None
    for s in spans:
        if s["start"] <= t < s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ten samples beyond it; the maximum when there are ten or fewer."""
    xs = sorted(samples)
    if len(xs) <= 10:
        return (xs[-1] if xs else 0.0), 100.0
    k = len(xs) - 11
    return xs[k], 100.0 * (k + 1) / len(xs)


class Probe:
    """Traced passes: spans around every call, then the status stores
    and the listener read once the pass is over."""

    def __init__(self, spark, tracer: Tracer, write_drains) -> None:
        self.spark, self.tracer = spark, tracer
        self.write_drains = write_drains
        self.reader = StatusReader(spark)
        self.log = TriggerLog()
        spark.streams.addListener(self.log)
        self.trigger_s: list[float] = []

    def traced_pass(self, jobs, sf_dir: str, failures: list, run_pass) -> dict:
        t = self.tracer
        self.reader.drain()
        self.log.take()
        with t.span("pass") as p:
            wall, times = run_pass(self.spark, jobs, sf_dir, failures, t)
        t0 = time.time()
        execs = self.reader.executions_since(int(t.spans[p.id]["start"] * 1000))
        progress = self.log.take()
        rec = self._attach(p.id, execs, progress)
        rec.update(wall=wall, times=times, span=p.id, read_s=time.time() - t0)
        return rec

    def _attach(self, pass_id: int, execs: list[dict], progress: list[dict]) -> dict:
        t = self.tracer
        halves = [s for s in t.spans[pass_id:]
                  if s["name"].startswith(("queries.construct", "queries.execute"))]
        c = dict.fromkeys((
            "sql_executions", "eager_executions", "stages", "tasks", "scan_b",
            "shuffle_write_b", "shuffle_records", "spill_b", "broadcast_b",
            "broadcast_collect_s", "agg_build_s", "sort_s", "python_rows",
            "python_b", "triggers", "empty_triggers", "start_s", "add_batch_s",
            "planning_s", "get_batch_s", "commit_s", "state_rows_peak",
            "state_b_peak", "state_commit_s", "input_rows", "files_written",
            "written_b", "sink_commit_s",
        ), 0.0)
        triggers, first_trigger = [], {}
        for pr in progress:
            d = pr.get("durationMs", {})
            start = _epoch(pr["timestamp"])
            end = start + d.get("triggerExecution", 0) / 1000.0
            half = _within(halves, start)
            tid = t.add(f"streaming.trigger:{pr.get('name')}", start, end,
                        half["id"] if half else pass_id, batch=pr.get("batchId"),
                        rows=pr.get("numInputRows", 0))
            triggers.append(t.spans[tid])
            at = start
            for ph in TRIGGER_PHASES:
                if ph in d:
                    t.add(f"streaming.phase:{ph}", at, at + d[ph] / 1000.0, tid)
                    at += d[ph] / 1000.0
            rows = pr.get("numInputRows", 0)
            c["triggers"] += 1
            c["empty_triggers"] += rows == 0
            c["input_rows"] += rows
            c["add_batch_s"] += d.get("addBatch", 0) / 1000.0
            c["planning_s"] += d.get("queryPlanning", 0) / 1000.0
            c["get_batch_s"] += d.get("getBatch", 0) / 1000.0
            c["commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
            ops = pr.get("stateOperators", [])
            c["state_rows_peak"] = max(c["state_rows_peak"],
                                       sum(o.get("numRowsTotal", 0) for o in ops))
            c["state_b_peak"] = max(c["state_b_peak"],
                                    sum(o.get("memoryUsedBytes", 0) for o in ops))
            c["state_commit_s"] += sum(o.get("commitTimeMs", 0) for o in ops) / 1000.0
            if rows:
                self.trigger_s.append(d.get("triggerExecution", 0) / 1000.0)
            if half is not None:
                first_trigger.setdefault(half["id"], start)
                if half.get("job") in self.write_drains:
                    c["sink_commit_s"] += d.get("addBatch", 0) / 1000.0
        for hid, start in first_trigger.items():
            c["start_s"] += start - t.spans[hid]["start"]
        for e in execs:
            end = e["end"] if e["end"] is not None else e["start"]
            parent = _within(triggers, e["start"]) or _within(halves, e["start"])
            t.add(f"sql.execution:{e['id']}", e["start"], end,
                  parent["id"] if parent else pass_id, execution=e["id"])
            half = _within(halves, e["start"])
            c["sql_executions"] += 1
            c["eager_executions"] += bool(half and half["name"].startswith("queries.construct"))
            c["stages"] += e["stages"]
            c["tasks"] += e["tasks"]
            c["scan_b"] += e["input_bytes"]
            c["shuffle_write_b"] += e["shuffle_write_bytes"]
            c["shuffle_records"] += e["shuffle_write_records"]
            c["spill_b"] += e["spill_bytes"]
            for key, v in e["ops"].items():
                node, metric = key.split("|", 1)
                if node == "BroadcastExchange" and metric == "data size":
                    c["broadcast_b"] += v
                elif node == "BroadcastExchange" and metric == "time to collect":
                    c["broadcast_collect_s"] += v
                elif metric == "time in aggregation build":
                    c["agg_build_s"] += v
                elif node == "Sort" and metric == "sort time":
                    c["sort_s"] += v
                elif metric == "number of output rows" and _PY.search(node):
                    c["python_rows"] += v
                elif metric == "data sent to Python workers":
                    c["python_b"] += v
        drains = [h for h in halves if h.get("job") in self.write_drains
                  and h["name"].startswith("queries.construct")]
        if drains:
            for root, _, files in os.walk(tempfile.gettempdir()):
                for f in files:
                    if not f.endswith(".parquet"):
                        continue
                    st = os.stat(os.path.join(root, f))
                    if _within(drains, st.st_mtime):
                        c["files_written"] += 1
                        c["written_b"] += st.st_size
        return {"counters": c}


MB = 1e6

# per-layer name -> (pass counter, scale, unit)
_COUNTERS = {
    "queries.sql_executions": ("sql_executions", 1, "count"),
    "queries.eager_executions": ("eager_executions", 1, "count"),
    "queries.stages": ("stages", 1, "count"),
    "queries.tasks": ("tasks", 1, "count"),
    "queries.scan_mb": ("scan_b", MB, "MB"),
    "queries.shuffle_write_mb": ("shuffle_write_b", MB, "MB"),
    "queries.shuffle_records": ("shuffle_records", 1, "count"),
    "queries.spill_mb": ("spill_b", MB, "MB"),
    "queries.broadcast_mb": ("broadcast_b", MB, "MB"),
    "queries.broadcast_collect_s": ("broadcast_collect_s", 1, "s"),
    "queries.agg_build_s": ("agg_build_s", 1, "s"),
    "queries.sort_s": ("sort_s", 1, "s"),
    "functions.python_rows": ("python_rows", 1, "count"),
    "functions.python_mb": ("python_b", MB, "MB"),
    "streaming.triggers": ("triggers", 1, "count"),
    "streaming.empty_triggers": ("empty_triggers", 1, "count"),
    "streaming.start_s": ("start_s", 1, "s"),
    "streaming.add_batch_s": ("add_batch_s", 1, "s"),
    "streaming.planning_s": ("planning_s", 1, "s"),
    "streaming.get_batch_s": ("get_batch_s", 1, "s"),
    "streaming.commit_s": ("commit_s", 1, "s"),
    "streaming.state_rows_peak": ("state_rows_peak", 1, "count"),
    "streaming.state_mb_peak": ("state_b_peak", MB, "MB"),
    "streaming.state_commit_s": ("state_commit_s", 1, "s"),
    "sources.input_rows": ("input_rows", 1, "count"),
    "sinks.files_written": ("files_written", 1, "count"),
    "sinks.written_mb": ("written_b", MB, "MB"),
    "sinks.commit_s": ("sink_commit_s", 1, "s"),
}

# layers whose self time is reported, for one steady pass and one set-up
PASS_LAYERS = ("pass", "queries.job", "queries.construct", "queries.execute",
               "sql.execution", "streaming.trigger", "streaming.phase")
SETUP_LAYERS = ("setup", "session.get_spark", "tables.load",
                "functions.worker_spinup")


def per_layer(jobs, all_jobs, tracer: Tracer, traced: list[dict], fresh: dict,
              plain: list[float], probe: Probe, sessions, loads,
              tables_b: int, end_tables_b: int, end_total_b: int,
              job_times: dict) -> dict:
    """Every per-layer metric, as {name: (value, unit)}."""
    med = statistics.median
    out = {
        "session.start_s": (med(sessions), "s"),
        "tables.load_s": (med(loads), "s"),
        "tables.persisted_mb": (tables_b / MB, "MB"),
        "queries.construct_s": (med(sum(c for c, _ in r["times"].values())
                                    for r in traced), "s"),
        "queries.execute_s": (med(sum(e for _, e in r["times"].values())
                                  for r in traced), "s"),
        "queries.fresh_eager_executions": (
            fresh["counters"]["eager_executions"], "count"),
        "queries.artifact_mb": ((end_total_b - end_tables_b) / MB, "MB"),
    }
    for name, (key, scale, unit) in _COUNTERS.items():
        out[name] = (med(r["counters"][key] for r in traced) / scale, unit)
    p50 = med(probe.trigger_s) if probe.trigger_s else 0.0
    t_val, t_pct = tail(probe.trigger_s)
    out.update({
        "streaming.trigger_p50_s": (p50, "s"),
        "streaming.trigger_tail_s": (t_val, "s"),
        "streaming.trigger_tail_pct": (t_pct, "%"),
        "streaming.trigger_samples": (len(probe.trigger_s), "count"),
    })
    for job in all_jobs:
        out[f"queries.{job}_s"] = (med(job_times[job]) if job in jobs else 0.0, "s")
    steady = [tracer.self_times(r["span"]) for r in traced]
    for layer in PASS_LAYERS:
        out[f"self.{layer}_s"] = (med(s.get(layer, 0.0) for s in steady), "s")
    setups = [tracer.self_times(s["id"]) for s in tracer.spans if s["name"] == "setup"]
    for layer in SETUP_LAYERS:
        out[f"self.{layer}_s"] = (med(s.get(layer, 0.0) for s in setups), "s")
    out["trace.overhead_s"] = (med(r["wall"] for r in traced) - med(plain), "s")
    out["trace.read_s"] = (med(r["read_s"] for r in traced), "s")
    return out
