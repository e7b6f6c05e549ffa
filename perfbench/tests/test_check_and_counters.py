"""Output check and counter exactness, at sf0.001.

A wrong or failing job must be counted as failed. Every count-type
per-layer metric that does not repeat exactly across two steady passes
must be marked non-exact (unit ``count-approx``) in BENCHMARK.json.
"""

import json
import os

import pytest

import gen
import run
import tracing
from workloads import WORKLOADS, WRITE_DRAINS

Q1 = "q1_pricing_summary"


@pytest.fixture(scope="module")
def spark():
    run._env()
    from syllabus_sense_spark import queries as q
    from syllabus_sense_spark.session import get_spark

    q.load_all_queries()
    s = get_spark("perfbench-tests")
    yield s
    run.stop()


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    root = tmp_path_factory.mktemp("inputs")
    base, tiled = str(root / "base"), str(root / "tiled")
    gen.write_base(base, 0.001)
    gen.write_base(tiled, 0.001, tile=3)
    out = {}
    for name, wl in WORKLOADS.items():
        out[name] = str(root / name)
        gen.write_inputs(tiled if wl.tile > 1 else base, out[name], 7)
    out["plain"] = str(root / "plain")
    gen.write_inputs(base, out["plain"], 7)
    return out


def test_wrong_or_failing_job_counts_as_failed(spark, inputs):
    from pyspark.sql import functions as F
    from syllabus_sense_spark import queries as q

    q.load_all_queries()
    d = inputs["plain"]
    expected = run.oracle_results(d, gen.TABLES, [Q1])[Q1]
    assert run.check_job(spark, q.QUERIES[Q1], d, expected) is None

    def wrong(s, sf_dir):
        df = q.QUERIES[Q1](s, sf_dir)
        col = df.columns[-1]
        return df.withColumn(col, F.col(col) + 1)

    def failing(s, sf_dir):
        return s.read.parquet(os.path.join(sf_dir, "no_such_table.parquet"))

    assert run.check_job(spark, wrong, d, expected).startswith("rows differ")
    assert run.check_job(spark, failing, d, expected).startswith("error")

    q.QUERIES["perfbench_failing_job"] = failing
    try:
        failures = []
        run.run_pass(spark, ["perfbench_failing_job", Q1], d, failures)
        assert len(failures) == 1 and failures[0].startswith("perfbench_failing_job")
    finally:
        del q.QUERIES["perfbench_failing_job"]


def test_count_metrics_repeat_or_are_marked(spark, inputs):
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    counts = {name: key for name, (key, _, unit) in tracing._COUNTERS.items()
              if unit == "count"}
    tracer = tracing.Tracer()
    probe = tracing.Probe(spark, tracer, WRITE_DRAINS)
    repeat = dict.fromkeys(counts, True)
    for name, wl in WORKLOADS.items():
        failures = []
        run.run_pass(spark, wl.jobs, inputs[name], failures)  # fill memos
        a, b = (probe.traced_pass(wl.jobs, inputs[name], failures, run.run_pass)
                for _ in range(2))
        assert not failures
        for metric, key in counts.items():
            if a["counters"][key] != b["counters"][key]:
                repeat[metric] = False
    for metric, exact in repeat.items():
        if not exact:
            assert units[metric] == "count-approx", metric
        elif units[metric] != "count-approx":
            assert units[metric] == "count", metric
