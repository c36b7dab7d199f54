"""Plumbing tests for the benchmark itself (not for the engine).

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

import json
import types

import numpy as np
import pytest
from pyspark.sql import functions as F

from perfbench import gen, oracle, stats, trace, workloads


def _events(path, events):
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")
    return str(path)


def _task(stage, run_ms, cpu_ns, shuffle_bytes=0, records=0, gc_ms=0, read=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 5,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes,
                                      "Shuffle Records Written": records},
            "Input Metrics": {"Bytes Read": read},
            "Output Metrics": {"Records Written": 0, "Bytes Written": 0},
        },
    }


def test_parser_folds_canned_event_log(tmp_path):
    log = _events(tmp_path / "app-1", [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "physicalPlanDescription": "HashAggregate crc32"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "run-1", "spark.sql.execution.id": "7"}},
        _task(0, 100, 2e9, shuffle_bytes=10, records=3, gc_ms=20, read=64),
        _task(0, 300, 1e9, shuffle_bytes=30, records=4),
        _task(0, 100, 1e9),
        _task(1, 50, 5e8),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
        # untagged job: ignored
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 4000,
         "Stage IDs": [2], "Properties": {}},
        _task(2, 999, 9e9, shuffle_bytes=999),
    ])
    groups, sql = trace.parse_event_log([log])
    assert set(groups) == {"run-1"}
    g = groups["run-1"]
    assert g["jobs"] == 1 and g["tasks"] == 4
    assert g["task_cpu_s"] == pytest.approx(4.5)
    assert g["gc_s"] == pytest.approx(0.02)
    assert g["shuffle_write_bytes"] == 40 and g["records_out"] == 7
    assert g["spill_bytes"] == 20 and g["input_bytes"] == 64
    # stage 0 run times 100/300/100 ms: max over median = 3
    assert g["task_skew"] == pytest.approx(3.0)
    (job,) = g["job_call_sites"]
    assert job["wall_s"] == pytest.approx(2.5) and job["sql_id"] == 7
    assert sql == {7: "HashAggregate crc32"}


def test_self_time_subtracts_children():
    tr = trace.Tracer(types.SimpleNamespace(
        setJobGroup=lambda *a: None, setLocalProperty=lambda *a: None), "r")
    tr.spans = [
        {"id": "p", "name": "p", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "a", "name": "a", "parent": "p", "start": 1.0, "end": 4.0},
        {"id": "b", "name": "b", "parent": "p", "start": 3.0, "end": 5.0},
    ]
    assert tr.self_time(tr.spans[0]) == pytest.approx(6.0)


def test_tail_needs_ten_samples_beyond():
    assert stats.tail(list(range(100)))[1] == 90.0
    assert stats.tail(list(range(20)))[1] == 50.0
    assert stats.tail([3.0, 1.0, 2.0]) == (2.0, 50.0, 3)


def _rng(seed):
    return np.random.default_rng([gen.GEN_VERSION, seed])


@pytest.mark.parametrize("make", [
    lambda r: gen.transcripts(r, 300, 1 / 3),
    lambda r: gen.transcripts(r, 300, 3.0, zipf_hot=3),
    lambda r: (gen.documents(r, 200),),
    lambda r: tuple(gen.stream_chunks(r, 3, 100)),
])
def test_generators_deterministic_per_seed(make):
    a, b, c = make(_rng(1)), make(_rng(1)), make(_rng(2))
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not all(x.equals(y) for x, y in zip(a, c))


def _tiny_transcripts(spark):
    turns, state = gen.transcripts(_rng(5), 200, 1 / 3)
    return spark.createDataFrame(turns.to_pandas()), spark.createDataFrame(state.to_pandas())


def _windows(df):
    return trace.count_nodes(trace.plan_nodes(df), "Window")


def test_consuming_aggregates_keep_every_window(spark):
    turns, state = _tiny_transcripts(spark)
    slim = workloads.slim_chain(turns, state)
    n = _windows(slim)
    assert n > 0
    assert _windows(workloads.slim_agg(slim)) == n
    # the hazard the aggregate guards against: a count prunes them all
    assert _windows(slim.select(F.count("*"))) < n
    out, _ = workloads.featurize(turns, state)
    m = _windows(out)
    assert m > 0 and _windows(workloads.pipeline_agg(out)) == m


def _env(tmp_path, spark, seed=3):
    cache, work = tmp_path / "cache", tmp_path / "work"
    cache.mkdir()
    work.mkdir()
    return types.SimpleNamespace(
        spark=spark, cores=2, cache=str(cache), work=str(work), seed=seed,
        con=oracle.connect(2, str(tmp_path / "duckdb")), report={},
    )


def test_corrupted_oracle_makes_error_rate_nonzero(tmp_path, spark):
    env = _env(tmp_path, spark)
    wl = workloads.NearDup(env)
    wl.size = 120
    wl.prepare()
    wl.start()
    good = wl.op()
    assert [s.ok for s in good] == [True]
    doc = next(iter(wl.expected))
    cid, size = wl.expected[doc]
    wl.expected[doc] = (cid + 1, size)
    bad = wl.op()
    samples = good + bad
    assert sum(not s.ok for s in samples) / len(samples) == 0.5


def test_pit_oracle_matches_engine_on_tiny_input(tmp_path, spark):
    env = _env(tmp_path, spark)
    wl = workloads.PitBackfill(env)
    wl.size = 150
    wl.prepare()
    wl.start()
    (sample,) = wl.op()
    assert sample.ok and sample.items == wl.n_turns
    assert wl.check() == (1, 0)
    wl.expected["agg"]["sess"] += 1
    assert not wl.op()[0].ok
