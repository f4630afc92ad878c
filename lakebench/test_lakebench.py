"""Tests of the benchmark's own machinery; no Spark session needed.

    python3 -m pytest lakebench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402

T0 = 1_700_000_000_000.0  # epoch ms


def _span(i, parent, name, start, end, **attrs):
    return spans.Span(i, parent, name, T0 + start, T0 + end, dict(attrs))


@pytest.fixture
def trace():
    # pass [0, 100]: run_ingestion [10, 40] > read_json [20, 30];
    # run_merge [50, 90] > merge_table [55, 70]
    return [
        _span(0, None, "bench.pass", 0, 100),
        _span(1, 0, "pipeline.run_ingestion", 10, 40),
        _span(2, 1, "sources.readers.read_json", 20, 30, rows=5, failed=False),
        _span(3, 0, "pipeline.run_merge", 50, 90),
        _span(4, 3, "sinks.merge.merge_table", 55, 70, strategy="MERGE"),
    ]


def _task(stage, run_ms, read=0, local=0, remote=0, written=0, spill=(0, 0), py=(0, 0)):
    accs = []
    if py != (0, 0):
        accs = [{"ID": 1, "Name": spans.PY_SENT, "Update": str(py[0])},
                {"ID": 2, "Name": spans.PY_RECV, "Update": str(py[1])}]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Accumulables": accs},
            "Task Metrics": {"Executor Run Time": run_ms, "Input Metrics": {"Bytes Read": read},
                             "Shuffle Read Metrics": {"Local Bytes Read": local, "Remote Bytes Read": remote},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
                             "Memory Bytes Spilled": spill[0], "Disk Bytes Spilled": spill[1]}}


@pytest.fixture
def event_log(tmp_path):
    ev = [
        # job 0 at t=25 (inside read_json); stage 0, two tasks
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": T0 + 25, "Stage IDs": [0]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": T0 + 25}},
        _task(0, 4, read=100),
        _task(0, 6, read=50, spill=(7, 3)),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": T0 + 29},
        # job 1 at t=45 (pass root only); stages 1 (map) and 2 (reduce)
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": T0 + 45, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Submission Time": T0 + 45}},
        _task(1, 10, written=400, py=(1000, 200)),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2, "Submission Time": T0 + 47}},
        _task(2, 5, local=300, remote=100),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": T0 + 49},
        # job 2 at t=60 (inside merge_table) reuses shuffle stage 1 (skipped)
        # and runs stage 3; a SQL execution there writes 2 files
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 7,
         "time": T0 + 52, "sparkPlanInfo": {"metrics": [], "children": [{"metrics": [
             {"name": "number of written files", "accumulatorId": 91},
             {"name": "written output", "accumulatorId": 92}], "children": []}]}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": T0 + 60, "Stage IDs": [1, 3]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3, "Submission Time": T0 + 60}},
        _task(3, 8),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": T0 + 65},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates", "executionId": 7,
         "accumUpdates": [[91, 2], [92, 4096]]},
        # job 3 after the pass: ignored
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": T0 + 150, "Stage IDs": [4]},
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in ev) + "\n")
    (d / "appstatus_local-1").write_text("")
    return d


def test_self_time_subtracts_children(trace):
    st = spans.self_times(trace)
    assert st == {0: 100 - 30 - 40, 1: 30 - 10, 2: 10, 3: 40 - 15, 4: 15}


def test_self_time_clips_and_merges_overlapping_children():
    s = [_span(0, None, "a", 0, 10), _span(1, 0, "b", -5, 4), _span(2, 0, "c", 2, 6)]
    assert spans.self_times(s)[0] == 10 - 6


def test_jobs_go_to_innermost_span_by_submission_time(trace, event_log):
    jobs, execs = spans.parse_event_log(event_log)
    a = spans.attribute(trace, jobs, trace[0], execs)
    assert {j: s.name for j, s in a.job_span.items()} == {
        0: "sources.readers.read_json", 1: "bench.pass", 2: "sinks.merge.merge_table"}
    assert [j.id for j in a.jobs] == [0, 1, 2]  # job 3 is outside the pass
    assert [j.id for j in a.jobs_under([trace[1]])] == [0]
    assert [(x.id, s.name) for x, s in a.execs] == [(7, "pipeline.run_merge")]  # before merge_table opens


def test_task_metric_sums_and_stage_ownership(event_log):
    jobs, execs = spans.parse_event_log(event_log)
    j0, j1, j2 = jobs[0], jobs[1], jobs[2]
    assert (j0.stages, j0.tasks, j0.executor_run_ms, j0.input_bytes, j0.spill_bytes) == (1, 2, 10, 150, 10)
    # the reused map stage belongs to the job that ran it, not to job 2
    assert (j1.stages, j1.tasks, j1.shuffle_write_bytes, j1.shuffle_read_bytes) == (2, 2, 400, 400)
    assert (j2.stages, j2.tasks, j2.executor_run_ms) == (1, 1, 8)
    tot = spans.spark_totals(jobs[:3])
    assert tot["spark.jobs"] == 3 and tot["spark.tasks"] == 5 and tot["spark.stages"] == 4
    assert tot["spark.busy_s"] == pytest.approx((4 + 4 + 5) / 1000)
    assert execs[0].files_written == 2 and execs[0].bytes_written == 4096


def test_python_worker_bytes_from_accumulables(event_log):
    jobs, _ = spans.parse_event_log(event_log)
    tot = spans.spark_totals(jobs)
    assert (tot["arrow.bytes_to_python"], tot["arrow.bytes_from_python"]) == (1000, 200)


def test_layer_metrics_on_synthetic_pass(trace, event_log):
    from workloads import PassResult

    jobs, execs = spans.parse_event_log(event_log)
    a = spans.attribute(trace, jobs, trace[0], execs)
    res = PassResult(run_s=0.1, root=trace[0])
    m = layers.layer_metrics(a, res, 0.1)
    assert set(m) | {"session.start_s", "trace.overhead_s"} == set(layers.PER_LAYER)
    assert m["sources.readers.read_json.s"] == pytest.approx(0.010)
    assert m["sources.readers.jobs"] == 1 and m["sources.readers.rows"] == 5
    assert m["sinks.merge.MERGE.s"] == pytest.approx(0.015) and m["sinks.merge.tables.MERGE"] == 1
    assert m["sinks.merge.jobs"] == 1
    assert m["pipeline.run_ingestion.self_s"] == pytest.approx(0.020)
    assert m["share.sources.readers"] == pytest.approx(0.1)
    assert m["driver.s"] == pytest.approx(0.1 - 0.013)


def test_span_recorder_nests_and_rebind_restores():
    t = spans.Tracer(enabled=True)
    with t.span("bench.pass"):
        with t.span("pipeline.run_merge"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("bench.pass", None), ("pipeline.run_merge", 0)]
    off = spans.Tracer(enabled=False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []
    sys.path.insert(0, str(HERE.parent))
    from _spark_multi_format_data_lake_pipeline_spark import pipeline

    orig = pipeline.load_all_sources
    with spans.rebind(t, "_spark_multi_format_data_lake_pipeline_spark"):
        assert pipeline.load_all_sources is not orig
        assert pipeline.load_all_sources.__wrapped__ is orig
    assert pipeline.load_all_sources is orig


def test_layer_of_prefers_longest_prefix():
    assert spans.layer_of("sources.versioned_stream.drain") == "sources.versioned_stream"
    assert spans.layer_of("sinks.versioned.compact") == "sinks.versioned"
    assert spans.layer_of("bench.pass") is None


def test_tail_needs_ten_samples_beyond():
    assert layers.tail(list(range(19)))["percentile"] is None
    t = layers.tail([float(i) for i in range(20)])
    assert t["percentile"] == 50.0 and t["value"] == pytest.approx(9.5)
    assert layers.tail([1.0] * 100)["percentile"] == 90.0


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    def make(seed, d):
        rng = np.random.default_rng([seed, 1])
        gen.ingest_lake(rng, gen.tpch_tables(rng, dict(gen.TABLE_ROWS, orders=6500)), d / "lake")
        gen.cdc_inputs(np.random.default_rng([seed, 2]), d / "cdc")
        gen.write_tables(gen.tpch_tables(np.random.default_rng([seed, 3])), d / "tables")
        return gen.digest(d)

    a, b, c = make(7, tmp_path / "a"), make(7, tmp_path / "b"), make(8, tmp_path / "c")
    assert a == b
    assert a != c


def test_row_counts_do_not_depend_on_seed(tmp_path):
    p1 = gen.cdc_inputs(np.random.default_rng([1, 2]), tmp_path / "1")
    p2 = gen.cdc_inputs(np.random.default_rng([2, 2]), tmp_path / "2")
    assert p1.event_rows == p2.event_rows and p1.commit_feed[:2] == p2.commit_feed[:2]
    assert len(p1.counts) == len(p1.commit_feed) == len(p1.probes) == 5


def test_benchmark_json_matches_metric_registry():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
    import run

    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
