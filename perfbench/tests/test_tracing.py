"""Event-log parsing, listener aggregation and span wrapping."""

from __future__ import annotations

import json
import sys
import textwrap

import pytest

import run
import stats
import tracing

SQL_UI = "org.apache.spark.sql.execution.ui."


def _job(job_id, stages, props, submitted):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Submission Time": submitted, "Properties": props}


def _task(stage, run_ms=100, cpu_ns=50_000_000, accums=()):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": i, "Update": u} for i, u in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 10,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 8,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 300,
                                     "Fetch Wait Time": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 200},
        },
    }


PLAN = {
    "nodeName": "MapInPandas", "metrics": [
        {"name": "time to run Python workers", "accumulatorId": 20, "metricType": "timing"},
        {"name": "data sent to Python workers", "accumulatorId": 21, "metricType": "size"},
        {"name": "number of output rows", "accumulatorId": 22, "metricType": "sum"},
        {"name": "time to start Python workers", "accumulatorId": 23, "metricType": "nsTiming"},
    ],
    "children": [{
        "nodeName": "Scan parquet ", "children": [], "metrics": [
            {"name": "number of output rows", "accumulatorId": 10, "metricType": "sum"},
            {"name": "size of files read", "accumulatorId": 11, "metricType": "size"},
            {"name": "scan time", "accumulatorId": 12, "metricType": "timing"},
        ],
    }],
}


@pytest.fixture
def canned_log(tmp_path):
    events = [
        {"Event": SQL_UI + "SparkListenerSQLExecutionStart", "executionId": 0,
         "sparkPlanInfo": PLAN},
        # driver-side update logged before the execution's first job
        {"Event": SQL_UI + "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[11, 4096]]},
        _job(0, [0], {"spark.jobGroup.id": "t1:q01", "spark.sql.execution.id": "0"}, 1500),
        _job(1, [1], {"spark.jobGroup.id": "w:q01", "spark.sql.execution.id": "1"}, 500),
        _job(2, [2], {"spark.jobGroup.id": "run-a", "sql.streaming.queryId": "q"}, 1800),
        _job(3, [3], {"spark.jobGroup.id": "run-b", "sql.streaming.queryId": "q"}, 9000),
        _task(0, accums=[(10, 100), (12, 5), (20, 7), (21, 64), (22, 3), (23, 2_000_000)]),
        _task(0, accums=[(10, 50)]),
        _task(1, accums=[(10, 999)]),   # warm pass: not timed
        _task(2),                       # stream batch inside the window
        _task(3),                       # stream batch after it
        {"Event": SQL_UI + "SparkListenerDriverAccumUpdates", "executionId": 1,
         "accumUpdates": [[11, 1]]},
    ]
    path = tmp_path / "app.log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    return str(path)


def test_event_log_sums_only_timed_jobs(canned_log):
    out = tracing.parse_event_log(canned_log, run._timed_job([1000.0, 2000.0]))
    assert out["exec.tasks"] == 3
    assert out["exec.task_s"] == pytest.approx(0.3)
    assert out["exec.cpu_s"] == pytest.approx(0.15)
    assert out["exec.gc_s"] == pytest.approx(0.03)
    assert out["exec.spill_bytes"] == 24
    assert out["shuffle.read_bytes"] == 900 and out["shuffle.write_bytes"] == 600
    assert out["shuffle.fetch_wait_ms"] == 6


def test_event_log_assigns_sql_metrics_by_node(canned_log):
    out = tracing.parse_event_log(canned_log, run._timed_job([1000.0, 2000.0]))
    assert out["scan.rows"] == 150
    assert out["scan.bytes_read"] == 4096
    assert out["scan.time_ms"] == 5
    assert out["python.total_ms"] == 7
    assert out["python.bytes_sent"] == 64
    assert out["python.rows_received"] == 3
    assert out["python.boot_ms"] == pytest.approx(2.0)  # nsTiming -> ms


def test_python_data_source_scan_is_python_layer():
    acc = {}
    tracing._walk_plan({"nodeName": "BatchScan warcfile", "metrics": [
        {"name": "data returned from Python workers", "accumulatorId": 1,
         "metricType": "v2Custom_x"},
        {"name": "number of output rows", "accumulatorId": 2, "metricType": "sum"}]}, acc)
    assert acc[1][0] == acc[2][0] == "python"


def _progress(run_id, rows, duration, commit, total, updated, memory):
    return {"runId": run_id, "numInputRows": rows, "batchDuration": duration,
            "durationMs": {"addBatch": duration - 10, "walCommit": 3, "commitOffsets": 2,
                           "queryPlanning": 1, "triggerExecution": duration},
            "stateOperators": [{"commitTimeMs": commit, "numRowsTotal": total,
                                "numRowsUpdated": updated, "memoryUsedBytes": memory}]}


def test_listener_aggregation():
    st = tracing.StreamStats()
    st.add(_progress("warm", 5, 999, 99, 9, 9, 9))          # skipped below
    st.add(_progress("r1", 10, 100, 40, 5, 5, 1000))
    st.add(_progress("r1", 20, 300, 60, 8, 3, 1500))
    st.add(_progress("r1", 0, 50, 0, 8, 0, 1500))            # idle batch: not a batch
    st.add(_progress("r2", 30, 200, 50, 7, 7, 700))
    m = st.summary(skip=1)
    assert m["stream.batches"] == 3
    assert m["stream.input_rows"] == 60
    assert m["stream.add_batch_ms"] == 570
    assert m["stream.wal_commit_ms"] == 9
    assert m["stream.state_commit_ms"] == 150
    assert m["stream.state_rows_updated"] == 15
    assert m["stream.state_rows_total"] == 8 + 7       # last progress per run
    assert m["stream.state_memory_bytes"] == 1500 + 700
    assert m["microbatch_p50_ms"] == 200
    # too few samples for the ten-beyond rule: the Harrell-Davis p90
    assert m["microbatch_tail_ms"] == pytest.approx(stats.hd_quantile([100, 300, 200], 0.9))


@pytest.fixture
def fake_package(tmp_path, monkeypatch):
    pkg = tmp_path / "fakeeng"
    (pkg / "ops").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "ops" / "__init__.py").write_text("")
    (pkg / "ops" / "joins.py").write_text(textwrap.dedent("""
        def join(df, other):
            return inner(df) + other

        def inner(df):
            return df * 2

        def worker_side(pdf):
            return pdf
    """))
    (pkg / "plans.py").write_text(textwrap.dedent("""
        from .ops.joins import join
        QUERIES = {"q1": None}

        def q1(spark, sf_dir):
            return join(spark, 1)

        QUERIES["q1"] = q1
    """))
    monkeypatch.syspath_prepend(str(tmp_path))
    yield "fakeeng"
    for name in [n for n in sys.modules if n.startswith("fakeeng")]:
        del sys.modules[name]


def test_wrap_package_records_nested_spans_once(fake_package):
    tracer = tracing.Tracer()
    assert tracer.wrap_package(fake_package) == 3  # join, inner, q1 (not worker_side)
    plans = sys.modules["fakeeng.plans"]
    tracer.op = "t1:q1"
    sid = tracer.begin("op.q1")
    assert plans.QUERIES["q1"](3, "dir") == 7
    tracer.end(sid)
    names = [s["name"] for s in tracer.spans]
    assert names == ["op.q1", "plans.q1", "ops.joins.join", "ops.joins.inner"]
    assert all(s["op"] == "t1:q1" and s["end"] >= s["start"] for s in tracer.spans)
    assert [s["parent"] for s in tracer.spans] == [None, 0, 1, 2]
    totals = tracer.module_totals(("ops.joins.",))
    assert totals["ops.joins"][0] == 1  # inner is nested in join: counted once
