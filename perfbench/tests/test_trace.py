import collections
import json

import pytest

from perfbench import layers
from perfbench.trace import Tracer, job_group, parse_event_log, self_times, split_group

BUILD = job_group(1, "pacf", "build")
EXEC = job_group(1, "pacf", "exec")


def _plan(node, metrics, children=()):
    return {
        "nodeName": node,
        "metrics": [
            {"name": n, "accumulatorId": i, "metricType": t} for n, i, t in metrics
        ],
        "children": list(children),
    }


def _task(stage, run_ms, cpu_ns, accums=(), reason="Success", shuffle=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Accumulables": [{"ID": i, "Update": v} for i, v in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 10,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
        },
    }


# A two-job log: job 0 (group BUILD) runs a MapInPandas stage, job 1
# (group EXEC, SQL execution 7) writes two files; one task attempt of
# job 1 fails and is retried. Job 2 has no group.
FIXTURE = [
    {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "executionId": 7,
        "sparkPlanInfo": _plan(
            "Execute InsertIntoHadoopFsRelationCommand",
            [("number of written files", 50, "sum"), ("written output", 51, "size")],
            [
                _plan(
                    "MapInPandas",
                    [
                        ("time to run Python workers", 60, "timing"),
                        ("data sent to Python workers", 61, "size"),
                        ("data returned from Python workers", 62, "size"),
                        ("number of output rows", 63, "sum"),
                    ],
                    [_plan("Scan", [("number of output rows", 64, "sum")])],
                )
            ],
        ),
    },
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
     "Properties": {"spark.jobGroup.id": BUILD}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
    _task(0, 1500, 1_000_000_000, [(60, 1200), (61, 100), (62, 300), (63, 40), (64, 99)]),
    _task(0, 500, 250_000_000, [(60, 300), (63, 10)], shuffle=2048),
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
     "Properties": {"spark.jobGroup.id": EXEC, "spark.sql.execution.id": "7"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}},
    _task(2, 100, 0, reason="ExceptionFailure", spill=4096),
    _task(2, 200, 0),
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
     "executionId": 7, "accumUpdates": [[50, 2], [51, 5000]]},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3}},
    _task(3, 700, 0),
]


@pytest.fixture
def log_file(tmp_path):
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in FIXTURE))
    return str(path)


def test_event_log_attributes_tasks_to_job_groups(log_file):
    out = parse_event_log([log_file])
    b, e, none = out[BUILD], out[EXEC], out[""]
    assert (b["jobs"], b["stages"], b["tasks"]) == (1, 1, 2)
    assert b["run_s"] == pytest.approx(2.0)
    assert b["cpu_s"] == pytest.approx(1.25)
    assert b["gc_s"] == pytest.approx(0.02)
    assert b["shuffle_bytes"] == 2048
    # Python-worker metrics come from the MapInPandas node only: the Scan's
    # "number of output rows" (accumulator 64) is not a Python row
    assert b["python_s"] == pytest.approx(1.5)
    assert b["python_rows"] == 50
    assert b["arrow_bytes"] == 400
    assert b["files_written"] == 0
    # stage 1 was skipped (never submitted); the failed attempt is counted
    assert (e["jobs"], e["stages"], e["tasks"], e["failed_attempts"]) == (1, 1, 2, 1)
    assert e["spill_bytes"] == 4096
    assert (e["files_written"], e["bytes_written"]) == (2, 5000)
    assert (none["jobs"], none["tasks"]) == (1, 1)


def test_job_group_round_trip():
    assert split_group(job_group(3, "asof_lag", "build")) == (3, "asof_lag", "build")
    assert split_group("someone-else") is None
    assert split_group("") is None


def _span(i, parent, kind, secs, p=1, **kw):
    return {"id": i, "parent": parent, "kind": kind, "secs": secs, "pass": p,
            "op": "x", "name": "", **kw}


def test_self_time_subtracts_direct_children():
    spans = [
        _span(0, None, "op", 10.0),
        _span(1, 0, "build", 6.0),
        _span(2, 1, "materialize", 4.0, built=True),
        _span(3, 2, "sources.load", 1.0),
        _span(4, 0, "exec", 3.0),
    ]
    assert self_times(spans) == {0: 1.0, 1: 2.0, 2: 3.0, 3: 1.0, 4: 3.0}


def test_layer_metrics_average_traced_steady_passes(log_file):
    tracer = Tracer()
    tracer.spans = [
        _span(0, None, "session.get_session", 5.0, p="setup"),
        _span(1, None, "build", 2.0, p=0),
        _span(2, None, "build", 1.0, p=1),
        _span(3, 2, "materialize", 0.5, p=1),
        # an untraced pass is never recorded in practice, ignored if it were
        _span(4, None, "build", 9.0, p=2),
        _span(5, None, "build", 7.0, p=3),  # warm-up pass: left out
    ]
    tracer.counts = collections.Counter(
        {(0, "materialize.calls"): 2, (0, "materialize.builds"): 2,
         (1, "materialize.calls"): 4, (1, "materialize.builds"): 1}
    )
    passes = [
        {"pass": 0, "kind": "cold", "secs": 9.0, "traced": True},
        {"pass": 1, "kind": "steady", "secs": 5.0, "traced": True},
        {"pass": 2, "kind": "steady", "secs": 4.0, "traced": False},
        {"pass": 3, "kind": "warmup", "secs": 8.0, "traced": True},
    ]
    out = layers.layer_metrics(tracer, parse_event_log([log_file]), passes)
    assert set(out) == set(layers.NAMES)
    assert out["session.get_session_s"] == 5.0
    assert out["queries.build_s"] == pytest.approx(0.5)
    assert out["first.queries.build_s"] == pytest.approx(2.0)
    assert out["materialize.build_s"] == 0.0  # the hit is not a build
    assert out["materialize.hit_ratio"] == pytest.approx(0.75)
    assert out["first.materialize.hit_ratio"] == 0.0
    assert out["queries.build_jobs"] == 1
    assert out["scheduler.jobs"] == 2
    assert out["sinks.files_written"] == 2
    assert out["trace.overhead_s"] == pytest.approx(1.0)
