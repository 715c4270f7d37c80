"""Stage-to-layer attribution from a small hand-written event log."""

import json

import pytest

from perfbench import eventlog


def _node(acc, name, text, metrics=("number of output rows",), children=()):
    return {
        "nodeName": name,
        "simpleString": text,
        "metrics": [{"name": m, "accumulatorId": acc + i} for i, m in enumerate(metrics)],
        "children": list(children),
    }


def _task(stage, run_ms, accs):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 10**6},
        "Task Info": {"Accumulables": [{"ID": a, "Update": str(v)} for a, v in accs]},
    }


def _stage(stage, start, end):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": stage,
            "Stage Name": "save",
            "Submission Time": start,
            "Completion Time": end,
            "RDD Info": [],
        },
    }


@pytest.fixture
def log(tmp_path):
    scan = _node(10, "Scan parquet ", "FileScan parquet [url#1,html#2]")
    dedup_x = _node(20, "Exchange", "Exchange hashpartitioning(__content_key#6, 8)",
                    ("shuffle bytes written",), [scan])
    udf = _node(30, "ArrowEvalPython", "ArrowEvalPython [extract_page_udf(html#2)]",
                ("number of output rows", "time to run Python workers"), [dedup_x])
    bucket_x = _node(40, "Exchange", "Exchange hashpartitioning(_bucket#9, 8)",
                     ("shuffle bytes written",), [udf])
    fold = _node(50, "FlatMapGroupsInPandas", "FlatMapGroupsInPandas [_bucket#9]",
                 ("number of output rows", "time to run Python workers"), [bucket_x])
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": fold},
        {"Event": "SparkListenerJobStart", "Submission Time": 1000},
        _task(1, 400, [(10, 100), (20, 5_000_000)]),
        _stage(1, 1000, 1500),
        _task(2, 1000, [(20, 0), (30, 100), (31, 800), (40, 2_000_000)]),
        _stage(2, 1500, 2600),
        _task(3, 500, [(40, 0), (50, 40), (51, 250)]),
        _stage(3, 2600, 3200),
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return eventlog.read_event_log(str(tmp_path))


def test_layer_shares(log):
    s1, s2, s3 = log.stages
    assert s1.layer_shares == {"dedup": 1.0}  # scan + sha2 exchange
    assert s2.layer_shares == pytest.approx({"stages": 0.8, "dedup": 0.2})
    assert s3.layer_shares == pytest.approx({"merge": 1.0})  # fold + bucket read
    assert eventlog.layer_task_seconds(log) == pytest.approx(
        {"dedup": 0.6, "stages": 0.8, "merge": 0.5}
    )


def test_node_metrics_and_window(log):
    assert log.metric(log.stages, "ArrowEvalPython", "number of output rows", "extract_page_udf") == 100
    assert log.metric(log.stages, "Exchange", "shuffle bytes written", "__content_key") == 5_000_000
    assert log.metric(log.stages, "Exchange", "shuffle bytes written", "_bucket") == 2_000_000
    assert log.node_tasks(log.stages, "ArrowEvalPython") == 1
    assert [s.id for s in eventlog.stages_within(log, 1.4, 3.0)] == [2]
    assert log.job_starts == [1.0]
