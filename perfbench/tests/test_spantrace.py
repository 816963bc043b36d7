"""The span and event-log folds, on hand-made inputs (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import spantrace as tr  # noqa: E402


def _span(sid, name, start, end, parent=None, thread="MainThread"):
    return {"id": sid, "name": name, "start": start, "end": end,
            "parent": parent, "thread": thread}


def test_self_times_subtract_children_and_clip_to_window():
    spans = [
        _span(0, "bench.window", 0.0, 10.0),
        _span(1, "dedup_text.near_dup_pairs", 1.0, 4.0, parent=0),
        _span(2, "sampling.pack", 5.0, 12.0, parent=0),  # runs past the window
    ]
    selfs = tr.self_times(spans, 0.0, 10.0)
    assert selfs == {"bench": 2.0, "dedup_text": 3.0, "sampling": 5.0}
    assert sum(selfs.values()) == 10.0


def test_gate_filter_rows_fold_per_job(tmp_path):
    """The Filter holding valid_url's regex gives rows out; its child's
    output rows give rows in; both sum over the jobs' stages."""
    plan = {
        "nodeName": "WholeStageCodegen (1)", "simpleString": "", "metrics": [],
        "children": [{
            "nodeName": "Filter",
            "simpleString": "Filter (RLIKE(url#2, ^(https?)://) AND (lang#5 IN (en)))",
            "metrics": [{"name": "number of output rows", "accumulatorId": 11,
                         "metricType": "sum"}],
            "children": [{
                "nodeName": "InputAdapter", "simpleString": "", "metrics": [],
                "children": [{
                    "nodeName": "InMemoryTableScan", "simpleString": "",
                    "metrics": [{"name": "number of output rows", "accumulatorId": 12,
                                 "metricType": "sum"}],
                    "children": [],
                }],
            }],
        }],
    }
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": 1000,
         "Properties": {"streaming.sql.batchId": "1"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Number of Tasks": 4, "Accumulables": [
             {"ID": 11, "Name": "number of output rows", "Value": "75"},
             {"ID": 12, "Name": "number of output rows", "Value": "100"},
         ]}},
    ]
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    (log_dir / "app").write_text("".join(json.dumps(e) + "\n" for e in events))
    log = tr.read_event_log(str(log_dir))
    assert tr.jobs_by_batch(log) == {1: [0]}
    f = tr.fold_jobs(log, [0])
    assert (f["gate_rows_in"], f["gate_rows_out"], f["tasks"]) == (100.0, 75.0, 4)
