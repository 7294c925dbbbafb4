"""The event-log reader of tools/profile_queries.py, on a small
hand-written log (no Spark session): both on-disk layouts, per-run
attribution of jobs, stages and SQL executions by submission time,
and the byte counts taken from stage accumulables."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool():
    spec = importlib.util.spec_from_file_location(
        "profile_tool", os.path.join(ROOT, "tools", "profile_queries.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _job(jid, t0, t1, listed):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": t0,
         "Stage Infos": [{"Stage ID": s, "Number of Tasks": n}
                         for s, n in listed]},
        {"Event": "SparkListenerJobEnd", "Job ID": jid,
         "Completion Time": t1},
    ]


def _stage(sid, tasks, name, **metrics):
    acc = [{"ID": 90 + i, "Name": f"internal.metrics.{k}", "Value": v}
           for i, (k, v) in enumerate({
               "input.bytesRead": metrics.get("inp", 0),
               "shuffle.read.remoteBytesRead": metrics.get("remote", 0),
               "shuffle.read.localBytesRead": metrics.get("local", 0),
               "shuffle.write.bytesWritten": metrics.get("sw", 0),
           }.items())]
    # metrics the report does not use, one of them not a number
    acc += [{"ID": 1, "Name": "number of output rows", "Value": 999},
            {"ID": 2, "Name": "internal.metrics.updatedBlockStatuses",
             "Value": [{"Block ID": "rdd_1_0"}]}]
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Number of Tasks": tasks,
                           "Stage Name": name, "Accumulables": acc}}


def _sql(eid, t, plan):
    return {"Event": "org.apache.spark.sql.execution.ui."
                     "SparkListenerSQLExecutionStart",
            "executionId": eid, "rootExecutionId": eid, "time": t,
            "description": f"count at q{eid}",
            "physicalPlanDescription": plan, "jobGroupId": None}


#: Two runs, [1000, 2000] and [3000, 4000] epoch ms; everything else
#: (warm-up before, a stray job between, a job after) belongs to none.
WINDOWS = [(1000, 2000), (3000, 4000)]
EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    _sql(0, 500, "PLAN warm-up"),
    *_job(0, 500, 600, [(0, 2)]),
    _stage(0, 2, "warm-up scan", inp=5, sw=6),
    _sql(1, 1100, "PLAN A first"),
    # job 1 reuses stage 0 (completed by job 0): listed, not run
    *_job(1, 1100, 1300, [(1, 4), (0, 2)]),
    _stage(1, 4, "scan at A", inp=100, sw=40),
    _sql(2, 1500, "PLAN A second"),
    # stage 3 never completes anywhere: AQE's skipped copy
    *_job(2, 1400, 1900, [(2, 1), (3, 4)]),
    _stage(2, 1, "count at A", remote=30, local=10),
    _sql(3, 2500, "PLAN between"),
    *_job(3, 2500, 2600, [(4, 3)]),
    _stage(4, 3, "between", inp=1),
    # window bounds are inclusive
    *_job(4, 3000, 4000, [(5, 2)]),
    _stage(5, 2, "scan at B", inp=7),
    _sql(4, 4000, "PLAN B"),
    *_job(5, 4001, 4100, [(6, 1)]),
    _stage(6, 1, "after", inp=1),
]


def _write(path, events):
    with open(path, "w") as fh:
        fh.writelines(json.dumps(e) + "\n" for e in events)


@pytest.fixture(params=["single_file", "rolling_dir"])
def log_dir(request, tmp_path):
    if request.param == "single_file":
        _write(tmp_path / "local-1792302910525", EVENTS)
    else:
        d = tmp_path / "eventlog_v2_local-1792302910525"
        d.mkdir()
        (d / "appstatus_local-1792302910525").write_text("")
        # index 10 sorts before 2 as text: the reader orders by number
        for idx, part in [(1, EVENTS[:5]), (2, EVENTS[5:12]),
                          (10, EVENTS[12:])]:
            _write(d / f"events_{idx}_local-1792302910525", part)
    return str(tmp_path)


def test_reader_sees_both_layouts_in_order(log_dir):
    assert _tool().read_event_log(log_dir) == EVENTS


def test_runs_own_what_was_submitted_in_their_window(log_dir):
    tool = _tool()
    a, b = tool.profile_runs(tool.read_event_log(log_dir), WINDOWS)
    assert a["jobs"] == [
        {"job": 1, "ms": 200, "stages": 1, "stages_listed": 2,
         "tasks": 4, "tasks_listed": 6, "site": "scan at A",
         "input": 100, "shuffle_read": 0, "shuffle_write": 40},
        {"job": 2, "ms": 500, "stages": 1, "stages_listed": 2,
         "tasks": 1, "tasks_listed": 5, "site": "count at A",
         "input": 0, "shuffle_read": 40, "shuffle_write": 0},
    ]
    assert b["jobs"] == [
        {"job": 4, "ms": 1000, "stages": 1, "stages_listed": 1,
         "tasks": 2, "tasks_listed": 2, "site": "scan at B",
         "input": 7, "shuffle_read": 0, "shuffle_write": 0},
    ]
    assert [(eid, plan) for eid, _, plan in a["plans"]] == [
        (1, "PLAN A first"), (2, "PLAN A second")]
    assert [(eid, plan) for eid, _, plan in b["plans"]] == [(4, "PLAN B")]
