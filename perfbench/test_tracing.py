"""Tests of the benchmark's span and event-log accounting.

    python3 -m pytest perfbench/test_tracing.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing  # noqa: E402


def test_self_time_subtracts_the_union_of_children():
    t = tracing.Tracer(True)
    t.spans = [
        {"id": 0, "name": "op", "parent": None, "op": 0, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "op": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "op": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "name": "c", "parent": 2, "op": 0, "start": 3.5, "end": 4.5},
    ]
    assert t.self_times() == {0: 5.0, 1: 3.0, 2: 2.0, 3: 1.0}
    assert t.totals() == {"op": 5.0, "a": 3.0, "b": 2.0, "c": 1.0}


def test_disabled_tracer_records_nothing():
    t = tracing.Tracer(False)
    with t.span("x"):
        pass
    assert t.spans == []


def test_call_site_layers():
    client = "/co/perfbench"
    assert tracing.call_site_layer("collect at /co/perfbench/workloads.py:50", client) == "client"
    assert tracing.call_site_layer("count at /co/knowledge_model_spark/pipelines.py:120", client) == "pipelines"
    assert tracing.call_site_layer("collect at /co/knowledge_model_spark/plans/text_queries.py:9", client) == "plans"
    assert tracing.call_site_layer("count at /co/knowledge_model_spark/sources/pdf.py:9", client) == "plans"
    assert tracing.call_site_layer("$anonfun$run at CompletableFuture.java:1768", client) == "other"


def _job(jid, t_ms, group, site="collect at /co/perfbench/w.py:1"):
    props = {"callSite.short": site}
    if group:
        props["spark.jobGroup.id"] = group
    return {
        "Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms, "Stage IDs": [jid],
        "Stage Infos": [{"Stage ID": jid, "Stage Name": site}], "Properties": props,
    }


def _task(stage, launch_ms, finish_ms):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms, "Failed": False, "Killed": False},
        "Task Metrics": {"Executor Run Time": finish_ms - launch_ms, "Executor CPU Time": 0, "JVM GC Time": 0},
    }


PHASES = {"setup_end": 0.5, "post_start": 4.0}


def test_accounting_splits_attributed_and_unattributed_jobs():
    events = [
        _job(9, 100, None),  # set-up
        _job(0, 1000, "op0"),
        _job(1, 1500, None, site="$anonfun at CompletableFuture.java:1"),  # a thread-pool job
        _task(0, 1000, 1400),
        _task(1, 1500, 1900),
        _job(2, 5000, None),  # output check
    ]
    ops = [{"group": "op0", "start": 0.9, "end": 2.0, "tracker_jobs": [0]}]
    totals, rows, mismatches = tracing.spark_accounting(events, ops, PHASES, "/co/perfbench")
    assert mismatches == []
    assert (rows[0]["jobs"], rows[0]["jobs_unattributed"], rows[0]["jobs_total"]) == (1, 1, 2)
    assert rows[0]["client.jobs"] == 1 and rows[0]["other.jobs"] == 1
    assert abs(rows[0]["driver_only_s"] - 0.3) < 1e-9  # 1.1 s window, 0.8 s of tasks
    ops[0]["tracker_jobs"] = [0, 2]
    assert tracing.spark_accounting(events, ops, PHASES, "/co/perfbench")[2]


def test_accounting_fails_on_a_stray_job():
    ops = [
        {"group": "op0", "start": 0.9, "end": 2.0, "tracker_jobs": [0]},
        {"group": "op1", "start": 2.5, "end": 3.5, "tracker_jobs": [2]},
    ]
    ok = [_job(0, 1000, "op0"), _job(2, 3000, "op1")]
    assert tracing.spark_accounting(ok, ops, PHASES, "/co/perfbench")[2] == []
    # submitted between two ops, by a thread with no group
    stray = tracing.spark_accounting(ok + [_job(1, 2200, None)], ops, PHASES, "/co/perfbench")[2]
    assert len(stray) == 1 and stray[0].startswith("jobs in no op window")
    # a thread that inherited op0's group and submitted after op0 returned
    late = tracing.spark_accounting(ok + [_job(1, 2200, "op0")], ops, PHASES, "/co/perfbench")[2]
    assert any("outside its window" in m for m in late)
