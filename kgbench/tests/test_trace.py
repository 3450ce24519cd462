"""Per-layer metrics from spans and a parsed event log: self time
excludes child spans, jobs and stages are attributed by job group."""

import json

from kgbench import trace


def _span(layer, group, parent, t0, t1, **attrs):
    return {"layer": layer, "group": group, "parent": parent, "t0": t0, "t1": t1, **attrs}


def test_layer_metrics_self_time_and_attribution():
    spans = [
        _span("op", "g0", None, 0.0, 10.0),
        _span("dedup", "g1", "g0", 1.0, 5.0, observed={"max_bucket_size": 70, "dropped_ids": 140}),
        _span("cc", "g2", "g1", 2.0, 3.5),
        _span("check", "g3", "g0", 9.0, 10.0),
    ]
    log = {
        "jobs": {
            1: {"group": "g1", "stages": [10], "batch": None, "query": None},
            2: {"group": "g2", "stages": [20, 21], "batch": None, "query": None},
            3: {"group": "g3", "stages": [30], "batch": None, "query": None},
        },
        "stages": {
            10: {"tasks": [100, 100, 400], "shuffle_write": 50, "python_ms": 1500, "gc_ms": 10},
            20: {"tasks": [10], "shuffle_write": 7, "gc_ms": 5},
            21: {"tasks": [10], "shuffle_write": 3},
            30: {"tasks": [1], "gc_ms": 1000},
        },
    }
    m = trace.layer_metrics(spans, log, n_ops=1)
    assert m["dedup.wall_s"] == 4.0 - 1.5  # its cc child is excluded
    assert m["cc.wall_s"] == 1.5
    assert m["dedup.python_s"] == 1.5
    assert m["dedup.shuffle_write_bytes"] == 50 and m["cc.shuffle_write_bytes"] == 10
    assert m["dedup.max_bucket"] == 70 and m["dedup.dropped_ids"] == 140
    assert m["cc.jobs"] == 1
    assert m["spark.jobs"] == 2  # the check job is not part of the op
    assert m["jvm.gc_s"] == 0.015
    assert abs(m["dedup.spill_bytes"]) == 0


def test_read_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 4, "Stage IDs": [7],
         "Properties": {"spark.jobGroup.id": "kgbench:scorer:3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7,
         "Task Metrics": {"Executor Run Time": 30, "JVM GC Time": 2,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 9},
                          "Input Metrics": {"Records Read": 11}}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 7, "Accumulables": [
             {"Name": "time to run Python workers", "Value": "250"},
             {"Name": "data sent to Python workers", "Value": "4096"}]}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = trace.read_event_log(str(tmp_path))
    assert log["jobs"][4]["group"] == "kgbench:scorer:3"
    st = log["stages"][7]
    assert st["tasks"] == [30] and st["shuffle_write"] == 9 and st["records_read"] == 11
    assert st["python_ms"] == 250 and st["arrow_bytes"] == 4096
