"""The event-log parser and the per-layer arithmetic, on a canned log."""

import json

from perfbench import trace


def _job(job, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages, "Properties": props}


def _stage_done(stage):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}}


def _task(stage, run_ms, gc_ms=0, shuffle=0, spill=0, accs=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"Name": n, "Update": u} for n, u in accs]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Disk Bytes Spilled": spill,
        },
    }


CANNED = [
    {"Event": "SparkListenerApplicationStart"},
    _job(0, [0], "scan"),
    _task(0, 1500, gc_ms=100),
    _stage_done(0),
    # a two-stage job: stage 1 shuffles, stage 2 reads it back
    _job(1, [1, 2], "udf"),
    _task(1, 2000, shuffle=2 * trace.MB, accs=[(trace.PY_OUT, "1048576"), (trace.PY_INIT, "250")]),
    _task(1, 1000, accs=[(trace.PY_OUT, str(3 * trace.MB)), (trace.PY_INIT, "750")]),
    _stage_done(1),
    _task(2, 500, spill=trace.MB),
    _stage_done(2),
    # a later job of another group lists stage 1 again, but it is skipped
    _job(2, [1, 3], "sink"),
    _task(3, 250),
    _stage_done(3),
    # untagged jobs count for nobody
    _job(3, [4]),
    _task(4, 9999),
    _stage_done(4),
]


def _parsed():
    return trace.parse_event_log(json.dumps(ev) + "\n" for ev in CANNED)


def test_groups_sum_their_own_tasks():
    groups = _parsed()
    assert set(groups) == {"scan", "udf", "sink"}
    assert groups["scan"] == {
        "jobs": 1, "stages": 1, "tasks": 1, "task_s": 1.5, "gc_s": 0.1,
        "shuffle_write_mb": 0, "spill_mb": 0, "python_out_mb": 0, "python_init_s": 0,
    }
    udf = groups["udf"]
    assert (udf["jobs"], udf["stages"], udf["tasks"]) == (1, 2, 3)
    assert udf["task_s"] == 3.5
    assert udf["shuffle_write_mb"] == 2
    assert udf["spill_mb"] == 1
    assert udf["python_out_mb"] == 4
    assert udf["python_init_s"] == 1.0


def test_skipped_stage_stays_with_its_first_job():
    sink = _parsed()["sink"]
    assert (sink["jobs"], sink["stages"], sink["tasks"], sink["task_s"]) == (1, 1, 1, 0.25)


def test_prefix_layer_is_difference_of_groups():
    groups = _parsed()
    spans = {"scan": 2.0, "udf": 5.0}
    self_stats = trace.layer_stats(groups, spans, "udf", minus="scan")
    assert self_stats["self_s"] == 3.0
    assert self_stats["task_s"] == 2.0
    assert self_stats["tasks"] == 2
    assert trace.layer_stats(groups, spans, "missing")["jobs"] == 0


def test_counting_proxy_forwards_and_counts():
    class Store:
        def __init__(self):
            self.seen = []

        def put(self, x):
            self.seen.append(x)
            return x * 2

    store = Store()
    proxy = trace.CountingProxy(store)
    assert proxy.put(3) == 6 and proxy.put(4) == 8
    assert store.seen == [3, 4] and proxy.calls == 2 and proxy.seconds >= 0
