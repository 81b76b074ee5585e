"""Tracing from outside the package: job-group spans, an offline Spark
event-log parser, a counting key service, counting proxies, the plan's
Python-eval node count and process-tree peak memory."""

from __future__ import annotations

import base64
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

# Per-layer numbers, in this order, for every layer of the trace.
STATS = (
    "self_s", "jobs", "stages", "tasks", "task_s", "gc_s",
    "shuffle_write_mb", "spill_mb", "python_out_mb", "python_init_s",
)
PY_OUT = "data returned from Python workers"
PY_INIT = "time to initialize Python workers"
MB = 1024 * 1024


def trace_conf(event_dir: str) -> dict[str, str]:
    """Session settings for a plain-text, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@contextmanager
def layer(sc, name: str, spans: dict[str, float] | None = None):
    """Tag every job started inside the block with job group ``name`` and
    add the block's wall time to ``spans[name]``."""
    sc.setJobGroup(name, name)
    t0 = time.perf_counter()
    try:
        yield
    finally:
        if spans is not None:
            spans[name] = spans.get(name, 0.0) + time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _zero() -> dict[str, float]:
    return {k: 0.0 for k in STATS if k != "self_s"}


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Job group -> summed metrics of the jobs started under it.

    A stage belongs to the group of the first job that lists it; skipped
    stages never complete and are not counted. Task time is executor run
    time; spill is bytes spilled to disk; the two Python figures are the
    SQL accumulables of the Python-eval operators (bytes, milliseconds).
    """
    out: dict[str, dict[str, float]] = defaultdict(_zero)
    stage_group: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            out[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                out[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            g = out[group]
            g["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            g["task_s"] += tm.get("Executor Run Time", 0) / 1000
            g["gc_s"] += tm.get("JVM GC Time", 0) / 1000
            shuffle = tm.get("Shuffle Write Metrics") or {}
            g["shuffle_write_mb"] += shuffle.get("Shuffle Bytes Written", 0) / MB
            g["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name == PY_OUT:
                    g["python_out_mb"] += int(acc.get("Update", 0)) / MB
                elif name == PY_INIT:
                    g["python_init_s"] += int(acc.get("Update", 0)) / 1000
    return dict(out)


def read_event_log(event_dir: str) -> dict[str, dict[str, float]]:
    """Parse the one event log a stopped session left in ``event_dir``."""
    logs = [f for f in os.listdir(event_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {logs}")
    with open(os.path.join(event_dir, logs[0]), encoding="utf-8") as fh:
        return parse_event_log(fh)


def layer_stats(groups, spans, name: str, minus: str | None = None) -> dict[str, float]:
    """``name``'s stats, less those of ``minus`` for cumulative prefixes."""
    stats = {"self_s": spans.get(name, 0.0), **groups.get(name, _zero())}
    if minus is not None:
        base = {"self_s": spans.get(minus, 0.0), **groups.get(minus, _zero())}
        stats = {k: v - base[k] for k, v in stats.items()}
    return stats


class CountingKeyService:
    """``local_key_service`` semantics (the encrypted key is base64 of the
    plaintext key) plus one accumulator increment per call."""

    def __init__(self, sc) -> None:
        self.calls = sc.accumulator(0)

    def __call__(self, kek_id: str, encrypted_key: str) -> bytes:
        self.calls.add(1)
        return base64.b64decode(encrypted_key)


class CountingProxy:
    """Forward every method call to ``target``, counting calls and the
    time spent in them."""

    def __init__(self, target) -> None:
        self._target = target
        self.calls = 0
        self.seconds = 0.0

    def __getattr__(self, attr):
        fn = getattr(self._target, attr)
        if not callable(fn):
            return fn

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.calls += 1
                self.seconds += time.perf_counter() - t0

        return timed


_PY_EVAL = re.compile(r"\b(ArrowEvalPython|BatchEvalPython)\b")


def python_eval_count(df) -> int:
    """Python-eval nodes in ``df``'s physical plan."""
    return len(_PY_EVAL.findall(df._jdf.queryExecution().executedPlan().toString()))


def _children(pid: int) -> list[int]:
    kids = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as fh:
                kids.extend(int(p) for p in fh.read().split())
        except OSError:
            pass
    return kids


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants."""
    pids, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` over ``pids`` (the JVM and its Python daemon and
    workers)."""
    return sum(_hwm_kb(pid) for pid in pids) / 1024
