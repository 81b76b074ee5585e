#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload export_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. With ``--trace 0`` the run times
operations for ``--seconds`` seconds and reports the end-to-end metrics;
with ``--trace 1`` it records the per-layer metrics instead. Every file
the run writes lives under ``.perfbench_work/`` in the checkout and is
removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ENV = "PERFBENCH_WORK"
SETUP_ROUNDS = 3
DRIVER_MEMORY = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return parser.parse_args(argv)


def relaunch(argv: list[str]) -> None:
    """Replace this process with one that has the checkout root on
    PYTHONPATH, so the package imports in the Spark driver and on the
    Spark Python workers alike, and whose temporary files stay in the
    checkout."""
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env[WORK_ENV] = work
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *argv], env)


def start_session(work: str, traced: bool):
    from hbase_to_mongo_export_spark.session import get_spark

    from perfbench import trace

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xlog:disable -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
        f" -Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if traced:
        os.makedirs(os.path.join(work, "events"))
        conf.update(trace.trace_conf(os.path.join(work, "events")))
    spark = get_spark("perfbench", master="local[4]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _ended(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] in ("Z", "X")
    except OSError:
        return True


def _await_end(pids: set[int], seconds: float) -> None:
    deadline = time.monotonic() + seconds
    while not all(_ended(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def stop_session(spark, pids: set[int]) -> None:
    """Stop Spark, let the JVM exit, and wait until every process it
    started has ended (killing stragglers after 30 s)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)
    _await_end(pids, 30)
    for pid in pids:
        if not _ended(pid):
            os.kill(pid, 9)
    _await_end(pids, 5)


class Client:
    """The closed-loop client: runs operations one at a time, records
    failures and samples the JVM process tree's peak memory after each."""

    def __init__(self, spark, workload) -> None:
        self.w = workload
        self.jvm = spark.sparkContext._gateway.proc.pid
        self.pids: set[int] = set()
        self.rss_mb = 0.0
        self.attempted = 0

    def sample(self) -> None:
        from perfbench import trace

        tree = trace.process_tree(self.jvm)
        self.pids.update(tree)
        self.rss_mb = max(self.rss_mb, trace.peak_rss_mb(tree))

    def call(self, k: int, fn, *args):
        """Run operation ``k``; returns its result, or None if it raised."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:
            traceback.print_exc()
            self.w.problems.setdefault(k, []).append(f"{type(exc).__name__}: {exc}")
            return None
        finally:
            self.sample()

    def finish(self) -> None:
        try:
            self.w.finish()
        except Exception as exc:
            traceback.print_exc()
            self.w.problems.setdefault(-2, []).append(f"checks: {exc}")  # no operation

    def failed(self) -> int:
        return sum(1 for p in self.w.problems.values() if p)


def warm_up(client) -> None:
    """Untimed operations: Python workers, codegen and the JIT."""
    for k in range(client.w.WARMUP_OPS):
        client.call(k, client.w.operation, k)


def run_e2e(client, session_s: float, seconds: float) -> dict[str, tuple[float, str]]:
    w = client.w
    rounds = []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        w.make_inputs()
        rounds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm_up(client)
    warm_s = time.perf_counter() - t0
    walls = []
    k = w.WARMUP_OPS
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or k < w.WARMUP_OPS + w.MIN_OPS:
        wall = client.call(k, w.operation, k)
        k += 1
        if wall is not None:
            walls.append(wall)
    if not walls:
        raise RuntimeError("no operation completed")
    client.finish()
    print(
        f"setup: session {session_s:.2f} s, inputs {[round(r, 2) for r in rounds]} s, "
        f"warm-up {warm_s:.2f} s; operations {[round(x, 3) for x in walls]} s",
        file=sys.stderr,
    )
    wall_s = statistics.median(walls)
    return {
        "wall_s": (wall_s, "s"),
        "records_per_s": (w.input_records() / wall_s, "1/s"),
        "stored_bytes_ratio": (w.stored_bytes_ratio(), "ratio"),
        "peak_rss_mb": (client.rss_mb, "MB"),
        "setup_s": (session_s + statistics.median(rounds) + warm_s, "s"),
    }


def run_traced(client) -> tuple[dict[str, float], dict[str, float]]:
    """Warm up, time one plain operation, then run the workload's traced
    pass. Returns the layer spans and the metrics that are not per-layer."""
    w = client.w
    w.make_inputs()
    warm_up(client)
    untraced = client.call(w.WARMUP_OPS, w.operation, w.WARMUP_OPS)
    spans: dict[str, float] = {}
    traced, extra = client.call(-1, w.traced, spans) or (None, {})
    client.finish()
    if traced is not None and untraced is not None:
        extra["trace_overhead_s"] = traced - untraced
    return spans, extra


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("per_key_task"):
        return "ratio"
    return "count"


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if WORK_ENV not in os.environ:
        relaunch(argv)
    work = os.environ[WORK_ENV]
    try:
        from perfbench import trace, workloads

        t0 = time.perf_counter()
        spark = start_session(work, traced=bool(args.trace))
        session_s = time.perf_counter() - t0
        w = workloads.make(args.workload, spark, work, args.seed)
        client = Client(spark, w)
        try:
            if args.trace:
                spans, extra = run_traced(client)
            else:
                metrics = run_e2e(client, session_s, args.seconds)
        finally:
            client.sample()
            stop_session(spark, client.pids)
        if args.trace:
            found = w.layer_metrics(trace.read_event_log(os.path.join(work, "events")), spans)
            found.update(extra)
            metrics = {
                name: (float(found.get(name, 0.0)), layer_unit(name))
                for name in workloads.per_layer_names()
            }
        failed = client.failed()
        for k, problems in sorted(w.problems.items()):
            for p in problems:
                print(f"op {k}: {p}", file=sys.stderr)
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": client.attempted,
                    "failed": failed,
                    "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
