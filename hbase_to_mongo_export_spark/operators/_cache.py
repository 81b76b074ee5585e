"""The one owner of every materialized intermediate DataFrame.

Spark performs no common-subexpression elimination across DataFrame
branches, so an intermediate that several consumers read is materialized
once, and only through this module, which registers it:

- ``reuse(df)``: lazy ``cache()``, filled by the first action reading it;
- ``checkpoint(df)``: eager ``localCheckpoint``, computed now;
- ``spill_parquet(df, tag)``: a temp parquet directory, read back.

Contract: the code that materializes a frame calls ``release(df)`` once
no lazy frame still reads it (an iterative loop releases round r after
round r+1 is checkpointed; a writer, its scoped frames after the commit;
``run_export``, its tagged frame). A frame a caller still reads is never
released early: its action would fail with "Checkpoint block … not
found". Whoever runs a query's consuming action (bench.py, the oracle
fixture, the CLI, perfbench) calls ``release_all()`` after it. A release
frees storage: unpersist for a cache, unpersist of the checkpoint's own
RDD (``df.unpersist()`` frees nothing there), rmtree for a spill. It is
non-blocking, idempotent and safe on a stopped SparkContext.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
from typing import Callable

from pyspark.sql import DataFrame

# id(frame) -> (frame, free); holding the frame keeps its id unique
_OWNED: dict[int, tuple[DataFrame, Callable[[], object]]] = {}
_LOCK = threading.Lock()
_SPILL_ROOT: str | None = None


def _own(df: DataFrame, free: Callable[[], object]) -> DataFrame:
    with _LOCK:
        _OWNED[id(df)] = (df, free)
    return df


def reuse(df: DataFrame) -> DataFrame:
    """Cache ``df`` lazily and register it; returns the cached frame."""
    df = df.cache()
    return _own(df, df.unpersist)


def checkpoint(df: DataFrame) -> DataFrame:
    """Materialize a REUSED intermediate now, once per query run.

    A subplan referenced by k consumers is otherwise recomputed k times
    (ransac_line_fit re-ran its join+aggregate point set FOUR times;
    matrix_profile re-ran the daily series six times — guide §1.2 step
    1: don't compute things you throw away). An eager ``localCheckpoint``
    computes the subplan exactly once and replaces it with its
    materialized partitions, which also truncates lineage for iterative
    plans. It lives and dies inside a single run, so it is reuse WITHIN
    one computation, not caching across runs. Only small, bounded frames
    (aggregates, per-group summaries, node-sized iterative state) go
    through here; corpus-scale frames stream or go to ``spill_parquet``.
    The blocks belong to the RDD under the ``LogicalRDD`` plan."""
    df = df.localCheckpoint(eager=True)
    rdd = df._jdf.queryExecution().logical().rdd()
    return _own(df, lambda: rdd.unpersist(False))


def spill_parquet(df: DataFrame, tag: str) -> DataFrame:
    """Materialize a REUSED corpus-scale intermediate to a temp parquet
    directory and return a registered scan of it.

    The disk twin of ``checkpoint``: a corpus-scale frame (shingle
    arrays, exploded postings) re-used by k consumers must NOT become
    executor-resident (guide §5 — cached data competes with execution
    memory); writing it once as columnar zstd parquet and streaming it
    back into each consumer replaces k recomputes with one compute + k
    cheap scans, with pushdown/pruning intact on the scans (guide §6).
    Each call writes a fresh directory under a process-private root, so
    concurrent builder threads never collide."""
    global _SPILL_ROOT
    with _LOCK:
        if _SPILL_ROOT is None:
            _SPILL_ROOT = tempfile.mkdtemp(prefix="htme_opspill_")
            atexit.register(shutil.rmtree, _SPILL_ROOT, True)
    path = tempfile.mkdtemp(dir=_SPILL_ROOT, prefix=tag + "_")
    df.write.mode("overwrite").parquet(path)
    scan = df.sparkSession.read.parquet(path)
    return _own(scan, lambda: shutil.rmtree(path, ignore_errors=True))


def _free(free: Callable[[], object]) -> bool:
    try:
        free()
        return True
    except Exception:
        # stopped context / already-freed blocks — nothing to release
        return False


def release(df: DataFrame | None) -> None:
    """Free one registered frame now; anything unregistered is a no-op."""
    with _LOCK:
        owned = _OWNED.pop(id(df), None)
    if owned is not None:
        _free(owned[1])


def release_all() -> int:
    """Free every registered frame; returns how many were released."""
    with _LOCK:
        owned = list(_OWNED.values())
        _OWNED.clear()
    return sum(_free(free) for _, free in reversed(owned))
