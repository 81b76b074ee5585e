"""operators/_cache.py is the one owner of materialized intermediates:
the only code that caches, checkpoints or spills, and its release frees
the storage (cache blocks, checkpoint blocks, spill directories)."""

import ast
import os
import pathlib
import time

import pytest

from hbase_to_mongo_export_spark import queries as registry
from hbase_to_mongo_export_spark.operators import _cache as op_cache
from hbase_to_mongo_export_spark.sources import catalog

PACKAGE = pathlib.Path(registry.__file__).resolve().parents[1]


def _storage_ids(sc) -> set[int]:
    return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}


def _spill_dirs() -> set[str]:
    root = op_cache._SPILL_ROOT
    return set(os.listdir(root)) if root and os.path.isdir(root) else set()


# Spark jobs of each query's build plus collect at the test scale: going
# through ``_cache`` must not change which actions run
JOBS = {
    "pagerank_customer_supplier": 34,
    "graph_cc_two_phase": 18,
    "matrix_profile_weekly_motif": 15,  # checkpoints shared subplans
    "ransac_line_fit": 15,  # checkpoints shared subplans
    # connected_components callers: its label map comes back checkpointed
    "dedup_retention_manifest": 29,
    "dedup_cluster_components": 27,
    "dbscan_grid_clusters": 113,
    "dedup_jaccard_prefix_filter": 15,  # spills to parquet
    "similarity_ivfpq_search": 6,  # index collect + one kernel pass
    # integer vector kernels (the cross-join and posexplode plans they
    # replace ran 22, 18, 29 and 8): a seed collect, one or two jobs per
    # kernel pass, and the result frame built on the driver
    "kmeans_lloyd_3rounds": 9,
    "embedding_centroid_drift": 5,
    "kcenter_coreset_selection": 10,
    "embedding_power_iteration_pc1": 4,
    "merge_upsert_orders": 21,
}


@pytest.mark.parametrize("name", sorted(JOBS))
def test_job_count_and_release_all_frees_storage(spark, sf_dir, name):
    import uuid

    sc = spark.sparkContext
    op_cache.release_all()
    catalog.clear_table_memo()
    before, spills_before = _storage_ids(sc), _spill_dirs()
    group = f"query-jobs-{uuid.uuid4().hex[:8]}-{name}"
    sc.setJobGroup(group, name)
    try:
        assert registry.queries()[name](spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        op_cache.release_all()
    # job-start events reach the status store through the async
    # listener bus; drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == JOBS[name]
    # unpersist is asynchronous: poll briefly for the blocks to go
    deadline = time.monotonic() + 10
    while _storage_ids(sc) - before and time.monotonic() < deadline:
        time.sleep(0.05)
    assert _storage_ids(sc) - before == set()
    assert _spill_dirs() - spills_before == set()


MATERIALIZING = {"cache", "persist", "localCheckpoint", "unpersist"}


def test_only_cache_module_materializes():
    """One way to materialize: no package module but ``_cache`` calls
    ``.cache()``, ``.persist()``, ``.localCheckpoint()`` or
    ``.unpersist()``."""
    owner = PACKAGE / "operators" / "_cache.py"
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == owner:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in MATERIALIZING
            ):
                offenders.append(
                    f"{path.relative_to(PACKAGE)}:{node.lineno} .{node.func.attr}("
                )
    assert offenders == []


def test_registry_survives_concurrent_register_and_release():
    """Builder threads register and release while others do the same (the
    oracle fixture builds queries on a thread pool): every registered
    entry is freed exactly once, by ``release`` or by ``release_all``."""
    import sys
    import threading

    op_cache.release_all()
    freed = []
    lock = threading.Lock()

    def free():
        with lock:
            freed.append(1)

    def worker():
        for i in range(500):
            frame = object()
            op_cache._own(frame, free)
            if i % 2:
                op_cache.release(frame)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert op_cache.release_all() == 16 * 250
    assert len(freed) == 16 * 500
