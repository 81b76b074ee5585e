"""hbase_to_mongo_export_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query/data-processing capabilities of the
reference ETL pipeline ``dwp/hbase-to-mongo-export`` (a Kotlin/Spring-Batch
HBase→S3 snapshot exporter), re-expressed Spark-first:

- the reference's scan→parse→decrypt→normalize→sanitise→sink dataflow
  becomes a declarative DataFrame pipeline (``plans.export``);
- everything the reference lacks (joins, aggregations, windows, sorts, set
  ops, streaming) comes from Spark SQL / Catalyst (``operators``);
- LLM-training-data operators (dedup, similarity search, text analysis,
  multimodal columns) are first-class (``operators``, ``functions``).

Layout:
    session.py     SparkSession factory tuned for the workload
    sources/       parquet/HBase-shaped source loading + envelope parsing
    functions/     scalar kernels: crypto, normalize, sanitise, text
    operators/     relational + LLM-pipeline operators
    plans/         end-to-end pipelines (the HTME export job)
    streaming/     Structured Streaming variants (incremental export)
"""

__version__ = "0.1.0"

# Ship executor-side kernels BY VALUE: Spark pickles module-level functions
# by reference, so pandas UDFs / mapInPandas / stateful callables would
# require this package to be importable on every executor's Python worker.
# Registering the kernel modules for by-value pickling makes every UDF
# self-contained — the engine works under any driver (e.g. a harness
# running from another cwd) without addPyFile/packaging steps.
def _register_executor_modules() -> None:
    try:
        import pyspark.cloudpickle as _cp

        from .functions import crypto as _crypto
        from .functions import normalize as _normalize
        from .operators import multimodal as _multimodal
        from .operators import similarity as _similarity
        from .streaming import stateful as _stateful

        for _m in (_crypto, _normalize, _multimodal, _similarity, _stateful):
            _cp.register_pickle_by_value(_m)
    except Exception:  # pragma: no cover - never block import on this
        pass


_register_executor_modules()
