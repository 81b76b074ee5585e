"""Data-layout maintenance: small-file compaction and multi-dimensional
clustering.

Two jobs a 100 TB lake runs constantly that the query layer depends on:

- ``compact``: streaming/incremental sinks (our foreachBatch export, any
  micro-batch writer) accumulate many small files; scans then pay one
  task + one open per file. Compaction rewrites a table into
  target-sized files. Range-partitioning by a sort key keeps each output
  file covering a narrow key interval, so parquet min/max row-group
  stats prune file scans for range predicates after the rewrite.

- ``morton_cluster``: a single sort key only prunes predicates on that
  key. Interleaving the bits of two normalized keys (Morton / Z-order
  curve) gives a layout where files are simultaneously narrow in BOTH
  dimensions — the standard multi-dim clustering trick (Delta/Iceberg
  OPTIMIZE ZORDER) built here from plain column expressions.

Rank normalization is the scale-critical step. Z-order needs roughly
uniform coordinates or one skewed dimension dominates the interleave;
the naive normalizer — ``ntile().over(Window.orderBy(col))`` — is a
GLOBAL window, which Spark executes by sorting the ENTIRE table in a
single partition: a guaranteed one-task bottleneck (and OOM) at scale.
Instead we compute per-column bucket edges with ``approxQuantile`` (a
single distributed Greenwald-Khanna pass, driver receives only the
edges) and map values to buckets with an O(log n)-depth binary-search
CASE expression — no window, no extra shuffle; the only data movement
is the one range-exchange the rewrite itself requires.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: buckets per dimension for Z-ordering: 2^8 = 256 rank buckets per
#: column → 65k Z-cells, ample resolution for any realistic per-compact
#: file count. Deliberately NOT higher: the bucket map compiles to a
#: ~2^bits-node CASE tree, and Janino whole-stage codegen is unstable
#: past a few hundred nested nodes (observed InternalCompilerException
#: at 1023 nodes); 255 nodes compiles fast and reliably.
ZORDER_BITS = 8

_NUMERIC_PREFIXES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "decimal"
)


def compact(
    df: DataFrame,
    path: str,
    sort_col: str | None = None,
    target_files: int | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Rewrite ``df`` as ``target_files`` parquet files (default: the
    session's shuffle parallelism), optionally range-clustered on
    ``sort_col`` so min/max stats stay selective."""
    if target_files is None:
        target_files = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    out = (
        df.repartitionByRange(target_files, F.col(sort_col))
        if sort_col
        else df.repartition(target_files)
    )
    writer = out.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def morton_code_n(cols: list[Column], bits: int = ZORDER_BITS) -> Column:
    """Interleave the low ``bits`` bits of N non-negative int columns
    into a single Z-order key: bit ``i`` of column ``j`` lands at
    position ``i*N + j`` (column 0 in the lowest lane). ``bits * N``
    must fit a signed long."""
    n = len(cols)
    if n < 2:
        raise ValueError("morton_code_n needs at least two columns")
    if bits * n > 62:
        raise ValueError(f"{bits} bits x {n} columns overflows a long")
    code = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            code = code.bitwiseOR(F.shiftleft(bit, i * n + j))
    return code


def quantile_edges(
    df: DataFrame,
    cols: list[str],
    buckets: int,
    relative_error: float | None = None,
) -> dict[str, list[float]]:
    """Per-column rank-bucket edges from ONE distributed approxQuantile
    pass (Greenwald-Khanna sketch per partition, merged on the driver —
    the driver holds only ``buckets`` floats per column, never data)."""
    if relative_error is None:
        relative_error = max(1.0 / (4 * buckets), 1e-5)
    probs = [i / buckets for i in range(1, buckets)]
    res = df.stat.approxQuantile(list(cols), probs, relative_error)
    return dict(zip(cols, res))


def bucket_expr(colname: str, edges: list[float]) -> Column:
    """Map a numeric column to its approx-rank bucket in
    ``[0, len(edges)]`` via a BALANCED binary-search CASE tree —
    O(log n) comparisons per row, pure column expression, no window.
    Duplicate edges (heavy-hitter values) collapse to one comparison but
    keep their rank-proportional bucket id, so a skewed dimension still
    spreads across the Z-curve. Built as one SQL string: a Column tree
    of this size would be py4j-call-bound."""
    uniq: list[float] = []
    bucket_id: list[int] = []
    for i, e in enumerate(edges):
        if uniq and e == uniq[-1]:
            bucket_id[-1] = i + 1
        else:
            uniq.append(e)
            bucket_id.append(i + 1)
    if not uniq:
        return F.lit(0).cast("long")
    # outcomes[j] = bucket for values in [uniq[j-1], uniq[j])
    outcomes = [0] + bucket_id

    def build(lo: int, hi: int) -> str:
        if lo == hi:
            return str(outcomes[lo])
        mid = (lo + hi) // 2
        return (
            f"(CASE WHEN `{colname}` < CAST({uniq[mid]!r} AS DOUBLE) "
            f"THEN {build(lo, mid)} ELSE {build(mid + 1, hi)} END)"
        )

    return F.expr(
        f"CASE WHEN `{colname}` IS NULL THEN 0 ELSE {build(0, len(uniq))} END"
    ).cast("long")


def morton_clustered(
    df: DataFrame,
    *cols: str,
    bits: int = ZORDER_BITS,
    relative_error: float | None = None,
) -> DataFrame:
    """``df`` plus a ``__z`` Morton key over N approx-rank-normalized
    columns (Delta's ``OPTIMIZE ZORDER BY (c1, ..., cN)``). One sampled
    quantile pass + a narrow projection — NO global window, no
    single-partition stage at any scale."""
    if len(cols) < 2:
        raise ValueError("Z-order needs at least two columns")
    dtypes = dict(df.dtypes)
    for c in cols:
        dtype = dtypes.get(c)
        if dtype is None or not dtype.startswith(_NUMERIC_PREFIXES):
            raise ValueError(
                f"Z-order column {c!r} must be numeric (got {dtype!r}); "
                "derive a numeric surrogate (e.g. xxhash64 or a cast) first"
            )
    n = 1 << bits
    edges = quantile_edges(df, list(cols), n, relative_error)
    return df.withColumn(
        "__z",
        morton_code_n([bucket_expr(c, edges[c]) for c in cols], bits),
    )


def morton_cluster(
    df: DataFrame,
    col_a: str,
    col_b: str,
    path: str,
    target_files: int = 16,
    bits: int = ZORDER_BITS,
) -> None:
    """Rewrite ``df`` Z-ordered on (col_a, col_b): approx-quantile rank
    buckets → Morton interleave → one range exchange on the code."""
    (
        morton_clustered(df, col_a, col_b, bits=bits)
        .repartitionByRange(target_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
