"""Versioned parquet table with copy-on-write MERGE — the Delta/Iceberg
pattern built from first principles on plain parquet + a JSON commit log.

Why this exists: the reference pipeline is snapshot-only (full rescan →
full rewrite, HBaseReader.kt / JobConfiguration.kt:31-76). A 100 TB lake
cannot afford that for incremental updates; the standard answer is a
transactional table format whose MERGE rewrites only the data files that
actually contain matched keys. This module implements that engine
behavior with Spark primitives so its mechanics are visible and testable:

- **delta-log commit protocol** (Delta's _delta_log): each version is a
  JSON log entry recording the files ADDED and REMOVED by that commit —
  never the full file list, so a commit against a 10⁶-file table writes
  KBs. Readers resolve a version by loading the nearest CHECKPOINT
  (a full snapshot written every ``CHECKPOINT_INTERVAL`` commits) and
  replaying at most ``CHECKPOINT_INTERVAL`` small entries.
- **optimistic concurrency**: the commit point is an atomic
  create-if-absent of ``v{N+1}.json``, abstracted behind a two-method
  ``LogStore`` seam (Delta's pluggable LogStore split): the default
  ``LocalLogStore`` uses ``os.link`` (EEXIST if another writer got
  there first); an object-store backend would use a conditional PUT —
  a new backend, not a rewrite. Two concurrent writers cannot both
  commit the same version — the loser gets a clean
  ``ConcurrentWriteError``, its orphaned staging files are removed, and
  no data is lost; it re-reads and retries. This is Delta's
  conflict-detection protocol reduced to its essence.
- **file-pruned copy-on-write**: MERGE first runs a key semi-join of
  target against source keys with the parquet ``_metadata`` file column
  to find TOUCHED files. Untouched files are carried into the new
  version by reference — zero IO. Only touched files are read back,
  merged row-level, and rewritten. At 100 TB with a 0.1% daily delta
  this is the difference between rewriting ~everything and rewriting a
  few files. The source side broadcasts ONLY when its key count is
  provably small (``BROADCAST_MAX_SOURCE_ROWS``); a table-sized backfill
  delta falls back to a sort-merge join instead of handing the driver a
  corpus-sized broadcast (the OOM class SCALE_EVIDENCE.md §1 measured).
- **row-level semantics** (SQL:2003 MERGE / Delta MERGE INTO):
  WHEN MATCHED [AND cond] THEN UPDATE / DELETE,
  WHEN NOT MATCHED THEN INSERT, and WHEN NOT MATCHED BY SOURCE
  [AND cond] THEN UPDATE / DELETE (Delta's third clause family —
  target rows with no source match; conditions see TARGET columns
  only, which makes a single atomic MERGE the sync-from-snapshot /
  retention shape that otherwise needs a merge + delete_where pair).
  Duplicate source keys are rejected
  (the same multi-match ambiguity Delta raises as an error). Join keys
  compare with plain (null-unsafe) equality — Delta's ON semantics — so
  the matched set, the pruning semi-join, and the insert anti-join all
  agree on what "matched" means even for NULL key components.
- **time travel**: ``read(version=N)`` reads any retained version's
  file list; ``history()`` lists commits.
- **CHECK constraints** (Delta ``ADD CONSTRAINT``): ``add_constraint``
  validates the whole current table once; afterwards every MERGE /
  overwrite validates ONLY the rows it stages (carried files were
  valid when written) and aborts — staged files removed, table
  unchanged — on a violation. SQL three-valued logic: NULL passes.
- **merge-on-read deletion vectors** (Iceberg v2 position deletes /
  Delta deletion vectors): ``delete_where(cond)`` writes a tiny
  position-delete file — ``(file_path, row_index)`` pairs from the
  parquet ``_metadata`` hidden columns — instead of rewriting data
  files. Readers apply the vector as an anti-join: broadcast while the
  accumulated vector is small (the manifest tracks its exact row count),
  sort-merge once it crosses ``DELETE_BROADCAST_MAX_ROWS`` — an
  unbounded broadcast here would recreate the LSH driver-OOM at scale.
  ``compact()`` later materializes (purges) the deletes.
- **change data feed** (Delta CDF): every commit records its row-level
  changes — inserts by *reference* to the freshly-added data files
  (zero extra write, Delta's insert-only optimization), updates and
  deletes as explicit change files with ``_change_type`` in
  {``update_preimage``, ``update_postimage``, ``delete``}.
  ``read_changes(from_v, to_v)`` replays them; ``spool_changes`` +
  ``changes_stream`` + ``stream_apply_changes`` expose the feed as a
  rate-limited Structured Streaming source so a downstream materialized
  view replays ``snapshot(v0) + feed == snapshot(vN)`` continuously —
  the loop a 100 TB lake's incremental consumers actually run.

Scale posture: the only shuffles are the key semi-join and the merge
join over touched files; untouched data is never scanned past the
pruning pass. The pruning scan itself reads ONLY the key columns
(parquet column pruning — pinned by tests/test_plan_shapes.py).

One copy-on-write path: every row-level writer scans through ``_scan``
(the manifest's deletion vectors applied), finds its files with
``_prune``/``_touched``, carries vectors with ``_carry_delete_files``
and commits through ``_commit_rewrite``, which validates CHECK
constraints on the staged files only. The layout rewrites (bin-packing,
vector purge) commit through ``_repack`` instead, with no constraint
check: they restage rows that were valid when first written, and a
check would cost one job per constraint.

Why no hive-style partition columns: the pruning story here is
STATS-BASED (per-file min/max + sort/Z-order clustering), which is the
direction the table formats themselves moved — Delta's liquid
clustering explicitly replaces hive partitioning because fixed
partition columns lock the layout to one predicate shape, create the
small-file problem at high cardinality, and can't serve two access
patterns at once. ``compact(sort_col=...)`` / ``compact(zorder=...)``
plus ``read(where=...)`` give the same file-level pruning for ANY
clustered column (including dates — the partition column 99% of hive
tables would have picked) without freezing the layout into the
directory structure.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import os
import re
import shutil
import time
import uuid
from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _cache as _op_cache


class MergeError(ValueError):
    pass


class ConcurrentWriteError(MergeError):
    """Another writer committed the version this operation was about to
    write. The table is intact (the other commit won); re-read and
    retry the operation against the new current version."""


class ConstraintViolation(MergeError):
    """A write produced rows for which a table CHECK constraint
    evaluates to FALSE (SQL semantics: NULL passes). The operation is
    aborted before commit; staged files are removed; the table is
    unchanged."""


#: change-row schema marker column (Delta CDF naming)
CHANGE_TYPE = "_change_type"
COMMIT_VERSION = "_commit_version"

#: a full-snapshot checkpoint is written every N commits so version
#: resolution replays at most N delta entries (Delta's 10-commit default)
CHECKPOINT_INTERVAL = 10

#: delta-log entry format version; entries without a recognizable
#: delta-log shape fail loudly instead of KeyError-ing mid-replay
MANIFEST_FORMAT = 2

#: string min/max bounds kept in the manifest are truncated to this many
#: characters (Delta keeps 32-char prefixes); a truncated MAX is rounded
#: UP so it stays a valid upper bound
STRING_STAT_PREFIX = 32


def _norm_file(col: Column) -> Column:
    """Normalize a file path/URI to a plain absolute path so that
    ``_metadata.file_path`` (``file:/x``), ``input_file_name()``
    (``file:///x``) and manifest entries (``/x``) all compare equal."""
    return F.regexp_replace(col, "^file:/+", "/")


def _round_up_str(prefix: str) -> str | None:
    """The smallest string that upper-bounds EVERY string starting with
    ``prefix``: bump the last bumpable code point and drop the tail
    (Delta's truncated-max rounding). None when no code point can be
    bumped (all U+10FFFF) — the caller then drops the bound."""
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp < 0x10FFFF:
            return prefix[:i] + chr(cp + 1)
    return None


def _enc_bound(v, is_max: bool):
    """Encode one footer-stat bound as a JSON-clean manifest value.
    int/float/bool/short-str store plainly; date/timestamp as tagged
    dicts (ordinal days / ISO micros on the naive-UTC timeline); long
    strings as ``STRING_STAT_PREFIX``-char prefixes — a truncated max
    ROUNDS UP to stay a valid upper bound. None = unusable (the caller
    drops the column's stats, so it simply never skips)."""
    if isinstance(v, bool) or isinstance(v, int):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else None  # NaN/inf poison intervals
    if isinstance(v, _dt.datetime):  # before date: datetime IS a date
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return {"t": "ts", "v": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"t": "d", "v": v.toordinal()}
    if isinstance(v, str):
        if len(v) <= STRING_STAT_PREFIX:
            return v
        if not is_max:
            return v[:STRING_STAT_PREFIX]  # prefix ≤ v: valid lower bound
        return _round_up_str(v[:STRING_STAT_PREFIX])
    return None  # bytes / Decimal / anything exotic: never skips


#: integral widening ladder (Spark typeName → rank)
_INT_RANK = {"byte": 0, "short": 1, "integer": 2, "long": 3}
#: decimal digits needed to hold each integral type exactly
_INT_DECIMAL_DIGITS = {"byte": 3, "short": 5, "integer": 10, "long": 19}


def _is_type_widening(frm, to) -> bool:
    """True when every ``frm`` value reads LOSSLESSLY as ``to`` AND the
    Spark 4 vectorized parquet reader promotes ``frm``-typed files
    natively under a ``to``-typed read schema (SPARK-40876 widening
    promotions — the same lattice as Delta's type-widening table
    feature): byte→short→int→long, byte/short/int→double, float→double,
    integrals→decimal(p,0) with enough precision, decimal growth with
    non-shrinking integer digits and scale, date→timestamp_ntz.
    long→double is NOT a widening (lossy above 2^53; the reader refuses
    it too). Every rule here was probed against this Spark build —
    an unreadable promotion must never reach a manifest."""
    from pyspark.sql.types import (
        DateType,
        DecimalType,
        DoubleType,
        FloatType,
        TimestampNTZType,
    )

    if frm == to:
        return False
    fr, tr = frm.typeName(), to.typeName()
    if fr in _INT_RANK and tr in _INT_RANK:
        return _INT_RANK[fr] < _INT_RANK[tr]
    if isinstance(to, DoubleType):
        return fr in ("byte", "short", "integer") or isinstance(frm, FloatType)
    if isinstance(to, DecimalType):
        need = _INT_DECIMAL_DIGITS.get(fr)
        if need is not None:
            return to.scale == 0 and to.precision >= need
        if isinstance(frm, DecimalType):
            return (
                to.scale >= frm.scale
                and to.precision - to.scale >= frm.precision - frm.scale
            )
        return False
    if isinstance(frm, DateType) and isinstance(to, TimestampNTZType):
        return True
    return False


def _widened_common(a, b):
    """The type files of both ``a`` and ``b`` read as without loss —
    ``a``/``b`` itself when one widens to the other, None when the two
    are incompatible. (No least-upper-bound search at the leaves: table
    evolution only ever compares the current table type with one source
    type.) Recurses into struct/array/map (nested schema evolution):
    struct fields merge by NAME with the UNION of both sides' fields —
    a file lacking a nested field surfaces it as NULL under the merged
    read schema, and a file narrower in a nested leaf promotes natively
    (both probed on this Spark build's vectorized reader) — so the
    union type is readable by both generations of files. Map keys must
    match exactly (key promotion is not a reader capability)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if a == b:
        return a
    if isinstance(a, StructType) and isinstance(b, StructType):
        b_map = {f.name: f.dataType for f in b.fields}
        fields = []
        for f in a.fields:
            bt = b_map.pop(f.name, None)
            if bt is None:
                fields.append(StructField(f.name, f.dataType, True))
                continue
            w = _widened_common(f.dataType, bt)
            if w is None:
                return None
            fields.append(StructField(f.name, w, True))
        for f in b.fields:  # b-only fields, in b's order
            if f.name in b_map:
                fields.append(StructField(f.name, f.dataType, True))
        return StructType(fields)
    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        w = _widened_common(a.elementType, b.elementType)
        return ArrayType(w, True) if w is not None else None
    if isinstance(a, MapType) and isinstance(b, MapType):
        if a.keyType != b.keyType:
            return None
        w = _widened_common(a.valueType, b.valueType)
        return MapType(a.keyType, w, True) if w is not None else None
    if _is_type_widening(a, b):
        return b
    if _is_type_widening(b, a):
        return a
    return None


def _merge_types(
    tbl_t,
    src_t,
    allow_evolution: bool,
    context: str,
    path: str,
    hint: str = "pass schema_evolution=True to evolve the table",
    missing_hint: str | None = None,
):
    """The table type ``tbl_t`` after aligning with an incoming source
    type ``src_t`` — Delta mergeSchema recursion. A source leaf safely
    NARROWER than the table keeps the table type (the caller conforms
    the source up — lossless, ungated); a source leaf safely WIDER
    widens the table type; a struct field present only in the source is
    ADDED at the end of the table struct — both gated on
    ``allow_evolution`` (merge/append ``schema_evolution=True``). A
    struct field present only in the TABLE also gates on
    ``allow_evolution``: with it, the source NULL-fills the field
    (Delta autoMerge); without it, the omission raises — an ungated
    NULL-fill would let a source that silently dropped a nested field
    erase existing data through an ``UPDATE SET s = src(s)`` with no
    error at the point of cause. Arrays recurse on the element, maps on
    the value (keys must match exactly — the parquet reader promotes
    values, not keys). Incompatible leaves raise with the full nested
    path.

    Nested fields keep IDENTITY physical names even under a top-level
    column mapping: this table's rename/drop API is top-level only, so
    there is no retired nested physical name a re-added field could
    collide with (the resurrection hazard that forces Delta's per-field
    physical ids does not arise)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if tbl_t == src_t:
        return tbl_t
    if isinstance(tbl_t, StructType) and isinstance(src_t, StructType):
        src_map = {f.name: f.dataType for f in src_t.fields}
        fields = []
        for f in tbl_t.fields:
            st = src_map.pop(f.name, None)
            if st is None and not allow_evolution:
                raise MergeError(
                    f"{context}: source omits nested field '{path}.{f.name}' "
                    f"({f.dataType.simpleString()}) — writing it would "
                    f"silently NULL the field; include it or "
                    f"{missing_hint or hint}"
                )
            nt = (
                f.dataType
                if st is None
                else _merge_types(
                    f.dataType, st, allow_evolution, context,
                    f"{path}.{f.name}", hint, missing_hint,
                )
            )
            fields.append(StructField(f.name, nt, True))
        for f in src_t.fields:  # new nested fields, in source order
            if f.name not in src_map:
                continue
            if not allow_evolution:
                raise MergeError(
                    f"{context}: source struct field '{path}.{f.name}' "
                    f"({f.dataType.simpleString()}) is not in the table "
                    f"schema — {hint}"
                )
            if "." in f.name:
                # the stats keyspace addresses nested leaves by their
                # dot-joined parquet path — a field literally named
                # with a dot would collide (same rule as _reject_dotted
                # at the top level)
                raise MergeError(
                    f"{context}: nested field name '{path}.{f.name}' "
                    "contains '.' — dotted names collide with the "
                    "nested-leaf stats keyspace"
                )
            fields.append(StructField(f.name, f.dataType, True))
        return StructType(fields)
    if isinstance(tbl_t, ArrayType) and isinstance(src_t, ArrayType):
        return ArrayType(
            _merge_types(
                tbl_t.elementType,
                src_t.elementType,
                allow_evolution,
                context,
                f"{path}[]",
                hint,
                missing_hint,
            ),
            True,
        )
    if isinstance(tbl_t, MapType) and isinstance(src_t, MapType):
        if tbl_t.keyType != src_t.keyType:
            raise MergeError(
                f"{context}: map key type at '{path}' is "
                f"{src_t.keyType.simpleString()} but the table has "
                f"{tbl_t.keyType.simpleString()} — map keys never evolve"
            )
        return MapType(
            tbl_t.keyType,
            _merge_types(
                tbl_t.valueType,
                src_t.valueType,
                allow_evolution,
                context,
                f"{path}{{}}",
                hint,
                missing_hint,
            ),
            True,
        )
    if _is_type_widening(src_t, tbl_t):
        return tbl_t
    if _is_type_widening(tbl_t, src_t):
        if not allow_evolution:
            raise MergeError(
                f"{context}: column '{path}' is {src_t.simpleString()} "
                f"but the table has {tbl_t.simpleString()} — a safe type "
                f"widening; {hint}"
            )
        return src_t
    raise MergeError(
        f"{context}: column '{path}' type {src_t.simpleString()} is "
        f"incompatible with the table's {tbl_t.simpleString()}"
    )


def _conform_expr(col: Column, src_t, tgt_t) -> Column:
    """An expression reading ``col`` (of ``src_t``) as ``tgt_t``, where
    ``tgt_t`` is a type ``_merge_types`` produced: nested fields absent
    from the source fill with typed NULLs, narrower leaves cast up.
    Structs rebuild BY NAME in target field order (a positional
    struct-cast would silently pair mismatched fields), preserving
    struct-level NULLs; arrays/maps conform per element/value via
    higher-order functions — no Python in the loop."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if src_t == tgt_t:
        return col
    if isinstance(src_t, StructType) and isinstance(tgt_t, StructType):
        src_map = {f.name: f.dataType for f in src_t.fields}
        parts = []
        for f in tgt_t.fields:
            st = src_map.get(f.name)
            if st is None:
                parts.append(F.lit(None).cast(f.dataType).alias(f.name))
            else:
                parts.append(
                    _conform_expr(col.getField(f.name), st, f.dataType).alias(
                        f.name
                    )
                )
        return F.when(col.isNull(), F.lit(None).cast(tgt_t)).otherwise(
            F.struct(*parts)
        )
    if isinstance(src_t, ArrayType) and isinstance(tgt_t, ArrayType):
        return F.transform(
            col, lambda x: _conform_expr(x, src_t.elementType, tgt_t.elementType)
        )
    if isinstance(src_t, MapType) and isinstance(tgt_t, MapType):
        return F.transform_values(
            col, lambda _k, v: _conform_expr(v, src_t.valueType, tgt_t.valueType)
        )
    return col.cast(tgt_t)


def _assert_assignable(
    src_t, tgt_t, context: str, path: str, allow_missing: bool = False,
    missing_hint: str | None = None,
) -> None:
    """Reject a nested store-assignment that would silently DROP data:
    a source struct field the target lacks has nowhere to go (ANSI
    store assignment errors on unknown fields; schema evolution is the
    explicit opt-in path for new fields, not an update expression) —
    and, unless ``allow_missing``, a TARGET field the expression lacks
    would silently NULL existing data (Delta/ANSI store assignment
    errors on omitted nested fields; ``schema_evolution=True`` is the
    autoMerge opt-in that NULL-fills instead)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(src_t, StructType) and isinstance(tgt_t, StructType):
        tgt_map = {f.name: f.dataType for f in tgt_t.fields}
        for f in src_t.fields:
            if f.name not in tgt_map:
                raise MergeError(
                    f"{context}: expression field '{path}.{f.name}' is not "
                    f"in the column's type {tgt_t.simpleString()} — a "
                    "store assignment cannot drop or add fields"
                )
            _assert_assignable(
                f.dataType, tgt_map[f.name], context, f"{path}.{f.name}",
                allow_missing, missing_hint,
            )
        if not allow_missing:
            src_names = {f.name for f in src_t.fields}
            fix = missing_hint or (
                "include the field or pass schema_evolution=True to "
                "NULL-fill (Delta autoMerge semantics)"
            )
            for f in tgt_t.fields:
                if f.name not in src_names:
                    raise MergeError(
                        f"{context}: expression omits nested field "
                        f"'{path}.{f.name}' — the assignment would "
                        f"silently NULL existing data; {fix}"
                    )
    elif isinstance(src_t, ArrayType) and isinstance(tgt_t, ArrayType):
        _assert_assignable(
            src_t.elementType, tgt_t.elementType, context, f"{path}[]",
            allow_missing, missing_hint,
        )
    elif isinstance(src_t, MapType) and isinstance(tgt_t, MapType):
        _assert_assignable(
            src_t.valueType, tgt_t.valueType, context, f"{path}{{}}",
            allow_missing, missing_hint,
        )


def _store_assign_expr(scope_df: DataFrame, expr: Column, tgt_t,
                       context: str, path: str,
                       allow_missing: bool = False,
                       missing_hint: str | None = None) -> Column:
    """ANSI store-assignment of an arbitrary expression to a column's
    (possibly evolved) type — BY NAME for nested shapes. A bare
    ``expr.cast(struct)`` pairs struct fields POSITIONALLY: an update
    expression built with fields in a different order than the table
    would silently write swapped values, and one built in a
    pre-evolution arity would fail with an opaque cast error. This
    derives the expression's type from an analysis-only select (driver
    cost, no job), errors on fields the target lacks (naming the full
    nested path), and rebuilds structs by name; scalars keep the plain
    ANSI cast (an unsafe narrowing still fails loudly at runtime).
    Target fields the expression LACKS are gated by ``allow_missing``
    (the caller's ``schema_evolution`` flag — Delta autoMerge): gated
    off, the omission raises naming the nested path; gated on, the
    field NULL-fills."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    src_t = scope_df.select(expr.alias("__sa")).schema[0].dataType
    if src_t == tgt_t:
        return expr
    if isinstance(tgt_t, (StructType, ArrayType, MapType)) and isinstance(
        src_t, (StructType, ArrayType, MapType)
    ):
        _assert_assignable(src_t, tgt_t, context, path, allow_missing,
                           missing_hint)
        return _conform_expr(expr, src_t, tgt_t)
    return expr.cast(tgt_t)


def _contains_map(dtype) -> bool:
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dtype, MapType):
        return True
    if isinstance(dtype, StructType):
        return any(_contains_map(f.dataType) for f in dtype.fields)
    if isinstance(dtype, ArrayType):
        return _contains_map(dtype.elementType)
    return False


def _map_free_type(dtype):
    """``dtype`` with every MapType replaced by a key-sorted
    array<struct<key,value>> — a shape Spark's set operations accept
    (exceptAll rejects MAP columns outright). Map keys are unique, so
    the sorted-entries form is a CANONICAL row identity: two maps are
    equal iff their encodings are."""
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructField,
        StructType,
    )

    if isinstance(dtype, MapType):
        return ArrayType(
            StructType(
                [
                    StructField("key", dtype.keyType, True),
                    StructField("value", _map_free_type(dtype.valueType), True),
                ]
            ),
            True,
        )
    if isinstance(dtype, StructType):
        return StructType(
            [
                StructField(f.name, _map_free_type(f.dataType), True)
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, ArrayType):
        return ArrayType(_map_free_type(dtype.elementType), True)
    return dtype


def _map_free_enc(col: Column, dtype) -> Column:
    """Encode ``col`` (of ``dtype``) as its ``_map_free_type`` shape."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dtype, MapType):
        entries = F.transform(
            F.map_entries(col),
            lambda e: F.struct(
                e.getField("key").alias("key"),
                _map_free_enc(e.getField("value"), dtype.valueType).alias(
                    "value"
                ),
            ),
        )
        return F.sort_array(entries)
    if isinstance(dtype, StructType):
        if not _contains_map(dtype):
            return col
        built = F.struct(
            *[
                _map_free_enc(col.getField(f.name), f.dataType).alias(f.name)
                for f in dtype.fields
            ]
        )
        return F.when(
            col.isNull(), F.lit(None).cast(_map_free_type(dtype))
        ).otherwise(built)
    if isinstance(dtype, ArrayType):
        if not _contains_map(dtype.elementType):
            return col
        return F.transform(
            col, lambda x: _map_free_enc(x, dtype.elementType)
        )
    return col


def _map_free_dec(col: Column, dtype) -> Column:
    """Decode a ``_map_free_enc`` value back to its original ``dtype``."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dtype, MapType):
        return F.map_from_entries(
            F.transform(
                col,
                lambda e: F.struct(
                    e.getField("key").alias("key"),
                    _map_free_dec(e.getField("value"), dtype.valueType).alias(
                        "value"
                    ),
                ),
            )
        )
    if isinstance(dtype, StructType):
        if not _contains_map(dtype):
            return col
        built = F.struct(
            *[
                _map_free_dec(col.getField(f.name), f.dataType).alias(f.name)
                for f in dtype.fields
            ]
        )
        return F.when(col.isNull(), F.lit(None).cast(dtype)).otherwise(built)
    if isinstance(dtype, ArrayType):
        if not _contains_map(dtype.elementType):
            return col
        return F.transform(col, lambda x: _map_free_dec(x, dtype.elementType))
    return col


def _restore_diff_type(tgt_t, cur_t):
    """The read type for RESTORE's visible-row diff at one column:
    shaped by the TARGET version's fields (nested fields added after the
    restore point revert with the restore — like columns, they must not
    make otherwise-identical rows look different), with each leaf at the
    widened common of the two versions so post-widening current files
    stay readable. ``cur_t`` None (column/field absent from the current
    schema) keeps the target type — current files fill it with NULL."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if cur_t is None or tgt_t == cur_t:
        return tgt_t
    if isinstance(tgt_t, StructType) and isinstance(cur_t, StructType):
        cur_map = {f.name: f.dataType for f in cur_t.fields}
        return StructType(
            [
                StructField(
                    f.name,
                    _restore_diff_type(f.dataType, cur_map.get(f.name)),
                    True,
                )
                for f in tgt_t.fields
            ]
        )
    if isinstance(tgt_t, ArrayType) and isinstance(cur_t, ArrayType):
        return ArrayType(
            _restore_diff_type(tgt_t.elementType, cur_t.elementType), True
        )
    if isinstance(tgt_t, MapType) and isinstance(cur_t, MapType):
        if tgt_t.keyType != cur_t.keyType:
            return tgt_t
        return MapType(
            tgt_t.keyType,
            _restore_diff_type(tgt_t.valueType, cur_t.valueType),
            True,
        )
    return _widened_common(tgt_t, cur_t) or tgt_t


def _schema_json_of(schema) -> str:
    """Canonical manifest form of a table schema: logical names, all
    fields nullable (carried pre-evolution files surface absent columns
    as NULL, so nothing is provably non-null across versions)."""
    from pyspark.sql.types import StructField, StructType

    return StructType(
        [StructField(f.name, f.dataType, True) for f in schema.fields]
    ).json()


def _schema_from_json(s: str):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(s))


def _dec_bound(v):
    """Decode a manifest stat bound back to a comparable Python value.
    Plain scalars (including pre-round-7 manifests, which stored only
    int/float/bool) pass through; unknown tags decode to None (unusable,
    the file is kept)."""
    if isinstance(v, dict):
        t = v.get("t")
        if t == "d":
            return _dt.date.fromordinal(v["v"])
        if t == "ts":
            return _dt.datetime.fromisoformat(v["v"])
        return None
    return v


def _parquet_parts(d: str) -> list[str]:
    """The parquet part files Spark wrote into directory ``d``."""
    return [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]


@lru_cache(maxsize=65536)
def _parquet_file_meta(path: str) -> tuple[int, dict]:
    """Exact row count + per-column [min, max] from the parquet footer —
    the per-file stats a real table format (Delta numRecords +
    stats_parsed / Iceberg manifests) carries, at the cost of one footer
    read per NEWLY ADDED file per commit. Covers int/float/bool, date,
    timestamp (normalized to the naive-UTC timeline — Spark writes
    UTC-adjusted micros) and strings (truncated per ``_enc_bound``),
    at the TOP level and on nested STRUCT leaves ("s.x" — Delta
    collects nested stats too; paths under a repeated group are
    per-element and never skip).
    A column's stats are kept ONLY when every row group contributed
    min/max: a row group without statistics (legal parquet, e.g. some
    non-Spark writers, or INT96 timestamps) would make the recorded
    range under-cover and silently skip files containing matches — a
    stat-less column never skips, which is always correct. Results are
    memoized: data files are immutable and uuid-named, and the commit
    path reads the same footers the staging path just counted."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    seen: dict[str, int] = {}
    # nested STRUCT leaves participate in skipping (Delta collects
    # nested stats too): a pure struct chain like "s.x" has
    # max_repetition_level 0; anything under a repeated group (array
    # element, map key/value — "arr.list.element.q") is per-ELEMENT,
    # not per-row, so a row-level interval check over it is
    # meaningless and those stay excluded.
    repeated = {
        md.schema.column(i).path
        for i in range(md.num_columns)
        if md.schema.column(i).max_repetition_level > 0
    }
    nulls: dict[str, int] = {}
    nulls_seen: dict[str, int] = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            st = col.statistics
            name = col.path_in_schema
            if name in repeated or st is None:
                continue
            # null counts power IS [NOT] NULL skipping (Delta's
            # nullCount) — tracked independently of min/max, because an
            # ALL-NULL column has no bounds but the strongest null info
            if st.has_null_count:
                nulls[name] = nulls.get(name, 0) + st.null_count
                nulls_seen[name] = nulls_seen.get(name, 0) + 1
            if not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            try:
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
            except TypeError:  # mixed stat types across row groups
                seen[name] = -md.num_row_groups
                continue
            seen[name] = seen.get(name, 0) + 1
    stats = {}
    for c in mins:
        if seen.get(c) != md.num_row_groups:
            continue  # partial coverage → range under-covers → no skip
        lo = _enc_bound(mins[c], is_max=False)
        hi = _enc_bound(maxs[c], is_max=True)
        if lo is not None and hi is not None:
            stats[c] = [lo, hi]
    # entry shapes: [lo, hi] (no null info — legacy and partial
    # coverage), [lo, hi, has_nulls, all_null], or
    # [None, None, has_nulls, all_null] when null coverage is complete
    # but no usable bounds exist (all-null column, oversized-string
    # bounds _enc_bound refuses, partial min/max coverage): a
    # has_nulls=False file still prunes IS NULL, an all_null file
    # still prunes IS NOT NULL — null skipping never needed bounds
    for c, total in nulls.items():
        if nulls_seen.get(c) != md.num_row_groups:
            continue  # partial null coverage → counts under-cover
        has_nulls, all_null = total > 0, total == md.num_rows
        if c in stats:
            stats[c] = stats[c] + [has_nulls, all_null]
        else:
            stats[c] = [None, None, has_nulls, all_null]
    return md.num_rows, stats


#: data-skipping conjunct operators → (uses_min, uses_max) can-match rule
_SKIP_OPS = {"=", "<", "<=", ">", ">=", "in", "isnull", "notnull"}


def _file_can_match(stats: dict | None, conjuncts: list[tuple]) -> bool:
    """Interval check: can ANY row of a file with these [min, max] stats
    satisfy every ``(col, op, literal)`` conjunct? Missing stats for a
    column — or bounds that aren't comparable with the literal's type —
    mean that conjunct can't prune (keep the file, let the residual row
    filter decide)."""
    if not stats:
        return True
    for col, op, val in conjuncts:
        rng = stats.get(col)
        if rng is None:
            continue
        if op in ("isnull", "notnull"):
            # null-count rule (Delta nullCount skipping): entries
            # without the [has_nulls, all_null] suffix (legacy manifests
            # or partial footer coverage) never prune
            if len(rng) >= 4:
                if op == "isnull" and rng[2] is False:
                    return False  # zero nulls — IS NULL can't match
                if op == "notnull" and rng[3] is True:
                    return False  # all null — IS NOT NULL can't match
            continue
        lo, hi = _dec_bound(rng[0]), _dec_bound(rng[1])
        if lo is None or hi is None:
            continue
        if op == "in":
            # the file can match iff ANY list element falls in [lo, hi];
            # an element that can't be compared keeps the file
            ok_any, unsure = False, False
            for v in val:
                try:
                    if lo <= v <= hi:
                        ok_any = True
                        break
                except TypeError:
                    unsure = True
            if not ok_any and not unsure:
                return False
            continue
        try:
            if op == "=" and not (lo <= val <= hi):
                return False
            if op == "<" and not (lo < val):
                return False
            if op == "<=" and not (lo <= val):
                return False
            if op == ">" and not (hi > val):
                return False
            if op == ">=" and not (hi >= val):
                return False
        except TypeError:
            # incomparable types (date vs datetime, str vs int, tz
            # mismatch): skipping must stay conservative — keep the file
            continue
    return True


class LogStore:
    """The commit-log storage primitive, split out Delta-LogStore-style:
    the ONE thing the optimistic-concurrency protocol needs from storage
    is ``write_new`` — an ATOMIC create-if-absent (mutual exclusion per
    log path). POSIX filesystems get it from ``os.link``; an object
    store (S3 has no atomic rename-if-absent) would back this with a
    conditional PUT or an external coordination table — a new backend,
    not a rewrite of the table logic. Checkpoint files are derived,
    idempotent data and stay outside the seam."""

    def write_new(self, path: str, data: bytes) -> None:
        """Create ``path`` with ``data`` iff it does not exist; raise
        ``FileExistsError`` (never clobber) when another writer got
        there first. Durable before returning."""
        raise NotImplementedError

    def write_replace(self, path: str, data: bytes) -> None:
        """Atomically (re)place DERIVED data at ``path`` — checkpoints,
        which are idempotent and re-creatable from the delta log, so no
        conflict protocol: last writer wins, and a reader must never see
        a torn body (an object-store PUT is atomic; POSIX needs
        temp+rename). Routed through the LogStore so an object-store
        backend can inject latency and crash points on the CHECKPOINT
        path too — a writer dying mid-checkpoint must leave resolution
        correct from the un-checkpointed log prefix.

        CONCRETE here (POSIX temp+rename), not abstract: a LogStore
        subclass written against the original two-method seam
        (write_new/read only) must keep checkpointing — the periodic
        checkpoint call is best-effort, so an abstract method would
        turn into a silently-swallowed NotImplementedError and the
        table would never checkpoint (unbounded O(V) log replay per
        resolution) while vacuum's mandatory call hard-failed."""
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)  # atomic; a crash leaves old-or-new, never torn

    def read(self, path: str) -> bytes:
        raise NotImplementedError


class LocalLogStore(LogStore):
    """POSIX implementation: write a temp file, then ``os.link`` it to
    the final name — link fails with EEXIST if the version was taken,
    and never exposes a partially written entry."""

    def write_new(self, path: str, data: bytes) -> None:
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        try:
            # atomic create-if-absent: THE commit point. os.rename would
            # silently clobber a concurrent winner; link raises EEXIST.
            os.link(tmp, path)
        finally:
            os.unlink(tmp)

    def read(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()


class CrashPoint(RuntimeError):
    """Raised by ``ConditionalPutLogStore`` at an injected crash ordinal —
    stands in for the process dying at that exact protocol point. The
    table must be recoverable by OTHER writers/readers from whatever
    artifacts the 'dead' writer left behind."""


class ConditionalPutLogStore(LogStore):
    """An object-store-shaped commit backend: the conditional-PUT
    protocol a cloud lake commits through (S3 ``If-None-Match: *`` /
    GCS ``x-goods-if-generation-match: 0`` / ABFS create-if-absent),
    emulated over a directory with injectable LATENCY and CRASH POINTS
    so the optimistic-concurrency protocol can be raced and killed
    under timings a microsecond-fast POSIX ``os.link`` never exposes.

    Semantics (vs ``LocalLogStore``):
    - ``write_new`` stages the FULL entry body durably (temp file +
      fsync — the S3 upload leg) and only then atomically materializes
      it under the target name if absent (``os.link`` — the
      conditional-PUT decision leg), then fsyncs the directory. A real
      conditional PUT is atomic in NAME+DATA together; claiming the
      name first and writing bytes after (an earlier ``O_EXCL``+write
      draft of this class) would let a crash between the two leave a
      TORN committed manifest that bricks the table for every reader —
      the one failure mode an object store can never produce.
    - every call pays ``latency_s`` first (object-store RTT), so the
      stage→commit race window is wide enough that concurrent writers
      GENUINELY overlap inside the protocol instead of winning by
      scheduler luck — the contention stress runs through this.
    - ``crash_before_commit`` / ``crash_after_commit`` (1-based
      ``write_new`` ordinals): raise ``CrashPoint`` just before /
      just after the Nth commit attempt on this handle. Before = a
      writer that staged data files but never committed (orphans —
      ``vacuum(sweep_orphans=True)``'s job); after = a writer whose
      commit LANDED but who never learned it won (the entry must be
      visible and the table consistent for everyone else; a txn-stamped
      retry by its successor must skip)."""

    def __init__(
        self,
        latency_s: float = 0.0,
        crash_before_commit: int | None = None,
        crash_after_commit: int | None = None,
        crash_mid_checkpoint: int | None = None,
    ) -> None:
        self.latency_s = latency_s
        self.crash_before_commit = crash_before_commit
        self.crash_after_commit = crash_after_commit
        #: 1-based ``write_replace`` ordinal: die AFTER the checkpoint
        #: body is staged durably but BEFORE it materializes under the
        #: target name — the S3 "upload finished, PUT never acknowledged"
        #: point. Leaves an orphaned temp and NO visible checkpoint;
        #: resolution must keep working from the delta-log prefix.
        self.crash_mid_checkpoint = crash_mid_checkpoint
        self.commit_attempts = 0
        self.checkpoint_attempts = 0

    def _rtt(self) -> None:
        if self.latency_s:
            time.sleep(self.latency_s)

    def write_new(self, path: str, data: bytes) -> None:
        self._rtt()
        self.commit_attempts += 1
        if self.commit_attempts == self.crash_before_commit:
            raise CrashPoint(f"injected crash BEFORE commit of {path}")
        # upload leg: full body, durable, under a private name — a crash
        # here leaves only an orphaned temp, never a torn entry
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            # decision leg: atomic create-if-absent of NAME+DATA together
            os.link(tmp, path)
        finally:
            os.unlink(tmp)
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        if self.commit_attempts == self.crash_after_commit:
            raise CrashPoint(f"injected crash AFTER commit of {path}")

    def write_replace(self, path: str, data: bytes) -> None:
        self._rtt()
        self.checkpoint_attempts += 1
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        if self.checkpoint_attempts == self.crash_mid_checkpoint:
            # body staged, PUT never decided: an orphan temp is all the
            # dead writer leaves — no visible (let alone torn) checkpoint
            raise CrashPoint(f"injected crash MID-checkpoint of {path}")
        os.replace(tmp, path)
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def read(self, path: str) -> bytes:
        self._rtt()
        with open(path, "rb") as f:
            return f.read()


def _reject_dotted(names, context: str) -> None:
    """Dotted column names are rejected at every point a name enters
    the table schema (create / evolution / rename): per-file stats key
    nested leaves by their parquet dot-joined path ("s.x"), so a column
    — or a nested struct FIELD — literally named with a dot would be
    indistinguishable from a deeper nested leaf and data skipping could
    misroute its conjuncts (resolve the head segment "s" instead).
    Rejecting at the boundary keeps the stats keyspace unambiguous."""
    bad = sorted(n for n in names if "." in n)
    if bad:
        raise MergeError(
            f"{context}: column/field name(s) {bad} contain '.' — "
            "dotted names collide with the nested-leaf stats keyspace "
            "(file stats address struct leaves as 'parent.child'); "
            "rename without a dot"
        )


def _dotted_nested_names(dtype, prefix: str = "") -> list[str]:
    """All struct field names under ``dtype`` (any nesting depth, incl.
    array elements / map values) that contain a literal dot."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad: list[str] = []
    if isinstance(dtype, StructType):
        for f in dtype.fields:
            label = f"{prefix}{f.name}"
            if "." in f.name:
                bad.append(label)
            bad.extend(_dotted_nested_names(f.dataType, label + "."))
    elif isinstance(dtype, ArrayType):
        bad.extend(_dotted_nested_names(dtype.elementType, prefix + "[]."))
    elif isinstance(dtype, MapType):
        bad.extend(_dotted_nested_names(dtype.valueType, prefix + "{}."))
    return bad


def src(name: str) -> Column:
    """Reference a SOURCE column inside a merge clause (update/delete
    expressions), e.g. ``when_matched_update={"o_totalprice": src("price")}``."""
    return F.col(f"_src_{name}")


class ParquetMergeTable:
    """A directory of immutable parquet data files + a ``_manifests/``
    commit log (delta entries + periodic checkpoints). Concurrent
    writers are safe: commits are atomic create-if-absent, so exactly
    one writer wins each version and losers fail cleanly with
    ``ConcurrentWriteError``. Readers are isolated by the manifest."""

    #: max source-key rows the MERGE joins will broadcast; beyond this the
    #: source side sort-merges (Catalyst's static estimate cannot be
    #: trusted to make this call — see SCALE_EVIDENCE.md §1)
    BROADCAST_MAX_SOURCE_ROWS = 1_000_000
    #: max accumulated deletion-vector rows the read path will broadcast;
    #: beyond this the MoR anti-join sort-merges (and the right answer is
    #: to compact) — the manifest tracks the exact count
    DELETE_BROADCAST_MAX_ROWS = 2_000_000

    #: target rows per position-delete file: a delete_where that hits a
    #: large fraction of the table writes its vector with a proportional
    #: number of tasks instead of funneling through one
    DELETE_ROWS_PER_FILE = 2_000_000
    #: target rows per CDF change file (full-width rows, so smaller)
    CHANGE_ROWS_PER_FILE = 1_000_000

    def __init__(
        self, spark: SparkSession, path: str, log_store: LogStore | None = None
    ):
        self.spark = spark
        self.path = path
        self.manifest_dir = os.path.join(path, "_manifests")
        self.log_store = log_store or LocalLogStore()
        # resolved snapshots are immutable once committed — cache them
        self._cache: dict[int, dict] = {}

    # -- commit-log plumbing -------------------------------------------------
    def _log_path(self, v: int) -> str:
        return os.path.join(self.manifest_dir, f"v{v}.json")

    def _ckpt_path(self, v: int) -> str:
        return os.path.join(self.manifest_dir, f"ckpt-v{v}.json")

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.manifest_dir):
            return []
        out = []
        for f in os.listdir(self.manifest_dir):
            m = re.match(r"^v(\d+)\.json$", f)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def _checkpoints(self) -> list[int]:
        if not os.path.isdir(self.manifest_dir):
            return []
        out = []
        for f in os.listdir(self.manifest_dir):
            m = re.match(r"^ckpt-v(\d+)\.json$", f)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def current_version(self) -> int:
        vs = self._versions()
        if not vs:
            raise MergeError(f"no committed version in {self.path}")
        return vs[-1]

    def _read_json(self, path: str) -> dict:
        return json.loads(self.log_store.read(path))

    @staticmethod
    def _resolved(
        entry: dict,
        file_rows: dict,
        delete_file_rows: dict,
        file_stats: dict,
        file_bytes: dict,
    ) -> dict:
        """Build the resolved-snapshot view of a version from its log
        entry plus the accumulated file state."""
        return {
            "version": entry["version"],
            "operation": entry["operation"],
            "stats": entry["stats"],
            "committed_at": entry["committed_at"],
            "files": sorted(file_rows),
            "delete_files": sorted(delete_file_rows),
            "file_rows": file_rows,
            "delete_file_rows": delete_file_rows,
            "file_stats": file_stats,
            "file_bytes": file_bytes,
            "change_files": entry["change_files"],
            "insert_files": entry["insert_files"],
            "mixed_schema": entry["mixed_schema"],
            "constraints": entry.get("constraints", {}),
            "txns": entry.get("txns", {}),
            "column_mapping": entry.get("column_mapping", []),
            "retired_physical": entry.get("retired_physical", []),
            "clustering": entry.get("clustering", []),
            "schema_json": entry.get("schema_json"),
            "cdf_schema_json": entry.get("cdf_schema_json"),
            "rows_total": sum(file_rows.values()) - sum(delete_file_rows.values()),
            "delete_rows_total": sum(delete_file_rows.values()),
        }

    def _manifest(self, version: int) -> dict:
        """Resolve a version to its full snapshot: nearest checkpoint (or
        cached predecessor) + replay of at most CHECKPOINT_INTERVAL
        delta entries. Raises FileNotFoundError for vacuumed versions."""
        if version in self._cache:
            return self._cache[version]
        ckpts = [c for c in self._checkpoints() if c <= version]
        cached = [c for c in self._cache if c < version]
        start_ck = max(ckpts) if ckpts else None
        start_cache = max(cached) if cached else None
        file_rows: dict[str, int] = {}
        del_rows: dict[str, int] = {}
        file_stats: dict[str, dict] = {}
        file_bytes: dict[str, int] = {}
        replay_from = 0
        if start_cache is not None and (start_ck is None or start_cache >= start_ck):
            prev = self._cache[start_cache]
            file_rows = dict(prev["file_rows"])
            del_rows = dict(prev["delete_file_rows"])
            file_stats = dict(prev["file_stats"])
            file_bytes = dict(prev["file_bytes"])
            replay_from = start_cache + 1
        elif start_ck is not None:
            ck = self._read_json(self._ckpt_path(start_ck))
            file_rows = dict(ck["file_rows"])
            del_rows = dict(ck["delete_file_rows"])
            file_stats = dict(ck.get("file_stats", {}))
            file_bytes = dict(ck.get("file_bytes", {}))
            replay_from = start_ck + 1
        entry = None
        for w in range(replay_from, version + 1):
            entry = self._read_json(self._log_path(w))
            if "remove_files" not in entry:
                raise MergeError(
                    f"unsupported manifest format at version {w} of "
                    f"{self.path}: entry predates the delta-log format "
                    "(no add/remove diffs) — rebuild the table or "
                    "migrate its log"
                )
            for f in entry["remove_files"]:
                file_rows.pop(f, None)
                file_stats.pop(f, None)
                file_bytes.pop(f, None)
            file_rows.update(entry["file_rows"])
            file_stats.update(entry.get("file_stats", {}))
            file_bytes.update(entry.get("file_bytes", {}))
            for f in entry["remove_delete_files"]:
                del_rows.pop(f, None)
            del_rows.update(entry["delete_file_rows"])
        if entry is None:  # checkpoint landed exactly on `version`
            entry = self._read_json(self._log_path(version))
        resolved = self._resolved(entry, file_rows, del_rows, file_stats, file_bytes)
        self._cache[version] = resolved
        return resolved

    def _write_checkpoint(self, resolved: dict) -> None:
        """Checkpoints are derived data (idempotent, re-creatable from the
        log) so an atomic replace suffices — no conflict protocol. Routed
        through the LogStore's ``write_replace`` so an object-store
        backend's latency/crash injection covers the checkpoint path:
        a writer dying mid-checkpoint leaves at worst an orphaned temp —
        resolution replays the delta-log prefix and the NEXT interval (or
        vacuum) re-derives the same snapshot."""
        ck = {
            "version": resolved["version"],
            "file_rows": resolved["file_rows"],
            "delete_file_rows": resolved["delete_file_rows"],
            "file_stats": resolved["file_stats"],
            "file_bytes": resolved["file_bytes"],
            "mixed_schema": resolved["mixed_schema"],
        }
        self.log_store.write_replace(
            self._ckpt_path(resolved["version"]), json.dumps(ck).encode()
        )

    def _commit(
        self,
        base: dict | None,
        files: list[str],
        operation: str,
        stats: dict,
        delete_files: list[str] | None = None,
        change_files: list[str] | None = None,
        insert_files: list[str] | None = None,
        mixed_schema: bool = False,
        constraints: dict | None = None,
        discard_on_conflict: bool = True,
        txn: tuple[str, int] | None = None,
        known_meta: dict | None = None,
        column_mapping: list | None = None,
        retired_physical: list | None = None,
        clustering: list | None = None,
        schema_json: str | None = None,
        cdf_schema_json: str | None = None,
    ) -> int:
        """Commit a new version on top of ``base`` (the resolved manifest
        this writer READ; None for table creation). The log entry stores
        only the add/remove diffs. The commit point is the atomic
        create-if-absent of the entry file: if another writer committed
        ``base.version + 1`` first, raises ConcurrentWriteError and
        leaves the table exactly as the winner wrote it."""
        next_v = 0 if base is None else base["version"] + 1
        files_s = sorted(files)
        dels_s = sorted(delete_files or [])
        prev_files = set(base["files"]) if base else set()
        prev_dels = set(base["delete_files"]) if base else set()
        add_files = [f for f in files_s if f not in prev_files]
        remove_files = sorted(prev_files - set(files_s))
        add_dels = [f for f in dels_s if f not in prev_dels]
        remove_dels = sorted(prev_dels - set(dels_s))
        # exact per-file row counts AND column min/max from the parquet
        # footers — only the newly added files pay a footer read; the
        # stats power read(where=...) data skipping, the byte sizes
        # power incremental bin-packing OPTIMIZE. ``known_meta`` lets a
        # caller that already HAS the (rows, stats) pair — a shallow
        # clone copying another manifest's stats — skip the footer reads
        known_meta = known_meta or {}
        add_meta = {
            f: known_meta.get(f) or _parquet_file_meta(f) for f in add_files
        }
        # the idempotent-writer map (Delta txnAppId/txnVersion): app_id →
        # highest committed txn version. Carried FULL in every entry like
        # the constraint map — it is one small dict per streaming app, so
        # resolution needs no replay-time merging.
        txns = dict(base.get("txns", {})) if base else {}
        if txn is not None:
            txns[txn[0]] = int(txn[1])
        entry = {
            "format": MANIFEST_FORMAT,
            "version": next_v,
            "operation": operation,
            "stats": stats,
            "committed_at": time.time(),
            "add_files": add_files,
            "remove_files": remove_files,
            "file_rows": {f: add_meta[f][0] for f in add_files},
            "file_stats": {f: add_meta[f][1] for f in add_files},
            "file_bytes": {f: os.path.getsize(f) for f in add_files},
            "add_delete_files": add_dels,
            "remove_delete_files": remove_dels,
            "delete_file_rows": {f: _parquet_file_meta(f)[0] for f in add_dels},
            "change_files": sorted(change_files or []),
            "insert_files": sorted(insert_files or []),
            "mixed_schema": mixed_schema,
            # every entry carries the FULL (small) constraint map, so
            # resolution needs no replay-time merging
            "constraints": (
                constraints
                if constraints is not None
                else (base.get("constraints", {}) if base else {})
            ),
            "txns": txns,
            # column mapping (ordered [logical, physical] pairs; [] =
            # identity) and the physical names retired by DROP COLUMN —
            # carried full per entry like constraints, so resolution
            # needs no replay-time merging and a retired name is never
            # reused (reuse would resurrect old files' data)
            "column_mapping": (
                column_mapping
                if column_mapping is not None
                else (base.get("column_mapping", []) if base else [])
            ),
            "retired_physical": (
                retired_physical
                if retired_physical is not None
                else (base.get("retired_physical", []) if base else [])
            ),
            # preferred clustering, by stable PHYSICAL column names so it
            # survives renames and restores (Delta liquid clustering's
            # CLUSTER BY, minus the incremental clustering machinery)
            "clustering": (
                clustering
                if clustering is not None
                else (base.get("clustering", []) if base else [])
            ),
            # the table's full LOGICAL schema (names + types), the single
            # source of truth reads scan under — required once a column
            # has been type-WIDENED (files of mixed physical width can't
            # be footer-union-merged; an explicit schema promotes them
            # natively). None only for pre-widening-era entries; any
            # mutator that computes the schema backfills it. Carried
            # full per entry like constraints — one small string.
            "schema_json": (
                schema_json
                if schema_json is not None
                else (base.get("schema_json") if base else None)
            ),
            # per-COMMIT (never carried): the schema this commit's change
            # files were written at, when it differs from schema_json —
            # only RESTORE does this (its diff runs at the widened common
            # of the two versions so wide delete rows stay exact)
            "cdf_schema_json": cdf_schema_json,
        }
        os.makedirs(self.manifest_dir, exist_ok=True)
        try:
            # the commit point: atomic create-if-absent through the
            # LogStore seam (POSIX link locally; conditional PUT on an
            # object store)
            self.log_store.write_new(
                self._log_path(next_v), json.dumps(entry).encode()
            )
        except FileExistsError:
            # the loser's freshly staged files are referenced by no
            # manifest — remove them NOW or every lost race (and every
            # retry_on_conflict attempt) leaks orphans forever. A caller
            # that can REBASE (blind append) keeps them and re-commits.
            if discard_on_conflict:
                self._discard_staged(
                    add_files + add_dels + list(entry["change_files"])
                )
            raise ConcurrentWriteError(
                f"version {next_v} was committed by another writer while "
                f"this operation ran against version {next_v - 1}; "
                "re-read the table and retry"
            ) from None
        # resolved snapshot straight from base + entry (no replay)
        all_rows = dict(base["file_rows"]) if base else {}
        all_stats = dict(base["file_stats"]) if base else {}
        all_bytes = dict(base["file_bytes"]) if base else {}
        for f in remove_files:
            all_rows.pop(f, None)
            all_stats.pop(f, None)
            all_bytes.pop(f, None)
        all_rows.update(entry["file_rows"])
        all_stats.update(entry["file_stats"])
        all_bytes.update(entry["file_bytes"])
        all_del_rows = dict(base["delete_file_rows"]) if base else {}
        for f in remove_dels:
            all_del_rows.pop(f, None)
        all_del_rows.update(entry["delete_file_rows"])
        resolved = self._resolved(
            entry, all_rows, all_del_rows, all_stats, all_bytes
        )
        self._cache[next_v] = resolved
        if next_v and next_v % CHECKPOINT_INTERVAL == 0:
            # best-effort (Delta semantics): the COMMIT already landed,
            # and the checkpoint is derived data the next interval
            # re-creates — a storage blip here must not fail the write.
            # CrashPoint is NOT swallowed: it simulates the process
            # dying, and the test asserts recovery by a fresh handle.
            try:
                self._write_checkpoint(resolved)
            except CrashPoint:
                raise
            except Exception:
                pass
        return next_v

    def _stage_files(
        self,
        df: DataFrame,
        max_records_per_file: int | None,
        mapping: list | None = None,
    ) -> list[str]:
        """Write df's rows as new immutable data files, return their
        paths. ``df`` carries LOGICAL column names; under a column
        mapping the file is written with the PHYSICAL names (stable
        across renames — Delta column mapping), so a later rename is a
        manifest edit, never a rewrite."""
        md = dict(mapping or [])
        if md:
            df = df.select(
                *[F.col(c).alias(md.get(c, c)) for c in df.columns]
            )
        stage = os.path.join(self.path, f"stage-{uuid.uuid4().hex[:12]}")
        w = df.write.mode("overwrite")
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", max_records_per_file)
        w.parquet(stage)
        return _parquet_parts(stage)

    def _stage_nonempty(
        self, df: DataFrame, max_records_per_file: int | None, mapping: list
    ) -> tuple[list[str], int]:
        """Stage ``df`` and return its non-empty files plus their row
        total. Spark can emit a schema-only empty part; those are removed,
        and so is the stage dir when nothing is left. The row count comes
        from the footers (memoized — ``_commit`` reads the same ones), so
        no count job runs the plan a second time."""
        staged = self._stage_files(df, max_records_per_file, mapping=mapping)
        rows = {f: _parquet_file_meta(f)[0] for f in staged}
        for f in staged:
            if rows[f] == 0:
                os.remove(f)
        files = [f for f in staged if rows[f] > 0]
        if staged and not files:
            shutil.rmtree(os.path.dirname(staged[0]), ignore_errors=True)
        return files, sum(rows.values())

    def _change_dir(self) -> str:
        """A fresh directory for one commit's CDF change files."""
        return os.path.join(self.path, f"_changes/chg-{uuid.uuid4().hex[:12]}")

    def _discard_staged(self, paths: list[str]) -> None:
        """Remove files this writer staged for a commit that lost the
        race (they are referenced by no manifest, and vacuum only sweeps
        files referenced by dropped versions). Every staged file lives
        in a per-operation directory under the table root — remove the
        directory too once no parquet parts remain."""
        parents: set[str] = set()
        for p in paths:
            try:
                os.remove(p)
            except OSError:
                pass
            parents.add(os.path.dirname(p))
        root = os.path.abspath(self.path)
        for d in parents:
            ad = os.path.abspath(d)
            if (
                ad.startswith(root + os.sep)
                and os.path.isdir(ad)
                and not _parquet_parts(ad)
            ):
                shutil.rmtree(ad, ignore_errors=True)

    # -- merge-on-read plumbing ---------------------------------------------
    def _delete_entries(self, delete_files: list[str]) -> DataFrame | None:
        """Union of position-delete files: (file_path, row_index) victims."""
        if not delete_files:
            return None
        return self.spark.read.parquet(*delete_files)

    def _read_data(
        self,
        files: list[str],
        mixed_schema: bool,
        schema=None,
        mapping: list | None = None,
        with_position: bool = False,
    ) -> DataFrame:
        """Raw data-file read. ``mixed_schema`` (set by a schema-evolving
        MERGE, cleared by compact) turns on parquet schema merging so
        files written before the evolution surface the new columns as
        nulls — the footer-union cost is paid only while the table
        actually is mixed. An explicit ``schema`` overrides both: the
        scan projects exactly those columns, filling ones absent from a
        file with typed NULLs — required when reading a SUBSET of a
        mixed table's files whose union schema would under-cover (e.g.
        bin-packing only pre-evolution small files).

        ``mapping`` is the manifest's column mapping — ordered
        ``[logical, physical]`` pairs, empty for a table that never
        renamed/dropped a column (then physical == logical and this
        function behaves exactly as before). ``schema`` is always
        expressed in LOGICAL names; the physical projection and the
        rename back to logical happen here, so every caller above this
        boundary lives purely in logical-column space.
        ``with_position`` appends the hidden ``_file``/``_pos`` columns
        in the same projection (the ``_metadata`` pseudo-column is only
        reachable on the raw scan, before any select)."""
        md = dict(mapping or [])
        r = self.spark.read
        if schema is not None:
            phys_schema = schema
            if md:
                from pyspark.sql.types import StructField, StructType

                phys_schema = StructType(
                    [
                        StructField(md.get(f.name, f.name), f.dataType, f.nullable)
                        for f in schema.fields
                    ]
                )
            r = r.schema(phys_schema)
        elif mixed_schema:
            r = r.option("mergeSchema", "true")
        df = r.parquet(*files)
        pos_cols = (
            [
                _norm_file(F.col("_metadata.file_path")).alias("_file"),
                F.col("_metadata.row_index").alias("_pos"),
            ]
            if with_position
            else []
        )
        if md and schema is not None:
            return df.select(
                *[F.col(md.get(f.name, f.name)).alias(f.name) for f in schema.fields],
                *pos_cols,
            )
        if md:
            return df.select(
                *[F.col(p).alias(l) for l, p in mapping], *pos_cols
            )
        if pos_cols:
            return df.select("*", *pos_cols)
        return df

    def _table_schema(self, m: dict):
        """The manifest-recorded logical schema (None for entries that
        predate schema tracking). When present it is ALWAYS the scan
        schema: files narrower than a widened column promote natively,
        files predating an added column surface it as NULL — and the
        footer-union (mergeSchema) cost disappears."""
        sj = m.get("schema_json")
        return _schema_from_json(sj) if sj else None

    def _schema_or_read(self, m: dict):
        """The table's full logical schema: manifest truth when recorded,
        else derived from the version's data files (legacy entries)."""
        s = self._table_schema(m)
        if s is not None:
            return s
        return self._read_data(
            m["files"], m["mixed_schema"], mapping=m["column_mapping"]
        ).schema

    def _coerce_source(
        self,
        df: DataFrame,
        tbl_schema,
        context: str,
        allow_widening: bool,
        widen_hint: str = "",
        missing_hint: str | None = None,
    ):
        """Align an incoming dataframe's column types with the table's,
        recursing into struct/array/map (Delta mergeSchema nesting): a
        source leaf safely NARROWER than the table upcasts silently
        (lossless — Delta's implicit assignment cast, ungated); a
        nested field the source LACKS NULL-fills only under
        ``allow_widening`` (Delta autoMerge — ungated it would silently
        erase nested data through an update clause), else raises; a
        source leaf safely WIDER (type widening) or a nested field the
        TABLE lacks (nested add) evolves the table type when
        ``allow_widening``, else raises naming the nested path and the
        fix; incompatible types always raise. Returns ``(coerced_df, widen_map)`` where
        ``widen_map`` is {column: new evolved DataType} for the table to
        record — an entry may be a widened scalar OR a struct with
        added/widened nested fields; carried files read through the
        parquet reader's native nested promotion/NULL-fill either way.
        Columns absent from the table (top-level evolution candidates /
        clause inputs) pass through untouched."""
        hint = widen_hint or "pass schema_evolution=True to evolve the table"
        tbl_types = {f.name: f.dataType for f in tbl_schema.fields}
        conform: dict[str, Column] = {}
        widen: dict[str, object] = {}
        for f in df.schema.fields:
            t = tbl_types.get(f.name)
            if t is None or f.dataType == t:
                continue
            evolved = _merge_types(
                t, f.dataType, allow_widening, context, f.name, hint,
                missing_hint,
            )
            if evolved != t:
                widen[f.name] = evolved
            if evolved != f.dataType:
                conform[f.name] = _conform_expr(F.col(f.name), f.dataType, evolved)
        if conform:
            df = df.select(
                *[
                    conform[c].alias(c) if c in conform else F.col(c)
                    for c in df.columns
                ]
            )
        return df, widen

    @staticmethod
    def _widen_schema(schema, widen: dict):
        """``schema`` with the columns in ``widen`` at their wider types."""
        if not widen:
            return schema
        from pyspark.sql.types import StructField, StructType

        return StructType(
            [
                StructField(f.name, widen.get(f.name, f.dataType), True)
                for f in schema.fields
            ]
        )

    def _scan(
        self, m: dict, files: list[str], schema=None, mapping: list | None = None
    ) -> DataFrame:
        """Read ``files`` of manifest ``m`` with hidden position columns
        ``_file``/``_pos`` and ``m``'s pending deletion vectors already
        applied. ``mapping`` defaults to ``m``'s column mapping. The delete
        side broadcasts while its exact manifest-tracked row count stays
        under DELETE_BROADCAST_MAX_ROWS — the normal MoR regime where
        deletes are tiny. Past the threshold (a delete_where that hit a
        large fraction of the table) the anti-join falls back to
        sort-merge: slower, but it cannot OOM the driver, and compact() is
        the cure."""
        df = self._read_data(
            files,
            m["mixed_schema"],
            schema,
            m["column_mapping"] if mapping is None else mapping,
            with_position=True,
        )
        dels = self._delete_entries(m["delete_files"])
        if dels is not None:
            small = m["delete_rows_total"] <= self.DELETE_BROADCAST_MAX_ROWS
            side = F.broadcast(dels) if small else dels.hint("merge")
            df = df.join(
                side,
                (df["_file"] == dels["file_path"]) & (df["_pos"] == dels["row_index"]),
                "anti",
            )
        return df

    def _live_scan(self, m: dict) -> DataFrame:
        """The current live rows of a resolved manifest (deletes applied)."""
        return self._scan(m, m["files"], schema=self._table_schema(m))

    def _carry_delete_files(
        self, m: dict, rewritten: list[str], carried: list[str]
    ) -> list[str]:
        """Deletion-vector carry across a partial rewrite: entries
        pointing at CARRIED files stay valid; entries for REWRITTEN
        files die with the rewrite (their rows were physically dropped
        by the scan that produced the new files). Returns the new
        version's delete-file list. The rewrite is sized from the
        manifest's exact pending-entry count (an upper bound on the kept
        entries) — a huge accumulated vector is rewritten by
        proportionally many tasks, never funneled through one."""
        pending_dels = m["delete_files"]
        if not pending_dels:
            return []
        if not rewritten:
            return pending_dels
        carried_abs = [os.path.abspath(f) for f in carried]
        kept = self._delete_entries(pending_dels).filter(
            F.col("file_path").isin(carried_abs)
        )
        n_parts = max(1, -(-m["delete_rows_total"] // self.DELETE_ROWS_PER_FILE))
        keep_dir = os.path.join(self.path, f"_deletes/del-{uuid.uuid4().hex[:12]}")
        kept.coalesce(n_parts).write.mode("overwrite").parquet(keep_dir)
        parts = _parquet_parts(keep_dir)
        # drop zero-row parts (coalesce can emit schema-only files); an
        # entirely empty carry means every pending entry died with the
        # rewrite
        live_parts = [f for f in parts if _parquet_file_meta(f)[0] > 0]
        if live_parts:
            return live_parts
        shutil.rmtree(keep_dir, ignore_errors=True)
        return []

    def _touched(
        self, m: dict, scanned: list[str], cond_true: Column, schema
    ) -> list[str]:
        """The files among ``scanned`` holding a live row where
        ``cond_true`` holds, as manifest paths. Only ``_file`` is
        selected, so Catalyst prunes the scan to the condition's columns
        (pinned by tests/test_plan_shapes.py). ``schema`` is the full
        table schema: a stats-pruned subset may predate a schema
        evolution."""
        if not scanned:
            return []
        abs_to_orig = {os.path.abspath(f): f for f in scanned}
        live = self._scan(m, scanned, schema=schema)
        return sorted(
            abs_to_orig.get(r["_file"], r["_file"])
            for r in live.filter(cond_true).select("_file").distinct().collect()
        )

    @staticmethod
    def _violation_cond(expr: str) -> Column:
        """SQL CHECK semantics: a row violates only when the expression
        evaluates FALSE — NULL passes (standard, and Delta's)."""
        return ~F.coalesce(F.expr(expr), F.lit(True))

    def _check_constraints(
        self,
        files: list[str],
        constraints: dict,
        discard: list[str],
        schema=None,
        mapping: list | None = None,
    ) -> None:
        """Validate FRESHLY STAGED data files against the table's CHECK
        constraints — Delta's enforcement point: only new rows pay (a
        carried file was validated by the write that created it, and
        ``add_constraint`` validated the whole table once). On violation
        the aborted operation's staged files are removed and the table
        is unchanged. ``schema``: read the files under this (wider)
        schema so a constraint on a column the files don't carry sees
        NULL — which passes under SQL 3VL — instead of failing to
        resolve."""
        if not constraints or not files:
            return
        # constraint expressions are written over LOGICAL names; staged
        # files carry physical ones — _read_data renames at the boundary
        df = self._read_data(files, mixed_schema=False, schema=schema,
                             mapping=mapping)
        for name, expr in sorted(constraints.items()):
            if df.filter(self._violation_cond(expr)).limit(1).count():
                self._discard_staged(discard)
                raise ConstraintViolation(
                    f"CHECK constraint '{name}' ({expr}) is violated by "
                    "rows this operation writes — aborted, table unchanged"
                )

    def _commit_rewrite(
        self,
        m: dict,
        op: str,
        stats: dict,
        new_files: list[str],
        untouched: list[str],
        carried_dels: list[str],
        change_files: list[str],
        mapping: list | None = None,
        **commit_kw,
    ) -> dict:
        """Commit a copy-on-write rewrite of ``m``: CHECK constraints
        validate only the files this write staged, then ``_commit``. On a
        violation everything staged — data, the rewritten vector carry,
        change files — is removed. ``mapping`` (default ``m``'s) is the
        column mapping the new files were written under. Returns
        ``stats`` with the new version."""
        mapping = m["column_mapping"] if mapping is None else mapping
        fresh_data = [f for f in new_files if f not in set(untouched)]
        self._check_constraints(
            fresh_data,
            m.get("constraints", {}),
            discard=fresh_data
            + [f for f in carried_dels if f not in set(m["delete_files"])]
            + change_files,
            mapping=mapping,
        )
        stats["version"] = self._commit(
            m,
            new_files,
            op,
            stats,
            delete_files=carried_dels,
            change_files=change_files,
            column_mapping=mapping,
            **commit_kw,
        )
        return stats

    def add_constraint(self, name: str, expr: str) -> dict:
        """Delta ``ALTER TABLE ADD CONSTRAINT name CHECK (expr)``:
        ``expr`` (a SQL boolean over the table's columns) must hold for
        every CURRENT row — validated here with one scan — and every
        subsequent MERGE / overwrite validates the rows it stages before
        committing. Adding the constraint is itself a commit, so time
        travel to earlier versions sees the pre-constraint state."""
        m = self._manifest(self.current_version())
        cons = dict(m.get("constraints", {}))
        if name in cons:
            raise MergeError(f"constraint '{name}' already exists")
        if self.read().filter(self._violation_cond(expr)).limit(1).count():
            raise ConstraintViolation(
                f"existing rows violate CHECK constraint '{name}' ({expr})"
            )
        cons[name] = expr
        v = self._commit(
            m,
            m["files"],
            "add_constraint",
            {"constraint": name},
            delete_files=m["delete_files"],
            mixed_schema=m["mixed_schema"],
            constraints=cons,
        )
        return {"version": v, "constraints": dict(cons)}

    def drop_constraint(self, name: str) -> dict:
        m = self._manifest(self.current_version())
        cons = dict(m.get("constraints", {}))
        if name not in cons:
            raise MergeError(f"no such constraint: '{name}'")
        del cons[name]
        v = self._commit(
            m,
            m["files"],
            "drop_constraint",
            {"constraint": name},
            delete_files=m["delete_files"],
            mixed_schema=m["mixed_schema"],
            constraints=cons,
        )
        return {"version": v, "constraints": dict(cons)}

    def _pruning_df(
        self, live: DataFrame, source: DataFrame, on: list[str], small_source: bool
    ) -> DataFrame:
        """The copy-on-write file-pruning plan: distinct ``_file`` values
        of live rows whose key semi-joins the source keys. Reads ONLY the
        key columns from the data files (parquet column pruning) — plan
        pinned by tests/test_plan_shapes.py."""
        keys = source.select(*on)
        side = F.broadcast(keys) if small_source else keys.hint("merge")
        return (
            live.select(*on, "_file")
            .join(side, on, "semi")
            .select("_file")
            .distinct()
        )

    def _current_pairs(self, m: dict) -> list:
        """The manifest's column mapping as explicit [logical, physical]
        pairs, materializing the identity for a table that never
        renamed/dropped (the first rename/drop freezes physical names)."""
        if m["column_mapping"]:
            return [list(p) for p in m["column_mapping"]]
        return [[c, c] for c in self._schema_or_read(m).fieldNames()]

    @staticmethod
    def _constraint_references(constraints: dict, col: str) -> list[str]:
        pat = re.compile(rf"(?<![A-Za-z0-9_`]){re.escape(col)}(?![A-Za-z0-9_])")
        return sorted(n for n, e in constraints.items() if pat.search(e))

    def rename_column(self, old: str, new: str) -> dict:
        """``ALTER TABLE RENAME COLUMN`` as a METADATA-ONLY commit
        (Delta column mapping): the logical name changes, the stable
        PHYSICAL name in every parquet file does not — zero bytes
        rewritten at any table size. Per-file stats are keyed by the
        physical name, so data skipping on the renamed column keeps
        working with no stats rebuild, and the change data feed replays
        across the rename via the physical identity. Renaming a column
        a CHECK constraint references is rejected (the expression would
        silently stop resolving) — drop the constraint first."""
        m = self._manifest(self.current_version())
        pairs = self._current_pairs(m)
        logical = [l for l, _ in pairs]
        if old not in logical:
            raise MergeError(f"no such column: '{old}'")
        if new in logical:
            raise MergeError(f"column '{new}' already exists")
        _reject_dotted([new], "rename_column")
        refs = self._constraint_references(m.get("constraints", {}), old)
        if refs:
            raise MergeError(
                f"cannot rename '{old}': CHECK constraint(s) {refs} "
                "reference it — drop them first"
            )
        new_pairs = [[new if l == old else l, p] for l, p in pairs]
        from pyspark.sql.types import StructField, StructType

        new_schema = StructType(
            [
                StructField(new if f.name == old else f.name, f.dataType, True)
                for f in self._schema_or_read(m).fields
            ]
        )
        v = self._commit(
            m,
            m["files"],
            "rename_column",
            {"renamed": [old, new]},
            delete_files=m["delete_files"],
            mixed_schema=m["mixed_schema"],
            column_mapping=new_pairs,
            schema_json=new_schema.json(),
        )
        return {"version": v, "renamed": [old, new]}

    def drop_column(self, col: str) -> dict:
        """``ALTER TABLE DROP COLUMN`` as a METADATA-ONLY commit: the
        column leaves the mapping, its physical name is RETIRED, and no
        file is touched — the bytes become invisible immediately and are
        physically shed as files get rewritten by later MERGEs /
        OPTIMIZE. A retired physical name is never reused: a later
        re-add of the same logical name gets a fresh physical name, so
        carried files' old values can never resurrect. Dropping a column
        a CHECK constraint references is rejected."""
        m = self._manifest(self.current_version())
        pairs = self._current_pairs(m)
        logical = [l for l, _ in pairs]
        if col not in logical:
            raise MergeError(f"no such column: '{col}'")
        if len(logical) == 1:
            raise MergeError("cannot drop the table's only column")
        refs = self._constraint_references(m.get("constraints", {}), col)
        if refs:
            raise MergeError(
                f"cannot drop '{col}': CHECK constraint(s) {refs} "
                "reference it — drop them first"
            )
        phys = dict(pairs)[col]
        new_pairs = [[l, p] for l, p in pairs if l != col]
        from pyspark.sql.types import StructField, StructType

        new_schema = StructType(
            [
                StructField(f.name, f.dataType, True)
                for f in self._schema_or_read(m).fields
                if f.name != col
            ]
        )
        v = self._commit(
            m,
            m["files"],
            "drop_column",
            {"dropped": col},
            delete_files=m["delete_files"],
            mixed_schema=m["mixed_schema"],
            column_mapping=new_pairs,
            retired_physical=sorted(set(m["retired_physical"]) | {phys}),
            clustering=[p for p in m["clustering"] if p != phys],
            schema_json=new_schema.json(),
        )
        return {"version": v, "dropped": col}

    # -- column-mapping plumbing ---------------------------------------------
    @staticmethod
    def _physical_conjuncts(skip: list, mapping: list) -> list:
        """Rewrite skip-conjunct column names logical → physical: the
        manifest's per-file stats are keyed by the footer's (physical)
        names, so data skipping keeps working across renames with no
        stats rebuild. For a NESTED path ("s.x") only the top-level
        segment maps — nested fields keep identity physical names (the
        rename/drop API is top-level only)."""
        if not mapping:
            return skip
        md = dict(mapping)

        def phys(c: str) -> str:
            head, dot, rest = c.partition(".")
            return md.get(head, head) + dot + rest

        return [(phys(c), op, val) for c, op, val in skip]

    # -- idempotent-writer (txnAppId/txnVersion) plumbing --------------------
    @staticmethod
    def _txn_of(app_id: str | None, version: int | None) -> tuple[str, int] | None:
        if (app_id is None) != (version is None):
            raise MergeError(
                "txn_app_id and txn_version must be given together"
            )
        return None if app_id is None else (app_id, int(version))

    @staticmethod
    def _txn_already_applied(m: dict, txn: tuple[str, int] | None) -> bool:
        """True when the commit log already records this application's
        transaction at ``txn[1]`` or later — the write is a redelivery
        (streaming batch replay after a restart) and must be skipped."""
        if txn is None:
            return False
        prev = m.get("txns", {}).get(txn[0])
        return prev is not None and prev >= txn[1]

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest transaction version committed for ``app_id`` (Delta's
        ``txnAppId``/``txnVersion`` idempotent-write protocol). A writer
        that stamps each commit with a monotonically increasing version
        can detect — across restarts AND across processes, because the
        map lives in the commit log itself — that a write it is about to
        retry already landed. This is what makes a blind-append
        streaming sink exactly-once: Structured Streaming redelivers a
        micro-batch whenever a crash falls between the sink write and
        the checkpoint write, and an append replay would double rows."""
        return self._manifest(self.current_version()).get("txns", {}).get(app_id)

    # -- public API --------------------------------------------------------
    def create(self, df: DataFrame, max_records_per_file: int | None = None) -> int:
        _reject_dotted(df.columns, "create")
        for f in df.schema.fields:  # nested fields collide the same way
            _reject_dotted(_dotted_nested_names(f.dataType, f.name + "."),
                           "create")
        files = self._stage_files(df, max_records_per_file)
        return self._commit(
            None, files, "create", {"files_written": len(files)},
            insert_files=files, schema_json=_schema_json_of(df.schema),
        )

    def append(
        self,
        df: DataFrame,
        max_records_per_file: int | None = None,
        max_rebase_attempts: int = 20,
        txn_app_id: str | None = None,
        txn_version: int | None = None,
        schema_evolution: bool = False,
    ) -> dict:
        """Blind append — the highest-volume write a 100 TB ingestion
        path runs, and the ONLY operation that can survive a lost commit
        race WITHOUT recomputing (Delta's AppendOnly non-conflict rule):
        an append reads nothing, so no concurrent winner can invalidate
        it. The rows are staged ONCE; losing the race re-reads the new
        head and re-commits the SAME staged files at the next version
        (a rebase, not a retry). Metadata changes by the winner are
        honored on rebase: new CHECK constraints re-validate the staged
        rows, and a schema evolution marks the commit mixed-schema so
        readers surface the evolved columns as NULLs for these files.
        The dataframe must carry every table column. Schema changes are
        gated on ``schema_evolution=True`` (Delta's append+mergeSchema):
        NEW source columns join the table schema in this commit
        (existing files surface them as NULL), and a safely WIDER
        incoming type (int→bigint, float→double, date→timestamp_ntz,
        decimal growth) WIDENS the table schema — carried narrow files
        read through the parquet reader's native promotion, zero
        rewrite. A NARROWER incoming column always upcasts silently
        (lossless, no schema change); anything else raises a named
        error.

        ``txn_app_id``/``txn_version`` (Delta's idempotent-write
        protocol): when given, a version already recorded for the app in
        the commit log skips the write entirely (``txn_skipped``) — the
        exactly-once guarantee a redelivering streaming sink needs,
        since a replayed blind append would otherwise double rows."""
        txn = self._txn_of(txn_app_id, txn_version)
        m = self._manifest(self.current_version())
        if self._txn_already_applied(m, txn):
            return {
                "rows_appended": 0,
                "version": m["version"],
                "txn_skipped": True,
            }
        tbl_schema = self._schema_or_read(m)
        table_cols = [f.name for f in tbl_schema.fields]
        lacking = sorted(set(table_cols) - set(df.columns))
        if lacking:
            raise MergeError(
                f"append schema mismatch: dataframe lacks table "
                f"column(s) {lacking}"
            )
        extra = [c for c in df.columns if c not in set(table_cols)]
        if extra and schema_evolution:
            _reject_dotted(extra, "append schema evolution")
            types_of = {f.name: f.dataType for f in df.schema.fields}
            for c in extra:
                _reject_dotted(
                    _dotted_nested_names(types_of[c], c + "."),
                    "append schema evolution",
                )
        if extra and not schema_evolution:
            raise MergeError(
                f"append schema mismatch: dataframe has new column(s) "
                f"{sorted(extra)} — pass schema_evolution=True to add "
                "them to the table"
            )
        # type alignment: a NARROWER incoming column upcasts silently; a
        # safely WIDER one widens the table (Delta type widening) but
        # ONLY under schema_evolution — silently widening on a default
        # append would let one misconfigured producer batch change the
        # table schema irreversibly (there is no narrow-back short of
        # restore) with no error at the point of cause. Incompatible
        # types always raise.
        df, _ = self._coerce_source(
            df,
            tbl_schema,
            "append",
            allow_widening=schema_evolution,
            widen_hint="pass schema_evolution=True to evolve the table",
        )  # the rebase loop derives the final schema from the staged types
        # NEW columns under a column mapping get physical names that
        # collide with no CURRENT or RETIRED physical (reuse would
        # resurrect a dropped column's data from carried files) — the
        # same rule merge's evolution applies. Identity tables keep
        # physical == logical. Chosen ONCE, at staging; the rebase loop
        # re-checks them against each winner's mapping.
        phys_of_extra = {c: c for c in extra}
        stage_mapping = m["column_mapping"]
        if extra and stage_mapping:
            taken = {p for _, p in stage_mapping} | set(m["retired_physical"])
            pairs = [list(p) for p in stage_mapping]
            for c in extra:
                phys = c if c not in taken else f"{c}__{uuid.uuid4().hex[:8]}"
                phys_of_extra[c] = phys
                pairs.append([c, phys])
                taken.add(phys)
            stage_mapping = pairs
        files, n_rows = self._stage_nonempty(
            df.select(*table_cols, *extra), max_records_per_file, stage_mapping
        )
        if not files:
            if txn is None:
                return {"rows_appended": 0, "version": m["version"]}
            # an EMPTY batch still records its txn version (Delta does
            # the same): otherwise a restart could replay a later,
            # non-empty batch out of order past the gap
        validated_against = m.get("constraints", {})
        self._check_constraints(
            files, validated_against, discard=files, mapping=m["column_mapping"]
        )
        staged_cols = set(df.columns)
        staged_types = {f.name: f.dataType for f in df.schema.fields}
        for attempt in range(max_rebase_attempts):
            cur_schema = self._schema_or_read(m)
            # schema union on rebase: a concurrent winner may itself have
            # evolved or widened columns — the staged files re-commit
            # under the common widened type (both generations of files
            # read through the parquet reader's native promotion). Types
            # that no longer reconcile abort cleanly.
            from pyspark.sql.types import StructField, StructType

            out_fields = []
            types_differ = False
            for f in cur_schema.fields:
                st = staged_types.get(f.name)
                common = (
                    f.dataType
                    if st is None or st == f.dataType
                    else _widened_common(f.dataType, st)
                )
                if common is None:
                    self._discard_staged(files)
                    raise MergeError(
                        f"append rebase: column '{f.name}' changed to "
                        f"{f.dataType.simpleString()} by a concurrent "
                        "writer, incompatible with the staged "
                        f"{st.simpleString()}"
                    )
                types_differ = types_differ or (st is not None and st != f.dataType)
                out_fields.append(StructField(f.name, common, True))
            cur_names = {f.name for f in cur_schema.fields}
            new_here = [c for c in extra if c not in cur_names]
            for c in new_here:  # evolution: our new columns join the schema
                out_fields.append(StructField(c, staged_types[c], True))
            out_schema = StructType(out_fields)
            # mapping reconciliation for evolved columns: a concurrent
            # winner may have added the same logical column under a
            # DIFFERENT physical name, or retired/claimed the physical
            # name we staged under — either would make the staged bytes
            # invisible or resurrect dropped data, so abort cleanly
            out_mapping_arg = None
            if extra:
                cur_map = {l: p for l, p in m["column_mapping"]}
                taken = set(cur_map.values()) | set(m["retired_physical"])
                bad = sorted(
                    c
                    for c in extra
                    if (c in cur_map and cur_map[c] != phys_of_extra[c])
                    or (c not in cur_map and phys_of_extra[c] in taken)
                )
                if bad:
                    self._discard_staged(files)
                    raise MergeError(
                        f"append rebase: new column(s) {bad} collide "
                        "with a concurrent writer's column mapping — "
                        "re-run the append against the new head"
                    )
                if new_here and m["column_mapping"]:
                    out_mapping_arg = [list(p) for p in m["column_mapping"]] + [
                        [c, phys_of_extra[c]] for c in new_here
                    ]
            cons = m.get("constraints", {})
            if cons != validated_against:
                # the winner changed table metadata — re-validate the
                # staged rows against the NEW constraint set, under the
                # unioned schema (an evolved column the staged files
                # lack reads as NULL, which passes 3VL; a widened one
                # reads through promotion)
                self._check_constraints(
                    files,
                    cons,
                    discard=files,
                    schema=out_schema,
                    mapping=out_mapping_arg or m["column_mapping"],
                )
                validated_against = cons
            cur_cols = {f.name for f in cur_schema.fields}
            now_mixed = (
                m["mixed_schema"]
                or not cur_cols.issubset(staged_cols)
                or types_differ
                or bool(new_here)
            )
            try:
                v = self._commit(
                    m,
                    m["files"] + files,
                    "append",
                    {"rows_appended": n_rows},
                    delete_files=m["delete_files"],
                    insert_files=files,
                    mixed_schema=now_mixed,
                    discard_on_conflict=False,
                    txn=txn,
                    schema_json=_schema_json_of(out_schema),
                    column_mapping=out_mapping_arg,
                )
                return {"rows_appended": n_rows, "version": v}
            except ConcurrentWriteError:
                if attempt == max_rebase_attempts - 1:
                    self._discard_staged(files)
                    raise
                _conflict_backoff(attempt)
                m = self._manifest(self.current_version())
                if self._txn_already_applied(m, txn):
                    # the winner was a TWIN of this writer (same app id,
                    # e.g. a zombie instance of the same stream) and it
                    # committed this very batch — drop our copy
                    self._discard_staged(files)
                    return {
                        "rows_appended": 0,
                        "version": m["version"],
                        "txn_skipped": True,
                    }
        raise AssertionError("unreachable")

    def version_at(self, timestamp: float) -> int:
        """``TIMESTAMP AS OF`` resolution: the latest version committed
        at or before ``timestamp`` (unix seconds). Commit times are
        monotone because versions are serialized by the commit protocol,
        so a binary search over the retained log costs O(log V) entry
        reads — never a full-history scan."""
        vs = self._versions()
        if not vs:
            raise MergeError(f"no committed version in {self.path}")

        def t_of(v: int) -> float:
            return self._read_json(self._log_path(v))["committed_at"]

        if timestamp < t_of(vs[0]):
            raise MergeError(
                "timestamp precedes the first retained commit "
                f"(v{vs[0]}) — older versions were vacuumed or never existed"
            )
        lo, hi = 0, len(vs) - 1
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if t_of(vs[mid]) <= timestamp:
                lo = mid
            else:
                hi = mid - 1
        return vs[lo]

    def _skip_literal(self, val):
        """Place a predicate literal on the manifest stats' comparison
        domain. Timestamps normalize to the naive-UTC timeline the stats
        are stored on: a NAIVE literal is interpreted in the Spark
        session time zone — exactly what ``F.lit`` does in the residual
        row filter, so the skip decision and the filter agree. Returns
        None when the literal can't be placed (unresolvable zone, NULL):
        the conjunct then filters rows but never skips files."""
        if val is None:
            return None
        if isinstance(val, _dt.datetime):
            if val.tzinfo is None:
                tz = self.spark.conf.get("spark.sql.session.timeZone", "UTC")
                try:
                    from zoneinfo import ZoneInfo

                    val = val.replace(tzinfo=ZoneInfo(tz))
                except Exception:
                    return None
            return val.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return val

    @staticmethod
    def _skip_literal_ntz(val):
        """TIMESTAMP_NTZ columns live on the WALL-CLOCK timeline — their
        footer stats are the literal wall-clock micros, no zone. A naive
        datetime literal is already on that timeline (no session-tz
        shift, unlike the instant-typed path); a zone-AWARE literal has
        no unambiguous wall-clock → never skips (residual still exact)."""
        if isinstance(val, _dt.datetime) and val.tzinfo is not None:
            return None
        return val

    def _predicate(self, where: list[tuple], schema=None):
        """Compile a ``(col, op, literal)`` conjunction into its two
        halves: the EXACT residual row filter (a Column) and the
        conservative skip-conjunct list `_file_can_match` consumes.
        Shared by ``_prune`` and merge's by-source clauses so every
        stats-pruned path applies the identical semantics.

        ``schema`` (the manifest's, when tracked) makes the compilation
        TYPE-AWARE for timestamp_ntz columns: their stats and values are
        wall-clock, so the skip literal must NOT be session-tz-shifted
        to UTC (that is correct only for instant-typed timestamps), and
        the residual literal round-trips lit→ntz so it compares as the
        same wall-clock value under ANY session time zone."""
        import functools
        import operator as pyop

        from pyspark.sql.types import TimestampNTZType

        from pyspark.sql.types import StructType

        def _leaf_type(path: str):
            """Resolve a (possibly dotted struct) path to its leaf type;
            None when the schema is untracked or the path doesn't
            resolve (then the conjunct just compiles type-unaware)."""
            if schema is None:
                return None
            t = schema
            for seg in path.split("."):
                if not isinstance(t, StructType):
                    return None
                try:
                    t = t[seg].dataType
                except KeyError:
                    return None
            return t

        ntz_cols = (
            {
                c
                for c, _op, _v in where
                if isinstance(_leaf_type(c), TimestampNTZType)
            }
            if schema is not None
            else set()
        )
        bad = sorted({op for _, op, _ in where} - _SKIP_OPS)
        if bad:
            raise MergeError(f"unsupported data-skipping operator(s): {bad}")
        skip = []
        for c, op, val in where:
            if op in ("isnull", "notnull"):
                skip.append((c, op, None))
                continue
            lit_of = (
                self._skip_literal_ntz if c in ntz_cols else self._skip_literal
            )
            if op == "in":
                norm = [lit_of(v) for v in val]
                if all(v is not None for v in norm):
                    skip.append((c, op, norm))
            else:
                norm = lit_of(val)
                if norm is not None:
                    skip.append((c, op, norm))
        op_fn = {"=": pyop.eq, "<": pyop.lt, "<=": pyop.le,
                 ">": pyop.gt, ">=": pyop.ge}

        def _lit(c, v):
            if c in ntz_cols and isinstance(v, _dt.datetime):
                if v.tzinfo is None:
                    # a NAIVE literal is already a wall-clock value: build
                    # a TIMESTAMP_NTZ literal directly. (lit(naive) would
                    # interpret it in the PYTHON PROCESS's zone and a
                    # later cast re-renders in the SESSION zone — two
                    # zones that need not agree.)
                    return F.expr(f"TIMESTAMP_NTZ '{v.isoformat(sep=' ')}'")
                # an AWARE literal is an instant; render its session-tz
                # wall clock (it never participates in skipping)
                return F.lit(v).cast("timestamp_ntz")
            return F.lit(v)

        def _residual_of(c, op, val):
            if op == "isnull":
                return F.col(c).isNull()
            if op == "notnull":
                return F.col(c).isNotNull()
            if op == "in":
                if not val:
                    return F.lit(False)
                return functools.reduce(
                    lambda a, b: a | b,
                    [F.col(c) == _lit(c, v) for v in val],
                ) if c in ntz_cols else F.col(c).isin(*val)
            return op_fn[op](F.col(c), _lit(c, val))

        residual = functools.reduce(
            lambda a, b: a & b,
            [_residual_of(c, op, val) for c, op, val in where],
        )
        return residual, skip

    def _prune(self, m: dict, condition) -> tuple[Column, list[str]]:
        """``condition`` as a row filter plus the files of ``m`` that may
        hold a match. The ``(col, op, literal)`` tuple form compiles
        through ``_predicate`` and drops files whose manifest stats rule
        it out; an opaque Column can't be introspected, so every file
        stays a candidate."""
        if not isinstance(condition, (list, tuple)):
            return condition, m["files"]
        residual, skip = self._predicate(list(condition), self._table_schema(m))
        # manifest stats are keyed by PHYSICAL column names (footer
        # truth) — a rename costs no stats: map the conjuncts over
        skip = self._physical_conjuncts(skip, m["column_mapping"])
        stats = m["file_stats"]
        return residual, [
            f for f in m["files"] if _file_can_match(stats.get(f), skip)
        ]

    def read(
        self,
        version: int | None = None,
        where: list[tuple] | None = None,
        as_of_timestamp: float | None = None,
    ) -> DataFrame:
        """Read a version. ``where`` — an optional conjunction of
        ``(column, op, literal)`` tuples, op in {=, <, <=, >, >=, in,
        isnull, notnull} (``in`` takes a list literal: the multi-tenant
        / blocked-topics predicate shape; the unary null ops take a
        None literal and skip on footer null counts — Delta nullCount) — turns on DATA SKIPPING: files whose manifest
        [min, max] stats
        cannot satisfy every conjunct are dropped from the scan WITHOUT
        opening them (Delta stats-based pruning / Iceberg manifest
        filtering). This is what makes ``compact(sort_col=...)`` and
        Z-order pay off at the FILE level: after clustering, a narrow
        range predicate opens a handful of files out of thousands. The
        predicate is ALSO applied as a residual row filter, so results
        are exact whatever the stats coverage (columns without stats
        simply never skip). ``as_of_timestamp`` (unix seconds) reads the
        snapshot current at that moment — ``TIMESTAMP AS OF``."""
        if as_of_timestamp is not None:
            if version is not None:
                raise MergeError("pass version OR as_of_timestamp, not both")
            version = self.version_at(as_of_timestamp)
        v = self.current_version() if version is None else version
        m = self._manifest(v)
        files = m["files"]
        if not files:
            raise MergeError(f"version {v} has no files")
        mapping = m["column_mapping"]
        residual = None
        if where:
            residual, files = self._prune(m, where)
        if not files:  # every file skipped: empty result, correct schema
            return self.spark.createDataFrame([], self._schema_or_read(m))
        ts = self._table_schema(m)
        if not m["delete_files"]:
            df = self._read_data(files, m["mixed_schema"], schema=ts,
                                 mapping=mapping)
        else:
            cols = (
                ts.fieldNames()
                if ts is not None
                else self._read_data(
                    files, m["mixed_schema"], mapping=mapping
                ).columns
            )
            df = self._scan(m, files, schema=ts).select(*cols)
        return df.filter(residual) if residual is not None else df

    def history(self) -> list[dict]:
        return [self._manifest(v) for v in self._versions()]

    def delete_where(
        self,
        condition,
        txn_app_id: str | None = None,
        txn_version: int | None = None,
    ) -> dict:
        """Merge-on-read DELETE: append a position-delete file instead of
        rewriting data. One pruned scan finds victim rows (with any
        pending deletes already applied, so a row can't be deleted
        twice); their ``(file_path, row_index)`` pairs become the new
        deletion-vector entries and their column values become the CDF
        ``delete`` change rows. Data files are untouched — at 100 TB a
        small delete costs KBs, and readers pay one broadcast anti-join
        until ``compact()`` purges.

        ``condition``: a boolean Column, or a list of ``(col, op,
        literal)`` tuples (the ``read(where=...)`` shape). The tuple
        form additionally DATA-SKIPS the victim scan: files whose
        manifest stats cannot contain a match are never opened, so the
        retention/GDPR shape — delete one day from a date-clustered
        table — scans that day's files, not the table. An opaque Column
        can't be introspected, so it scans everything (Delta derives
        the same pruning from the expression tree).

        ``txn_app_id``/``txn_version``: idempotent-writer stamp — an
        already-recorded version makes this a no-op (``txn_skipped``)."""
        txn = self._txn_of(txn_app_id, txn_version)
        m = self._manifest(self.current_version())
        if self._txn_already_applied(m, txn):
            return {"version": m["version"], "txn_skipped": True}
        condition, scanned = self._prune(m, condition)
        stats = {"rows_deleted": 0, "files_scanned": len(scanned)}
        dels, change_files = m["delete_files"], []
        if scanned:
            live = self._scan(m, scanned, schema=self._schema_or_read(m))
            data_cols = [c for c in live.columns if c not in ("_file", "_pos")]
            # one pass over the table: victims (data cols + position) are
            # materialized in executor memory+disk and the two derived
            # artifacts below stream straight from the checkpoint. The
            # victim count rides the same pass as an Observation metric,
            # so no separate count job runs.
            from pyspark.sql import Observation

            obs = Observation()
            victims = (
                live.filter(condition)
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            n_victims = stats["rows_deleted"] = int(obs.get["n"])
            if n_victims:
                # the writer task counts are proportional to the exact
                # victim count, so a delete matching a large fraction of
                # the table never pushes its rows through a single task
                n_del = max(1, -(-n_victims // self.DELETE_ROWS_PER_FILE))
                entry_path = os.path.join(
                    self.path, f"_deletes/del-{uuid.uuid4().hex[:12]}"
                )
                victims.select(
                    F.col("_file").alias("file_path"),
                    F.col("_pos").alias("row_index"),
                ).coalesce(n_del).write.mode("overwrite").parquet(entry_path)
                n_chg = max(1, -(-n_victims // self.CHANGE_ROWS_PER_FILE))
                change_path = self._change_dir()
                victims.select(*data_cols).withColumn(
                    CHANGE_TYPE, F.lit("delete")
                ).coalesce(n_chg).write.mode("overwrite").parquet(change_path)
                dels = dels + _parquet_parts(entry_path)
                change_files = _parquet_parts(change_path)
                stats["delete_files_total"] = len(dels)
        stats["version"] = self._commit(
            m, m["files"], "delete", stats,
            delete_files=dels, change_files=change_files,
            mixed_schema=m["mixed_schema"], txn=txn,
        )
        return stats

    def cdf_data_schema(
        self, from_version: int = 0, to_version: int | None = None
    ):
        """The DATA columns of the change feed over ``[from_version,
        to_version]``: the end version's logical columns, with each
        column's type widened over every schema the range's change and
        insert files were actually written at — each version's recorded
        table schema, plus its ``cdf_schema_json`` where the commit's
        change files deliberately differ (a RESTORE past a type widening
        writes its delete rows WIDE while reverting the table schema to
        narrow). Every input lives in the range itself, so vacuuming
        versions before ``from_version`` can never narrow the fold. Pass
        the result through ``changes_schema_of`` for the schema a CDF
        spool stream reader needs."""
        from pyspark.sql.types import StructField, StructType

        to_v = self.current_version() if to_version is None else to_version
        end_schema = self.read(to_v).schema
        types = {f.name: f.dataType for f in end_schema.fields}
        for v in range(from_version, to_v + 1):
            try:
                m = self._manifest(v)
            except (MergeError, FileNotFoundError):
                continue  # vacuumed — its change files are unreadable anyway
            for sj in (m.get("schema_json"), m.get("cdf_schema_json")):
                if not sj:
                    continue
                for f in _schema_from_json(sj).fields:
                    cur_t = types.get(f.name)
                    if cur_t is None or f.dataType == cur_t:
                        continue
                    w = _widened_common(cur_t, f.dataType)
                    if w is not None:
                        types[f.name] = w
        return StructType(
            [StructField(f.name, types[f.name], True) for f in end_schema.fields]
        )

    def read_changes(
        self, from_version: int = 0, to_version: int | None = None
    ) -> DataFrame:
        """Change data feed: row-level changes committed in
        ``[from_version, to_version]``, with ``_change_type`` in
        {insert, update_preimage, update_postimage, delete} and
        ``_commit_version``. Inserts are derived by REFERENCE from the
        commit's freshly-added data files (no change rows were written
        for them — Delta's insert-only optimization); updates/deletes
        come from the explicit change files. Replaying the feed over the
        starting snapshot reconstructs the ending snapshot."""
        spark = self.spark
        to_v = self.current_version() if to_version is None else to_version
        data_schema = self.cdf_data_schema(from_version, to_v)
        cols = [f.name for f in data_schema.fields]
        types = {f.name: f.dataType for f in data_schema.fields}
        end_md = dict(self._manifest(to_v)["column_mapping"])

        def _pad(df: DataFrame, v_map: list, physical_names: bool) -> DataFrame:
            # files written before a schema evolution lack the new
            # columns — surface them as typed NULLs like Delta CDF does.
            # Across a RENAME the bridge is the stable PHYSICAL name:
            # insert files carry physical columns directly; change files
            # carry the LOGICAL names current at their commit, which map
            # to the same physical identity via that version's mapping.
            # The conform to the END schema's type is what lets files
            # from before a type WIDENING union with post-widening parts
            # — via _conform_expr, not a bare cast: a struct that gained
            # a nested field after this file was written has a different
            # arity, which Spark's positional struct-cast rejects, while
            # the by-name rebuild fills the missing field with NULL.
            v_inv = {p: l for l, p in v_map}
            file_types = {f.name: f.dataType for f in df.schema.fields}
            outs = []
            for c in cols:
                p = end_md.get(c, c)
                srcn = p if physical_names else v_inv.get(p, p)
                outs.append(
                    _conform_expr(df[srcn], file_types[srcn], types[c]).alias(c)
                    if srcn in df.columns
                    else F.lit(None).cast(types[c]).alias(c)
                )
            return df.select(
                *outs,
                *([df[CHANGE_TYPE]] if CHANGE_TYPE in df.columns else []),
            )

        parts: list[DataFrame] = []
        for v in range(from_version, to_v + 1):
            m = self._manifest(v)
            v_map = m["column_mapping"]
            ins = m["insert_files"]
            if ins:
                parts.append(
                    _pad(spark.read.parquet(*ins), v_map, physical_names=True)
                    .withColumn(CHANGE_TYPE, F.lit("insert"))
                    .withColumn(COMMIT_VERSION, F.lit(v))
                )
            chg = m["change_files"]
            if chg:
                parts.append(
                    _pad(spark.read.parquet(*chg), v_map, physical_names=False)
                    .withColumn(COMMIT_VERSION, F.lit(v))
                )
        if not parts:
            return spark.createDataFrame([], changes_schema_of(data_schema))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        when_matched_update: dict[str, Column] | None = None,
        when_matched_delete: Column | None = None,
        insert_not_matched: bool = True,
        max_records_per_file: int | None = None,
        schema_evolution: bool = False,
        when_matched_update_condition: Column | None = None,
        insert_condition: Column | None = None,
        when_not_matched_insert: dict[str, Column] | None = None,
        when_not_matched_by_source_update: dict[str, Column] | None = None,
        when_not_matched_by_source_update_condition: Column | list | None = None,
        when_not_matched_by_source_delete: Column | list | None = None,
        txn_app_id: str | None = None,
        txn_version: int | None = None,
    ) -> dict:
        """MERGE ``source`` into the table on equality of ``on`` keys.

        Order of clauses (Delta semantics): a matched row first checks
        ``when_matched_delete`` (a boolean Column; source columns via the
        module's ``src("name")`` helper); if it doesn't fire,
        ``when_matched_update`` applies (mapping of target column ->
        Column over target cols and ``src("name")`` source refs),
        gated by ``when_matched_update_condition`` when given (Delta's
        ``WHEN MATCHED AND cond THEN UPDATE`` — a matched row failing the
        condition carries unchanged); unmatched source rows insert when
        ``insert_not_matched``, optionally filtered by
        ``insert_condition`` (``WHEN NOT MATCHED AND cond``) and
        value-mapped by ``when_not_matched_insert`` (``THEN INSERT
        (...)``) — both evaluate over the PLAIN source columns (no
        ``src()`` prefix): insert clauses see the source relation itself,
        not a join. Returns commit stats.

        ``WHEN NOT MATCHED BY SOURCE`` (Delta's third clause family —
        the sync-from-snapshot / retention shape): TARGET rows with no
        source match first check ``when_not_matched_by_source_delete``
        (a boolean condition over TARGET columns only — ``F.lit(True)``
        deletes every unmatched target row, the full-snapshot sync);
        survivors with ``when_not_matched_by_source_update`` apply the
        mapping (target-column expressions only), gated by
        ``when_not_matched_by_source_update_condition``. Source columns
        are rejected at analysis time (Delta's rule — they are
        definitionally NULL for these rows). Both conditions also
        accept the ``(col, op, literal)`` tuple-conjunction shape
        (``delete_where``'s): the tuple form DATA-SKIPS the victim
        scan — files whose manifest stats cannot contain a firing row
        are never opened, so a retention merge over a date-clustered
        100 TB table opens the stale slice, not the table. An opaque
        Column (or an unconditional clause) scans every candidate file
        once, key-columns-only, to find the files that actually need
        rewriting. CDF: by-source deletes emit ``delete`` rows,
        by-source updates pre/post-image pairs, same as matched.

        ``schema_evolution`` (Delta ``autoMerge``): source columns absent
        from the table become new table columns — rewritten/inserted
        rows carry them (matched rows take the value only if the update
        clause sets it), carried files surface them as NULL via parquet
        schema merging until ``compact()`` rewrites uniformly. With the
        flag off (default), extra source columns are clause inputs only
        and never change the table schema. The flag ALSO gates type
        WIDENING (Delta's type-widening feature): a source column safely
        wider than the table's (int→bigint, float→double,
        date→timestamp_ntz, decimal growth) widens the table schema in
        the same commit — carried narrow files read through the parquet
        reader's native promotion, zero rewrite. A NARROWER source
        column upcasts silently with or without the flag (lossless).

        Join strategy: one pass over the source both rejects duplicate
        keys AND counts them; the source side broadcasts only when that
        exact count is under ``BROADCAST_MAX_SOURCE_ROWS``, else every
        source-side join sort-merges. The insert anti-join's target-key
        side likewise sort-merges once the manifest's exact
        ``rows_total`` says the table is too big to broadcast — Catalyst
        static estimates make neither call reliably.

        ``txn_app_id``/``txn_version``: idempotent-writer stamp (Delta
        txnAppId/txnVersion) — a version already recorded for the app in
        the commit log makes this call a no-op (``txn_skipped``), which
        is what lets a redelivered streaming micro-batch skip the whole
        pruning/rewrite pipeline instead of re-running it.
        """
        spark = self.spark
        txn = self._txn_of(txn_app_id, txn_version)
        m = self._manifest(self.current_version())
        if self._txn_already_applied(m, txn):
            # idempotent-writer skip (Delta txnAppId/txnVersion): this
            # application already committed this transaction — a
            # streaming-batch redelivery, not new work
            return {"version": m["version"], "txn_skipped": True}
        all_files = m["files"]
        mapping = m["column_mapping"]
        tgt_schema = self._schema_or_read(m)
        # type alignment FIRST — before any join can hit Spark's implicit
        # (and for string-vs-number, runtime-exploding) cast: narrower
        # source columns upcast silently; a safely WIDER source column
        # widens the table schema — gated on schema_evolution like added
        # columns (Delta type widening). Touched files are scanned
        # directly AT the widened schema (the parquet reader's native
        # promotion), so the rewrite and the inserts come out uniformly
        # wide; carried files stay narrow and promote at read time —
        # zero rewrite beyond the touched set.
        source, widen = self._coerce_source(
            source,
            tgt_schema,
            "merge",
            allow_widening=schema_evolution,
            widen_hint="pass schema_evolution=True to evolve the table",
        )
        read_schema = self._widen_schema(tgt_schema, widen)

        # 1) one aggregate pass over the source: the duplicate-key guard
        # (Delta raises on multi-match) and the exact key count that
        # drives the broadcast decision.
        key_stats = (
            source.groupBy(*on)
            .agg(F.count(F.lit(1)).alias("_n"))
            .agg(F.max("_n").alias("max_dup"), F.count(F.lit(1)).alias("n_keys"))
            .first()
        )
        if (key_stats["max_dup"] or 0) > 1:
            raise MergeError(
                "source has duplicate merge keys — MERGE would be ambiguous"
            )
        n_src_keys = key_stats["n_keys"] or 0
        small_src = n_src_keys <= self.BROADCAST_MAX_SOURCE_ROWS

        # -- WHEN NOT MATCHED BY SOURCE prep ------------------------------
        # an EMPTY update mapping normalizes to absent, matching the
        # matched family's {}-is-a-no-op semantics — otherwise {} would
        # mark every unmatched file a victim and identity-rewrite it
        bs_update = when_not_matched_by_source_update or None
        bs_delete = when_not_matched_by_source_delete
        bs_upd_cond = when_not_matched_by_source_update_condition
        by_source = bs_update is not None or bs_delete is not None
        if bs_upd_cond is not None and bs_update is None:
            raise MergeError(
                "merge: when_not_matched_by_source_update_condition given "
                "without when_not_matched_by_source_update"
            )
        # tuple-conjunction conditions compile to (residual, skip) like
        # delete_where: the residual is the exact row filter, the skip
        # conjuncts prune the victim scan's candidate files by stats.
        # An opaque Column (or an unconditional update clause) can't be
        # introspected, so that clause's candidates are ALL files.
        bs_prunable = by_source
        bs_skip_lists: list[list] = []
        if bs_delete is not None:
            if isinstance(bs_delete, (list, tuple)):
                bs_delete, _skip = self._predicate(
                    list(bs_delete), self._table_schema(m)
                )
                bs_skip_lists.append(_skip)
            else:
                bs_prunable = False
        if bs_update is not None:
            if isinstance(bs_upd_cond, (list, tuple)):
                bs_upd_cond, _skip = self._predicate(
                    list(bs_upd_cond), self._table_schema(m)
                )
                bs_skip_lists.append(_skip)
            else:
                bs_prunable = False
        if by_source:
            # Delta's rule: by-source clauses see EXISTING TARGET
            # columns only (source columns are definitionally NULL for
            # these rows, and evolution-added columns don't exist on the
            # target yet — they may be ASSIGNED to, but not read) —
            # enforced at analysis time against a schema-only frame, so
            # a src() or new-column reference fails loudly here instead
            # of crashing the victim scan or rewrite mid-merge.
            bs_scope = spark.createDataFrame([], read_schema)
            _bs_exprs = [
                ("when_not_matched_by_source_update", e)
                for e in (bs_update or {}).values()
            ]
            if bs_delete is not None:
                _bs_exprs.append(("when_not_matched_by_source_delete", bs_delete))
            if bs_upd_cond is not None:
                _bs_exprs.append(
                    ("when_not_matched_by_source_update_condition", bs_upd_cond)
                )
            for _label, _e in _bs_exprs:
                try:
                    bs_scope.select(_e)
                except Exception as exc:
                    raise MergeError(
                        f"merge: {_label} must reference existing target "
                        "columns only — source columns are NULL for rows "
                        "with no source match (Delta's rule), and "
                        "evolution-added columns can be assigned but not "
                        f"read by by-source clauses: {exc}"
                    ) from None

        # 2) file pruning: which data files contain matched LIVE keys?
        # Reads only the key columns (+ hidden position cols); pending
        # deletion vectors are applied so a MoR-deleted row can't match.
        # A merge with NO matched clause skips this pass entirely — its
        # matched rows carry unchanged, so rewriting their files would
        # be an identity rewrite (the by-source-delete-only sync shape
        # must not rewrite the matched bulk of the table).
        abs_to_orig = {os.path.abspath(f): f for f in all_files}
        live = self._live_scan(m)
        if when_matched_update or when_matched_delete is not None:
            touched = sorted(
                abs_to_orig.get(r["_file"], r["_file"])
                for r in self._pruning_df(live, source, on, small_src).collect()
            )
        else:
            touched = []

        # 2b) by-source victim detection: files holding a LIVE target
        # row with no source match that fires a by-source clause.
        # Stats-level first (tuple conditions skip files like
        # delete_where), then one row-level pass over the survivors —
        # Catalyst prunes its ReadSchema to key + condition columns,
        # since only `_file` is selected.
        if by_source:
            if bs_prunable:
                fstats = m["file_stats"]
                cand: list[str] = []
                for f in all_files:
                    if any(
                        _file_can_match(
                            fstats.get(f),
                            self._physical_conjuncts(s, mapping),
                        )
                        for s in bs_skip_lists
                    ):
                        cand.append(f)
            else:
                cand = list(all_files)
            stats_bs_candidates = len(cand)
            _touched_set = set(touched)
            cand = [f for f in cand if f not in _touched_set]
            if cand:
                fire_parts = []
                if bs_delete is not None:
                    fire_parts.append(F.coalesce(bs_delete, F.lit(False)))
                if bs_update is not None:
                    fire_parts.append(
                        F.coalesce(bs_upd_cond, F.lit(False))
                        if bs_upd_cond is not None
                        else F.lit(True)
                    )
                fire_any = fire_parts[0]
                for p in fire_parts[1:]:
                    fire_any = fire_any | p
                bs_live = self._scan(m, cand, schema=read_schema)
                src_keys = source.select(*on)
                key_side = (
                    F.broadcast(src_keys) if small_src else src_keys.hint("merge")
                )
                bs_victim_files = sorted(
                    abs_to_orig.get(r["_file"], r["_file"])
                    for r in bs_live.join(key_side, on, "anti")
                    .filter(fire_any)
                    .select("_file")
                    .distinct()
                    .collect()
                )
                touched = sorted(set(touched) | set(bs_victim_files))
        untouched = [f for f in all_files if f not in set(touched)]

        # 3) deletion-vector carry across the partial rewrite
        carried_dels = self._carry_delete_files(m, touched, untouched)

        # 4) row-level merge over ONLY the touched files
        stats = {
            "files_total": len(all_files),
            "files_touched": len(touched),
            "files_carried": len(untouched),
        }
        if by_source:
            # victim-scan pruning observability: how many files the
            # stats-level cut left for the row-level detection pass
            stats["files_by_source_candidates"] = stats_bs_candidates
        new_files: list[str] = list(untouched)
        target_cols = [f.name for f in read_schema.fields]
        tgt_types = {f.name: f.dataType for f in read_schema.fields}
        # schema evolution: extra source columns become table columns;
        # otherwise they are clause inputs only
        new_cols = (
            [c for c in source.columns if c not in target_cols]
            if schema_evolution
            else []
        )
        _reject_dotted(new_cols, "merge schema evolution")
        src_types = {f.name: f.dataType for f in source.schema.fields}
        for c in new_cols:
            _reject_dotted(
                _dotted_nested_names(src_types[c], c + "."),
                "merge schema evolution",
            )
        out_target_cols = target_cols + new_cols
        now_mixed = m["mixed_schema"] or (
            (bool(new_cols) or bool(widen)) and bool(untouched)
        )
        # a literal marker column decides matched-ness after the left
        # join: NULL only for unmatched target rows, independent of any
        # NULLs inside composite source key values
        src_aliased = source.select(
            *[F.col(c).alias(f"_src_{c}") for c in source.columns],
            F.lit(True).alias("_src__matched"),
        )
        # plain (null-unsafe) equality — Delta's ON semantics, and the
        # SAME predicate the pruning semi-join and insert anti-join use,
        # so a (1, NULL) composite key can never be updated by one join
        # and re-inserted by the other
        join_cond = [F.col(k) == F.col(f"_src_{k}") for k in on]

        # schema evolution under a column mapping: each new logical
        # column gets a physical name that never collides with any
        # CURRENT or RETIRED physical name (reuse would resurrect the
        # dropped column's old data from carried files)
        out_mapping = mapping
        if new_cols and mapping:
            taken = {p for _, p in mapping} | set(m["retired_physical"])
            pairs = list(mapping)
            for c in new_cols:
                phys = c if c not in taken else f"{c}__{uuid.uuid4().hex[:8]}"
                pairs.append([c, phys])
                taken.add(phys)
            out_mapping = pairs

        change_files: list[str] = []
        if touched:
            # explicit FULL logical schema: the touched SUBSET may consist
            # entirely of pre-evolution files whose merged footer schema
            # under-covers — absent columns surface as typed NULLs
            tgt = self._scan(m, touched, schema=read_schema).select(*target_cols)
            src_side = (
                F.broadcast(src_aliased) if small_src else src_aliased.hint("merge")
            )
            # ONE computed pass over touched ⋈ source: the rewrite
            # write, the CDF delete/update extracts, the CDF counts and
            # the insert anti-join's matched-key set all consume this
            # frame — previously each re-scanned the touched files and
            # re-ran the join (three scan+join passes per MERGE; guide
            # §1.2 step 1 / §5: reuse beats recompute when the reused
            # frame is delta-proportional, which the touched set is by
            # construction). The consumers are SEQUENTIAL actions, so a
            # lazy persist is populated by the first one (the rewrite
            # write) with no extra materialization job; unpersisted
            # after the commit below.
            joined = _op_cache.track(
                tgt.join(src_side, join_cond, "left").persist()
            )
            matched = F.col("_src__matched").isNotNull()
            # delete clause under SQL three-valued logic: a condition
            # evaluating to NULL must NOT fire (otherwise the row would
            # silently vanish from the rewrite with no CDF delete row) —
            # fold NULL to FALSE once and use the same expression for
            # both the keep-filter and the change rows
            del_fires = (
                matched & F.coalesce(when_matched_delete, F.lit(False))
                if when_matched_delete is not None
                else F.lit(False)
            )
            # by-source clauses: TARGET rows the join left unmatched.
            # Delete first, then update — mirroring the matched family's
            # clause order; both fold NULL conditions to FALSE.
            bs_del_fires = (
                ~matched & F.coalesce(bs_delete, F.lit(False))
                if bs_delete is not None
                else F.lit(False)
            )
            keep = ~del_fires & ~bs_del_fires
            # conditional update: WHEN MATCHED [AND cond] THEN UPDATE —
            # a matched row failing the condition carries unchanged
            upd_fires = (
                matched & F.coalesce(when_matched_update_condition, F.lit(False))
                if when_matched_update_condition is not None
                else matched
            )
            bs_upd_fires = (
                ~matched
                & (
                    F.coalesce(bs_upd_cond, F.lit(False))
                    if bs_upd_cond is not None
                    else F.lit(True)
                )
                if bs_update is not None
                else F.lit(False)
            )
            # every update expression CASTS to its column's (possibly
            # widened) type — Delta's ANSI store-assignment: without it
            # an expression of wider type (src(v) + lit(100.0) on a
            # float column) would stage files wider than the recorded
            # schema and poison every later read; an unsafe narrowing
            # fails loudly at runtime under ANSI instead of silently
            out_cols = []
            for c in target_cols:
                upd = (when_matched_update or {}).get(c)
                bs_upd = (bs_update or {}).get(c)
                if upd is None and bs_upd is None:
                    out_cols.append(F.col(c))
                    continue
                w = None
                if upd is not None:
                    w = F.when(
                        upd_fires,
                        _store_assign_expr(
                            joined, upd, tgt_types[c], "merge", c,
                            allow_missing=schema_evolution,
                        ),
                    )
                if bs_upd is not None:
                    bexpr = _store_assign_expr(
                        joined, bs_upd, tgt_types[c], "merge", c,
                        allow_missing=schema_evolution,
                    )
                    w = (
                        w.when(bs_upd_fires, bexpr)
                        if w is not None
                        else F.when(bs_upd_fires, bexpr)
                    )
                out_cols.append(w.otherwise(F.col(c)).alias(c))
            for c in new_cols:
                upd = (when_matched_update or {}).get(c)
                bs_upd = (bs_update or {}).get(c)
                null = F.lit(None).cast(src_types[c])
                w = None
                if upd is not None:
                    w = F.when(
                        upd_fires,
                        _store_assign_expr(
                            joined, upd, src_types[c], "merge", c,
                            allow_missing=schema_evolution,
                        ),
                    )
                if bs_upd is not None:
                    bexpr = _store_assign_expr(
                        joined, bs_upd, src_types[c], "merge", c,
                        allow_missing=schema_evolution,
                    )
                    w = (
                        w.when(bs_upd_fires, bexpr)
                        if w is not None
                        else F.when(bs_upd_fires, bexpr)
                    )
                out_cols.append(
                    (w.otherwise(null) if w is not None else null).alias(c)
                )
            rewritten = joined.filter(keep).select(*out_cols)
            new_files += self._stage_files(
                rewritten, max_records_per_file, mapping=out_mapping
            )

            # CDF: update/delete change rows from the SAME pruned join —
            # touched files only, so the extra passes never scan the
            # carried bulk of the table.
            pieces: list[DataFrame] = []
            if when_matched_delete is not None or bs_delete is not None:
                pieces.append(
                    joined.filter(del_fires | bs_del_fires)
                    .select(*target_cols)
                    .withColumn(CHANGE_TYPE, F.lit("delete"))
                )
            if when_matched_update or bs_update:
                # change rows only for rows an update actually touched —
                # matched and by-source fire conditions are disjoint
                # (matched vs not), so one filtered pass covers both
                m_upd = upd_fires if when_matched_update else F.lit(False)
                b_upd = bs_upd_fires if bs_update else F.lit(False)
                upd_rows = joined.filter((m_upd | b_upd) & keep)
                pieces.append(
                    upd_rows.select(*target_cols)
                    .withColumn(CHANGE_TYPE, F.lit("update_preimage"))
                )
                pieces.append(
                    upd_rows.select(*out_cols)
                    .withColumn(CHANGE_TYPE, F.lit("update_postimage"))
                )
            if pieces:
                chg = pieces[0]
                for p in pieces[1:]:
                    # pre-images keep the pre-evolution schema; missing
                    # new columns become NULL in the change file
                    chg = chg.unionByName(p, allowMissingColumns=True)
                # counts ride the change-file write as Observation
                # metrics (a CollectMetrics node on the write plan):
                # ONE pass over the delta-sized change frame produces
                # both the files and the per-type counts, where the old
                # shape paid a separate groupBy+collect job first. A
                # no-op merge (stats-level pruning false positive, no
                # clause fired) leaves an empty dir that is removed and
                # never referenced — the update_where pattern.
                from pyspark.sql import Observation

                obs = Observation()
                chg = chg.observe(
                    obs,
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum(
                        F.when(
                            F.col(CHANGE_TYPE) == "update_postimage", 1
                        ).otherwise(0)
                    ).alias("n_upd"),
                    F.sum(
                        F.when(F.col(CHANGE_TYPE) == "delete", 1).otherwise(0)
                    ).alias("n_del"),
                )
                chg_dir = self._change_dir()
                chg.write.mode("overwrite").parquet(chg_dir)
                got = obs.get
                stats["rows_updated"] = int(got["n_upd"] or 0)
                stats["rows_deleted"] = int(got["n_del"] or 0)
                if got["n_rows"]:
                    change_files = _parquet_parts(chg_dir)
                else:
                    shutil.rmtree(chg_dir, ignore_errors=True)

        # 5) inserts: source rows matching NO live target key anywhere
        # (a MoR-deleted key is insertable again)
        insert_files: list[str] = []
        if insert_not_matched:
            if when_matched_update or when_matched_delete is not None:
                # the matched-pruning pass already proved every matched
                # live key lives in a touched file (same null-unsafe join
                # predicate), so "source rows matching no live key" ==
                # "source rows unmatched in the materialized touched
                # join": anti-join against the delta-proportional matched
                # key set instead of re-scanning EVERY live file's keys —
                # at 100 TB that replaces a full-table key scan with a
                # delta-sized one. With no touched files there are no
                # matched keys anywhere and every source row inserts.
                if touched:
                    matched_keys = (
                        joined.filter(F.col("_src__matched").isNotNull())
                        .select(*on)
                        .dropDuplicates(on)
                    )
                    key_side = (
                        F.broadcast(matched_keys)
                        if small_src
                        else matched_keys.hint("merge")
                    )
                    unmatched = source.join(key_side, on, "anti")
                else:
                    unmatched = source
            else:
                # no matched clause ⇒ no pruning pass ran; fall back to
                # the full live-key anti-join
                live_keys = live.select(*on).dropDuplicates(on)
                if m["rows_total"] > self.BROADCAST_MAX_SOURCE_ROWS:
                    # the manifest KNOWS the table is too big to
                    # broadcast — don't let a Catalyst misestimate hand
                    # it to the driver
                    live_keys = live_keys.hint("merge")
                unmatched = source.join(live_keys, on, "anti")
            if insert_condition is not None:
                unmatched = unmatched.filter(insert_condition)
            ins_map = when_not_matched_insert or {}

            def _ins_col(c: str) -> Column:
                col_t = tgt_types.get(c) or src_types[c]
                if c in ins_map:
                    # store-assignment: the insert expression's type must
                    # not drift the staged files from the schema; nested
                    # shapes assign BY NAME (_store_assign_expr)
                    return _store_assign_expr(
                        unmatched, ins_map[c], col_t, "merge insert", c,
                        allow_missing=schema_evolution,
                    ).alias(c)
                if c in source.columns:
                    return F.col(c)
                # typed null, not NullType — parquet can't store void
                return F.lit(None).cast(col_t).alias(c)

            inserts = unmatched.select(*[_ins_col(c) for c in out_target_cols])
            # single pass: stage the anti-join result directly; the row
            # count comes from the written footers
            insert_files, stats["rows_inserted"] = self._stage_nonempty(
                inserts, max_records_per_file, out_mapping
            )
            new_files += insert_files

        if new_cols:
            stats["columns_added"] = new_cols
        if widen:
            stats["columns_widened"] = {
                c: t.simpleString() for c, t in sorted(widen.items())
            }
        from pyspark.sql.types import StructField, StructType

        out_schema = StructType(
            list(read_schema.fields)
            + [StructField(c, src_types[c], True) for c in new_cols]
        )
        self._commit_rewrite(
            m, "merge", stats, new_files, untouched, carried_dels, change_files,
            mapping=out_mapping,
            insert_files=insert_files,
            mixed_schema=now_mixed,
            txn=txn,
            schema_json=_schema_json_of(out_schema),
        )
        if touched:
            # prompt release (tracked as a safety net for error paths)
            joined.unpersist()
        return stats

    def overwrite_where(
        self,
        condition: Column | list,
        replacement: DataFrame,
        max_records_per_file: int | None = None,
        txn_app_id: str | None = None,
        txn_version: int | None = None,
    ) -> dict:
        """Transactional partial overwrite (Delta ``replaceWhere`` /
        dynamic partition overwrite): atomically replace exactly the rows
        matching ``condition`` with ``replacement`` in ONE commit —
        readers see either the old state or the new, never the gap a
        delete-then-append pair would expose.

        Files with no matching row carry by reference (same pruning as
        MERGE); files that match are rewritten without their victims;
        ``replacement`` stages as new files. Rows of ``replacement``
        where the condition is not TRUE — including NULL under SQL
        three-valued logic — are rejected (Delta's constraint check):
        otherwise "replace yesterday's partition" could silently write
        rows a later overwrite of the same predicate would never see.
        CDF: removed rows are ``delete`` changes, the replacement is an
        insert-by-reference.

        ``condition`` may also be a list of ``(col, op, literal)``
        tuples (the ``read(where=...)`` shape): the tuple form DATA-
        SKIPS the touched-file detection scan — replacing one partition
        slice of a clustered 100 TB table opens that slice's files, not
        the table. ``txn_app_id``/``txn_version``: idempotent-writer
        stamp — what makes a foreachBatch partition-overwrite sink (the
        streaming replaceWhere pattern) exactly-once."""
        txn = self._txn_of(txn_app_id, txn_version)
        m = self._manifest(self.current_version())
        if self._txn_already_applied(m, txn):
            return {"version": m["version"], "txn_skipped": True}
        condition, scanned = self._prune(m, condition)
        # three-valued logic: rows where the condition evaluates to NULL
        # neither match the predicate nor may they sneak in as
        # replacements — fold NULL to FALSE once and use it everywhere
        cond_true = F.coalesce(condition, F.lit(False))

        full_schema = self._schema_or_read(m)
        target_cols = [f.name for f in full_schema.fields]
        # narrower replacement columns upcast to the table type; wider or
        # incompatible ones raise (overwrite replaces rows, not schema —
        # widen via merge/append first)
        replacement, _ = self._coerce_source(
            replacement,
            full_schema,
            "overwrite_where",
            allow_widening=False,
            widen_hint="widen the table via merge(schema_evolution=True) "
            "or append first",
            missing_hint="stage the replacement with every nested field "
            "present (overwrite_where has no NULL-fill opt-in)",
        )
        bad = replacement.filter(~cond_true).limit(1).count()
        if bad:
            raise MergeError(
                "replacement rows must satisfy the overwrite condition"
            )

        touched = self._touched(m, scanned, cond_true, full_schema)
        untouched = [f for f in m["files"] if f not in set(touched)]
        # deletion-vector carry (same rule as MERGE: touched-file entries
        # die with the rewrite, untouched-file entries stay valid)
        carried_dels = self._carry_delete_files(m, touched, untouched)

        new_files: list[str] = list(untouched)
        change_files: list[str] = []
        n_removed = 0
        if touched:
            # full schema on the subset scan (see _touched)
            tgt = self._scan(m, touched, schema=full_schema).select(*target_cols)
            new_files += self._stage_files(
                tgt.filter(~cond_true), max_records_per_file,
                mapping=m["column_mapping"],
            )
            chg_dir = self._change_dir()
            # the removed-row count rides the change-file write as an
            # Observation metric (the merge/update_where pattern)
            from pyspark.sql import Observation

            obs = Observation()
            tgt.filter(cond_true).withColumn(
                CHANGE_TYPE, F.lit("delete")
            ).observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite"
            ).parquet(chg_dir)
            n_removed = int(obs.get["n"])
            if n_removed:
                change_files = _parquet_parts(chg_dir)

        insert_files = self._stage_files(
            replacement.select(*target_cols), max_records_per_file,
            mapping=m["column_mapping"],
        )
        new_files += insert_files
        stats = {
            "files_total": len(m["files"]),
            "files_scanned": len(scanned),
            "files_touched": len(touched),
            "files_carried": len(untouched),
            "rows_removed": n_removed,
        }
        return self._commit_rewrite(
            m, "overwrite_where", stats, new_files, untouched, carried_dels,
            change_files,
            insert_files=insert_files,
            mixed_schema=m["mixed_schema"],
            txn=txn,
        )

    def update_where(
        self,
        condition: Column | list,
        set_map: dict[str, Column],
        max_records_per_file: int | None = None,
        txn_app_id: str | None = None,
        txn_version: int | None = None,
    ) -> dict:
        """Row-level SQL UPDATE (Delta ``UPDATE t SET ... WHERE ...``):
        copy-on-write rewrite of exactly the files containing a matching
        row. Assignments evaluate over the row's OWN columns (e.g.
        ``{"o_totalprice": F.col("o_totalprice") * 1.1}``) — the
        self-referential shape MERGE can't express without a synthetic
        source. Untouched files carry by reference; a condition that
        evaluates NULL doesn't fire (SQL 3VL). CDF records
        ``update_preimage``/``update_postimage`` pairs for fired rows
        only.

        ``condition`` may be a boolean Column or the ``(col, op,
        literal)`` tuple list: the tuple form DATA-SKIPS the touched-file
        detection scan — repricing one date slice of a clustered 100 TB
        table opens that slice's files, not the table.
        ``txn_app_id``/``txn_version``: idempotent-writer stamp."""
        txn = self._txn_of(txn_app_id, txn_version)
        m = self._manifest(self.current_version())
        if self._txn_already_applied(m, txn):
            return {"version": m["version"], "txn_skipped": True}
        condition, scanned = self._prune(m, condition)
        cond_true = F.coalesce(condition, F.lit(False))
        full_schema = self._schema_or_read(m)
        target_cols = [f.name for f in full_schema.fields]
        unknown = sorted(set(set_map) - set(target_cols))
        if unknown:
            raise MergeError(f"UPDATE sets unknown column(s): {unknown}")

        touched = self._touched(m, scanned, cond_true, full_schema)
        untouched = [f for f in m["files"] if f not in set(touched)]
        carried_dels = self._carry_delete_files(m, touched, untouched)
        new_files: list[str] = list(untouched)
        change_files: list[str] = []
        rows_updated = 0
        if touched:
            # computed once: the rewrite write and the CDF pre/post
            # extracts below otherwise each re-scan the touched files
            # (two scans per UPDATE); the consumers are sequential
            # actions, so a lazy persist is populated by the first (the
            # rewrite write) with no extra materialization job. The
            # frame is touched-file-sized — proportional to the
            # update's footprint, not the table. Unpersisted at return;
            # tracked as a safety net for error paths.
            tgt = _op_cache.track(
                self._scan(m, touched, schema=full_schema)
                .select(*target_cols)
                .persist()
            )

            col_types = {f.name: f.dataType for f in full_schema.fields}

            def _upd(c: str) -> Column:
                # store-assignment cast (Delta UPDATE semantics): a SET
                # expression of wider type must not stage files wider
                # than the recorded schema; an unsafe narrowing fails
                # loudly under ANSI
                if c in set_map:
                    return (
                        F.when(
                            cond_true,
                            _store_assign_expr(
                                tgt, set_map[c], col_types[c],
                                "update_where", c,
                                missing_hint="include every nested field "
                                "in the SET expression (update_where has "
                                "no NULL-fill opt-in)",
                            ),
                        )
                        .otherwise(F.col(c))
                        .alias(c)
                    )
                return F.col(c)

            new_files += self._stage_files(
                tgt.select(*[_upd(c) for c in target_cols]),
                max_records_per_file,
                mapping=m["column_mapping"],
            )
            fired = tgt.filter(cond_true)
            post = fired.select(
                *[
                    (
                        set_map[c].cast(col_types[c]).alias(c)
                        if c in set_map
                        else F.col(c)
                    )
                    for c in target_cols
                ]
            )
            chg = fired.withColumn(
                CHANGE_TYPE, F.lit("update_preimage")
            ).unionByName(post.withColumn(CHANGE_TYPE, F.lit("update_postimage")))
            chg_dir = self._change_dir()
            chg.write.mode("overwrite").parquet(chg_dir)
            # pre+post pairs → fired-row count from the footers _commit
            # reads anyway; no extra counting job
            parts = _parquet_parts(chg_dir)
            rows_updated = sum(_parquet_file_meta(f)[0] for f in parts) // 2
            if rows_updated:
                change_files = parts
            else:
                shutil.rmtree(chg_dir, ignore_errors=True)

        stats = {
            "files_total": len(m["files"]),
            "files_scanned": len(scanned),
            "files_touched": len(touched),
            "files_carried": len(untouched),
            "rows_updated": rows_updated,
        }
        self._commit_rewrite(
            m, "update", stats, new_files, untouched, carried_dels, change_files,
            mixed_schema=m["mixed_schema"],
            txn=txn,
        )
        if touched:
            tgt.unpersist()
        return stats

    def clone(
        self,
        dest_path: str,
        version: int | None = None,
        log_store: LogStore | None = None,
    ) -> "ParquetMergeTable":
        """Delta SHALLOW CLONE: create a NEW table at ``dest_path``
        whose v0 manifest REFERENCES this table's data files and
        deletion vectors as of ``version`` — zero bytes copied, so
        cloning a 100 TB table costs one manifest write. The clone is
        fully independent from then on: its MERGEs copy-on-write into
        its OWN directory, it inherits the source's CHECK constraints
        (but an EMPTY txn map — streams targeting the clone are new
        writers), and the source never observes clone writes (the
        dev/test-against-production pattern clones exist for). Per-file
        stats are COPIED from the source manifest, not re-read, so the
        clone commit is manifest-sized work even at 10⁶ files.

        Safety: a clone's ``vacuum`` can never delete source data — the
        removal path refuses any file outside the table's own root.
        ``compact()`` on the clone rewrites everything into clone-local
        files, severing the last dependency on the source (do that
        before vacuuming the SOURCE, whose own vacuum knows nothing of
        clones — same contract as Delta shallow clones). The clone's v0
        emits no CDF rows (a pending source deletion vector would make
        insert-by-reference over-report); consumers start from the
        snapshot."""
        v = self.current_version() if version is None else version
        m = self._manifest(v)
        dest = ParquetMergeTable(
            self.spark, dest_path, log_store or self.log_store.__class__()
        )
        if os.path.isdir(dest.manifest_dir) and dest._versions():
            raise MergeError(f"clone destination {dest_path} is already a table")
        # absolute paths: the references must survive the clone being
        # opened from a different working directory than the source
        dest._commit(
            None,
            [os.path.abspath(f) for f in m["files"]],
            "clone",
            {
                "source_path": os.path.abspath(self.path),
                "source_version": v,
                "files_referenced": len(m["files"]),
            },
            delete_files=[os.path.abspath(f) for f in m["delete_files"]],
            mixed_schema=m["mixed_schema"],
            constraints=m.get("constraints", {}),
            column_mapping=m["column_mapping"],
            retired_physical=m["retired_physical"],
            schema_json=m.get("schema_json"),
            known_meta={
                os.path.abspath(f): (
                    m["file_rows"][f],
                    m["file_stats"].get(f, {}),
                )
                for f in m["files"]
            },
        )
        return dest

    def compact(
        self,
        sort_col: str | None = None,
        target_files: int | None = None,
        max_records_per_file: int | None = None,
        zorder: tuple[str, ...] | None = None,
        bin_pack_bytes: int | None = None,
        purge_vectors_over: float | None = None,
    ) -> dict:
        """OPTIMIZE: rewrite the current version into ``target_files``
        right-sized files (range-clustered on ``sort_col`` so parquet
        min/max stats prune key ranges afterwards, or Z-ordered on a
        ``zorder`` tuple of 2+ columns — Delta/Iceberg ``OPTIMIZE ZORDER
        BY`` — so files stay narrow in EVERY dimension). Z-order coordinates
        are rank-normalized with sampled approx-quantile bucket edges
        (plans/layout.py) — a single distributed pass, never a global
        window, so no task ever holds the whole table. Pending deletion
        vectors are MATERIALIZED (``read()`` applies them), so the new
        version carries none — this is the MoR purge step. A
        schema-evolved mixed table is rewritten uniformly (flag cleared).
        Old versions keep their file lists — time travel still works
        until ``vacuum``.

        ``bin_pack_bytes`` switches to INCREMENTAL bin-packing (Delta's
        default OPTIMIZE): only files smaller than the threshold are
        rewritten, into ~threshold-sized outputs; right-sized files
        carry by reference, their pending deletion vectors carry with
        them. At 100 TB the whole-table rewrite above is a rare luxury
        job — this is what the nightly small-file maintenance loop runs,
        with cost proportional to the backlog, not the table."""
        if sort_col and zorder:
            raise MergeError("pass sort_col OR zorder, not both")
        if bin_pack_bytes and zorder:
            raise MergeError(
                "bin_pack_bytes is an incremental rewrite; Z-order is a "
                "whole-table layout — run them as separate OPTIMIZE passes"
            )
        if purge_vectors_over is not None:
            if not 0.0 <= purge_vectors_over < 1.0:
                raise MergeError("purge_vectors_over must be in [0, 1)")
            if sort_col or zorder or bin_pack_bytes or target_files:
                raise MergeError(
                    "purge_vectors_over is a targeted vector purge "
                    "(Delta REORG ... APPLY (PURGE)) — run layout "
                    "OPTIMIZE passes separately"
                )
            return self._purge_vectors(
                self._manifest(self.current_version()),
                purge_vectors_over,
                max_records_per_file,
            )
        m = self._manifest(self.current_version())
        if not sort_col and not zorder:
            # fall back to the table's declared clustering (CLUSTER BY)
            cl = self._clustering_logical(m)
            if len(cl) == 1:
                sort_col = cl[0]
            elif len(cl) >= 2:
                zorder = tuple(cl)
        if bin_pack_bytes:
            if zorder:
                # incremental packing cannot Z-order (whole-table layout);
                # cluster the packed subset on the leading column
                sort_col, zorder = zorder[0], None
            return self._bin_pack(m, bin_pack_bytes, sort_col, max_records_per_file)
        df = self.read()
        if target_files is None:
            target_files = int(
                self.spark.conf.get("spark.sql.shuffle.partitions", "32")
            )
        if zorder:
            from ..plans.layout import morton_clustered

            out = (
                morton_clustered(df, *zorder)
                .repartitionByRange(target_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif sort_col:
            out = df.repartitionByRange(target_files, F.col(sort_col))
        else:
            out = df.repartition(target_files)
        files = self._stage_files(
            out, max_records_per_file, mapping=m["column_mapping"]
        )
        v = self._commit(
            m, files, "compact", {"files_written": len(files)},
            schema_json=_schema_json_of(df.schema),
        )
        return {"version": v, "files_written": len(files)}

    def _repack(
        self,
        m: dict,
        op: str,
        stats: dict,
        rewritten: list[str],
        carried: list[str],
        rows: DataFrame,
        max_records_per_file: int | None,
    ) -> dict:
        """The layout-rewrite tail of bin-packing and the vector purge:
        stage ``rows`` (the live rows of ``rewritten``), carry the other
        files and their deletion vectors by reference, and commit. No
        CHECK constraint runs: every row was valid when first written."""
        new_files = list(carried) + self._stage_files(
            rows, max_records_per_file, mapping=m["column_mapping"]
        )
        carried_dels = self._carry_delete_files(m, rewritten, carried)
        stats["files_written"] = len(new_files) - len(carried)
        stats["version"] = self._commit(
            m,
            new_files,
            op,
            stats,
            delete_files=carried_dels,
            # carried files may predate a schema evolution; only a full
            # rewrite clears the mixed flag
            mixed_schema=m["mixed_schema"] and bool(carried),
        )
        return stats

    def _bin_pack(
        self,
        m: dict,
        threshold: int,
        sort_col: str | None,
        max_records_per_file: int | None,
    ) -> dict:
        """Incremental OPTIMIZE: rewrite the files under ``threshold``
        bytes into ~threshold-sized outputs; larger files carry by
        reference (same paths, zero IO). Deletion-vector entries for the
        packed files materialize away with the rewrite; entries for
        carried files stay pending. With fewer than two undersized files
        there is nothing to pack — no commit, the current version is
        returned unchanged."""
        sizes = m["file_bytes"]
        packed = [f for f in m["files"] if sizes.get(f, 0) < threshold]
        carried = [f for f in m["files"] if f not in set(packed)]
        if len(packed) < 2:
            return {
                "version": m["version"],
                "files_packed": 0,
                "files_carried": len(m["files"]),
                "files_written": 0,
            }
        # the packed SUBSET may consist entirely of pre-evolution files;
        # scan it with the FULL table schema (absent columns surface as
        # typed NULLs, narrow pre-widening files promote) or the select
        # below would raise on a legitimate mixed-schema table state
        full_schema = self._schema_or_read(m)
        df = self._scan(m, packed, schema=full_schema).select(
            *full_schema.fieldNames()
        )
        n_out = max(1, math.ceil(sum(sizes.get(f, 0) for f in packed) / threshold))
        out = (
            df.repartitionByRange(n_out, F.col(sort_col))
            if sort_col
            else df.repartition(n_out)
        )
        stats = {"files_packed": len(packed), "files_carried": len(carried)}
        return self._repack(
            m, "compact", stats, packed, carried, out, max_records_per_file
        )

    def _purge_vectors(
        self,
        m: dict,
        threshold: float,
        max_records_per_file: int | None,
    ) -> dict:
        """Targeted deletion-vector purge (Delta ``REORG TABLE ... APPLY
        (PURGE)``): rewrite ONLY the data files whose pending deleted-row
        fraction exceeds ``threshold``, materializing their vectors away;
        every other file — and its vector entries — carries by reference.
        The failure mode this cures: repeated small ``delete_where``s
        against big RIGHT-sized files accumulate vectors that incremental
        bin-packing never touches (it rewrites UNDERSIZED files) and only
        a full-table rewrite would clear — read amplification grows
        unbounded while the layout looks healthy. Cost is proportional to
        the over-threshold files, not the table; the rewrite scan keeps
        its input split granularity (no shuffle, no single-task funnel).
        With no file over the threshold: no commit, version unchanged."""
        dels = m["delete_files"]
        none = {
            "version": m["version"],
            "files_purged": 0,
            "files_written": 0,
            "vector_rows_purged": 0,
        }
        if not dels:
            return none
        # vectors are manifest-tracked-small (DELETE_ROWS_PER_FILE parts);
        # one aggregate over them yields the per-file dead-row census
        per_file = {
            r["file_path"]: r["n"]
            for r in self._delete_entries(dels)
            .groupBy("file_path")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        rows = m["file_rows"]
        victims = [
            f
            for f in m["files"]
            if rows.get(f, 0)
            and per_file.get(os.path.abspath(f), 0) / rows[f] > threshold
        ]
        if not victims:
            return none
        carried = [f for f in m["files"] if f not in set(victims)]
        full_schema = self._schema_or_read(m)
        live = self._scan(m, victims, schema=full_schema).select(
            *full_schema.fieldNames()
        )
        stats = {
            "files_purged": len(victims),
            "files_carried": len(carried),
            "vector_rows_purged": sum(
                per_file.get(os.path.abspath(f), 0) for f in victims
            ),
            "purge_threshold": threshold,
        }
        return self._repack(
            m, "reorg_purge", stats, victims, carried, live, max_records_per_file
        )

    def vacuum(
        self,
        retain_last: int = 1,
        sweep_orphans: bool = False,
        orphan_grace_seconds: float = 86_400.0,
    ) -> dict:
        """Delete data files referenced ONLY by versions older than the
        last ``retain_last`` commits, then drop those log entries.
        Mirrors Delta VACUUM: shared (carried-by-reference) files survive
        as long as any retained version lists them. Before truncating the
        log, a checkpoint is written at the oldest retained version so
        resolution never needs the dropped prefix.

        ``sweep_orphans`` additionally removes parquet files under the
        table directory referenced by NO retained version — crash
        leftovers a writer staged before dying (a LOST race cleans after
        itself, but a killed process cannot). Like Delta VACUUM's
        retention check, only files older than ``orphan_grace_seconds``
        (mtime) are swept, so a concurrent writer's in-flight staging
        can't be yanked out from under it mid-commit."""
        if retain_last < 1:
            raise MergeError("retain_last must be >= 1")
        vs = self._versions()
        keep_vs = vs[-retain_last:]
        drop_vs = vs[: -retain_last]

        def _all_refs(man: dict) -> set[str]:
            return (
                set(man["files"])
                | set(man["delete_files"])
                | set(man["change_files"])
            )

        # resolve everything BEFORE the log prefix disappears
        keep_manifests = [self._manifest(v) for v in keep_vs]
        drop_manifests = [self._manifest(v) for v in drop_vs]
        if drop_vs:
            self._write_checkpoint(keep_manifests[0])
        live: set[str] = set()
        for man in keep_manifests:
            live |= _all_refs(man)
        removed = 0
        own_root = os.path.abspath(self.path) + os.sep
        for man in drop_manifests:
            for f in _all_refs(man):
                if f not in live and os.path.exists(f):
                    if not os.path.abspath(f).startswith(own_root):
                        # a cross-table reference (shallow clone): the
                        # file belongs to the SOURCE table — dropping
                        # clone history must never reach into it
                        continue
                    os.remove(f)
                    removed += 1
        for v in drop_vs:
            os.remove(self._log_path(v))
            self._cache.pop(v, None)
        for c in self._checkpoints():
            if c < keep_vs[0]:
                os.remove(self._ckpt_path(c))
        orphans_removed = 0
        if sweep_orphans:
            live_abs = {os.path.abspath(f) for f in live}
            cutoff = time.time() - orphan_grace_seconds
            man_dir = os.path.abspath(self.manifest_dir)
            for root_dir, _dirs, files in os.walk(self.path):
                if os.path.abspath(root_dir) == man_dir:
                    continue
                for f in files:
                    p = os.path.join(root_dir, f)
                    if not f.endswith(".parquet"):
                        continue
                    if os.path.abspath(p) in live_abs:
                        continue
                    try:
                        if os.path.getmtime(p) <= cutoff:
                            os.remove(p)
                            orphans_removed += 1
                    except OSError:
                        pass  # raced with another cleaner — fine
            # manifest-dir temps: a writer dying between staging a
            # checkpoint/entry body and its atomic rename leaves a
            # .tmp invisible to the ^v\d+/^ckpt-v\d+ scans — with no
            # other removal path, repeated crashes would pile them up
            # forever. Same mtime grace as data orphans.
            for f in os.listdir(self.manifest_dir):
                if not f.endswith(".tmp"):
                    continue
                p = os.path.join(self.manifest_dir, f)
                try:
                    if os.path.getmtime(p) <= cutoff:
                        os.remove(p)
                        orphans_removed += 1
                except OSError:
                    pass  # raced with another cleaner — fine
        return {
            "files_removed": removed,
            "orphans_removed": orphans_removed,
            "versions_dropped": len(drop_vs),
            "versions_retained": keep_vs,
        }

    def set_clustering(self, *cols: str) -> dict:
        """Declare the table's preferred clustering (Delta liquid
        clustering's ``ALTER TABLE ... CLUSTER BY``): a METADATA commit
        recording which columns ``compact()`` should cluster on when
        called without an explicit layout — one column range-clusters,
        two or more Z-order. Stored by STABLE PHYSICAL name, so renames
        never dangle it and a restore across a rename keeps it valid.
        Pass no columns to clear. Unlike hive partitioning this freezes
        nothing: it is a default for the NEXT optimize, changeable any
        time, and data skipping works off the resulting file stats."""
        m = self._manifest(self.current_version())
        md = dict(m["column_mapping"])
        logical = (
            [l for l, _ in m["column_mapping"]]
            if m["column_mapping"]
            else self._schema_or_read(m).fieldNames()
        )
        missing = sorted(set(cols) - set(logical))
        if missing:
            raise MergeError(f"no such column(s): {missing}")
        phys = [md.get(c, c) for c in cols]
        v = self._commit(
            m,
            m["files"],
            "set_clustering",
            {"clustering": list(cols)},
            delete_files=m["delete_files"],
            mixed_schema=m["mixed_schema"],
            clustering=phys,
        )
        return {"version": v, "clustering": list(cols)}

    def _clustering_logical(self, m: dict) -> list[str]:
        """The manifest's clustering as CURRENT logical names, silently
        dropping entries whose column no longer exists (a restore can
        rewind past the evolution that added it)."""
        if not m["clustering"]:
            return []
        if m["column_mapping"]:
            inv = {p: l for l, p in m["column_mapping"]}
        else:
            inv = {c: c for c in self._schema_or_read(m).fieldNames()}
        return [inv[p] for p in m["clustering"] if p in inv]

    def detail(self, version: int | None = None) -> dict:
        """Delta ``DESCRIBE DETAIL``: one dict of operational facts a
        maintenance loop keys off — file/byte/row footprint, pending
        deletion-vector load (is a compact due?), schema posture
        (mixed? mapped? which columns), constraints, and the
        idempotent-writer txn heads."""
        v = self.current_version() if version is None else version
        m = self._manifest(v)
        mapping = m["column_mapping"]
        schema = self._schema_or_read(m)  # derived once; reused below
        cols = [l for l, _ in mapping] if mapping else schema.fieldNames()
        return {
            "path": os.path.abspath(self.path),
            "version": v,
            "operation": m["operation"],
            "num_files": len(m["files"]),
            "size_bytes": sum(m["file_bytes"].values()),
            "rows_total": m["rows_total"],
            "delete_files": len(m["delete_files"]),
            "delete_rows_pending": m["delete_rows_total"],
            "mixed_schema": m["mixed_schema"],
            "columns": cols,
            "column_types": {
                f.name: f.dataType.simpleString() for f in schema.fields
            },
            "column_mapping": {l: p for l, p in mapping},
            "retired_physical": list(m["retired_physical"]),
            "clustering": self._clustering_logical(m),
            "constraints": dict(m.get("constraints", {})),
            "txns": dict(m.get("txns", {})),
        }

    def restore(self, version: int) -> dict:
        """Delta ``RESTORE TABLE ... TO VERSION AS OF``: make the
        CURRENT state equal a retained earlier version's, as a NEW
        commit — history is preserved, so time travel still sees every
        state after the restore point, and a bad restore is itself
        restorable. This is the undo button a 100 TB lake needs after a
        bad backfill: a METADATA operation, not a data rewrite — the new
        manifest simply references the old version's data files and
        deletion vectors (no data file is copied or rewritten).

        The change data feed stays consistent (``snapshot(v0) + feed ==
        snapshot(vN)`` keeps holding through the restore): the commit
        records row-level ``delete``/``insert`` change rows for exactly
        the VISIBLE row difference between the two states. Computing
        that difference is file-pruned — only files whose manifest
        membership changed between the versions, plus files whose
        deletion-vector coverage changed, are scanned; the identical
        carried bulk of the table contributes nothing and is never read.

        If the schema evolved after ``version``, the restored table
        reverts to the old schema (the file set IS the old file set);
        the diff is computed under that schema, so a CDF consumer sees
        the later-added columns disappear as a schema change, not as
        row churn. CHECK constraints added after ``version`` are KEPT
        and re-validated against the rows the restore resurrects (the
        row-level insert diff) — restoring into a violation aborts with
        the table unchanged, which is stricter than Delta (it restores
        blind) but consistent with this table's constraint story."""
        cur = self._manifest(self.current_version())
        if version > cur["version"]:
            raise MergeError(
                f"cannot restore to version {version}: current is "
                f"{cur['version']} (restore only goes backwards)"
            )
        if version == cur["version"]:
            return {
                "version": cur["version"],
                "restored_version": version,
                "rows_restore_deleted": 0,
                "rows_restore_inserted": 0,
            }
        tgt = self._manifest(version)  # raises for a vacuumed version
        missing = [f for f in tgt["files"] if not os.path.exists(f)]
        if missing:
            raise MergeError(
                f"cannot restore to version {version}: {len(missing)} of "
                "its data files were vacuumed (e.g. "
                f"{missing[0]!r})"
            )
        cur_files, tgt_files = set(cur["files"]), set(tgt["files"])
        removed = sorted(cur_files - tgt_files)
        readded = sorted(tgt_files - cur_files)
        common = cur_files & tgt_files

        # a COMMON file's visible rows change only if a deletion-vector
        # entry targeting it appeared or disappeared between the two
        # versions — find those files by reading just the CHANGED
        # vector files (tiny relative to data)
        dels_changed = sorted(
            set(cur["delete_files"]) ^ set(tgt["delete_files"])
        )
        affected: set[str] = set()
        if dels_changed:
            # the changed deletion-vector files are COMMIT METADATA
            # (position-delete pairs of the commits between the two
            # versions), tiny relative to data; stream their file_path
            # column driver-side with pyarrow instead of paying a Spark
            # read + distinct + collect (4 scheduler round-trips per
            # restore at bench scale). Memory stays bounded: batches
            # stream, only the distinct touched-file set is retained.
            import pyarrow.compute as _pc
            import pyarrow.parquet as _pq

            for _dfp in dels_changed:
                _pf = _pq.ParquetFile(_dfp)
                for _batch in _pf.iter_batches(columns=["file_path"]):
                    affected.update(_pc.unique(_batch.column(0)).to_pylist())
        common_affected = [
            f for f in sorted(common) if os.path.abspath(f) in affected
        ]
        scan_cur = removed + common_affected
        scan_tgt = readded + common_affected

        # the diff runs under the TARGET (restored) schema's COLUMNS:
        # columns added after `version` revert with the restore, so they
        # must not make otherwise-identical rows look different. Types
        # take the WIDENED COMMON of the two versions — the current side
        # may hold post-widening files a narrow read schema could not
        # even open; the wide diff row identity is exact because
        # promotion is lossless.
        tgt_schema = self._schema_or_read(tgt)
        cols = [f.name for f in tgt_schema.fields]
        cur_types = {
            f.name: f.dataType for f in self._schema_or_read(cur).fields
        }
        from pyspark.sql.types import StructField, StructType

        # nested fields follow the same rule as columns via
        # _restore_diff_type: target-version shape (post-`version` nested
        # adds revert — they must not make identical rows look different;
        # nested pruning drops them from the current-side scan), leaves
        # at the widened common of the two versions
        diff_schema = StructType(
            [
                StructField(
                    f.name,
                    _restore_diff_type(f.dataType, cur_types.get(f.name)),
                    True,
                )
                for f in tgt_schema.fields
            ]
        )

        def _visible(scan: list[str], m: dict) -> DataFrame | None:
            if not scan:
                return None
            # both sides project under the TARGET's logical columns; the
            # physical names behind them are version-independent (renames
            # never rewrite), so the tgt mapping reads cur files too
            return self._scan(
                m, scan, schema=diff_schema, mapping=tgt["column_mapping"]
            ).select(*cols)

        cur_rows = _visible(scan_cur, cur)
        tgt_rows = _visible(scan_tgt, tgt)
        # exceptAll rejects MAP columns outright: encode any map (at any
        # nesting depth) as its key-sorted entries array — a canonical,
        # set-op-friendly identity — and decode the diff back before the
        # change rows are written. Map-free tables skip this entirely.
        map_cols = {
            f.name: f.dataType
            for f in diff_schema.fields
            if _contains_map(f.dataType)
        }
        if map_cols:

            def _enc(df: DataFrame) -> DataFrame:
                return df.select(
                    *[
                        _map_free_enc(F.col(c), map_cols[c]).alias(c)
                        if c in map_cols
                        else F.col(c)
                        for c in cols
                    ]
                )

            cur_rows = _enc(cur_rows) if cur_rows is not None else None
            tgt_rows = _enc(tgt_rows) if tgt_rows is not None else None
            enc_schema = StructType(
                [
                    StructField(f.name, _map_free_type(f.dataType), True)
                    for f in diff_schema.fields
                ]
            )
            empty = self.spark.createDataFrame([], enc_schema)
        else:
            empty = self.spark.createDataFrame([], diff_schema)
        # one-pass symmetric diff: tag each side with ±1, group once over
        # the row identity, and the net count per distinct row IS the
        # multiset difference both ways — n>0 ⇒ n 'delete' rows (cur has
        # n more copies than tgt), n<0 ⇒ |n| 'insert' rows. The previous
        # deletes.exceptAll(inserts)-style pair paid TWO aggregate
        # shuffles over the same two scans (Spark rewrites each EXCEPT
        # ALL into its own union+aggregate+replicate); this shape scans
        # each side once and shuffles once. Grouping and exceptAll share
        # Spark's normalized key semantics (NULLs equal, NaN equal, -0.0
        # == 0.0), so the emitted multiset is identical.
        sign = "__restore_sign"
        while sign in cols:
            sign += "_"
        both = (cur_rows or empty).withColumn(sign, F.lit(1)).unionByName(
            (tgt_rows or empty).withColumn(sign, F.lit(-1))
        )
        net = (
            both.groupBy(*cols)
            .agg(F.sum(sign).alias(sign))
            .filter(F.col(sign) != 0)
        )

        change_files: list[str] = []
        n_del = n_ins = 0
        diff = net.select(
            *cols,
            F.explode(
                F.array_repeat(
                    F.when(F.col(sign) > 0, F.lit("delete")).otherwise(
                        F.lit("insert")
                    ),
                    F.abs(F.col(sign)).cast("int"),
                )
            ).alias(CHANGE_TYPE),
        )
        if map_cols:
            diff = diff.select(
                *[
                    _map_free_dec(F.col(c), map_cols[c]).alias(c)
                    if c in map_cols
                    else F.col(c)
                    for c in cols
                ],
                CHANGE_TYPE,
            )
        # materialize once, size the final change files from the exact
        # materialized count (the delete_where pattern) — a restore that
        # flips a large fraction of the table never funnels through one
        # task. localCheckpoint replaces the old scratch-parquet round
        # trip (one write + three re-reads of the same diff rows), and
        # the per-type counts ride the SAME pass as Observation metrics
        # (the old post-checkpoint groupBy+collect was a second job per
        # restore over the freshly materialized diff).
        from pyspark.sql import Observation

        obs = Observation()
        staged = diff.observe(
            obs,
            F.coalesce(
                F.sum(
                    F.when(F.col(CHANGE_TYPE) == "delete", 1).otherwise(0)
                ),
                F.lit(0),
            ).alias("n_del"),
            F.coalesce(
                F.sum(
                    F.when(F.col(CHANGE_TYPE) == "insert", 1).otherwise(0)
                ),
                F.lit(0),
            ).alias("n_ins"),
        ).localCheckpoint(eager=True)
        got = obs.get
        n_del = int(got["n_del"])
        n_ins = int(got["n_ins"])
        if n_del + n_ins:
            # constraints added after `version` must hold for the rows
            # this restore RESURRECTS (carried rows were already valid)
            for name, expr in sorted(cur.get("constraints", {}).items()):
                bad = (
                    staged.filter(F.col(CHANGE_TYPE) == "insert")
                    .filter(self._violation_cond(expr))
                    .limit(1)
                    .count()
                )
                if bad:
                    raise ConstraintViolation(
                        f"CHECK constraint '{name}' ({expr}) is violated "
                        f"by rows version {version} would resurrect — "
                        "restore aborted, table unchanged (drop the "
                        "constraint first to force)"
                    )
            n_parts = max(1, -(-(n_del + n_ins) // self.CHANGE_ROWS_PER_FILE))
            chg_dir = self._change_dir()
            staged.coalesce(n_parts).write.mode("overwrite").parquet(chg_dir)
            change_files = _parquet_parts(chg_dir)

        stats = {
            "restored_version": version,
            "rows_restore_deleted": n_del,
            "rows_restore_inserted": n_ins,
            "files_removed": len(removed),
            "files_readded": len(readded),
        }
        try:
            new_v = self._commit(
                cur,
                tgt["files"],
                "restore",
                stats,
                delete_files=tgt["delete_files"],
                change_files=change_files,
                mixed_schema=tgt["mixed_schema"],
                # constraints stay CURRENT (metadata is not restored)
                constraints=cur.get("constraints", {}),
                # the column mapping and type schema ARE schema — they
                # restore with the data (a widening after `version`
                # reverts: the restored file set is uniformly narrow);
                # retired names stay retired forever (monotone)
                column_mapping=tgt["column_mapping"],
                schema_json=_schema_json_of(tgt_schema),
                # the diff rows were written WIDE (diff_schema) while the
                # restored table schema may be narrow — recorded per-commit
                # so cdf_data_schema never needs a (vacuumable) predecessor
                cdf_schema_json=(
                    _schema_json_of(diff_schema) if change_files else None
                ),
                retired_physical=sorted(
                    set(cur["retired_physical"]) | set(tgt["retired_physical"])
                ),
                # the "added" files are the old version's — still
                # referenced by retained manifests, so the default
                # lost-race discard must NOT delete them
                discard_on_conflict=False,
            )
        except ConcurrentWriteError:
            self._discard_staged(change_files)
            raise
        stats["version"] = new_v
        return stats


def _conflict_backoff(attempt: int, base_s: float = 0.05) -> None:
    """Jittered exponential backoff between optimistic-concurrency
    retries (the same shape Delta's commit loop and every object-store
    SDK use): without it, N writers racing through a latency-bearing
    backend re-collide in lockstep — each round all losers re-read the
    head at the same RTT cadence and pile onto the next version slot
    together. The jitter is derived from pid+attempt (deterministic per
    writer, decorrelated across processes AND across threads of one
    process — pid alone would put N sibling stream sinks back in
    lockstep); capped so a long outage degrades to ~1 s polling, not
    unbounded sleeps."""
    import threading

    step = min(base_s * (2**attempt), 1.0)
    seed = os.getpid() * 31 + threading.get_ident()
    jitter = ((seed * 1103515245 + attempt * 12345) % 1000) / 1000.0
    time.sleep(step * (0.5 + 0.5 * jitter))


def retry_on_conflict(fn, attempts: int = 3):
    """Delta's optimistic retry loop: run a table operation, re-running
    it when another writer wins the commit race. Each attempt of ``fn``
    re-reads the table's current version, so the retry computes against
    the winner's committed state — the semantics stay those of running
    the operations serially in either order. Lost races back off with
    decorrelated jitter before retrying (see ``_conflict_backoff``).
    Raises the last ConcurrentWriteError once ``attempts`` are exhausted
    (a persistently hot table needs coordination above this layer)."""
    for i in range(attempts):
        try:
            return fn()
        except ConcurrentWriteError:
            if i == attempts - 1:
                raise
            _conflict_backoff(i)


def stream_merge_upsert(
    table: ParquetMergeTable,
    stream_df: DataFrame,
    on: list[str],
    update_cols: list[str],
    checkpoint_dir: str,
    txn_app_id: str | None = None,
):
    """Continuous upsert: a Structured Streaming ``foreachBatch`` sink
    that MERGEs each micro-batch into the versioned table (matched →
    update ``update_cols`` from source, not-matched → insert). Batches
    may redeliver after restart — the sink stamps each merge with
    ``(txn_app_id, batch_id)`` so the commit log detects the replay and
    skips the whole pruning/rewrite pipeline (upserts are also
    VALUE-idempotent, so even a pre-txn table replays safely — the txn
    stamp just makes the replay free). Lost commit races against other
    writers retry via ``retry_on_conflict`` (the re-run re-reads the
    winner's state, and a twin of this very stream is caught by the txn
    check inside the retried merge). Micro-batches can carry several
    rows per key (rapid updates); MERGE requires unique source keys, so
    each batch is first reduced to one row per key via a max-struct
    aggregate over the non-key columns (deterministic; order an
    event-time column first to get latest-wins)."""
    app = txn_app_id or f"stream_merge_upsert:{os.path.abspath(checkpoint_dir)}"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        others = [c for c in batch_df.columns if c not in on]
        latest = (
            batch_df.groupBy(*on)
            .agg(F.max(F.struct(*others)).alias("_s"))
            .select(*on, *[F.col(f"_s.{c}").alias(c) for c in others])
        )
        retry_on_conflict(
            lambda: table.merge(
                latest,
                on=on,
                when_matched_update={c: src(c) for c in update_cols},
                txn_app_id=app,
                txn_version=batch_id,
            )
        )

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def stream_append(
    table: ParquetMergeTable,
    stream_df: DataFrame,
    checkpoint_dir: str,
    txn_app_id: str | None = None,
    max_records_per_file: int | None = None,
    schema_evolution: bool = False,
):
    """Exactly-once streaming ingestion: a ``foreachBatch`` sink that
    blind-APPENDS each micro-batch, stamping the commit with
    ``(txn_app_id, batch_id)`` — Delta's idempotent-sink pattern.
    Structured Streaming redelivers a batch whenever a crash lands
    between the sink write and the checkpoint write; unlike the upsert
    sink, an append replay is NOT value-idempotent (it would double
    rows), so the txn map in the commit log is what carries the
    exactly-once guarantee — across restarts and across processes.
    Concurrent writers don't force a batch recompute either: the
    underlying ``append`` survives lost commit races by REBASING its
    already-staged files (and a twin instance of this same stream that
    wins the race is detected by app id and the batch is dropped)."""
    app = txn_app_id or f"stream_append:{os.path.abspath(checkpoint_dir)}"

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        table.append(
            batch_df,
            max_records_per_file=max_records_per_file,
            txn_app_id=app,
            txn_version=batch_id,
            # an evolving upstream (new producer field, widened key) must
            # not stall the ingest sink when the caller opts in
            schema_evolution=schema_evolution,
        )

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


# -- change data feed as a streaming source ---------------------------------

def changes_schema_of(end_schema) -> "StructType":  # noqa: F821
    """The CDF row schema for a table with data schema ``end_schema``."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    return StructType(
        list(end_schema.fields)
        + [
            StructField(CHANGE_TYPE, StringType()),
            StructField(COMMIT_VERSION, LongType()),
        ]
    )


def changes_schema(
    table: ParquetMergeTable,
    version: int | None = None,
    from_version: int = 0,
):
    """The CDF schema of ``table`` for a feed ending at ``version``
    (default: current). ``from_version`` matters when the feed crosses a
    TYPE WIDENING (or a restore past one): the column types fold wide
    over the whole range so spooled change files from every version in
    it read exactly (see ``ParquetMergeTable.cdf_data_schema``)."""
    return changes_schema_of(table.cdf_data_schema(from_version, version))


#: target rows per spooled CDF file before a commit splits into a
#: multi-file unit written by multiple tasks
SPOOL_ROWS_PER_FILE = 1_000_000


def spool_changes(
    table: ParquetMergeTable,
    spool_dir: str,
    from_version: int = 0,
    to_version: int | None = None,
    key_cols: list[str] | None = None,
    rows_per_file: int = SPOOL_ROWS_PER_FILE,
) -> list[int]:
    """Export each commit's CDF rows into a parquet spool that Structured
    Streaming's file source can tail. Each commit spools as ONE unit:
    a small commit as a flat ``cdf-v{v}.parquet`` file, a commit larger
    than ``rows_per_file`` as a ``cdf-v{v}/`` DIRECTORY of
    ~``rows_per_file``-row parts written by proportionally many tasks —
    a full-table backfill's change set no longer funnels through a
    single writer. The unit lands in the spool via one atomic rename, so
    a crashed spool never leaves a half-written commit behind for the
    idempotency scan to mistake for done. Idempotent and incremental:
    versions already spooled are skipped, so a maintenance job can call
    this after every commit. A commit with no logical changes (compact)
    still spools an empty file — that file IS the done-marker.

    ``key_cols``: when a commit IS split, rows sharing these columns
    co-locate in one part. An ``overwrite_where`` can delete and
    re-insert the same key in one commit; co-location keeps both rows in
    the same micro-batch whatever ``maxFilesPerTrigger`` a consumer
    picks, so ``stream_apply_changes``'s terminal-change reduction sees
    them together. Pass the table's merge keys when consumers replay
    per-key. Returns the versions spooled by this call."""
    os.makedirs(spool_dir, exist_ok=True)
    done = set()
    for f in os.listdir(spool_dir):
        mm = re.match(r"^cdf-v(\d+)(\.parquet)?$", f)
        if mm:
            done.add(int(mm.group(1)))
    to_v = table.current_version() if to_version is None else to_version
    spooled: list[int] = []
    for v in range(from_version, to_v + 1):
        if v in done:
            continue
        df = table.read_changes(v, v)
        # exact change-row count straight from the manifest + footers —
        # no counting job: inserts are referenced data files (rows
        # already tracked), change files pay one memoized footer read
        m = table._manifest(v)
        n_rows = sum(m["file_rows"].get(f, 0) for f in m["insert_files"]) + sum(
            _parquet_file_meta(f)[0] for f in m["change_files"]
        )
        n_parts = max(1, -(-n_rows // rows_per_file))
        tmp = os.path.join(spool_dir, f".spool-{uuid.uuid4().hex[:12]}")
        if n_parts == 1:
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            os.rename(
                _parquet_parts(tmp)[0],
                os.path.join(spool_dir, f"cdf-v{v:010d}.parquet"),
            )
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            out = (
                df.repartition(n_parts, *key_cols)
                if key_cols
                else df.repartition(n_parts)
            )
            out.write.mode("overwrite").parquet(tmp)
            os.rename(tmp, os.path.join(spool_dir, f"cdf-v{v:010d}"))
        spooled.append(v)
    return spooled


def changes_stream(
    spark: SparkSession,
    spool_dir: str,
    schema,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """A rate-limited Structured Streaming read of a CDF spool directory:
    ``maxFilesPerTrigger`` bounds each micro-batch to N spool FILES'
    worth of changes (one file = one commit unless the commit exceeded
    ``rows_per_file`` at spool time) — the flow control a downstream
    view needs when catching up on a 100 TB table's backlog. The lookup
    is recursive so multi-file commit DIRECTORIES and legacy flat files
    both stream. Files written before a schema evolution surface the
    newer columns as NULL (parquet scan with the superset schema)."""
    reader = spark.readStream.schema(schema).option(
        "recursiveFileLookup", "true"
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(spool_dir)


def stream_apply_changes(
    replica: ParquetMergeTable,
    changes: DataFrame,
    on: list[str],
    checkpoint_dir: str,
):
    """Materialized-view maintenance: a ``foreachBatch`` sink that replays
    a CDF stream into ``replica`` so that
    ``snapshot(v0) + streamed feed == snapshot(vN)``.

    Each micro-batch may span several commits and touch a key several
    times; the batch first reduces to the TERMINAL change per key —
    preimages drop, the highest ``_commit_version`` wins, and within one
    commit an insert/postimage outranks a delete (an overwrite_where can
    delete and re-insert the same key in one commit). The reduced batch
    then applies as one delete-MERGE plus one upsert-MERGE — both
    idempotent, so checkpoint-replayed batches after a restart are
    harmless."""

    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        data_cols = [c for c in batch_df.columns if c not in (CHANGE_TYPE, COMMIT_VERSION)]
        others = [c for c in data_cols if c not in on]
        rank = F.when(F.col(CHANGE_TYPE) == "delete", F.lit(0)).otherwise(F.lit(1))
        latest = (
            batch_df.filter(F.col(CHANGE_TYPE) != "update_preimage")
            .groupBy(*on)
            .agg(
                F.max(
                    F.struct(
                        F.col(COMMIT_VERSION).alias("_cdf_v"),
                        rank.alias("_cdf_r"),
                        *[F.col(c).alias(c) for c in others],
                        F.col(CHANGE_TYPE).alias("_cdf_ct"),
                    )
                ).alias("_s")
            )
            .select(
                *on,
                *[F.col(f"_s.{c}").alias(c) for c in others],
                F.col("_s._cdf_ct").alias("_cdf_ct"),
            )
        )
        # materialize the terminal-change reduction ONCE per batch: the
        # two emptiness probes and the two MERGEs below each re-derived
        # the groupBy over the raw batch (up to four aggregate passes);
        # the checkpoint pays one, and the side counts ride it as
        # Observation metrics. The frame is batch-sized.
        from pyspark.sql import Observation

        obs = Observation()
        latest = (
            latest.observe(
                obs,
                F.coalesce(
                    F.sum(
                        F.when(F.col("_cdf_ct") == "delete", 1).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("n_del"),
                F.count(F.lit(1)).alias("n_all"),
            )
            .localCheckpoint(eager=True)
        )
        got = obs.get
        n_del = int(got["n_del"])
        n_ups = int(got["n_all"]) - n_del
        dels = latest.filter(F.col("_cdf_ct") == "delete").select(*on, *others)
        ups = latest.filter(F.col("_cdf_ct") != "delete").select(*on, *others)
        # schema_evolution=True: a replica FOLLOWS the source table's
        # schema — when the feed crosses a type widening (or an added
        # column), the replayed batch arrives wide and the replica must
        # widen with it rather than reject the batch (Delta's CDC-apply
        # behavior)
        if n_ups:
            replica.merge(
                ups,
                on=on,
                when_matched_update={c: src(c) for c in others},
                schema_evolution=True,
            )
        if n_del:
            replica.merge(
                dels,
                on=on,
                when_matched_delete=F.lit(True),
                insert_not_matched=False,
                schema_evolution=True,
            )

    return (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


# -- slowly changing dimension (type 2) over the MERGE table -----------------

def scd2_prepare(
    df: DataFrame,
    ts: float,
    valid_from: str = "_valid_from",
    valid_to: str = "_valid_to",
    current: str = "_is_current",
) -> DataFrame:
    """Shape an initial dimension load for SCD Type 2 tracking: every
    row becomes the CURRENT version effective at ``ts`` (``valid_to``
    NULL = open-ended). Create the table from this, then evolve it with
    ``scd2_apply``."""
    return df.select(
        "*",
        F.lit(float(ts)).alias(valid_from),
        F.lit(None).cast("double").alias(valid_to),
        F.lit(True).alias(current),
    )


def scd2_apply(
    table: ParquetMergeTable,
    updates: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    ts: float,
    valid_from: str = "_valid_from",
    valid_to: str = "_valid_to",
    current: str = "_is_current",
    delete_keys: DataFrame | None = None,
    close_missing: bool = False,
) -> dict:
    """SCD Type 2 in ONE atomic MERGE commit (the lakehouse
    dimension-history pattern): for each update row whose TRACKED
    attributes differ from the key's current version — or whose key is
    new — CLOSE the old version (``valid_to = ts``, no longer current)
    and INSERT the new version effective at ``ts``. Unchanged rows do
    nothing. Readers see either the old history or the new, never a
    closed row without its successor.

    How it maps onto MERGE without Delta's NULL-mergeKey trick (which
    would trip this table's duplicate-source-key guard): the join key is
    ``key_cols + [valid_from]``. A CLOSE row carries the existing
    version's ``valid_from`` → always matches → the update clause fires
    (gated on the row's action marker). An INSERT row carries
    ``valid_from = ts`` → never matches (ts is new) → inserts. Replaying
    the same batch is a NO-OP: the re-sent insert rows now MATCH their
    previously inserted selves, fail the action gate, and carry
    unchanged — pair with txn stamps for free skips. ``updates`` must
    have one row per key (reduce rapid-fire updates first, as
    ``stream_merge_upsert`` does).

    ``delete_keys`` (rows carrying just ``key_cols``) CLOSES those keys'
    current versions at ``ts`` with no successor — the member-retired
    case: history stays queryable, nothing is physically deleted.

    ``close_missing=True`` is the FULL-SNAPSHOT mode (the classic
    NOT MATCHED BY SOURCE use): ``updates`` is today's complete
    dimension snapshot, and any key with a current version but ABSENT
    from it retires (closed at ``ts``, no successor) in the same
    atomic commit. Unchanged snapshot keys ride as gate-failing "keep"
    rows so the by-source clause fires exactly for vanished keys; the
    retire condition is the tuple form ``(current, '=', True)``, so
    the victim scan data-skips files that hold only closed history.
    Replay stays a no-op (retired keys are no longer current). The
    source is snapshot-sized in this mode — inherent to
    sync-from-snapshot; leave it off for delta feeds.

    Preconditions checked UP FRONT with named errors (both would
    otherwise surface as a confusing duplicate-source-key failure from
    deep inside MERGE): ``updates`` must be pre-reduced to one row per
    key (fold rapid-fire updates to the terminal row first, as
    ``stream_merge_upsert`` does), and a key must not appear in both
    ``updates`` and ``delete_keys`` — split into two applies if you
    really mean "new version, then retire it". Both checks are one
    count-aggregate job over the (dimension-delta-sized) source, the
    same driver-side validation Delta's MERGE performs."""
    scd_cols = {valid_from, valid_to, current}
    data_cols = [c for c in table.read().columns if c not in scd_cols]
    missing = sorted((set(key_cols) | set(tracked_cols)) - set(updates.columns))
    if missing:
        raise MergeError(f"updates missing column(s): {missing}")
    import functools
    import operator as pyop

    dup_keys = [
        tuple(r)
        for r in updates.groupBy(*key_cols)
        .count()
        .filter(F.col("count") > 1)
        .select(*key_cols)
        .limit(5)
        .collect()
    ]
    if dup_keys:
        raise MergeError(
            "scd2_apply: updates must carry ONE row per key; duplicate "
            f"key(s) {dup_keys} — reduce rapid-fire updates to the "
            "terminal row per key first (as stream_merge_upsert does)"
        )
    if delete_keys is not None:
        _u_keys = updates.select(*key_cols).alias("u")
        _d_keys = delete_keys.select(*key_cols).alias("d")
        overlap = [
            tuple(r)
            for r in _u_keys.join(
                _d_keys,
                functools.reduce(
                    pyop.and_,
                    [
                        F.col(f"u.{k}").eqNullSafe(F.col(f"d.{k}"))
                        for k in key_cols
                    ],
                ),
                "inner",
            )
            .select(*[F.col(f"u.{k}") for k in key_cols])
            .limit(5)
            .collect()
        ]
        if overlap:
            raise MergeError(
                "scd2_apply: key(s) present in BOTH updates and "
                f"delete_keys: {overlap} — this would stage two close "
                "rows for the same current version; split it into two "
                "applies if you mean 'new version, then retire it'"
            )

    u = updates.alias("u")
    cur = table.read().filter(F.col(current)).alias("t")
    key_eq = [F.col(f"u.{k}").eqNullSafe(F.col(f"t.{k}")) for k in key_cols]
    joined = u.join(cur, functools.reduce(pyop.and_, key_eq), "left")
    no_cur = F.col(f"t.{valid_from}").isNull()
    differs = functools.reduce(
        pyop.or_,
        [~F.col(f"u.{c}").eqNullSafe(F.col(f"t.{c}")) for c in tracked_cols],
    )
    need = joined.filter(no_cur | differs)

    def _u(c):
        return F.col(f"u.{c}")

    close_rows = need.filter(~no_cur).select(
        *[_u(c).alias(c) for c in key_cols],
        F.col(f"t.{valid_from}").alias(valid_from),
        F.lit("close").alias("_scd_action"),
    )
    insert_rows = need.select(
        *[
            (_u(c) if c in updates.columns else F.col(f"t.{c}")).alias(c)
            for c in data_cols
        ],
        F.lit(float(ts)).alias(valid_from),
        F.lit(None).cast("double").alias(valid_to),
        F.lit(True).alias(current),
        F.lit("insert").alias("_scd_action"),
    )
    if delete_keys is not None:
        d = delete_keys.alias("u")
        dkey_eq = [
            F.col(f"u.{k}").eqNullSafe(F.col(f"t.{k}")) for k in key_cols
        ]
        retire_rows = (
            d.join(cur, functools.reduce(pyop.and_, dkey_eq), "inner").select(
                *[_u(c).alias(c) for c in key_cols],
                F.col(f"t.{valid_from}").alias(valid_from),
                F.lit("close").alias("_scd_action"),
            )
        )
        close_rows = close_rows.unionByName(retire_rows)
    bs_kwargs: dict = {}
    if close_missing:
        # full-snapshot mode: every snapshot key must appear in the
        # source so "not matched by source" means exactly "absent from
        # the snapshot" — unchanged keys ride as keep rows that match
        # their current version and fail every clause gate
        keep_rows = joined.filter(~no_cur & ~differs).select(
            *[_u(c).alias(c) for c in key_cols],
            F.col(f"t.{valid_from}").alias(valid_from),
            F.lit("keep").alias("_scd_action"),
        )
        close_rows = close_rows.unionByName(keep_rows)
        bs_kwargs = {
            "when_not_matched_by_source_update": {
                valid_to: F.lit(float(ts)),
                current: F.lit(False),
            },
            # tuple form: the retire scan stats-prunes files holding
            # only closed history (current = False everywhere)
            "when_not_matched_by_source_update_condition": [
                (current, "=", True)
            ],
        }
    # align the two shapes: close rows only need the join key + marker;
    # missing data columns ride as typed NULLs (never read by a clause)
    source = insert_rows.unionByName(close_rows, allowMissingColumns=True)
    stats = table.merge(
        source,
        on=key_cols + [valid_from],
        when_matched_update={
            valid_to: F.lit(float(ts)),
            current: F.lit(False),
        },
        when_matched_update_condition=src("_scd_action") == "close",
        **bs_kwargs,
    )
    return {
        "rows_closed": stats.get("rows_updated", 0),
        "rows_inserted": stats.get("rows_inserted", 0),
        "version": stats["version"],
    }
