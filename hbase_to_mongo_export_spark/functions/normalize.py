"""Record normalization — the reference's Validator/DateWrapper/IdUtility
semantics as a pure-Python kernel + one vectorized pandas UDF.

This is the engine's most intricate fidelity surface. The payload is
schema-less JSON, so the recursive rewrites cannot be expressed as Catalyst
column operations; the honest Spark mapping is a single Arrow-batched UDF
(SURVEY §2.4). All semantics below cite the reference:

- parse-or-reject (Validator.kt:38,62-68)
- effective last-modified selection: _lastModifiedDateTime →
  _removedDateTime → createdDateTime → literal 1980-01-01T00:00:00.000Z,
  accepting bare strings and {"$date": ...} objects (Validator.kt:114-151)
- _lastModifiedDateTime is ALWAYS rewritten to a {"$date": <outgoing>}
  object (the epoch default makes the selection non-blank), and the rewrite
  moves the field to the end of the object (remove+add,
  Validator.kt:79-103)
- recursive date wrapping (DateWrapper.kt): full-regex-matched date strings
  become {"$date": <outgoing>}; existing single-key {"$date": ...} children
  of objects are reformatted in place; inside ARRAYS a {"$date": ...}
  object is treated as a plain object, so its inner string gets wrapped
  again ({"$date": {"$date": ...}}) — a reference quirk we reproduce
  (DateWrapper.kt:56-73 lacks the isMongoDateObject check)
- top-level _lastModifiedDateTime excluded from the generic walk
  (DateWrapper.kt:11-21, includeLastModified=false at Validator.kt:93);
  nested ones are processed
- _archivedDateTime dropped when _removedDateTime also present
  (Validator.kt:42-45)
- _id normalization + manifest ids (Validator.kt:47-59): primitive _id →
  {"$oid": str} (moved to end); object _id kept; manifest id = key-sorted
  compact JSON for objects else the raw string; absent _id →
  reverse-engineered from the rowkey (IdUtility.kt:7-18)
- key-sorted JSON = top-level-only sort, compact separators
  (JsonUtils.kt:7-14; expected form in ValidatorTest.kt:40-41)
- business-audit context promotion (DecryptionProcessor.kt:59-73)
- manifest timestamp preference full→createdDateTime /
  incremental→_lastModifiedDateTime with mutual fallback
  (Validator.kt:172-193)

Timezone note: the reference's SimpleDateFormat behavior is JVM-timezone-
sensitive; we pin UTC (SURVEY §7.4), matching the production posture.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

LAST_MODIFIED = "_lastModifiedDateTime"
CREATED = "createdDateTime"
REMOVED = "_removedDateTime"
ARCHIVED = "_archivedDateTime"
DATE_KEY = "$date"
EPOCH_DEFAULT = "1980-01-01T00:00:00.000Z"

# Full-match gates for the generic walk (DateWrapper.kt:106-107).
INCOMING_RE = re.compile(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}\+\d{4}\Z")
OUTGOING_RE = re.compile(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z\Z")


class NormalizationError(Exception):
    """Python stand-in for BadDecryptedDataException — routed to quarantine."""


def _dump(obj: Any) -> str:
    """Compact JSON, UTF-8 passthrough — gson/Klaxon compact rendering."""
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def parse_date_strict(s: str) -> datetime | None:
    """Regex-gated parse used by the recursive walk (DateWrapper.parsedDate)."""
    if INCOMING_RE.match(s):
        return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%z")
    if OUTGOING_RE.match(s):
        return datetime.strptime(s[:-1], "%Y-%m-%dT%H:%M:%S.%f").replace(
            tzinfo=timezone.utc
        )
    return None


def parse_date_lenient(s: str) -> datetime:
    """Format-tried parse (Validator.getValidParsedDateTime) — raises on failure."""
    for fmt_try in ("%Y-%m-%dT%H:%M:%S.%f%z", "%Y-%m-%dT%H:%M:%S.%fZ"):
        try:
            dt = datetime.strptime(s, fmt_try)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            return dt
        except ValueError:
            continue
    raise NormalizationError(f"Unparseable date found: '{s}'")


def format_outgoing(dt: datetime) -> str:
    """yyyy-MM-dd'T'HH:mm:ss.SSS'Z' in UTC (Validator.kt:25)."""
    dt = dt.astimezone(timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}Z"


def reformat(s: str) -> str:
    return format_outgoing(parse_date_lenient(s))


def sort_json_by_key(unsorted_json: str) -> str:
    """Top-level key sort, compact output (JsonUtils.kt:7-14)."""
    obj = json.loads(unsorted_json)
    if not isinstance(obj, dict):
        raise NormalizationError(f"expected JSON object, got: {unsorted_json!r}")
    return _dump(dict(sorted(obj.items())))


def _is_mongo_date_object(el: Any) -> bool:
    # Single-key {"$date": <primitive>} (DateWrapper.kt:48-53).
    return (
        isinstance(el, dict)
        and len(el) == 1
        and DATE_KEY in el
        and not isinstance(el[DATE_KEY], (dict, list))
        and el[DATE_KEY] is not None
    )


def _date_object(dt: datetime) -> dict:
    return {DATE_KEY: format_outgoing(dt)}


def wrap_dates_walk(obj: dict, include_last_modified: bool = True) -> None:
    """In-place recursive date wrapping (DateWrapper.processJsonObject)."""
    for key in list(obj.keys()):
        if key == LAST_MODIFIED and not include_last_modified:
            continue
        child = obj[key]
        if _is_mongo_date_object(child):
            ts = child[DATE_KEY]
            if isinstance(ts, str):
                dt = parse_date_strict(ts)
            else:
                dt = None  # gson asString of a number would stringify; dates never are
            if dt is not None:
                # remove+add of the same single key keeps the object identical.
                child[DATE_KEY] = format_outgoing(dt)
        elif isinstance(child, dict):
            wrap_dates_walk(child)  # nested: includeLastModified defaults true
        elif isinstance(child, list):
            _wrap_dates_array(child)
        elif isinstance(child, str):
            dt = parse_date_strict(child)
            if dt is not None:
                obj[key] = _date_object(dt)  # in-place: position preserved


def _wrap_dates_array(arr: list) -> None:
    # NOTE: no mongo-date-object check here — a {"$date": ...} element is
    # recursed as a plain object, double-wrapping its value. Reference quirk
    # (DateWrapper.kt:56-73), reproduced deliberately.
    for i, value in enumerate(arr):
        if isinstance(value, dict):
            wrap_dates_walk(value)
        elif isinstance(value, list):
            _wrap_dates_array(value)
        elif isinstance(value, str):
            dt = parse_date_strict(value)
            if dt is not None:
                arr[i] = _date_object(dt)


_ABSENT = object()


def _retrieve_date_time_element(obj: dict, key: str) -> str:
    """String value of a bare or {"$date": ...} date field (Validator.kt:136-151)."""
    el = obj.get(key, _ABSENT)
    if el is _ABSENT or el is None:
        return ""
    if isinstance(el, dict):
        sub = el.get(DATE_KEY)
        if sub is not None:
            return _as_string(sub)
        return ""
    if isinstance(el, list):
        raise NormalizationError(f"array value for date field {key}")
    return _as_string(el)


def _as_string(el: Any) -> str:
    # gson JsonPrimitive.asString: strings pass through, numbers/bools stringify.
    if isinstance(el, str):
        return el
    if isinstance(el, bool):
        return "true" if el else "false"
    if isinstance(el, (int, float)):
        return _dump(el)
    raise NormalizationError(f"cannot render {type(el).__name__} as string")


def retrieve_last_modified(obj: dict) -> str:
    """First non-blank of lastModified/removed/created, else the 1980 epoch
    literal (Validator.kt:114-134) — hence never blank."""
    for key in (LAST_MODIFIED, REMOVED, CREATED):
        v = _retrieve_date_time_element(obj, key)
        if v and v.strip():
            return v
    return EPOCH_DEFAULT


def wrap_dates(obj: dict) -> tuple[dict, str]:
    """Validator.wrapDates: rewrite _lastModifiedDateTime (always — the
    default makes the selection non-blank; remove+add moves it to the end),
    then run the generic walk excluding it at top level. Mutates ``obj``."""
    last_modified = retrieve_last_modified(obj)
    formatted = reformat(last_modified)  # unparseable ⇒ NormalizationError ⇒ quarantine
    obj.pop(LAST_MODIFIED, None)
    obj[LAST_MODIFIED] = {DATE_KEY: formatted}
    wrap_dates_walk(obj, include_last_modified=False)
    return obj, last_modified


def reverse_engineer_id(hbase_id: str) -> tuple[str, str]:
    """IdUtility.reverseEngineerId: rowkey id (checksum already stripped) →
    (originalId, manifest id)."""
    try:
        obj = json.loads(hbase_id)
    except ValueError as e:
        raise NormalizationError(f"rowkey id is not JSON: {hbase_id!r}") from e
    if not isinstance(obj, dict):
        raise NormalizationError(f"rowkey id is not a JSON object: {hbase_id!r}")
    if len(obj) == 1 and "id" in obj:
        scalar = _as_string(obj["id"])
        return scalar, sort_json_by_key(_dump({"$oid": scalar}))
    sorted_id = sort_json_by_key(_dump(obj))
    return sorted_id, sorted_id


def _element_as_string(el: Any) -> str:
    if isinstance(el, dict):
        return sort_json_by_key(_dump(el))
    if el is None:
        raise NormalizationError("JsonNull has no string value")  # gson asString throws
    return _as_string(el)


def business_audit_transform(decrypted: str, message_last_modified: str | None) -> str:
    """db=data/collection=businessAudit: promote the context object, stamping
    AUDIT_EVENT + TIME_STAMP/TIME_STAMP_ORIG (DecryptionProcessor.kt:59-73)."""
    obj = json.loads(decrypted)
    if not isinstance(obj, dict):
        raise NormalizationError("business audit record is not an object")
    context = obj.get("context")
    audit_type = obj.get("auditType")
    if audit_type is None or not isinstance(context, dict):
        raise NormalizationError("auditType or context for business audit record is null")
    context["AUDIT_EVENT"] = _as_string(audit_type)
    context["TIME_STAMP"] = message_last_modified
    context["TIME_STAMP_ORIG"] = message_last_modified
    return _dump(context)


def timestamp_preference(
    created: str, last_modified: str, snapshot_type: str
) -> int:
    """Manifest-timestamp preference with mutual fallback (Validator.kt:172-193).
    Returns epoch millis."""
    preferred, fallback = (
        (created, last_modified) if snapshot_type == "full" else (last_modified, created)
    )
    try:
        dt = parse_date_lenient(preferred)
    except NormalizationError:
        dt = parse_date_lenient(fallback)
    return int(dt.timestamp() * 1000)


@dataclass
class NormalizedRecord:
    record_json: str | None  # normalized payload (None ⇒ dropped/quarantined)
    manifest_id: str | None
    manifest_original_id: str | None
    error: str | None  # non-null ⇒ quarantine reason


def normalize_record(
    decrypted: str | None,
    rowkey_id: str | None,
    db: str | None,
    collection: str | None,
    message_last_modified: str | None,
) -> NormalizedRecord:
    """Full Validator.skipBadDecryptedRecords semantics for one record.

    ``rowkey_id`` is the rowkey with the 4-byte checksum already stripped,
    decoded as UTF-8 (Validator.kt:32-33).
    """
    try:
        if decrypted is None:
            raise NormalizationError("no decrypted payload")
        if db == "data" and collection == "businessAudit":
            decrypted = business_audit_transform(decrypted, message_last_modified)
        try:
            obj = json.loads(decrypted)
        except ValueError as e:
            raise NormalizationError(f"payload is not JSON: {e}") from e
        if obj is None:
            return NormalizedRecord(None, None, None, None)  # gson null ⇒ silent drop
        if not isinstance(obj, dict):
            raise NormalizationError("payload is not a JSON object")

        wrap_dates(obj)

        if ARCHIVED in obj and REMOVED in obj:
            del obj[ARCHIVED]

        id_el = obj.get("_id", _ABSENT)
        if id_el is _ABSENT:
            original, altered = reverse_engineer_id(rowkey_id or "")
            return NormalizedRecord(_dump(obj), altered, original, None)

        if not isinstance(id_el, (dict, list)) and id_el is not None:
            # primitive ⇒ {"$oid": str}, moved to the end (remove+add)
            obj.pop("_id", None)
            obj["_id"] = {"$oid": _as_string(id_el)}
        new_id_el = obj["_id"]
        return NormalizedRecord(
            _dump(obj),
            _element_as_string(new_id_el),
            _element_as_string(id_el),
            None,
        )
    except NormalizationError as e:
        return NormalizedRecord(None, None, None, str(e))
    except Exception as e:  # parity with the reference's broad catch
        return NormalizedRecord(None, None, None, f"{type(e).__name__}: {e}")


NORMALIZED_SCHEMA = T.StructType(
    [
        T.StructField("record_json", T.StringType()),
        T.StructField("manifest_id", T.StringType()),
        T.StructField("manifest_original_id", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


@F.pandas_udf(NORMALIZED_SCHEMA)
def normalize_udf(
    it: Iterator[tuple[pd.Series, pd.Series, pd.Series, pd.Series, pd.Series]],
) -> Iterator[pd.DataFrame]:
    """(decrypted, rowkey_id, db, collection, message_last_modified) →
    struct(record_json, manifest_id, manifest_original_id, error)."""
    for decrypted, rowkey_id, db, collection, mlm in it:
        rows = [
            normalize_record(
                None if pd.isna(d) else d,
                None if pd.isna(rk) else rk,
                None if pd.isna(dbv) else dbv,
                None if pd.isna(cv) else cv,
                None if pd.isna(m) else m,
            )
            for d, rk, dbv, cv, m in zip(decrypted, rowkey_id, db, collection, mlm)
        ]
        yield pd.DataFrame(
            {
                "record_json": [r.record_json for r in rows],
                "manifest_id": [r.manifest_id for r in rows],
                "manifest_original_id": [r.manifest_original_id for r in rows],
                "error": [r.error for r in rows],
            }
        )


# Pure, but nondeterministic keeps it out of pushed-down filters: one call per row.
normalize_udf = normalize_udf.asNondeterministic()
