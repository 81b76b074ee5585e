"""Seeded export inputs with exactly known expected outputs.

Every source row is an HBase-shaped ``(key, ts, value)`` envelope made by
``fixtures.envelope_row`` and then re-encrypted under one of
``DATA_KEYS`` per-run data keys with ``crypto.aes_ctr``. Payloads are
seeded JSON objects of 0.2-4 KB with nested objects and arrays,
``$date``/``$oid`` wrappers, bare dates the normalizer wraps, and the
``$``, ``\\u0000``, ``_archived`` and ``\\n`` escapes that sanitise rewrites.

About 2 % of rows are broken on purpose, split evenly over the three
quarantine reasons of ``plans.export.build_export``. The generator
therefore knows the exact record count, quarantine count per reason,
manifest ids and plaintext bytes that a correct export must produce.
"""

from __future__ import annotations

import base64
import hashlib
import json
import random
from dataclasses import dataclass

from hbase_to_mongo_export_spark.functions.crypto import aes_ctr
from hbase_to_mongo_export_spark.sources import fixtures

# One of the collections sanitise also strips escapes from.
DATABASE, COLLECTION = "core", "healthAndDisabilityDeclaration"
DATA_KEYS = 8
QUARANTINE_SHARE = 0.02
MIN_PAYLOAD, MAX_PAYLOAD = 200, 4000  # bytes of payload JSON
MISSING = "missing mandatory field"
DECRYPT = "decryption failure"
NORMALIZE = "normalize error"
REASONS = (MISSING, DECRYPT, NORMALIZE)

_WORDS = (
    "claim", "award", "payment", "address", "benefit", "contract", "review",
    "status", "period", "amount", "change", "notice", "appeal", "record",
)
_FIELDS = (
    "details", "history", "contact", "notes", "items", "_archivedFlag",
    "$meta", "flags", "events", "amounts", "refs", "comment",
)


def quarantine_reason(error: str) -> str:
    """Map a quarantine row's ``error`` text to one of ``REASONS``. A null
    decrypt reaches the normalizer, which reports "no decrypted payload"."""
    if error == MISSING:
        return MISSING
    if error in (DECRYPT, "no decrypted payload"):
        return DECRYPT
    return NORMALIZE


def manifest_id(_id) -> str:
    """The manifest id a correct normalizer emits for a payload ``_id``:
    key-sorted compact JSON of an object id, ``{"$oid": s}`` of a string."""
    obj = _id if isinstance(_id, dict) else {"$oid": _id}
    return json.dumps(dict(sorted(obj.items())), separators=(",", ":"))


@dataclass
class ExportInput:
    rows: list[tuple[bytes, int, str]]
    topic: str
    latest_records: int          # latest-version input rows
    expected_records: int
    expected_quarantine: dict[str, int]
    manifest_ids: frozenset[str]
    plaintext_bytes: int         # UTF-8 payload bytes of exported records


class _Maker:
    """Seeded payload and envelope factory."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        r = self.rng
        self.dates = [
            f"20{r.randint(10, 24):02d}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}"
            f"T{r.randint(0, 23):02d}:{r.randint(0, 59):02d}:{r.randint(0, 59):02d}"
            f".{r.randint(0, 999):03d}+0000"
            for _ in range(1024)
        ]
        self.keys = [
            hashlib.md5(f"perfbench-{seed}-{k}".encode()).digest()
            for k in range(DATA_KEYS)
        ]

    def _date_in(self) -> str:
        return self.dates[int(self.rng.random() * len(self.dates))]

    def _date_out(self) -> str:
        return self._date_in()[:-5] + "Z"

    def _text(self) -> str:
        r = self.rng
        words = r.choices(_WORDS, k=5 + int(r.random() * 25))
        roll = r.random()
        if roll < 0.3:
            return "\n".join(words)
        if roll < 0.4:
            return " ".join(words) + "\u0000"
        if roll < 0.5:
            return "$" + " ".join(words)
        return " ".join(words)

    def _value(self, depth: int):
        r = self.rng
        roll = r.random()
        if depth < 2 and roll < 0.15:
            return {f"{_FIELDS[k]}{depth}": self._value(depth + 1) for k in range(2 + int(r.random() * 4))}
        if depth < 2 and roll < 0.3:
            return [self._value(depth + 1) for _ in range(2 + int(r.random() * 5))]
        if roll < 0.4:
            return {"$date": self._date_out()}
        if roll < 0.5:
            return self._date_in()
        if roll < 0.55:
            return {"$oid": "%024x" % r.getrandbits(96)}
        if roll < 0.85:
            return self._text()
        return int(r.random() * 2_000_000) - 1_000_000

    def payload(self, _id, broken_date: bool) -> dict:
        r = self.rng
        body = {
            "_id": _id,
            "createdDateTime": self._date_in(),
            "_lastModifiedDateTime": "not-a-date" if broken_date else self._date_in(),
        }
        if r.random() < 0.1:
            body["_removedDateTime"] = self._date_in()
            body["_archivedDateTime"] = self._date_in()
        target = r.randint(MIN_PAYLOAD, MAX_PAYLOAD)
        size = len(json.dumps(body))
        k = 0
        while size < target:
            name = f"{_FIELDS[k % len(_FIELDS)]}{k}"
            value = self._value(0)
            grow = len(name) + len(json.dumps(value)) + 6
            if size + grow > MAX_PAYLOAD:
                break
            body[name] = value
            size += grow
            k += 1
        return body

    def fate(self) -> str | None:
        if self.rng.random() < QUARANTINE_SHARE:
            return self.rng.choice(REASONS)
        return None

    def envelope(self, i: int, body: dict, fate: str | None) -> tuple[bytes, int, str]:
        key, ts, value = fixtures.envelope_row(
            i, DATABASE, COLLECTION, payload_obj=body, plaintext=True
        )
        wrapper = json.loads(value)
        msg = wrapper["message"]
        k = self.rng.randrange(DATA_KEYS)
        cipher = aes_ctr(self.keys[k], fixtures.iv_for(i), msg["dbObject"].encode("utf-8"))
        msg["dbObject"] = base64.b64encode(cipher).decode("ascii")
        msg["encryption"]["encryptedEncryptionKey"] = base64.b64encode(self.keys[k]).decode("ascii")
        if fate == MISSING:
            msg["dbObject"] = ""
        elif fate == DECRYPT:
            msg["encryption"]["initialisationVector"] = "@@@@"
        return key, ts, json.dumps(wrapper)


def _record_id(seed: int, k: int):
    text = f"{seed:x}-{k:07d}"
    return {"record_id": text} if k % 2 == 0 else text


def export_full(seed: int, n: int) -> ExportInput:
    """``n`` unique keys, one version each."""
    m = _Maker(seed)
    rows = []
    quarantine = {reason: 0 for reason in REASONS}
    ids = set()
    plaintext = 0
    for k in range(n):
        fate = m.fate()
        body = m.payload(_record_id(seed, k), broken_date=fate == NORMALIZE)
        rows.append(m.envelope(k, body, fate))
        if fate is None:
            ids.add(manifest_id(body["_id"]))
            plaintext += len(json.dumps(body).encode("utf-8"))
        else:
            quarantine[fate] += 1
    return ExportInput(
        rows=rows,
        topic=f"db.{DATABASE}.{COLLECTION}",
        latest_records=n,
        expected_records=len(ids),
        expected_quarantine=quarantine,
        manifest_ids=frozenset(ids),
        plaintext_bytes=plaintext,
    )
