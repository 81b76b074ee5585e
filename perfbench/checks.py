"""Output checks. Each returns a list of problems; an empty list passes.
They run outside the timed region."""

from __future__ import annotations

import base64
import bz2
import csv
import gzip
import json
import math
import os

from hbase_to_mongo_export_spark.functions.crypto import aes_ctr

from .gen import ExportInput


def check_result(result, inp: ExportInput) -> list[str]:
    """Status and counts of one ``run_export`` result."""
    problems = []
    if result.status != "Exported":
        problems.append(f"status {result.status}")
    if result.records != inp.expected_records:
        problems.append(f"records {result.records} != {inp.expected_records}")
    want = sum(inp.expected_quarantine.values())
    if result.quarantined != want:
        problems.append(f"quarantined {result.quarantined} != {want}")
    if not result.files:
        problems.append("no snapshot files")
    return problems


def check_reasons(counts: dict[str, int], inp: ExportInput) -> list[str]:
    """Quarantine count per reason against the generator's."""
    if counts != inp.expected_quarantine:
        return [f"quarantine reasons {counts} != {inp.expected_quarantine}"]
    return []


def snapshot_lines(path: str) -> list[str]:
    """Plaintext lines of one snapshot file. An ``.enc`` file is first
    decrypted with the data key and IV in its ``.meta.json`` sidecar."""
    with open(path, "rb") as fh:
        payload = fh.read()
    if path.endswith(".enc"):
        with open(path + ".meta.json", encoding="utf-8") as fh:
            meta = json.load(fh)
        key = base64.b64decode(meta["cipherText"])
        payload = aes_ctr(key, base64.b64decode(meta["iv"]), payload)
        path = path[: -len(".enc")]
    if path.endswith(".gz"):
        payload = gzip.decompress(payload)
    elif path.endswith(".bz2"):
        payload = bz2.decompress(payload)
    return payload.decode("utf-8").splitlines()


def manifest_ids(manifest_dir: str) -> list[str]:
    """First field of every manifest line under ``manifest_dir``."""
    ids = []
    for name in sorted(os.listdir(manifest_dir)):
        if name.startswith((".", "_")):
            continue
        with open(os.path.join(manifest_dir, name), encoding="utf-8", newline="") as fh:
            ids.extend(row[0] for row in csv.reader(fh, delimiter="|") if row)
    return ids


def check_outputs(files: list[str], manifest_dir: str, inp: ExportInput) -> list[str]:
    """Every snapshot file holds valid JSON-object lines, the line total is
    the expected record count, and the manifest ids are exactly the
    generator's set, each once."""
    problems = []
    lines = 0
    for path in files:
        for line in snapshot_lines(path):
            try:
                ok = isinstance(json.loads(line), dict)
            except ValueError:
                ok = False
            if not ok:
                problems.append(f"invalid JSON line in {os.path.basename(path)}")
                break
            lines += 1
    if lines != inp.expected_records:
        problems.append(f"snapshot lines {lines} != {inp.expected_records}")
    ids = manifest_ids(manifest_dir)
    if len(ids) != len(set(ids)) or set(ids) != inp.manifest_ids:
        problems.append(
            f"manifest ids: {len(ids)} lines, {len(set(ids) ^ inp.manifest_ids)} differ"
        )
    return problems


def _canon(value):
    if isinstance(value, float):
        return "nan" if math.isnan(value) else repr(value)
    if isinstance(value, (list, tuple)):
        return tuple(_canon(v) for v in value)
    return str(value)


def rowset(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Column-name-ordered, order-insensitive, bit-exact canonical form."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return (
        [columns[i] for i in order],
        sorted(tuple(_canon(r[i]) for i in order) for r in rows),
    )


def check_oracle(name: str, spark_result, oracle_result) -> list[str]:
    """A query result must be non-empty and value-match its DuckDB oracle."""
    s_cols, s_rows = rowset(*spark_result)
    o_cols, o_rows = rowset(*oracle_result)
    if not s_rows:
        return [f"{name}: empty result"]
    if s_cols != o_cols:
        return [f"{name}: columns {s_cols} != {o_cols}"]
    if s_rows != o_rows:
        return [f"{name}: {len(s_rows)} rows differ from the oracle's {len(o_rows)}"]
    return []
