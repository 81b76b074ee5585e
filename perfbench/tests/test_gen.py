"""The generator's expected outputs agree with an independent, row-at-a-
time model of the export built from the package's pure-Python kernels."""

import base64
import json

from hbase_to_mongo_export_spark.functions.crypto import aes_ctr
from hbase_to_mongo_export_spark.functions.normalize import normalize_record

from perfbench import gen


def _model(inp):
    """(manifest ids, quarantine per reason) of a row-at-a-time export."""
    ids, reasons = [], {r: 0 for r in gen.REASONS}
    for key, _, value in inp.rows:
        msg = json.loads(value)["message"]
        enc = msg["encryption"]
        if not all([msg["dbObject"], enc["keyEncryptionKeyId"], enc["encryptedEncryptionKey"],
                    enc["initialisationVector"], msg["db"], msg["collection"]]):
            reasons[gen.MISSING] += 1
            continue
        try:
            plain = aes_ctr(
                base64.b64decode(enc["encryptedEncryptionKey"]),
                base64.b64decode(enc["initialisationVector"]),
                base64.b64decode(msg["dbObject"]),
            ).decode("utf-8")
        except Exception:
            plain = None
        norm = normalize_record(
            plain, key[4:].decode(), msg["db"], msg["collection"], msg["_lastModifiedDateTime"]
        )
        if norm.error is not None:
            reasons[gen.quarantine_reason(norm.error)] += 1
        else:
            ids.append(norm.manifest_id)
    return ids, reasons


def test_expectations_match_row_model():
    inp = gen.export_full(seed=11, n=1500)
    ids, reasons = _model(inp)
    assert reasons == inp.expected_quarantine
    assert all(reasons.values()), reasons
    assert len(ids) == len(set(ids)) == inp.expected_records
    assert set(ids) == inp.manifest_ids
    assert inp.latest_records == 1500


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = gen.export_full(3, 200), gen.export_full(3, 200), gen.export_full(4, 200)
    assert a.rows == b.rows and a.manifest_ids == b.manifest_ids
    assert a.rows != c.rows


def test_payload_shape():
    inp = gen.export_full(5, 300)
    sizes = [len(base64.b64decode(json.loads(v)["message"]["dbObject"])) for _, _, v in inp.rows]
    sizes = [s for s in sizes if s]
    assert gen.MIN_PAYLOAD <= min(sizes) and max(sizes) <= gen.MAX_PAYLOAD + 100
    keys = {json.loads(v)["message"]["encryption"]["encryptedEncryptionKey"] for _, _, v in inp.rows}
    assert len(keys) == gen.DATA_KEYS
