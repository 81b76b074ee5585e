"""The output checks reject wrong counts, ids, files and oracle results."""

import base64
import bz2
import gzip
import json
import os
from types import SimpleNamespace

from hbase_to_mongo_export_spark.functions.crypto import aes_ctr

from perfbench import checks, gen

INP = gen.ExportInput(
    rows=[],
    topic="db.a.b",
    latest_records=4,
    expected_records=2,
    expected_quarantine={gen.MISSING: 1, gen.DECRYPT: 1, gen.NORMALIZE: 0},
    manifest_ids=frozenset({'{"record_id":"1"}', '{"$oid":"2"}'}),
    plaintext_bytes=100,
)


def _result(**kw):
    fields = dict(status="Exported", records=2, quarantined=2, files=["f"])
    fields.update(kw)
    return SimpleNamespace(**fields)


def test_result_counts():
    assert checks.check_result(_result(), INP) == []
    assert checks.check_result(_result(records=3), INP)
    assert checks.check_result(_result(quarantined=1), INP)
    assert checks.check_result(_result(status="Export_Failed"), INP)
    assert checks.check_result(_result(files=[]), INP)


def test_reason_counts():
    assert checks.check_reasons(dict(INP.expected_quarantine), INP) == []
    wrong = {gen.MISSING: 2, gen.DECRYPT: 0, gen.NORMALIZE: 0}
    assert checks.check_reasons(wrong, INP)
    assert gen.quarantine_reason("no decrypted payload") == gen.DECRYPT
    assert gen.quarantine_reason("Unparseable date found: 'x'") == gen.NORMALIZE


def _write_outputs(tmp_path, lines, manifest):
    snap = tmp_path / "snapshot"
    man = tmp_path / "manifest"
    snap.mkdir()
    man.mkdir()
    (snap / "part-0.txt.gz").write_bytes(gzip.compress("".join(lines).encode()))
    (man / "part-0.txt").write_text("".join(manifest))
    (man / "_SUCCESS").write_text("")
    return [str(snap / "part-0.txt.gz")], str(man)


MANIFEST = ['"{""record_id"":""1""}"|1|a|b\n', '"{""$oid"":""2""}"|1|a|b\n']


def test_outputs_pass(tmp_path):
    files, man = _write_outputs(tmp_path, ['{"a":1}\n', '{"b":2}\n'], MANIFEST)
    assert checks.check_outputs(files, man, INP) == []


def test_outputs_reject_bad_json_count_and_ids(tmp_path):
    files, man = _write_outputs(tmp_path, ['{"a":1}\n', "not json\n"], MANIFEST[:1] * 2)
    problems = checks.check_outputs(files, man, INP)
    assert any("invalid JSON" in p for p in problems)
    assert any("snapshot lines" in p for p in problems)
    assert any("manifest ids" in p for p in problems)


def test_encrypted_file_decrypts_with_sidecar_key(tmp_path):
    key, iv = os.urandom(16), os.urandom(16)
    path = tmp_path / "t-000-005-000001.txt.bz2.enc"
    path.write_bytes(aes_ctr(key, iv, bz2.compress(b'{"x":1}\n{"y":2}\n')))
    meta = {"cipherText": base64.b64encode(key).decode(), "iv": base64.b64encode(iv).decode()}
    (tmp_path / (path.name + ".meta.json")).write_text(json.dumps(meta))
    assert checks.snapshot_lines(str(path)) == ['{"x":1}', '{"y":2}']


def test_oracle_match():
    spark = (["b", "a"], [(2.5, 1), (0.1, 2)])
    duck = (["a", "b"], [(2, 0.1), (1, 2.5)])
    assert checks.check_oracle("q", spark, duck) == []


def test_oracle_rejects_wrong_value_columns_and_empty():
    duck = (["a", "b"], [(2, 0.1), (1, 2.5)])
    assert checks.check_oracle("q", (["a", "b"], [(2, 0.1), (1, 2.5000000001)]), duck)
    assert checks.check_oracle("q", (["a", "c"], [(2, 0.1), (1, 2.5)]), duck)
    assert checks.check_oracle("q", (["a", "b"], []), (["a", "b"], []))
