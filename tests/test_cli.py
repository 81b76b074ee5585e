"""CLI surface: the sql / query subcommands (ad-hoc SQL is the engine's
query language — SURVEY §2.8's last row)."""

import json

from hbase_to_mongo_export_spark.__main__ import main

SF = "/root/testdata/sf0.001"


def test_sql_subcommand_prints_rows(capsys, spark):
    rc = main(["sql", "SELECT COUNT(*) AS n FROM nation", "--sf-dir", SF])
    assert rc == 0
    out = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert out == [{"n": 25}]


def test_sql_subcommand_writes_output(tmp_path, capsys, spark):
    dest = str(tmp_path / "out_csv")
    rc = main([
        "sql", "SELECT r_regionkey, r_name FROM region",
        "--sf-dir", SF, "--output", dest, "--format", "csv",
    ])
    assert rc == 0
    from hbase_to_mongo_export_spark.sources.catalog import read_any

    back = read_any(spark, dest, "csv")
    assert back.count() == 5


def test_query_subcommand_runs_registry_entry(capsys, spark):
    rc = main(["query", "count_distinct_users", "--sf-dir", SF])
    assert rc == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert rows and "n_users" in rows[0] or rows


def test_query_subcommand_unknown_name(capsys, spark):
    assert main(["query", "no_such_query"]) == 2


def test_query_list(capsys, spark):
    rc = main(["query", "list"])
    assert rc == 0
    names = capsys.readouterr().out.split()
    assert "q1_pricing_summary" in names


def test_export_subcommand_end_to_end(tmp_path, capsys, spark):
    """CLI export: source parquet → snapshot + manifest + status + messages."""
    from hbase_to_mongo_export_spark.sources import fixtures

    src = str(tmp_path / "src")
    fixtures.source_records(spark, n=40).write.parquet(src)
    status = str(tmp_path / "status.jsonl")
    messages = str(tmp_path / "messages.jsonl")
    rc = main([
        "export", "--topic", "db.database.collection",
        "--source", src, "--output", str(tmp_path / "out"),
        "--manifest", str(tmp_path / "manifest"),
        "--status-file", status, "--messages-file", messages,
        "--correlation-id", "cli-test",
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert out["status"] == "Exported"
    assert out["records"] == 40
    assert out["files"] >= 1 and out["manifest_files"] >= 1
    status_lines = [json.loads(l) for l in open(status)]
    assert any(s.get("status") == "Exported" for s in status_lines)
    msg_lines = [json.loads(l) for l in open(messages)]
    assert any(m.get("kind") == "snapshot_file" for m in msg_lines)


def test_export_subcommand_missing_source(tmp_path, capsys, spark):
    rc = main([
        "export", "--topic", "does.not.exist",
        "--source", str(tmp_path / "nope"),
        "--output", str(tmp_path / "out"),
        "--status-file", str(tmp_path / "status.jsonl"),
    ])
    assert rc == 1
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "Table_Unavailable"


def test_export_subcommand_failure_prints_cause(tmp_path, capsys, spark):
    import importlib.util

    import pytest

    from hbase_to_mongo_export_spark.sources import fixtures

    if importlib.util.find_spec("lz4") is not None:
        pytest.skip("the lz4 package is installed, so an lz4 export succeeds")
    src = str(tmp_path / "src")
    fixtures.source_records(spark, n=10).write.parquet(src)
    rc = main([
        "export", "--topic", "db.database.collection",
        "--source", src, "--output", str(tmp_path / "out"),
        "--strict", "--compression", "lz4",
    ])
    assert rc == 1
    captured = capsys.readouterr()
    assert json.loads(captured.out.strip().splitlines()[-1])["status"] == (
        "Export_Failed"
    )
    assert "ValueError: lz4 output compression requires" in captured.err


def test_export_subcommand_metrics_file(tmp_path, capsys, spark):
    from hbase_to_mongo_export_spark.sources import fixtures

    src = str(tmp_path / "src")
    fixtures.source_records(spark, n=10).write.parquet(src)
    metrics = str(tmp_path / "metrics.jsonl")
    rc = main([
        "export", "--topic", "db.database.collection",
        "--source", src, "--output", str(tmp_path / "out"),
        "--metrics-file", metrics,
    ])
    assert rc == 0
    lines = [json.loads(l) for l in open(metrics)]
    final = [l for l in lines if l.get("final")]
    assert final and final[-1]["metrics"]["records_processed"] == 10
    assert lines[-1].get("deleted") is True


def test_spark_entry_contract(spark):
    """The driver contract: entry(spark) returns a DataFrame with a stable
    schema and >= 0 rows; queries()/oracle_sql() keys line up."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == E.entry(spark).columns  # schema stable across calls
    qs, os_ = E.queries(), E.oracle_sql()
    assert set(os_) <= set(qs)  # every oracle belongs to a query
    assert all(callable(fn) for fn in qs.values())


def test_coverage_md_in_sync():
    """COVERAGE.md is generated; this guard goes red if the registry
    changes without regenerating (the r4 verdict caught a stale header)."""
    import tools.coverage_audit as cov

    with open("/root/repo/COVERAGE.md") as f:
        on_disk = f.read()
    assert on_disk == cov.render(), (
        "COVERAGE.md is stale — run `python tools/coverage_audit.py`"
    )


def test_table_subcommand_lifecycle(tmp_path, capsys, spark):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "id bigint, val double"
    ).write.parquet(src)
    tbl = str(tmp_path / "tbl")

    assert main(["table", "create", tbl, "--source", src]) == 0
    assert json.loads(capsys.readouterr().out.strip())["version"] == 0

    assert main(["table", "delete-where", tbl, "--where", "id % 10 = 0"]) == 0
    assert json.loads(capsys.readouterr().out.strip())["rows_deleted"] == 5

    assert main(["table", "read", tbl, "--limit", "100"]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 45 and all(r["id"] % 10 != 0 for r in rows)

    assert main(["table", "compact", tbl, "--sort-col", "id",
                 "--target-files", "2"]) == 0
    assert json.loads(capsys.readouterr().out.strip())["files_written"] == 2

    # data-skipping read: conjuncts prune files via manifest stats, the
    # residual filter trims to exact rows
    assert main(["table", "read", tbl, "--limit", "100",
                 "--range", "id,>=,20", "--range", "id,<,25"]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert sorted(r["id"] for r in rows) == [21, 22, 23, 24]  # 20 deleted

    assert main(["table", "history", tbl]) == 0
    hist = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert [h["operation"] for h in hist] == ["create", "delete", "compact"]
    assert hist[1]["delete_files"] == 1 and hist[2]["delete_files"] == 0

    assert main(["table", "changes", tbl, "--from-version", "1",
                 "--to-version", "1"]) == 0
    chg = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert {c["_change_type"] for c in chg} == {"delete"} and len(chg) == 5

    # timestamp time travel: any instant after the last commit reads head
    import time as _time

    assert main(["table", "read", tbl, "--limit", "100",
                 "--as-of-timestamp", str(_time.time() + 60)]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 45

    # incremental bin-packing: threshold below every file size → no-op
    assert main(["table", "compact", tbl, "--bin-pack-bytes", "1"]) == 0
    assert json.loads(capsys.readouterr().out.strip())["files_packed"] == 0

    # targeted vector purge: no pending vectors (compact materialized
    # them) → no commit, version unchanged
    assert main(["table", "compact", tbl, "--purge-vectors-over", "0.5"]) == 0
    assert json.loads(capsys.readouterr().out.strip())["files_purged"] == 0

    # CHECK constraints: add validates existing rows, writes validate
    # staged rows, drop reopens
    assert main(["table", "add-constraint", tbl,
                 "--name", "val_nonneg", "--expr", "val >= 0"]) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out["constraints"] == {"val_nonneg": "val >= 0"}
    assert main(["table", "add-constraint", tbl,
                 "--name", "impossible", "--expr", "val > 1000"]) == 1
    capsys.readouterr()
    assert main(["table", "drop-constraint", tbl, "--name", "val_nonneg"]) == 0
    assert json.loads(capsys.readouterr().out.strip())["constraints"] == {}
    assert main(["table", "add-constraint", tbl, "--name", "x"]) == 2  # no --expr
    capsys.readouterr()

    # crash-leftover orphan: unreferenced, aged past the grace window
    import os as _os

    stray = _os.path.join(tbl, "stage-crashed", "part-0.parquet")
    _os.makedirs(_os.path.dirname(stray))
    with open(stray, "wb") as f:
        f.write(b"leftover")
    _os.utime(stray, (_time.time() - 100, _time.time() - 100))

    assert main(["table", "vacuum", tbl, "--retain-last", "1",
                 "--sweep-orphans", "--orphan-grace-seconds", "50"]) == 0
    out = json.loads(capsys.readouterr().out.strip())
    # create, delete, compact, add-constraint, drop-constraint = v0..v4
    assert out["versions_dropped"] == 4
    assert out["orphans_removed"] == 1
    assert not _os.path.exists(stray)

    # blind append through the CLI
    src2 = str(tmp_path / "src2")
    spark.createDataFrame(
        [(i, float(i)) for i in range(100, 110)], "id bigint, val double"
    ).write.parquet(src2)
    assert main(["table", "append", tbl, "--source", src2]) == 0
    assert json.loads(capsys.readouterr().out.strip())["rows_appended"] == 10
    assert main(["table", "read", tbl, "--limit", "100"]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 55  # 45 survivors + 10 appended

    # restore through the CLI: undo the append (metadata-only commit)
    assert main(["table", "history", tbl]) == 0
    hist = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    pre_append = hist[-2]["version"]
    assert main(["table", "restore", tbl, "--version", str(pre_append)]) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out["restored_version"] == pre_append
    assert out["rows_restore_deleted"] == 10
    assert main(["table", "read", tbl, "--limit", "100"]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 45  # the appended rows are gone again
    assert main(["table", "restore", tbl]) == 2  # missing --version
    capsys.readouterr()

    # row-level UPDATE through the CLI
    assert main(["table", "update-where", tbl, "--where", "id < 5",
                 "--set", "val=val+100"]) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out["rows_updated"] == 4  # ids 1..4 (0 was deleted)
    assert main(["table", "read", tbl, "--limit", "100"]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert {r["id"]: r["val"] for r in rows}[3] == 103.0
    assert main(["table", "update-where", tbl, "--where", "id<5"]) == 2
    capsys.readouterr()
    assert main(["table", "update-where", tbl, "--where", "id<5",
                 "--set", "noequals"]) == 2
    capsys.readouterr()

    # shallow clone through the CLI
    dest = str(tmp_path / "clone")
    assert main(["table", "clone", tbl, "--dest", dest]) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out["files_referenced"] >= 1
    assert main(["table", "read", dest, "--limit", "100"]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 45
    assert main(["table", "clone", tbl]) == 2  # missing --dest
    capsys.readouterr()

    # DESCRIBE DETAIL through the CLI
    assert main(["table", "detail", tbl]) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out["rows_total"] == 45 and out["columns"] == ["id", "val"]
    assert out["num_files"] >= 1 and out["size_bytes"] > 0


def test_table_subcommand_arg_errors(tmp_path, capsys, spark):
    tbl = str(tmp_path / "tbl")
    assert main(["table", "create", tbl]) == 2  # missing --source
    capsys.readouterr()
    spark.createDataFrame([(1,)], "id bigint").write.parquet(str(tmp_path / "s"))
    assert main(["table", "create", tbl, "--source", str(tmp_path / "s")]) == 0
    capsys.readouterr()
    assert main(["table", "delete-where", tbl]) == 2  # missing --where
    capsys.readouterr()
    assert main(["table", "compact", tbl, "--zorder", "id"]) == 2  # arity
    capsys.readouterr()
    assert main(["table", "read", tbl, "--range", "id,>=,notanumber"]) == 2
    capsys.readouterr()
    assert main(["table", "read", tbl, "--range", "id>=3"]) == 2  # bad shape


def test_table_merge_error_exits_1(tmp_path, capsys, spark):
    """Every table action reports a MergeError as exit 1 and its message,
    not a traceback."""
    tbl = str(tmp_path / "tbl")
    argv = ["table", "compact", tbl, "--sort-col", "id", "--zorder", "id,val"]
    assert main(argv) == 1
    assert "not both" in capsys.readouterr().err


def test_table_column_mapping_cli(tmp_path, capsys, spark):
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id bigint, val double"
    ).write.parquet(src)
    tbl = str(tmp_path / "tbl")
    assert main(["table", "create", tbl, "--source", src]) == 0
    capsys.readouterr()

    assert main(["table", "rename-column", tbl,
                 "--column", "val", "--to", "price"]) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out["renamed"] == ["val", "price"]
    assert main(["table", "read", tbl, "--limit", "5"]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert "price" in rows[0] and "val" not in rows[0]

    # data skipping still prunes on the renamed column (stats are
    # keyed by the stable physical name)
    assert main(["table", "read", tbl, "--range", "price,>=,15",
                 "--limit", "100"]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 5

    assert main(["table", "drop-column", tbl, "--column", "price"]) == 0
    capsys.readouterr()
    assert main(["table", "read", tbl, "--limit", "5"]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert set(rows[0]) == {"id"}

    assert main(["table", "rename-column", tbl, "--column", "id"]) == 2
    capsys.readouterr()
    assert main(["table", "drop-column", tbl, "--column", "id"]) == 1  # only col
