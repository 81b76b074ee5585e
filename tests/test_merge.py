"""Copy-on-write MERGE table (operators/merge.py): row semantics, file
pruning, manifest atomicity, time travel."""

import os

import pytest
from pyspark.sql import functions as F

from hbase_to_mongo_export_spark.operators.merge import (
    MergeError,
    ParquetMergeTable,
    src,
)


@pytest.fixture()
def table(spark, tmp_path):
    t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(i, f"name{i}", float(i * 10)) for i in range(100)],
        "id bigint, name string, amount double",
    )
    # cluster by id so key-ranges map to files → pruning has something
    # to prune (10 files of 10 ids each)
    t.create(
        base.repartitionByRange(10, F.col("id")).sortWithinPartitions("id"),
    )
    return t


def _as_dict(df):
    return {r["id"]: (r["name"], r["amount"]) for r in df.collect()}


class TestMergeSemantics:
    def test_update_insert_delete(self, spark, table):
        source = spark.createDataFrame(
            [
                (5, "updated5", 999.0, "update"),
                (7, None, None, "delete"),
                (200, "new200", 1.0, "insert"),
            ],
            "id bigint, name string, amount double, op string",
        )
        stats = table.merge(
            source,
            on=["id"],
            when_matched_update={
                "name": src("name"),
                "amount": src("amount"),
            },
            when_matched_delete=src("op") == "delete",
        )
        got = _as_dict(table.read())
        assert got[5] == ("updated5", 999.0)
        assert 7 not in got
        assert got[200] == ("new200", 1.0)
        assert got[6] == ("name6", 60.0)  # untouched row intact
        assert len(got) == 100  # 100 - 1 deleted + 1 inserted
        assert stats["rows_inserted"] == 1

    def test_update_expression_mixes_target_and_source(self, spark, table):
        source = spark.createDataFrame([(3, 5.0)], "id bigint, bump double")
        table.merge(
            source,
            on=["id"],
            when_matched_update={"amount": F.col("amount") + src("bump")},
            insert_not_matched=False,
        )
        assert _as_dict(table.read())[3] == ("name3", 35.0)

    def test_duplicate_source_keys_rejected(self, spark, table):
        dup = spark.createDataFrame(
            [(1, "a", 0.0), (1, "b", 0.0)], "id bigint, name string, amount double"
        )
        with pytest.raises(MergeError, match="duplicate merge keys"):
            table.merge(dup, on=["id"], when_matched_update={"name": src("name")})

    def test_insert_only_merge(self, spark, table):
        source = spark.createDataFrame(
            [(300, "n", 0.0), (4, "ignored", 0.0)],
            "id bigint, name string, amount double",
        )
        stats = table.merge(source, on=["id"])  # no matched clauses
        got = _as_dict(table.read())
        assert got[4] == ("name4", 40.0)  # matched row untouched
        assert got[300] == ("n", 0.0)
        assert stats["rows_inserted"] == 1


class TestConditionalClauses:
    """Delta's full MERGE INTO clause surface: WHEN MATCHED AND cond
    THEN UPDATE, WHEN NOT MATCHED AND cond, THEN INSERT (values)."""

    def test_conditional_update_only_fires_on_condition(self, spark, table):
        source = spark.createDataFrame(
            [(5, "u5", 1.0, "hot"), (6, "u6", 1.0, "cold")],
            "id bigint, name string, amount double, tag string",
        )
        stats = table.merge(
            source, on=["id"],
            when_matched_update={"name": src("name")},
            when_matched_update_condition=src("tag") == "hot",
            insert_not_matched=False,
        )
        got = _as_dict(table.read())
        assert got[5] == ("u5", 50.0)
        assert got[6] == ("name6", 60.0)  # matched, condition false → carried
        assert stats["rows_updated"] == 1  # CDF records only the fired row

    def test_null_update_condition_never_fires(self, spark, table):
        source = spark.createDataFrame(
            [(5, "u5", None)], "id bigint, name string, flag string"
        )
        table.merge(
            source, on=["id"],
            when_matched_update={"name": src("name")},
            when_matched_update_condition=src("flag") == "x",  # NULL → 3VL false
            insert_not_matched=False,
        )
        assert _as_dict(table.read())[5] == ("name5", 50.0)

    def test_conditional_insert_filters_source(self, spark, table):
        source = spark.createDataFrame(
            [(200, "a", 1.0, True), (201, "b", 1.0, False)],
            "id bigint, name string, amount double, ok boolean",
        )
        stats = table.merge(source, on=["id"], insert_condition=F.col("ok"))
        got = _as_dict(table.read())
        assert 200 in got and 201 not in got
        assert stats["rows_inserted"] == 1

    def test_insert_value_mapping(self, spark, table):
        source = spark.createDataFrame(
            [(300, "n", 5.0)], "id bigint, name string, amount double"
        )
        table.merge(
            source, on=["id"],
            when_not_matched_insert={
                "amount": F.col("amount") * 2,
                "name": F.upper(F.col("name")),
            },
        )
        assert _as_dict(table.read())[300] == ("N", 10.0)


class TestNotMatchedBySource:
    """Delta's third clause family: WHEN NOT MATCHED BY SOURCE [AND
    cond] THEN UPDATE / DELETE — target rows with no source match;
    conditions see TARGET columns only. Reference analogue: the
    full-snapshot re-export (HBaseReader.kt:34-60) collapses to ONE
    atomic MERGE instead of a merge + delete_where pair."""

    def _src(self, spark, ids):
        return spark.createDataFrame(
            [(i, f"src{i}", float(i)) for i in ids],
            "id bigint, name string, amount double",
        )

    def test_full_snapshot_sync(self, spark, table):
        """matched→update, not-matched→insert, not-matched-by-source→
        delete: after the merge the table IS the snapshot."""
        snap = self._src(spark, [5, 6, 7, 150])
        stats = table.merge(
            snap, on=["id"],
            when_matched_update={"name": src("name"), "amount": src("amount")},
            when_not_matched_by_source_delete=F.lit(True),
        )
        got = _as_dict(table.read())
        assert got == {i: (f"src{i}", float(i)) for i in [5, 6, 7, 150]}
        assert stats["rows_deleted"] == 97  # 100 target - 3 matched
        assert stats["rows_inserted"] == 1

    def test_conditional_delete_and_update(self, spark, table):
        """delete stale small rows, re-flag the remaining stale ones —
        matched rows and non-firing unmatched rows carry unchanged."""
        stats = table.merge(
            self._src(spark, [50]), on=["id"],
            when_matched_update={"name": src("name")},
            insert_not_matched=False,
            when_not_matched_by_source_delete=F.col("amount") < 30.0,
            when_not_matched_by_source_update={"name": F.lit("stale")},
            when_not_matched_by_source_update_condition=F.col("amount") >= 900.0,
        )
        got = _as_dict(table.read())
        assert set(got) == set(range(3, 100))  # ids 0,1,2 deleted (<30.0)
        assert got[50] == ("src50", 500.0)  # matched update
        assert got[95] == ("stale", 950.0)  # by-source update fired
        assert got[40] == ("name40", 400.0)  # unmatched, no clause fired
        assert stats["rows_deleted"] == 3
        assert stats["rows_updated"] == 1 + 10  # matched + ids 90..99

    def test_delete_clause_wins_over_update(self, spark, table):
        """Clause order mirrors the matched family: delete first — a row
        satisfying both conditions is deleted, not updated."""
        table.merge(
            self._src(spark, [50]), on=["id"], insert_not_matched=False,
            when_matched_update={"name": src("name")},
            when_not_matched_by_source_delete=F.col("id") >= 95,
            when_not_matched_by_source_update={"name": F.lit("u")},
            when_not_matched_by_source_update_condition=F.col("id") >= 90,
        )
        got = _as_dict(table.read())
        assert all(i not in got for i in range(95, 100))
        assert all(got[i][0] == "u" for i in range(90, 95))

    def test_conditions_see_target_columns_only(self, spark, table):
        """Delta's rule: a src() reference in a by-source clause fails at
        analysis time (source columns are NULL for these rows)."""
        s = self._src(spark, [5])
        with pytest.raises(MergeError, match="target columns only"):
            table.merge(s, on=["id"], insert_not_matched=False,
                        when_not_matched_by_source_delete=src("amount") > 0)
        with pytest.raises(MergeError, match="target columns only"):
            table.merge(s, on=["id"], insert_not_matched=False,
                        when_not_matched_by_source_update={"name": src("name")})
        with pytest.raises(MergeError, match="without"):
            table.merge(s, on=["id"], insert_not_matched=False,
                        when_not_matched_by_source_update_condition=F.lit(True))

    def test_null_condition_never_fires(self, spark, table):
        """SQL 3VL: a NULL by-source condition must not delete the row."""
        nullable = ParquetMergeTable(spark, table.path + "_nul")
        nullable.create(spark.createDataFrame(
            [(1, None), (2, 5.0)], "id bigint, amount double"))
        nullable.merge(
            spark.createDataFrame([(9, 1.0)], "id bigint, amount double"),
            on=["id"], insert_not_matched=False,
            when_not_matched_by_source_delete=F.col("amount") > 2.0,
        )
        assert sorted(r["id"] for r in nullable.read().collect()) == [1]

    def test_tuple_predicate_data_skips_victim_scan(self, spark, table):
        """The tuple-form delete condition prunes the victim scan with
        file stats (same machinery as delete_where) AND keeps untouched
        files carried by reference."""
        stats = table.merge(
            self._src(spark, [5]), on=["id"], insert_not_matched=False,
            when_matched_update={"name": src("name")},
            when_not_matched_by_source_delete=[("id", ">=", 90)],
        )
        # 10 range files of 10 ids: only the id∈[90,100) file can fire
        assert stats["files_by_source_candidates"] == 1
        assert stats["rows_deleted"] == 10
        # touched = the matched file (id 5) + the victim file
        assert stats["files_touched"] == 2
        assert stats["files_carried"] == 8
        assert len(_as_dict(table.read())) == 90

    def test_delete_only_sync_never_rewrites_matched_files(
        self, spark, table
    ):
        """With NO matched clause, matched rows carry unchanged — their
        files must not be identity-rewritten (the retention shape must
        stay O(victims), not O(matched))."""
        v0_files = set(table._manifest(0)["files"])
        # source = ids 0..89 → victims are exactly the id∈[90,100) file
        stats = table.merge(
            self._src(spark, range(90)).select("id"), on=["id"],
            insert_not_matched=False,
            when_not_matched_by_source_delete=F.lit(True),
        )
        assert stats["rows_deleted"] == 10
        assert stats["files_touched"] == 1
        m = table._manifest(stats["version"])
        assert len(set(m["files"]) & v0_files) == 9  # 9 carried by ref

    def test_cdf_and_replay(self, spark, table):
        """By-source deletes emit `delete` rows, by-source updates
        pre/post pairs — and replaying the feed over v0 reproduces v1
        exactly (the CDF-replay pin)."""
        stats = table.merge(
            self._src(spark, [5, 150]), on=["id"],
            when_matched_update={"name": src("name")},
            when_not_matched_by_source_delete=F.col("id").between(20, 29),
            when_not_matched_by_source_update={"amount": F.col("amount") + 1},
            when_not_matched_by_source_update_condition=F.col("id") >= 95,
        )
        v1 = stats["version"]
        feed = table.read_changes(from_version=v1, to_version=v1)
        by_type = {
            r["_change_type"]: r["n"]
            for r in feed.groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert by_type == {
            "delete": 10,
            "update_preimage": 6,  # id 5 (matched) + ids 95..99
            "update_postimage": 6,
            "insert": 1,  # id 150
        }
        # replay: v0 − deletes − preimages + postimages + inserts == v1
        rows = feed.collect()
        deleted = {r["id"] for r in rows if r["_change_type"] == "delete"}
        pre = {r["id"] for r in rows if r["_change_type"] == "update_preimage"}
        post = {
            r["id"]: (r["name"], r["amount"])
            for r in rows
            if r["_change_type"] in ("update_postimage", "insert")
        }
        v0 = _as_dict(table.read(version=0))
        replayed = {
            i: v for i, v in v0.items() if i not in deleted and i not in pre
        }
        replayed.update(post)
        assert replayed == _as_dict(table.read(version=v1))

    def test_evolved_column_readable_by_no_clause(self, spark, table):
        """A by-source expression READING an evolution-added source
        column is rejected at analysis time (the column doesn't exist
        on target rows yet) — review fix: previously the gate's scope
        included it and the merge crashed mid-victim-scan instead."""
        snap = spark.createDataFrame(
            [(5, "u5", 5.0, "fresh")],
            "id bigint, name string, amount double, state string",
        )
        with pytest.raises(MergeError, match="existing target columns"):
            table.merge(
                snap, on=["id"], schema_evolution=True,
                insert_not_matched=False,
                when_not_matched_by_source_delete=F.col("state").isNull(),
            )

    def test_empty_update_dict_is_noop_not_full_rewrite(self, spark, table):
        """when_not_matched_by_source_update={} normalizes to absent
        (matching the matched family's {}-is-a-no-op) — review fix:
        previously {} marked every unmatched file a victim and
        identity-rewrote the table with zero CDF rows."""
        stats = table.merge(
            self._src(spark, [5]), on=["id"], insert_not_matched=False,
            when_matched_update={"name": src("name")},
            when_not_matched_by_source_update={},
        )
        assert "files_by_source_candidates" not in stats
        assert stats["files_touched"] == 1  # just the matched file
        assert _as_dict(table.read())[50] == ("name50", 500.0)

    def test_mor_deleted_rows_never_fire_by_source(self, spark, table):
        """A row already MoR-deleted is not live — the by-source victim
        scan applies pending deletion vectors, so the clause can't
        double-delete it (and its CDF delete row isn't re-emitted)."""
        table.delete_where(F.col("id") >= 95)  # v1: MoR delete 95..99
        stats = table.merge(
            self._src(spark, range(90)).select("id"), on=["id"],
            insert_not_matched=False,
            when_not_matched_by_source_delete=F.lit(True),
        )
        # only the 5 still-live unmatched rows (90..94) fire
        assert stats["rows_deleted"] == 5
        assert sorted(_as_dict(table.read())) == list(range(90))

    def test_by_source_after_rename_resolves_logical_names(
        self, spark, table
    ):
        """Column mapping composes: after RENAME, by-source conditions
        and update expressions address the LOGICAL name while the scan
        reads stable physical names underneath."""
        table.rename_column("amount", "price")
        stats = table.merge(
            self._src(spark, [5]).withColumnRenamed("amount", "price"),
            on=["id"], insert_not_matched=False,
            when_matched_update={"name": src("name")},
            when_not_matched_by_source_delete=F.col("price") >= 950.0,
            when_not_matched_by_source_update={"name": F.lit("low")},
            when_not_matched_by_source_update_condition=F.col("price") < 20.0,
        )
        assert stats["rows_deleted"] == 5  # ids 95..99
        got = {r["id"]: (r["name"], r["price"]) for r in table.read().collect()}
        assert got[1] == ("low", 10.0) and got[5] == ("src5", 50.0)
        assert got[50] == ("name50", 500.0)

    def test_composes_with_schema_evolution(self, spark, table):
        """New source columns evolve the schema; a by-source update can
        set the evolved column (target-side literal) on unmatched rows."""
        snap = spark.createDataFrame(
            [(5, "u5", 5.0, "fresh")],
            "id bigint, name string, amount double, state string",
        )
        table.merge(
            snap, on=["id"], schema_evolution=True,
            when_matched_update={"name": src("name"), "state": src("state")},
            insert_not_matched=False,
            when_not_matched_by_source_update={"state": F.lit("stale")},
            when_not_matched_by_source_update_condition=F.col("id") >= 99,
        )
        got = {r["id"]: r["state"] for r in table.read().collect()}
        assert got[5] == "fresh"
        assert got[99] == "stale"
        assert got[50] is None  # unmatched, condition false → typed NULL


class TestCopyOnWrite:
    def test_untouched_files_carried_by_reference(self, spark, table):
        v0_files = set(table._manifest(0)["files"])
        # ids 0-9 live in one range file; touch only them
        source = spark.createDataFrame(
            [(2, "x", 0.0)], "id bigint, name string, amount double"
        )
        stats = table.merge(
            source,
            on=["id"],
            when_matched_update={"name": src("name")},
            insert_not_matched=False,
        )
        assert stats["files_total"] == 10
        assert stats["files_touched"] == 1
        assert stats["files_carried"] == 9
        v1_files = set(table._manifest(1)["files"])
        # the 9 untouched files are the SAME paths (no rewrite, no IO)
        assert len(v0_files & v1_files) == 9

    def test_no_match_no_rewrite(self, spark, table):
        source = spark.createDataFrame(
            [(999, "n", 0.0)], "id bigint, name string, amount double"
        )
        stats = table.merge(source, on=["id"])
        assert stats["files_touched"] == 0
        assert stats["files_carried"] == 10


class TestVersioning:
    def test_time_travel(self, spark, table):
        source = spark.createDataFrame(
            [(0, "changed", -1.0)], "id bigint, name string, amount double"
        )
        table.merge(
            source,
            on=["id"],
            when_matched_update={"name": src("name"), "amount": src("amount")},
        )
        assert _as_dict(table.read(version=0))[0] == ("name0", 0.0)
        assert _as_dict(table.read())[0] == ("changed", -1.0)

    def test_history_records_operations(self, spark, table):
        source = spark.createDataFrame(
            [(1, "u", 1.0)], "id bigint, name string, amount double"
        )
        table.merge(source, on=["id"], when_matched_update={"name": src("name")})
        hist = table.history()
        assert [h["operation"] for h in hist] == ["create", "merge"]
        assert hist[1]["version"] == 1

    def test_commit_is_atomic_rename(self, spark, table):
        # no .tmp files left behind after commits
        leftovers = [
            f for f in os.listdir(table.manifest_dir) if f.endswith(".tmp")
        ]
        assert leftovers == []


class TestMaintenance:
    def test_compact_then_time_travel(self, spark, table):
        stats = table.compact(sort_col="id", target_files=2)
        assert stats["files_written"] == 2
        assert table._manifest(stats["version"])["operation"] == "compact"
        # same data, fewer files; old version still readable
        assert _as_dict(table.read()) == _as_dict(table.read(version=0))

    def test_vacuum_preserves_shared_files(self, spark, table):
        # merge touching 1 file → v1 shares 9 files with v0
        source = spark.createDataFrame(
            [(2, "x", 0.0)], "id bigint, name string, amount double"
        )
        table.merge(source, on=["id"], when_matched_update={"name": src("name")},
                    insert_not_matched=False)
        res = table.vacuum(retain_last=1)
        # only v0's ONE rewritten-away file is dead; the 9 shared survive
        assert res["files_removed"] == 1
        assert res["versions_dropped"] == 1
        got = _as_dict(table.read())
        assert got[2] == ("x", 20.0)
        assert len(got) == 100
        with pytest.raises(FileNotFoundError):
            table.read(version=0)

    def test_compact_zorder_preserves_data_and_prunes_both_dims(
        self, spark, table
    ):
        res = table.compact(zorder=("id", "amount"), target_files=4)
        assert res["files_written"] == 4
        assert _as_dict(table.read()) == _as_dict(table.read(version=0))
        # each output file should cover a narrow range in BOTH dimensions:
        # check the id-ranges of the 4 files overlap less than a random
        # layout would (sum of per-file spans < 2x the global span)
        import pyarrow.parquet as pq

        spans = []
        for f in table._manifest(res["version"])["files"]:
            t = pq.read_table(f, columns=["id"])
            ids = t["id"].to_pylist()
            spans.append(max(ids) - min(ids))
        assert sum(spans) < 2 * 100

    def test_compact_rejects_both_layouts(self, spark, table):
        with pytest.raises(MergeError, match="sort_col OR zorder"):
            table.compact(sort_col="id", zorder=("id", "amount"))

    def test_vacuum_retain_all_is_noop(self, spark, table):
        res = table.vacuum(retain_last=5)
        assert res["files_removed"] == 0
        assert _as_dict(table.read())[0] == ("name0", 0.0)


class TestDeletionVectors:
    def test_mor_delete_touches_no_data_files(self, spark, table):
        v0_files = set(table._manifest(0)["files"])
        stats = table.delete_where(F.col("id") % 10 == 3)
        assert stats["rows_deleted"] == 10
        m1 = table._manifest(stats["version"])
        assert set(m1["files"]) == v0_files  # zero data files rewritten
        assert len(m1["delete_files"]) >= 1
        got = _as_dict(table.read())
        assert len(got) == 90 and 3 not in got and 13 not in got
        assert got[4] == ("name4", 40.0)

    def test_stacked_deletes_and_no_double_delete(self, spark, table):
        table.delete_where(F.col("id") < 5)
        stats2 = table.delete_where(F.col("id") < 10)  # 0-4 already gone
        assert stats2["rows_deleted"] == 5
        assert len(table.read().collect()) == 90

    def test_delete_nothing_is_cheap_noop(self, spark, table):
        stats = table.delete_where(F.col("id") > 10_000)
        assert stats["rows_deleted"] == 0
        assert len(_as_dict(table.read())) == 100

    def test_deleted_key_is_insertable_again(self, spark, table):
        table.delete_where(F.col("id") == 7)
        source = spark.createDataFrame(
            [(7, "reborn", 1.0)], "id bigint, name string, amount double"
        )
        stats = table.merge(source, on=["id"])
        assert stats["rows_inserted"] == 1
        assert _as_dict(table.read())[7] == ("reborn", 1.0)

    def test_merge_rewrite_drops_stale_entries_keeps_valid_ones(
        self, spark, table
    ):
        # delete one row in the ids 0-9 file and one in the 90-99 file
        table.delete_where(F.col("id").isin(2, 95))
        # update id=5 → rewrites ONLY the 0-9 file; its delete entry (id=2)
        # materializes away while the 90-99 entry must carry
        source = spark.createDataFrame(
            [(5, "u", 0.0)], "id bigint, name string, amount double"
        )
        stats = table.merge(
            source, on=["id"],
            when_matched_update={"name": src("name")},
            insert_not_matched=False,
        )
        assert stats["files_touched"] == 1
        got = _as_dict(table.read())
        assert 2 not in got and 95 not in got  # both deletes still effective
        assert got[5] == ("u", 50.0)
        assert len(got) == 98

    def test_compact_purges_deletion_vectors(self, spark, table):
        table.delete_where(F.col("id") < 50)
        res = table.compact(sort_col="id", target_files=2)
        m = table._manifest(res["version"])
        assert m["delete_files"] == []
        assert len(_as_dict(table.read())) == 50

    def test_time_travel_respects_per_version_vectors(self, spark, table):
        table.delete_where(F.col("id") == 0)
        assert len(_as_dict(table.read(version=0))) == 100
        assert len(_as_dict(table.read(version=1))) == 99


class TestChangeDataFeed:
    def _feed(self, table, **kw):
        rows = table.read_changes(**kw).collect()
        by_type = {}
        for r in rows:
            by_type.setdefault(r["_change_type"], []).append(r)
        return by_type

    def test_create_inserts_by_reference(self, spark, table):
        feed = self._feed(table, from_version=0, to_version=0)
        assert len(feed["insert"]) == 100
        assert all(r["_commit_version"] == 0 for r in feed["insert"])

    def test_merge_emits_pre_and_post_images(self, spark, table):
        source = spark.createDataFrame(
            [(5, "new5", 500.0, "u"), (7, None, None, "d"), (200, "n", 1.0, "i")],
            "id bigint, name string, amount double, op string",
        )
        table.merge(
            source, on=["id"],
            when_matched_update={"name": src("name"), "amount": src("amount")},
            when_matched_delete=src("op") == "d",
        )
        feed = self._feed(table, from_version=1, to_version=1)
        assert [(r["id"], r["name"]) for r in feed["insert"]] == [(200, "n")]
        (pre,) = feed["update_preimage"]
        (post,) = feed["update_postimage"]
        assert (pre["id"], pre["name"], pre["amount"]) == (5, "name5", 50.0)
        assert (post["id"], post["name"], post["amount"]) == (5, "new5", 500.0)
        (del_,) = feed["delete"]
        assert (del_["id"], del_["name"]) == (7, "name7")

    def test_mor_delete_emits_delete_changes(self, spark, table):
        table.delete_where(F.col("id") % 25 == 1)
        feed = self._feed(table, from_version=1, to_version=1)
        assert sorted(r["id"] for r in feed["delete"]) == [1, 26, 51, 76]
        assert set(feed) == {"delete"}

    def test_replaying_feed_reconstructs_table(self, spark, table):
        table.merge(
            spark.createDataFrame(
                [(3, "u3", -3.0), (300, "i300", 3.0)],
                "id bigint, name string, amount double",
            ),
            on=["id"],
            when_matched_update={"name": src("name"), "amount": src("amount")},
        )
        table.delete_where(F.col("id").isin(4, 50))
        # apply the v1..v2 feed to the v0 snapshot: delete preimages of
        # updates and deletes, union inserts and postimages (key sets are
        # disjoint across the two commits, so the set-algebra replay is
        # order-free)
        feed = table.read_changes(from_version=1)
        removed = feed.filter(
            F.col("_change_type").isin("update_preimage", "delete")
        ).select("id")
        added = feed.filter(
            F.col("_change_type").isin("update_postimage", "insert")
        ).select("id", "name", "amount")
        rebuilt = (
            table.read(version=0).join(removed, "id", "anti").unionByName(added)
        )
        assert _as_dict(rebuilt) == _as_dict(table.read())

    def test_compact_is_no_logical_change(self, spark, table):
        table.compact(target_files=2)
        feed = self._feed(table, from_version=1, to_version=1)
        assert feed == {}

    def test_vacuum_keeps_retained_change_and_delete_files(self, spark, table):
        table.delete_where(F.col("id") == 1)
        table.merge(
            spark.createDataFrame([(2, "u", 0.0)], "id bigint, name string, amount double"),
            on=["id"], when_matched_update={"name": src("name")},
            insert_not_matched=False,
        )
        table.vacuum(retain_last=2)  # drops only v0
        # v1's delete entry and change file must survive: reads + CDF intact
        got = _as_dict(table.read())
        assert 1 not in got and got[2] == ("u", 20.0)
        feed = self._feed(table, from_version=1, to_version=2)
        assert sorted(feed) == ["delete", "update_postimage", "update_preimage"]


class TestOverwriteWhere:
    def test_replaces_exactly_the_predicate_rows(self, spark, table):
        repl = spark.createDataFrame(
            [(3, "r3", -3.0), (7, "r7", -7.0)],
            "id bigint, name string, amount double",
        )
        stats = table.overwrite_where(
            (F.col("id") >= 0) & (F.col("id") < 10), repl
        )
        got = _as_dict(table.read())
        assert stats["rows_removed"] == 10
        assert len(got) == 92  # 100 - 10 victims + 2 replacements
        assert got[3] == ("r3", -3.0) and got[7] == ("r7", -7.0)
        assert 5 not in got          # removed, not re-inserted
        assert got[10] == ("name10", 100.0)  # outside predicate: intact
        # only the one file covering ids 0-9 was rewritten
        assert stats["files_touched"] == 1 and stats["files_carried"] == 9

    def test_out_of_bounds_replacement_rejected(self, spark, table):
        bad = spark.createDataFrame(
            [(500, "x", 0.0)], "id bigint, name string, amount double"
        )
        with pytest.raises(MergeError, match="satisfy the overwrite"):
            table.overwrite_where(F.col("id") < 10, bad)
        # table unchanged, no partial commit
        assert table.current_version() == 0
        assert len(_as_dict(table.read())) == 100

    def test_atomic_single_commit_and_cdf(self, spark, table):
        repl = spark.createDataFrame(
            [(2, "r2", 2.0)], "id bigint, name string, amount double"
        )
        table.overwrite_where(F.col("id") < 5, repl)
        assert [h["operation"] for h in table.history()] == [
            "create",
            "overwrite_where",
        ]
        feed = table.read_changes(from_version=1, to_version=1)
        by = {}
        for r in feed.collect():
            by.setdefault(r["_change_type"], []).append(r["id"])
        assert sorted(by["delete"]) == [0, 1, 2, 3, 4]
        assert by["insert"] == [2]

    def test_respects_pending_deletion_vectors(self, spark, table):
        table.delete_where(F.col("id") == 1)
        repl = spark.createDataFrame(
            [(0, "r0", 0.0)], "id bigint, name string, amount double"
        )
        stats = table.overwrite_where(F.col("id") < 5, repl)
        # id=1 was already MoR-deleted: only 0,2,3,4 remove now
        assert stats["rows_removed"] == 4
        got = _as_dict(table.read())
        assert 1 not in got and got[0] == ("r0", 0.0)
        assert len(got) == 96


class TestSchemaEvolution:
    def test_new_source_column_joins_the_schema(self, spark, table):
        source = spark.createDataFrame(
            [(5, "eur", 1.0), (200, "gbp", 2.0)],
            "id bigint, currency string, amount double",
        )
        stats = table.merge(
            source,
            on=["id"],
            when_matched_update={"currency": src("currency")},
            schema_evolution=True,
        )
        assert stats["columns_added"] == ["currency"]
        df = table.read()
        assert set(df.columns) == {"id", "name", "amount", "currency"}
        got = {r["id"]: r["currency"] for r in df.collect()}
        assert got[5] == "eur"       # matched row took the clause value
        assert got[200] == "gbp"     # insert carries the new column
        assert got[4] is None        # carried file surfaces NULL
        assert got[6] is None        # rewritten-but-unmatched row too
        # old data intact
        assert {r["id"]: r["name"] for r in df.collect()}[5] == "name5"

    def test_default_merge_never_evolves(self, spark, table):
        source = spark.createDataFrame(
            [(5, "x", 0.0)], "id bigint, extra string, amount double"
        )
        table.merge(source, on=["id"], insert_not_matched=False)
        assert set(table.read().columns) == {"id", "name", "amount"}

    def test_insert_missing_target_column_is_typed_null(self, spark, table):
        # source lacks `amount` entirely — the insert must write a typed
        # NULL (double), not a void column parquet would reject
        source = spark.createDataFrame([(500, "n500")], "id bigint, name string")
        table.merge(source, on=["id"])
        row = table.read().filter(F.col("id") == 500).collect()[0]
        assert row["amount"] is None
        assert dict(table.read().dtypes)["amount"] == "double"

    def test_time_travel_keeps_old_schema(self, spark, table):
        source = spark.createDataFrame(
            [(5, 9)], "id bigint, flag int"
        )
        table.merge(
            source, on=["id"],
            when_matched_update={"flag": src("flag")},
            insert_not_matched=False,
            schema_evolution=True,
        )
        assert "flag" not in table.read(version=0).columns
        assert "flag" in table.read(version=1).columns

    def test_cdf_pads_pre_evolution_changes(self, spark, table):
        # v1: plain update (old schema); v2: evolving merge
        table.merge(
            spark.createDataFrame([(1, "u1", 1.0)], "id bigint, name string, amount double"),
            on=["id"], when_matched_update={"name": src("name")},
            insert_not_matched=False,
        )
        table.merge(
            spark.createDataFrame([(2, "tag2")], "id bigint, tag string"),
            on=["id"], when_matched_update={"tag": src("tag")},
            insert_not_matched=False, schema_evolution=True,
        )
        feed = table.read_changes(from_version=1, to_version=2)
        assert "tag" in feed.columns
        v1 = {r["_change_type"]: r for r in feed.filter(F.col("_commit_version") == 1).collect()}
        assert v1["update_postimage"]["tag"] is None  # padded
        v2 = {r["_change_type"]: r for r in feed.filter(F.col("_commit_version") == 2).collect()}
        assert v2["update_postimage"]["tag"] == "tag2"
        assert v2["update_preimage"]["tag"] is None

    def test_compact_unifies_schema(self, spark, table):
        table.merge(
            spark.createDataFrame([(5, 1.5)], "id bigint, score double"),
            on=["id"], when_matched_update={"score": src("score")},
            insert_not_matched=False, schema_evolution=True,
        )
        assert table._manifest(1)["mixed_schema"] is True
        res = table.compact(sort_col="id", target_files=2)
        assert table._manifest(res["version"])["mixed_schema"] is False
        got = {r["id"]: r["score"] for r in table.read().collect()}
        assert got[5] == 1.5 and got[6] is None


class TestOptimisticConcurrency:
    def test_two_writers_one_wins_no_lost_update(self, spark, table):
        """A second writer commits mid-merge: the merge's commit must fail
        cleanly (ConcurrentWriteError) and the winner's commit survives —
        never a silent clobber of v1."""
        from hbase_to_mongo_export_spark.operators.merge import (
            ConcurrentWriteError,
        )

        t2 = ParquetMergeTable(spark, table.path)
        orig = t2._stage_files

        def hijack(df, mrpf, *a, **kw):
            t2._stage_files = orig  # interleave exactly once
            table.delete_where(F.col("id") == 3)  # the OTHER writer wins v1
            return orig(df, mrpf, *a, **kw)

        t2._stage_files = hijack
        source = spark.createDataFrame(
            [(5, "loser", 0.0)], "id bigint, name string, amount double"
        )
        with pytest.raises(ConcurrentWriteError, match="another writer"):
            t2.merge(
                source, on=["id"],
                when_matched_update={"name": src("name")},
                insert_not_matched=False,
            )
        assert table.current_version() == 1  # only the winner committed
        got = _as_dict(table.read())
        assert 3 not in got            # winner's delete intact
        assert got[5] == ("name5", 50.0)  # loser's update NOT applied

    def test_retry_after_conflict_succeeds(self, spark, table):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConcurrentWriteError,
        )

        t2 = ParquetMergeTable(spark, table.path)
        orig = t2._stage_files

        def hijack(df, mrpf, *a, **kw):
            t2._stage_files = orig
            table.delete_where(F.col("id") == 3)
            return orig(df, mrpf, *a, **kw)

        t2._stage_files = hijack
        source = spark.createDataFrame(
            [(5, "retry", 0.0)], "id bigint, name string, amount double"
        )
        kw = dict(
            on=["id"],
            when_matched_update={"name": src("name")},
            insert_not_matched=False,
        )
        with pytest.raises(ConcurrentWriteError):
            t2.merge(source, **kw)
        stats = t2.merge(source, **kw)  # retry re-reads v1 and wins v2
        assert stats["version"] == 2
        got = _as_dict(table.read())
        assert got[5] == ("retry", 50.0) and 3 not in got

    def test_retry_on_conflict_helper(self, spark, table):
        from hbase_to_mongo_export_spark.operators.merge import (
            retry_on_conflict,
        )

        t2 = ParquetMergeTable(spark, table.path)
        orig = t2._stage_files

        def hijack(df, mrpf, *a, **kw):
            t2._stage_files = orig
            table.delete_where(F.col("id") == 3)
            return orig(df, mrpf, *a, **kw)

        t2._stage_files = hijack
        source = spark.createDataFrame(
            [(5, "auto", 0.0)], "id bigint, name string, amount double"
        )
        stats = retry_on_conflict(
            lambda: t2.merge(
                source, on=["id"],
                when_matched_update={"name": src("name")},
                insert_not_matched=False,
            )
        )
        assert stats["version"] == 2  # lost v1, won v2 on retry
        got = _as_dict(table.read())
        assert got[5] == ("auto", 50.0) and 3 not in got

    def test_create_over_existing_table_conflicts(self, spark, table):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConcurrentWriteError,
        )

        t2 = ParquetMergeTable(spark, table.path)
        with pytest.raises(ConcurrentWriteError):
            t2.create(
                spark.createDataFrame([(1, "x", 0.0)],
                                      "id bigint, name string, amount double")
            )

    def test_no_tmp_leftovers_after_conflict(self, spark, table):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConcurrentWriteError,
        )

        t2 = ParquetMergeTable(spark, table.path)
        with pytest.raises(ConcurrentWriteError):
            t2.create(
                spark.createDataFrame([(1, "x", 0.0)],
                                      "id bigint, name string, amount double")
            )
        assert not [
            f for f in os.listdir(table.manifest_dir) if f.endswith(".tmp")
        ]


class TestCheckpointedManifests:
    def test_checkpoint_written_on_interval(self, spark, table):
        from hbase_to_mongo_export_spark.operators.merge import (
            CHECKPOINT_INTERVAL,
        )

        for i in range(CHECKPOINT_INTERVAL + 2):
            table.delete_where(F.col("id") == i)
        assert os.path.exists(
            os.path.join(table.manifest_dir, f"ckpt-v{CHECKPOINT_INTERVAL}.json")
        )

    def test_fresh_reader_replays_at_most_interval_entries(self, spark, table):
        """Version resolution must load the checkpoint + a bounded suffix
        of delta entries — never the whole log (the manifest-scalability
        contract at 10^6 commits)."""
        from hbase_to_mongo_export_spark.operators import merge as M

        n = M.CHECKPOINT_INTERVAL + 2
        for i in range(n):
            table.delete_where(F.col("id") == i)
        t2 = ParquetMergeTable(spark, table.path)
        reads: list[str] = []
        orig = M.ParquetMergeTable._read_json

        def counting(path):
            reads.append(os.path.basename(path))
            return orig(t2, path)

        t2._read_json = counting
        m = t2._manifest(n)
        log_reads = [p for p in reads if p.startswith("v")]
        ckpt_reads = [p for p in reads if p.startswith("ckpt-")]
        assert len(log_reads) <= M.CHECKPOINT_INTERVAL, reads
        assert ckpt_reads == [f"ckpt-v{M.CHECKPOINT_INTERVAL}.json"]
        # and the resolved state is right: n rows MoR-deleted so far
        assert m["delete_rows_total"] == n
        assert m["rows_total"] == 100 - n

    def test_manifest_tracks_exact_row_counts(self, spark, table):
        m0 = table._manifest(0)
        assert m0["rows_total"] == 100
        assert sum(m0["file_rows"].values()) == 100
        table.merge(
            spark.createDataFrame(
                [(200, "n", 1.0), (201, "n", 1.0)],
                "id bigint, name string, amount double",
            ),
            on=["id"],
        )
        assert table._manifest(1)["rows_total"] == 102
        table.delete_where(F.col("id") < 10)
        m2 = table._manifest(2)
        assert m2["rows_total"] == 92 and m2["delete_rows_total"] == 10

    def test_vacuum_checkpoints_oldest_retained_version(self, spark, table):
        """After the log prefix is truncated, a FRESH instance must still
        resolve every retained version (via the vacuum-written
        checkpoint), and dropped versions raise FileNotFoundError."""
        for i in range(4):
            table.delete_where(F.col("id") == i)
        table.vacuum(retain_last=2)  # keeps v3, v4
        t2 = ParquetMergeTable(spark, table.path)
        assert len(_as_dict(t2.read(version=3))) == 97
        assert len(_as_dict(t2.read(version=4))) == 96
        with pytest.raises(FileNotFoundError):
            t2._manifest(1)


class TestOverwriteThreeValuedLogic:
    @pytest.fixture()
    def nulltable(self, spark, tmp_path):
        t = ParquetMergeTable(spark, str(tmp_path / "nulltbl"))
        t.create(
            spark.createDataFrame(
                [(1, 10.0), (2, None), (3, 30.0)], "id bigint, amount double"
            )
        )
        return t

    def test_null_condition_replacement_rejected(self, spark, nulltable):
        # condition over the replacement row evaluates NULL (amount NULL):
        # NOT TRUE → must be rejected, not silently inserted
        bad = spark.createDataFrame([(9, None)], "id bigint, amount double")
        with pytest.raises(MergeError, match="satisfy the overwrite"):
            nulltable.overwrite_where(F.col("amount") > 5, bad)
        assert nulltable.current_version() == 0

    def test_null_condition_rows_survive_the_rewrite(self, spark, nulltable):
        # rows where the predicate is NULL are NOT victims — they must
        # neither be replaced nor silently dropped by the rewrite
        repl = spark.createDataFrame([(7, 70.0)], "id bigint, amount double")
        stats = nulltable.overwrite_where(F.col("amount") > 5, repl)
        assert stats["rows_removed"] == 2  # ids 1 and 3 only
        got = {r["id"]: r["amount"] for r in nulltable.read().collect()}
        assert got == {2: None, 7: 70.0}


class TestCompositeNullKeys:
    def test_null_key_component_never_matches(self, spark, tmp_path):
        """Delta ON semantics: NULL = NULL is not a match. A (1, NULL)
        source row must NOT update the (1, NULL) target row — and must
        insert exactly once (the update join and the insert anti-join
        agree on matched-ness)."""
        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        t.create(
            spark.createDataFrame(
                [(1, None, "old"), (1, 2, "two")], "a bigint, b bigint, v string"
            )
        )
        source = spark.createDataFrame(
            [(1, None, "new")], "a bigint, b bigint, v string"
        )
        stats = t.merge(source, on=["a", "b"], when_matched_update={"v": src("v")})
        assert stats.get("rows_updated", 0) == 0
        assert stats["rows_inserted"] == 1
        vals = sorted(r["v"] for r in t.read().collect())
        assert vals == ["new", "old", "two"]

    def test_non_null_composite_keys_match_normally(self, spark, tmp_path):
        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        t.create(
            spark.createDataFrame(
                [(1, 2, "x"), (1, 3, "y")], "a bigint, b bigint, v string"
            )
        )
        stats = t.merge(
            spark.createDataFrame([(1, 2, "upd")], "a bigint, b bigint, v string"),
            on=["a", "b"],
            when_matched_update={"v": src("v")},
        )
        assert stats["rows_updated"] == 1 and stats["rows_inserted"] == 0
        got = {(r["a"], r["b"]): r["v"] for r in t.read().collect()}
        assert got == {(1, 2): "upd", (1, 3): "y"}


def _plan_of(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


class TestBroadcastGuards:
    def test_oversized_delete_vector_falls_back_to_sort_merge(
        self, spark, table, monkeypatch
    ):
        """Past the manifest-tracked row threshold the MoR anti-join must
        NOT broadcast (a corpus-sized broadcast is the driver-OOM class
        SCALE_EVIDENCE.md §1 measured) — and reads stay correct."""
        monkeypatch.setattr(ParquetMergeTable, "DELETE_BROADCAST_MAX_ROWS", 0)
        table.delete_where(F.col("id") < 5)
        plan = _plan_of(table.read())
        assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        assert len(_as_dict(table.read())) == 95

    def test_small_delete_vector_still_broadcasts(self, spark, table):
        table.delete_where(F.col("id") < 5)
        plan = _plan_of(table.read())
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan

    def test_oversized_source_merges_without_broadcast(
        self, spark, table, monkeypatch
    ):
        """With the source over the broadcast cap, the whole MERGE runs on
        sort-merge joins — same results, no forced broadcast anywhere."""
        monkeypatch.setattr(ParquetMergeTable, "BROADCAST_MAX_SOURCE_ROWS", 0)
        source = spark.createDataFrame(
            [
                (5, "updated5", 999.0, "update"),
                (7, None, None, "delete"),
                (200, "new200", 1.0, "insert"),
            ],
            "id bigint, name string, amount double, op string",
        )
        stats = table.merge(
            source,
            on=["id"],
            when_matched_update={"name": src("name"), "amount": src("amount")},
            when_matched_delete=src("op") == "delete",
        )
        got = _as_dict(table.read())
        assert got[5] == ("updated5", 999.0)
        assert 7 not in got and got[200] == ("new200", 1.0)
        assert len(got) == 100
        assert stats["rows_inserted"] == 1

    def test_pruning_join_strategy_follows_source_size(self, spark, table):
        src_df = spark.createDataFrame(
            [(1, "x", 0.0)], "id bigint, name string, amount double"
        )
        m = table._manifest(0)
        live = table._live_scan(m)
        small = _plan_of(table._pruning_df(live, src_df, ["id"], True))
        assert "BroadcastHashJoin" in small, small
        big = _plan_of(table._pruning_df(live, src_df, ["id"], False))
        assert "SortMergeJoin" in big and "BroadcastHashJoin" not in big, big


class TestBinPackCompact:
    """Incremental OPTIMIZE: only undersized files rewrite; right-sized
    files carry by reference — the maintenance job whose cost tracks the
    small-file backlog, not the table size."""

    @pytest.fixture()
    def ragged(self, spark, tmp_path):
        t = ParquetMergeTable(spark, str(tmp_path / "ragged"))
        big = spark.createDataFrame(
            [(i,) for i in range(5000)], "id bigint"
        ).selectExpr("id", "sha2(cast(id as string), 256) as pad").coalesce(1)
        t.create(big)  # one ~incompressible big file
        for j in range(3):  # three tiny single-row appends
            t.merge(
                spark.createDataFrame(
                    [(10_000 + j, "tiny")], "id bigint, pad string"
                ),
                on=["id"],
            )
        return t

    def test_packs_only_small_files(self, spark, ragged):
        m = ragged._manifest(ragged.current_version())
        big_files = {f for f, b in m["file_bytes"].items() if b >= 20_000}
        assert big_files and len(m["files"]) > len(big_files)
        stats = ragged.compact(bin_pack_bytes=20_000)
        assert stats["files_packed"] >= 3
        assert stats["files_written"] == 1  # tiny backlog → one output
        m2 = ragged._manifest(stats["version"])
        # the big file carried BY REFERENCE — identical path, zero IO
        assert big_files <= set(m2["files"])
        assert ragged.read().count() == 5003
        assert ragged._manifest(stats["version"])["operation"] == "compact"

    def test_noop_when_nothing_to_pack(self, spark, ragged):
        v = ragged.current_version()
        stats = ragged.compact(bin_pack_bytes=1)  # nothing is that small
        assert stats["files_packed"] == 0
        assert ragged.current_version() == v  # no empty commit

    def test_deletes_materialize_for_packed_carry_for_big(self, spark, ragged):
        ragged.delete_where(F.col("id") == 0)        # victim in the BIG file
        ragged.delete_where(F.col("id") == 10_001)   # victim in a tiny file
        assert ragged._manifest(ragged.current_version())["delete_rows_total"] == 2
        stats = ragged.compact(bin_pack_bytes=20_000)
        m2 = ragged._manifest(stats["version"])
        # tiny-file entry materialized away with the rewrite; big-file
        # entry must survive (its data file was not rewritten)
        assert m2["delete_rows_total"] == 1
        got = {r["id"] for r in ragged.read().collect()}
        assert 0 not in got and 10_001 not in got
        assert len(got) == 5001

    def test_bin_pack_rejects_zorder(self, spark, ragged):
        with pytest.raises(MergeError, match="separate OPTIMIZE passes"):
            ragged.compact(bin_pack_bytes=100, zorder=("id", "id"))


class TestTimestampTimeTravel:
    def test_reads_snapshot_current_at_timestamp(self, spark, table):
        import time as _time

        t0 = table._manifest(0)["committed_at"]
        _time.sleep(0.05)
        table.delete_where(F.col("id") == 0)
        t1 = table._manifest(1)["committed_at"]
        mid = (t0 + t1) / 2
        assert table.version_at(mid) == 0
        assert len(_as_dict(table.read(as_of_timestamp=mid))) == 100
        assert table.version_at(t1 + 3600) == 1
        assert len(_as_dict(table.read(as_of_timestamp=t1 + 3600))) == 99

    def test_timestamp_before_first_commit_rejected(self, spark, table):
        t0 = table._manifest(0)["committed_at"]
        with pytest.raises(MergeError, match="precedes the first retained"):
            table.version_at(t0 - 10)

    def test_version_and_timestamp_are_exclusive(self, spark, table):
        with pytest.raises(MergeError, match="not both"):
            table.read(version=0, as_of_timestamp=1e18)


class TestDataSkipping:
    """read(where=...) file pruning from the manifest's per-file
    [min, max] stats — the Delta/Iceberg data-skipping contract that
    makes sort/Z-order clustering pay off at the FILE level."""

    def test_range_read_skips_files_and_is_exact(self, spark, table):
        # fixture: 100 rows range-clustered into 10 files of 10 ids each
        where = [("id", ">=", 20), ("id", "<", 40)]
        df = table.read(where=where)
        assert len(df.inputFiles()) <= 3  # 2 hit files (+1 boundary max)
        assert sorted(_as_dict(df)) == list(range(20, 40))

    def test_equality_point_read_opens_one_file(self, spark, table):
        df = table.read(where=[("id", "=", 55)])
        assert len(df.inputFiles()) == 1
        assert sorted(_as_dict(df)) == [55]

    def test_skipping_respects_deletion_vectors(self, spark, table):
        table.delete_where(F.col("id") == 25)
        got = sorted(_as_dict(table.read(where=[("id", ">=", 20), ("id", "<", 30)])))
        assert got == [20, 21, 22, 23, 24, 26, 27, 28, 29]

    def test_all_files_skipped_returns_empty_with_schema(self, spark, table):
        df = table.read(where=[("id", ">", 10_000)])
        assert df.count() == 0
        assert set(df.columns) == {"id", "name", "amount"}

    def test_residual_filter_makes_results_exact(self, spark, table):
        # the predicate column has stats, but skipping alone would keep
        # whole files — the residual filter must trim to exact rows
        got = sorted(_as_dict(table.read(where=[("id", ">=", 25), ("id", "<=", 26)])))
        assert got == [25, 26]

    def test_unsupported_operator_rejected(self, spark, table):
        with pytest.raises(MergeError, match="unsupported data-skipping"):
            table.read(where=[("id", "!=", 3)])

    def test_stats_survive_checkpoint_and_fresh_reader(self, spark, table):
        from hbase_to_mongo_export_spark.operators.merge import (
            CHECKPOINT_INTERVAL,
        )

        for i in range(CHECKPOINT_INTERVAL):
            table.delete_where(F.col("id") == i)
        t2 = ParquetMergeTable(spark, table.path)  # resolves via checkpoint
        df = t2.read(where=[("id", ">=", 90)])
        # inputFiles includes the deletion-vector side; count data files
        data_files = [f for f in df.inputFiles() if "/_deletes/" not in f]
        assert len(data_files) == 1
        assert sorted(_as_dict(df)) == list(range(90, 100))

    def test_merge_rewritten_files_get_fresh_stats(self, spark, table):
        table.merge(
            spark.createDataFrame(
                [(5, "u", 0.0)], "id bigint, name string, amount double"
            ),
            on=["id"],
            when_matched_update={"name": src("name")},
            insert_not_matched=False,
        )
        df = table.read(where=[("id", ">=", 0), ("id", "<", 10)])
        assert len(df.inputFiles()) == 1
        assert _as_dict(df)[5] == ("u", 50.0)


class TestChangeDataFeedStreaming:
    def test_streamed_feed_reconstructs_table(self, spark, table, tmp_path):
        """snapshot(v0) + the CDF replayed THROUGH Structured Streaming
        (rate-limited to one commit per micro-batch) == snapshot(vN),
        across a merge, a MoR delete, and a replaceWhere that deletes and
        re-inserts the same key in one commit."""
        from hbase_to_mongo_export_spark.operators.merge import (
            changes_schema,
            changes_stream,
            spool_changes,
            stream_apply_changes,
        )

        table.merge(
            spark.createDataFrame(
                [(3, "u3", -3.0), (300, "i300", 3.0)],
                "id bigint, name string, amount double",
            ),
            on=["id"],
            when_matched_update={"name": src("name"), "amount": src("amount")},
        )
        table.delete_where(F.col("id").isin(4, 50))
        repl = spark.createDataFrame(
            [(90, "r90", -90.0)], "id bigint, name string, amount double"
        )
        table.overwrite_where((F.col("id") >= 90) & (F.col("id") < 95), repl)

        replica = ParquetMergeTable(spark, str(tmp_path / "replica"))
        replica.create(table.read(version=0))
        spool = str(tmp_path / "spool")
        assert spool_changes(table, spool, from_version=1) == [1, 2, 3]
        stream = changes_stream(
            spark, spool, changes_schema(table), max_files_per_trigger=1
        )
        q = (
            stream_apply_changes(
                replica, stream, on=["id"], checkpoint_dir=str(tmp_path / "ck")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        assert _as_dict(replica.read()) == _as_dict(table.read())

    def test_spool_is_idempotent_and_incremental(self, spark, table, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import spool_changes

        table.delete_where(F.col("id") == 1)
        spool = str(tmp_path / "spool")
        assert spool_changes(table, spool) == [0, 1]
        assert spool_changes(table, spool) == []  # nothing re-spooled
        table.delete_where(F.col("id") == 2)
        assert spool_changes(table, spool) == [2]  # only the new commit

    def test_no_change_commit_spools_empty_marker(self, spark, table, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import spool_changes

        table.compact(target_files=2)  # no logical change
        spool = str(tmp_path / "spool")
        assert spool_changes(table, spool, from_version=1) == [1]
        f = os.path.join(spool, "cdf-v0000000001.parquet")
        assert os.path.exists(f)
        assert spark.read.parquet(f).count() == 0


class TestStreamMergeUpsert:
    def test_foreachbatch_upsert(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import (
            stream_merge_upsert,
        )

        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        t.create(
            spark.createDataFrame(
                [(i, float(i)) for i in range(10)], "id bigint, val double"
            )
        )
        src_dir = tmp_path / "incoming"
        src_dir.mkdir()
        ckpt = str(tmp_path / "ckpt")
        stream = spark.readStream.schema("id bigint, val double").parquet(
            str(src_dir)
        )
        writer = stream_merge_upsert(t, stream, on=["id"], update_cols=["val"],
                                     checkpoint_dir=ckpt)

        # batch 1: update 5..9, insert 10..14
        spark.createDataFrame(
            [(i, 100.0 + i) for i in range(5, 15)], "id bigint, val double"
        ).coalesce(1).write.mode("append").parquet(str(src_dir))
        writer.trigger(availableNow=True).start().awaitTermination(120)

        got = {r["id"]: r["val"] for r in t.read().collect()}
        assert got[4] == 4.0
        assert got[7] == 107.0
        assert got[14] == 114.0
        assert len(got) == 15

        # batch 2 with the SAME checkpoint: only the new file processes
        spark.createDataFrame(
            [(0, -1.0)], "id bigint, val double"
        ).coalesce(1).write.mode("append").parquet(str(src_dir))
        writer.trigger(availableNow=True).start().awaitTermination(120)
        got = {r["id"]: r["val"] for r in t.read().collect()}
        assert got[0] == -1.0 and got[7] == 107.0 and len(got) == 15
        ops = [h["operation"] for h in t.history()]
        assert ops[0] == "create" and ops.count("merge") >= 2


class TestTypedDataSkipping:
    """Round-7 skipping coverage: date / timestamp / string footer stats
    (pre-r7 only int/float/bool could skip, so a date-range predicate —
    the single most common shape on a time-partitioned lake, and the
    reference's own incremental mode (HBaseReader.kt:131-150) — scanned
    every file)."""

    @pytest.fixture()
    def date_table(self, spark, tmp_path):
        import datetime

        t = ParquetMergeTable(spark, str(tmp_path / "dtbl"))
        base = spark.createDataFrame(
            [
                (i, datetime.date(1994, 1, 1) + datetime.timedelta(days=i))
                for i in range(100)
            ],
            "id bigint, d date",
        )
        t.create(base.repartitionByRange(10, F.col("d")).sortWithinPartitions("d"))
        return t

    def test_date_range_skips_files_and_is_exact(self, spark, date_table):
        import datetime

        lo = datetime.date(1994, 1, 21)
        hi = datetime.date(1994, 2, 10)
        df = date_table.read(where=[("d", ">=", lo), ("d", "<", hi)])
        data_files = [f for f in df.inputFiles() if "/_deletes/" not in f]
        assert len(data_files) <= 3  # 2 hit files (+1 boundary max)
        got = sorted(r["id"] for r in df.collect())
        assert got == list(range(20, 40))

    def test_date_point_read_opens_one_file(self, spark, date_table):
        import datetime

        df = date_table.read(where=[("d", "=", datetime.date(1994, 2, 25))])
        assert len(df.inputFiles()) == 1
        assert [r["id"] for r in df.collect()] == [55]

    @pytest.fixture()
    def str_table(self, spark, tmp_path):
        t = ParquetMergeTable(spark, str(tmp_path / "stbl"))
        base = spark.createDataFrame(
            [(i, f"key{i:04d}") for i in range(100)], "id bigint, k string"
        )
        t.create(base.repartitionByRange(10, F.col("k")).sortWithinPartitions("k"))
        return t

    def test_string_range_skips_files_and_is_exact(self, spark, str_table):
        df = str_table.read(where=[("k", ">=", "key0020"), ("k", "<", "key0040")])
        assert len(df.inputFiles()) <= 3
        got = sorted(r["id"] for r in df.collect())
        assert got == list(range(20, 40))

    def test_timestamp_stats_skip_on_utc_timeline(self, spark, tmp_path):
        """pyarrow-written timestamp stats are tz-aware UTC; a NAIVE
        predicate literal (interpreted in the UTC session zone) must
        land on the same timeline and prune correctly."""
        import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        from hbase_to_mongo_export_spark.operators.merge import (
            _file_can_match,
            _parquet_file_meta,
        )

        p = str(tmp_path / "ts.parquet")
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [
                            datetime.datetime(2020, 1, 1),
                            datetime.datetime(2020, 6, 1),
                        ],
                        type=pa.timestamp("us", tz="UTC"),
                    )
                }
            ),
            p,
        )
        _, stats = _parquet_file_meta(p)
        assert "ts" in stats
        # literal after the range → file prunable
        assert not _file_can_match(
            stats, [("ts", ">", datetime.datetime(2021, 1, 1))]
        )
        # literal inside the range → file kept
        assert _file_can_match(
            stats, [("ts", ">", datetime.datetime(2020, 3, 1))]
        )

    def test_string_truncation_rounds_max_up(self):
        from hbase_to_mongo_export_spark.operators.merge import (
            STRING_STAT_PREFIX,
            _enc_bound,
            _round_up_str,
        )

        long = "a" * 40 + "zzz"
        lo = _enc_bound(long, is_max=False)
        hi = _enc_bound(long, is_max=True)
        assert lo == "a" * STRING_STAT_PREFIX
        assert len(hi) <= STRING_STAT_PREFIX
        assert hi > long  # rounded UP: still a valid upper bound
        assert _round_up_str("ab") == "ac"
        assert _round_up_str(chr(0x10FFFF)) is None

    def test_stats_less_file_never_skips(self, tmp_path):
        """A parquet file whose row groups carry no statistics (legal —
        some non-Spark writers) must record NO stats, so no predicate
        can ever skip it (wrong-result guard from ADVICE r6)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from hbase_to_mongo_export_spark.operators.merge import (
            _file_can_match,
            _parquet_file_meta,
        )

        p = str(tmp_path / "nostats.parquet")
        pq.write_table(
            pa.table({"x": pa.array([1, 2, 3])}), p, write_statistics=False
        )
        n, stats = _parquet_file_meta(p)
        assert n == 3 and stats == {}
        assert _file_can_match(stats, [("x", ">", 100)])

    def test_incomparable_literal_keeps_file(self):
        from hbase_to_mongo_export_spark.operators.merge import _file_can_match

        # string stats vs int literal: TypeError inside → conservative keep
        assert _file_can_match({"k": ["a", "b"]}, [("k", ">", 99)])

    def test_nonfinite_float_bounds_dropped(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from hbase_to_mongo_export_spark.operators.merge import _parquet_file_meta

        p = str(tmp_path / "nan.parquet")
        pq.write_table(
            pa.table({"x": pa.array([float("nan"), 1.0]), "y": pa.array([1.0, 2.0])}),
            p,
        )
        _, stats = _parquet_file_meta(p)
        assert "y" in stats
        # a NaN bound poisons interval logic → the column must not skip
        # bounds live at [0:2]; [2:] is the null-flag suffix (booleans)
        assert "x" not in stats or all(
            isinstance(b, float) and b == b for b in stats["x"][:2]
        )


class TestDeleteVectorParallelism:
    """Round-7: delete-vector / CDF-change writes are sized from the
    exact victim count — a huge delete_where never funnels its
    (file, row) pairs through one task (r6's weak item)."""

    def test_large_delete_writes_multiple_vector_files(self, spark, table):
        table.DELETE_ROWS_PER_FILE = 10
        table.CHANGE_ROWS_PER_FILE = 10
        stats = table.delete_where(F.col("id") < 30)
        assert stats["rows_deleted"] == 30
        m = table._manifest(stats["version"])
        assert len(m["delete_files"]) > 1  # multi-task vector write
        assert m["delete_rows_total"] == 30
        got = sorted(_as_dict(table.read()))
        assert got == list(range(30, 100))

    def test_carried_vector_rewrite_is_parallel(self, spark, table):
        table.DELETE_ROWS_PER_FILE = 10
        table.delete_where(F.col("id") < 30)  # vectors on files 0-2
        # merge touches only the last file → the carry rewrites the
        # vector (proportionally many parts), entries stay valid
        table.merge(
            spark.createDataFrame(
                [(95, "u", 0.0)], "id bigint, name string, amount double"
            ),
            on=["id"],
            when_matched_update={"name": src("name")},
            insert_not_matched=False,
        )
        m = table._manifest(table.current_version())
        assert m["delete_rows_total"] == 30
        assert len(m["delete_files"]) > 1
        got = _as_dict(table.read())
        assert sorted(got) == list(range(30, 100))
        assert got[95] == ("u", 950.0)


class TestSpoolSplitting:
    """Round-7: a commit whose change set exceeds rows_per_file spools
    as a multi-part DIRECTORY written by multiple tasks; the streaming
    replay contract survives the split."""

    def test_big_commit_spools_as_directory(self, spark, table, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import spool_changes

        spool = str(tmp_path / "spool")
        # v0 create = 100 insert rows; split at 30 rows/file
        assert spool_changes(table, spool, rows_per_file=30) == [0]
        unit = os.path.join(spool, "cdf-v0000000000")
        assert os.path.isdir(unit)
        parts = [f for f in os.listdir(unit) if f.endswith(".parquet")]
        assert len(parts) > 1
        assert spool_changes(table, spool, rows_per_file=30) == []  # idempotent

    def test_split_spool_replays_exactly(self, spark, table, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import (
            changes_schema,
            changes_stream,
            spool_changes,
            stream_apply_changes,
        )

        table.merge(
            spark.createDataFrame(
                [(3, "u3", -3.0), (300, "i300", 3.0)],
                "id bigint, name string, amount double",
            ),
            on=["id"],
            when_matched_update={"name": src("name"), "amount": src("amount")},
        )
        repl = spark.createDataFrame(
            [(90, "r90", -90.0)], "id bigint, name string, amount double"
        )
        # one commit that deletes and re-inserts key 90: key_cols keeps
        # both rows in ONE part even when the commit splits
        table.overwrite_where((F.col("id") >= 90) & (F.col("id") < 95), repl)

        replica = ParquetMergeTable(spark, str(tmp_path / "replica"))
        replica.create(table.read(version=0))
        spool = str(tmp_path / "spool")
        spool_changes(
            table, spool, from_version=1, key_cols=["id"], rows_per_file=2
        )
        assert any(
            os.path.isdir(os.path.join(spool, f)) for f in os.listdir(spool)
        )
        stream = changes_stream(
            spark, spool, changes_schema(table), max_files_per_trigger=1
        )
        q = (
            stream_apply_changes(
                replica, stream, on=["id"], checkpoint_dir=str(tmp_path / "ck")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        assert _as_dict(replica.read()) == _as_dict(table.read())


class TestLogStoreSeam:
    """Round-7: the commit point is pluggable (Delta's LogStore split) —
    conflict detection and orphan cleanup must work through ANY backend
    that raises FileExistsError on create-if-absent."""

    def test_conflict_through_mock_backend(self, spark, table):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConcurrentWriteError,
            LocalLogStore,
        )

        class AlwaysTaken(LocalLogStore):
            def write_new(self, path, data):
                raise FileExistsError(path)

        table.log_store = AlwaysTaken()
        with pytest.raises(ConcurrentWriteError, match="another writer"):
            table.delete_where(F.col("id") == 5)

    def test_lost_race_leaves_no_orphan_files(self, spark, table):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConcurrentWriteError,
            LocalLogStore,
        )

        class AlwaysTaken(LocalLogStore):
            def write_new(self, path, data):
                raise FileExistsError(path)

        def on_disk_parquet():
            out = set()
            for root, _dirs, files in os.walk(table.path):
                if "_manifests" in root:
                    continue
                for f in files:
                    if f.endswith(".parquet"):
                        out.add(os.path.join(root, f))
            return out

        before = on_disk_parquet()
        good_store = table.log_store
        table.log_store = AlwaysTaken()
        with pytest.raises(ConcurrentWriteError):
            table.merge(
                spark.createDataFrame(
                    [(5, "u", 0.0), (300, "i", 1.0)],
                    "id bigint, name string, amount double",
                ),
                on=["id"],
                when_matched_update={"name": src("name")},
            )
        # every file the losing merge staged (rewrite + insert + change)
        # must be gone — lost races must not leak orphans
        assert on_disk_parquet() == before
        # and the table still works with the real store
        table.log_store = good_store
        assert len(_as_dict(table.read())) == 100

    def test_memory_backed_commit_point(self, spark, table):
        """A backend that keeps its OWN record of taken versions (the
        conditional-PUT shape an object store provides) drives the same
        protocol: first writer wins, second gets ConcurrentWriteError."""
        from hbase_to_mongo_export_spark.operators.merge import (
            ConcurrentWriteError,
            LocalLogStore,
        )

        class ConditionalPut(LocalLogStore):
            def __init__(self):
                self.taken = set()

            def write_new(self, path, data):
                if path in self.taken:
                    raise FileExistsError(path)
                self.taken.add(path)
                super().write_new(path, data)

        store = ConditionalPut()
        table.log_store = store
        table.delete_where(F.col("id") == 5)  # commits v1 through the seam
        assert any(p.endswith("v1.json") for p in store.taken)
        # second writer against the same version: simulate by re-marking
        next_path = table._log_path(2)
        store.taken.add(next_path)
        with pytest.raises(ConcurrentWriteError):
            table.delete_where(F.col("id") == 6)


class TestManifestFormatGuard:
    def test_pre_deltalog_entry_fails_loudly(self, spark, table, tmp_path):
        """An entry without the delta-log diff shape (e.g. written by the
        old full-file-list format) must raise an explicit MergeError, not
        KeyError mid-replay."""
        import json

        legacy = {
            "version": 1,
            "operation": "merge",
            "stats": {},
            "committed_at": 0.0,
            "files": ["/nope.parquet"],  # old full-list format
            "change_files": [],
            "insert_files": [],
            "mixed_schema": False,
        }
        with open(table._log_path(1), "w") as f:
            json.dump(legacy, f)
        t2 = ParquetMergeTable(spark, table.path)
        with pytest.raises(MergeError, match="unsupported manifest format"):
            t2.read(version=1)


class TestBinPackMixedSchema:
    def test_bin_pack_packs_pre_evolution_files(self, spark, tmp_path):
        """ADVICE r6 repro: every undersized file predates a schema
        evolution; bin-packing must scan them with the FULL table schema
        (typed NULLs for the evolved column) instead of raising."""
        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        base = spark.createDataFrame(
            [(i, float(i)) for i in range(20)], "id bigint, amount double"
        )
        t.create(base.repartition(2))  # 2 small old-schema files
        # schema-evolving insert-only merge adds one BIG new-schema file
        big = spark.createDataFrame(
            [(i, float(i), f"tag{i}" * 50) for i in range(1000, 3000)],
            "id bigint, amount double, tag string",
        )
        t.merge(big, on=["id"], schema_evolution=True)
        sizes = t._manifest(t.current_version())["file_bytes"]
        small = sorted(sizes.values())[:2]
        threshold = max(small) * 3  # packs the 2 old files, carries the big one
        stats = t.compact(bin_pack_bytes=int(threshold))
        assert stats["files_packed"] == 2
        got = t.read()
        assert got.count() == 2020
        old = got.filter(F.col("id") < 20)
        assert old.filter(F.col("tag").isNull()).count() == 20


class TestThreeValuedDelete:
    def test_null_delete_condition_keeps_row_and_writes_no_change(
        self, spark, table
    ):
        """ADVICE r6: a delete condition evaluating to NULL must NOT
        fire — before the fix the row vanished from the rewrite with no
        CDF delete row, breaking snapshot+feed==snapshot."""
        source = spark.createDataFrame(
            [(5, "x"), (6, None), (7, "del")], "id bigint, flag string"
        )
        stats = table.merge(
            source,
            on=["id"],
            when_matched_delete=src("flag") == "del",
            insert_not_matched=False,
        )
        got = _as_dict(table.read())
        assert 7 not in got  # condition TRUE → deleted
        assert got[5] == ("name5", 50.0)  # FALSE → kept
        assert got[6] == ("name6", 60.0)  # NULL → 3VL: kept
        assert stats["rows_deleted"] == 1
        feed = table.read_changes(1, 1)
        dels = [
            r["id"] for r in feed.filter(F.col("_change_type") == "delete").collect()
        ]
        assert dels == [7]


class TestSinglePassInsert:
    def test_merge_never_counts_the_insert_antijoin(self, spark, table):
        """Round-7: rows_inserted comes from the staged parquet footers;
        the scan + anti-join must run ONCE (the write), never a second
        time for a pre-count."""
        from pyspark.sql import DataFrame

        calls = []
        orig = DataFrame.count

        def spy(self):
            calls.append(1)
            return orig(self)

        DataFrame.count = spy
        try:
            stats = table.merge(
                spark.createDataFrame(
                    [(500, "n", 1.0), (501, "n", 1.0)],
                    "id bigint, name string, amount double",
                ),
                on=["id"],  # insert-only merge: no matched clauses
            )
        finally:
            DataFrame.count = orig
        assert stats["rows_inserted"] == 2
        assert not calls  # no DataFrame.count anywhere in the path
        assert sorted(_as_dict(table.read())) == list(range(100)) + [500, 501]

    def test_empty_insert_set_stages_nothing(self, spark, table):
        stats = table.merge(
            spark.createDataFrame(
                [(5, "u", 0.0)], "id bigint, name string, amount double"
            ),
            on=["id"],
            when_matched_update={"name": src("name")},
        )
        assert stats["rows_inserted"] == 0
        m = table._manifest(stats["version"])
        assert m["insert_files"] == []
        assert m["rows_total"] == 100


class TestVacuumOrphanSweep:
    def test_sweeps_stale_unreferenced_files_only(self, spark, table):
        """A writer killed mid-merge leaves staged files no manifest
        references (the lost-RACE path cleans up, a dead process can't).
        vacuum(sweep_orphans=True) removes them once they age past the
        grace window — never a fresh file (could be an in-flight
        writer's staging) and never live data."""
        import time

        stray_dir = os.path.join(table.path, "stage-deadbeef")
        os.makedirs(stray_dir)
        stray = os.path.join(stray_dir, "part-00000.parquet")
        with open(stray, "wb") as f:
            f.write(b"crash leftover")
        fresh = os.path.join(stray_dir, "part-00001.parquet")
        with open(fresh, "wb") as f:
            f.write(b"in-flight staging")
        old = time.time() - 100
        os.utime(stray, (old, old))
        stats = table.vacuum(sweep_orphans=True, orphan_grace_seconds=50)
        assert stats["orphans_removed"] == 1
        assert not os.path.exists(stray)
        assert os.path.exists(fresh)  # within grace → kept
        assert sorted(_as_dict(table.read())) == list(range(100))

    def test_sweep_never_touches_retained_version_files(self, spark, table):
        import time

        table.delete_where(F.col("id") == 1)
        before = set(table._manifest(1)["files"]) | set(
            table._manifest(1)["delete_files"]
        )
        # age EVERYTHING, then sweep with retain_last=2 (both versions live)
        for f in before:
            os.utime(f, (time.time() - 100, time.time() - 100))
        stats = table.vacuum(
            retain_last=2, sweep_orphans=True, orphan_grace_seconds=50
        )
        assert stats["orphans_removed"] == 0
        assert all(os.path.exists(f) for f in before)
        assert sorted(_as_dict(table.read())) == list(range(0, 1)) + list(
            range(2, 100)
        )


class TestCheckConstraints:
    """Delta ALTER TABLE ADD CONSTRAINT parity: adding validates the
    whole table once; afterwards every MERGE/overwrite validates only
    the rows it stages and aborts cleanly on violation."""

    def test_add_validates_existing_rows(self, spark, table):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConstraintViolation,
        )

        with pytest.raises(ConstraintViolation, match="existing rows"):
            table.add_constraint("amount_big", "amount >= 100.0")
        # no commit happened
        assert table.current_version() == 0

    def test_violating_insert_aborts_and_cleans_up(self, spark, table):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConstraintViolation,
        )

        out = table.add_constraint("amount_nonneg", "amount >= 0")
        assert out["version"] == 1

        def on_disk_parquet():
            files = set()
            for root, _d, fs in os.walk(table.path):
                if "_manifests" in root:
                    continue
                files |= {os.path.join(root, f) for f in fs if f.endswith(".parquet")}
            return files

        before = on_disk_parquet()
        with pytest.raises(ConstraintViolation, match="amount_nonneg"):
            table.merge(
                spark.createDataFrame(
                    [(500, "bad", -1.0)], "id bigint, name string, amount double"
                ),
                on=["id"],
            )
        assert on_disk_parquet() == before  # staged files discarded
        assert table.current_version() == 1  # no commit
        assert 500 not in _as_dict(table.read())

    def test_violating_update_aborts(self, spark, table):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConstraintViolation,
        )

        table.add_constraint("amount_nonneg", "amount >= 0")
        with pytest.raises(ConstraintViolation):
            table.merge(
                spark.createDataFrame([(5, -9.0)], "id bigint, amt double"),
                on=["id"],
                when_matched_update={"amount": src("amt")},
                insert_not_matched=False,
            )
        assert _as_dict(table.read())[5] == ("name5", 50.0)

    def test_null_check_passes_sql_3vl(self, spark, table):
        table.add_constraint("name_prefix", "name LIKE 'n%'")
        # NULL name → constraint evaluates NULL → passes (SQL CHECK)
        stats = table.merge(
            spark.createDataFrame(
                [(600, None, 1.0)], "id bigint, name string, amount double"
            ),
            on=["id"],
        )
        assert stats["rows_inserted"] == 1
        assert _as_dict(table.read())[600] == (None, 1.0)

    def test_valid_writes_pass_and_constraint_survives_fresh_reader(
        self, spark, table
    ):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConstraintViolation,
        )

        table.add_constraint("amount_nonneg", "amount >= 0")
        table.merge(
            spark.createDataFrame(
                [(700, "ok", 7.0)], "id bigint, name string, amount double"
            ),
            on=["id"],
        )
        t2 = ParquetMergeTable(spark, table.path)  # fresh resolution
        assert t2._manifest(t2.current_version())["constraints"] == {
            "amount_nonneg": "amount >= 0"
        }
        with pytest.raises(ConstraintViolation):
            t2.merge(
                spark.createDataFrame(
                    [(701, "bad", -7.0)], "id bigint, name string, amount double"
                ),
                on=["id"],
            )

    def test_overwrite_where_replacement_validated(self, spark, table):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConstraintViolation,
        )

        table.add_constraint("amount_nonneg", "amount >= 0")
        repl = spark.createDataFrame(
            [(5, "r5", -5.0)], "id bigint, name string, amount double"
        )
        with pytest.raises(ConstraintViolation):
            table.overwrite_where(F.col("id") == 5, repl)
        assert _as_dict(table.read())[5] == ("name5", 50.0)

    def test_drop_constraint_reopens_writes(self, spark, table):
        table.add_constraint("amount_nonneg", "amount >= 0")
        table.drop_constraint("amount_nonneg")
        stats = table.merge(
            spark.createDataFrame(
                [(800, "neg", -1.0)], "id bigint, name string, amount double"
            ),
            on=["id"],
        )
        assert stats["rows_inserted"] == 1
        ops = [h["operation"] for h in table.history()]
        assert ops == ["create", "add_constraint", "drop_constraint", "merge"]

    def test_duplicate_and_missing_names_rejected(self, spark, table):
        table.add_constraint("c1", "amount >= 0")
        with pytest.raises(MergeError, match="already exists"):
            table.add_constraint("c1", "amount >= 0")
        with pytest.raises(MergeError, match="no such constraint"):
            table.drop_constraint("nope")


class TestBlindAppend:
    """append() — Delta's AppendOnly commit: stages once, and a lost
    commit race REBASES the same staged files onto the new head instead
    of recomputing (an append reads nothing, so no winner can invalidate
    it)."""

    SCHEMA = "id bigint, name string, amount double"

    def test_append_adds_rows_and_cdf_inserts(self, spark, table):
        out = table.append(
            spark.createDataFrame([(500, "a500", 5.0), (501, "a501", 5.1)], self.SCHEMA)
        )
        assert out["rows_appended"] == 2 and out["version"] == 1
        got = _as_dict(table.read())
        assert len(got) == 102 and got[500] == ("a500", 5.0)
        feed = table.read_changes(1, 1)
        assert [r["_change_type"] for r in feed.collect()] == ["insert", "insert"]

    def test_schema_mismatch_rejected(self, spark, table):
        with pytest.raises(MergeError, match="schema mismatch"):
            table.append(spark.createDataFrame([(1,)], "id bigint"))

    def test_empty_append_is_noop(self, spark, table):
        out = table.append(spark.createDataFrame([], self.SCHEMA))
        assert out["rows_appended"] == 0
        assert table.current_version() == 0  # no commit

    def test_lost_race_rebases_same_staged_files(self, spark, table):
        from hbase_to_mongo_export_spark.operators.merge import LocalLogStore

        t2 = ParquetMergeTable(spark, table.path)

        class RaceOnce(LocalLogStore):
            fired = False

            def write_new(self, path, data):
                if not RaceOnce.fired:
                    RaceOnce.fired = True
                    # a winner commits the contested version first; the
                    # super().write_new below then fails EEXIST naturally
                    t2.delete_where(F.col("id") == 7)
                super().write_new(path, data)

        table.log_store = RaceOnce()
        stage_calls = []
        orig_stage = table._stage_files

        def counting(df, mrpf, *a, **kw):
            out = orig_stage(df, mrpf, *a, **kw)
            stage_calls.append(len(out))
            return out

        table._stage_files = counting
        out = table.append(
            spark.createDataFrame([(900, "a900", 9.0)], self.SCHEMA)
        )
        assert len(stage_calls) == 1  # staged ONCE — rebase, not retry
        assert out["version"] == 2  # winner took v1
        got = _as_dict(table.read())
        assert 7 not in got  # winner's delete survived
        assert got[900] == ("a900", 9.0)
        assert len(got) == 100  # 100 - 1 deleted + 1 appended

    def test_rebase_revalidates_winner_constraint(self, spark, table):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConstraintViolation,
            LocalLogStore,
        )

        t2 = ParquetMergeTable(spark, table.path)

        class RaceOnce(LocalLogStore):
            fired = False

            def write_new(self, path, data):
                if not RaceOnce.fired:
                    RaceOnce.fired = True
                    t2.add_constraint("amount_cap", "amount <= 2000")
                super().write_new(path, data)

        table.log_store = RaceOnce()
        with pytest.raises(ConstraintViolation, match="amount_cap"):
            table.append(
                spark.createDataFrame([(901, "big", 5000.0)], self.SCHEMA)
            )
        # winner's constraint commit survived; the append never landed
        assert table.current_version() == 1
        assert 901 not in _as_dict(table.read())

    def test_append_after_schema_evolution_marks_mixed(self, spark, table):
        table.merge(
            spark.createDataFrame(
                [(950, "e", 1.0, "tagged")],
                "id bigint, name string, amount double, tag string",
            ),
            on=["id"],
            schema_evolution=True,
        )
        with pytest.raises(MergeError, match="schema mismatch"):
            table.append(
                spark.createDataFrame([(960, "x", 2.0)], self.SCHEMA)
            )
        out = table.append(
            spark.createDataFrame(
                [(961, "y", 3.0, None)],
                "id bigint, name string, amount double, tag string",
            )
        )
        assert out["rows_appended"] == 1
        df = table.read()
        row = {r["id"]: r for r in df.collect()}
        assert row[961]["tag"] is None and row[950]["tag"] == "tagged"


class TestInListSkipping:
    def test_in_list_prunes_to_matching_files(self, spark, table):
        # fixture: 100 rows range-clustered into 10 files of 10 ids
        df = table.read(where=[("id", "in", [5, 7, 93])])
        assert len(df.inputFiles()) == 2  # file 0 and file 9
        assert sorted(_as_dict(df)) == [5, 7, 93]

    def test_empty_in_list_matches_nothing(self, spark, table):
        df = table.read(where=[("id", "in", [])])
        assert df.count() == 0
        assert set(df.columns) == {"id", "name", "amount"}

    def test_in_combines_with_range_conjunct(self, spark, table):
        df = table.read(
            where=[("id", "in", [5, 55, 95]), ("id", ">=", 50)]
        )
        assert sorted(_as_dict(df)) == [55, 95]

    def test_string_in_list(self, spark, tmp_path):
        t = ParquetMergeTable(spark, str(tmp_path / "stbl"))
        base = spark.createDataFrame(
            [(i, f"topic{i // 10}") for i in range(100)], "id bigint, topic string"
        )
        t.create(
            base.repartitionByRange(10, F.col("topic")).sortWithinPartitions("topic")
        )
        df = t.read(where=[("topic", "in", ["topic2", "topic7"])])
        assert len(df.inputFiles()) <= 4
        got = sorted(r["id"] for r in df.collect())
        assert got == list(range(20, 30)) + list(range(70, 80))


class TestPrunedDeleteAndOverwrite:
    """Tuple-form predicates data-skip the victim/touched-file scans:
    the retention-delete shape (drop one slice of a clustered table)
    opens that slice's files, not the table."""

    def test_tuple_delete_scans_only_candidate_files(self, spark, table):
        # fixture: 100 rows range-clustered into 10 files of 10 ids
        stats = table.delete_where([("id", ">=", 90)])
        assert stats["rows_deleted"] == 10
        assert stats["files_scanned"] == 1
        assert sorted(_as_dict(table.read())) == list(range(90))

    def test_in_list_delete(self, spark, table):
        stats = table.delete_where([("id", "in", [5, 95])])
        assert stats["rows_deleted"] == 2
        assert stats["files_scanned"] == 2
        got = sorted(_as_dict(table.read()))
        assert 5 not in got and 95 not in got and len(got) == 98

    def test_no_candidate_files_commits_empty_delete(self, spark, table):
        stats = table.delete_where([("id", ">", 10_000)])
        assert stats["rows_deleted"] == 0 and stats["files_scanned"] == 0
        assert stats["version"] == 1  # still a commit (CDF done-marker)

    def test_tuple_delete_respects_pending_vectors(self, spark, table):
        table.delete_where(F.col("id") == 95)
        stats = table.delete_where([("id", ">=", 90)])
        assert stats["rows_deleted"] == 9  # 95 was already MoR-deleted
        assert sorted(_as_dict(table.read())) == list(range(90))

    def test_tuple_overwrite_scans_only_candidates(self, spark, table):
        repl = spark.createDataFrame(
            [(95, "r95", -1.0)], "id bigint, name string, amount double"
        )
        stats = table.overwrite_where(
            [("id", ">=", 90), ("id", "<", 100)], repl
        )
        assert stats["files_scanned"] == 1
        assert stats["files_touched"] == 1
        assert stats["rows_removed"] == 10
        got = _as_dict(table.read())
        assert len(got) == 91 and got[95] == ("r95", -1.0) and 91 not in got

    def test_tuple_overwrite_replacement_still_constraint_checked(
        self, spark, table
    ):
        # a replacement row OUTSIDE the tuple predicate must be rejected
        repl = spark.createDataFrame(
            [(5, "sneak", 0.0)], "id bigint, name string, amount double"
        )
        with pytest.raises(MergeError, match="must satisfy"):
            table.overwrite_where([("id", ">=", 90)], repl)


class TestTxnIdempotence:
    """Delta's txnAppId/txnVersion idempotent-writer protocol: a commit
    stamped with an (app, version) pair already recorded in the log is a
    redelivery and must be skipped — across restarts and processes."""

    def _batch(self, spark, lo, hi):
        return spark.createDataFrame(
            [(i, f"name{i}", float(i * 10)) for i in range(lo, hi)],
            "id bigint, name string, amount double",
        )

    def test_append_replay_is_skipped(self, spark, table):
        r1 = table.append(self._batch(spark, 100, 110), txn_app_id="app",
                          txn_version=0)
        assert r1["rows_appended"] == 10 and "txn_skipped" not in r1
        r2 = table.append(self._batch(spark, 100, 110), txn_app_id="app",
                          txn_version=0)
        assert r2 == {
            "rows_appended": 0,
            "version": r1["version"],
            "txn_skipped": True,
        }
        assert table.read().count() == 110  # no doubled rows
        r3 = table.append(self._batch(spark, 110, 115), txn_app_id="app",
                          txn_version=1)
        assert r3["rows_appended"] == 5
        assert table.last_txn_version("app") == 1
        assert table.last_txn_version("other") is None

    def test_older_txn_version_also_skips(self, spark, table):
        table.append(self._batch(spark, 100, 101), txn_app_id="a",
                     txn_version=7)
        r = table.append(self._batch(spark, 101, 102), txn_app_id="a",
                         txn_version=3)
        assert r["txn_skipped"] is True and table.read().count() == 101

    def test_merge_replay_is_skipped(self, spark, table):
        src_df = spark.createDataFrame(
            [(5, "u5", 1.0), (200, "i200", 2.0)],
            "id bigint, name string, amount double",
        )
        r1 = table.merge(
            src_df, on=["id"],
            when_matched_update={"amount": src("amount")},
            txn_app_id="stream", txn_version=42,
        )
        assert r1["rows_inserted"] == 1
        r2 = table.merge(
            src_df, on=["id"],
            when_matched_update={"amount": src("amount")},
            txn_app_id="stream", txn_version=42,
        )
        assert r2 == {"version": r1["version"], "txn_skipped": True}
        got = _as_dict(table.read())
        assert got[5] == ("name5", 1.0) and len(got) == 101

    def test_app_id_and_version_must_pair(self, spark, table):
        with pytest.raises(MergeError, match="together"):
            table.append(self._batch(spark, 100, 101), txn_app_id="a")
        with pytest.raises(MergeError, match="together"):
            table.merge(
                self._batch(spark, 100, 101), on=["id"], txn_version=1
            )

    def test_empty_batch_still_records_txn(self, spark, table):
        empty = self._batch(spark, 0, 0)
        r = table.append(empty, txn_app_id="a", txn_version=0)
        assert r["rows_appended"] == 0
        assert table.last_txn_version("a") == 0  # gap-free bookkeeping

    def test_txn_map_survives_reopen_and_checkpoint(self, spark, table):
        # cross CHECKPOINT_INTERVAL so resolution goes through a
        # checkpoint + delta replay, then reopen with a fresh instance
        for v in range(12):
            table.append(
                self._batch(spark, 100 + v, 101 + v),
                txn_app_id="app", txn_version=v,
            )
        t2 = ParquetMergeTable(spark, table.path)
        assert t2.last_txn_version("app") == 11
        r = t2.append(self._batch(spark, 0, 1), txn_app_id="app",
                      txn_version=11)
        assert r["txn_skipped"] is True

    def test_twin_writer_race_drops_duplicate_batch(self, spark, table):
        """A zombie twin of the same stream wins the commit race with the
        SAME batch: the loser must detect the app's txn on rebase and
        drop its copy instead of double-appending."""
        t2 = ParquetMergeTable(spark, table.path)
        orig = t2._stage_files

        def hijack(df, mrpf, *a, **kw):
            t2._stage_files = orig  # interleave exactly once
            table.append(self._batch(spark, 100, 110), txn_app_id="app",
                         txn_version=0)  # the twin wins v1 with batch 0
            return orig(df, mrpf, *a, **kw)

        t2._stage_files = hijack
        r = t2.append(self._batch(spark, 100, 110), txn_app_id="app",
                      txn_version=0)
        assert r["txn_skipped"] is True
        assert table.read().count() == 110  # batch landed exactly once

    def test_distinct_writer_race_still_rebases(self, spark, table):
        """A DIFFERENT app losing the race must still rebase-append, not
        skip — the txn check is per app id."""
        t2 = ParquetMergeTable(spark, table.path)
        orig = t2._stage_files

        def hijack(df, mrpf, *a, **kw):
            t2._stage_files = orig
            table.append(self._batch(spark, 100, 110), txn_app_id="appA",
                         txn_version=0)
            return orig(df, mrpf, *a, **kw)

        t2._stage_files = hijack
        r = t2.append(self._batch(spark, 200, 205), txn_app_id="appB",
                      txn_version=0)
        assert r["rows_appended"] == 5
        assert table.read().count() == 115
        assert table.last_txn_version("appA") == 0
        assert table.last_txn_version("appB") == 0


class TestStreamAppendExactlyOnce:
    def test_stream_append_ingests_and_replays_safely(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import stream_append

        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        t.create(
            spark.createDataFrame(
                [(i, float(i)) for i in range(5)], "id bigint, val double"
            )
        )
        src_dir = tmp_path / "incoming"
        src_dir.mkdir()
        ckpt = str(tmp_path / "ckpt")
        stream = spark.readStream.schema("id bigint, val double").parquet(
            str(src_dir)
        )
        writer = stream_append(t, stream, checkpoint_dir=ckpt)

        spark.createDataFrame(
            [(i, float(i)) for i in range(5, 10)], "id bigint, val double"
        ).coalesce(1).write.mode("append").parquet(str(src_dir))
        writer.trigger(availableNow=True).start().awaitTermination(120)
        assert t.read().count() == 10

        # restart on the same checkpoint with no new data: nothing lands
        writer.trigger(availableNow=True).start().awaitTermination(120)
        assert t.read().count() == 10

        # second file, restart: only the new batch appends
        spark.createDataFrame(
            [(10, 10.0)], "id bigint, val double"
        ).coalesce(1).write.mode("append").parquet(str(src_dir))
        writer.trigger(availableNow=True).start().awaitTermination(120)
        assert t.read().count() == 11

        # the exactly-once mechanism itself: redeliver batch 0 by hand
        # (what a crash between table-commit and checkpoint-write does)
        app = f"stream_append:{os.path.abspath(ckpt)}"
        assert t.last_txn_version(app) is not None
        r = t.append(
            spark.createDataFrame(
                [(i, float(i)) for i in range(5, 10)], "id bigint, val double"
            ),
            txn_app_id=app, txn_version=0,
        )
        assert r["txn_skipped"] is True
        assert t.read().count() == 11  # still exactly once


class TestRestore:
    def _mutate(self, spark, table):
        """v1: merge (update 5, insert 200); v2: MoR delete ids 1,2."""
        table.merge(
            spark.createDataFrame(
                [(5, "u5", -5.0), (200, "i200", 2.0)],
                "id bigint, name string, amount double",
            ),
            on=["id"],
            when_matched_update={"name": src("name"), "amount": src("amount")},
        )
        table.delete_where(F.col("id").isin(1, 2))

    def test_restore_undoes_merge_and_mor_delete(self, spark, table):
        before = _as_dict(table.read(version=0))
        self._mutate(spark, table)
        assert _as_dict(table.read()) != before
        stats = table.restore(0)
        assert stats["version"] == 3
        assert stats["restored_version"] == 0
        assert _as_dict(table.read()) == before
        # history preserved: the mutated states are still time-travelable
        assert [h["operation"] for h in table.history()][:4] == [
            "create", "merge", "delete", "restore",
        ]
        got_v2 = _as_dict(table.read(version=2))
        assert 1 not in got_v2 and got_v2[5] == ("u5", -5.0)

    def test_restore_is_metadata_only(self, spark, table):
        self._mutate(spark, table)
        v2_files = set(table._manifest(2)["files"])
        table.restore(0)
        m = table._manifest(3)
        assert set(m["files"]) == set(table._manifest(0)["files"])
        assert m["delete_files"] == []
        # no data file was rewritten — the restore reused v0's files
        assert not (set(m["files"]) - set(table._manifest(0)["files"]))
        # and v2's files still exist on disk for time travel
        assert all(os.path.exists(f) for f in v2_files)

    def test_restore_emits_cdf_consistent_changes(self, spark, table):
        self._mutate(spark, table)
        table.restore(0)
        # full-row multiset replay of the feed over snapshot(v0), one
        # commit at a time (the restore touches rows earlier commits
        # touched, so replay must be sequential), must reconstruct
        # snapshot(v3) — the contract restore must not break
        data_cols = ["id", "name", "amount"]
        rebuilt = table.read(version=0)
        for v in range(1, table.current_version() + 1):
            f = table.read_changes(from_version=v, to_version=v)
            removed = f.filter(
                F.col("_change_type").isin("update_preimage", "delete")
            ).select(*data_cols)
            added = f.filter(
                F.col("_change_type").isin("update_postimage", "insert")
            ).select(*data_cols)
            rebuilt = rebuilt.exceptAll(removed).unionByName(added)
        assert sorted(map(tuple, rebuilt.collect())) == sorted(
            map(tuple, table.read().collect())
        )
        # the restore commit's own change rows: deletes for the merge's
        # insert+update, an insert resurrecting the updated row's old
        # values, and inserts resurrecting the MoR-deleted rows
        rows3 = table.read_changes(from_version=3, to_version=3).collect()
        by_type = {}
        for r in rows3:
            by_type.setdefault(r["_change_type"], set()).add(
                (r["id"], r["name"], r["amount"])
            )
        assert (200, "i200", 2.0) in by_type["delete"]
        assert (5, "u5", -5.0) in by_type["delete"]
        assert (5, "name5", 50.0) in by_type["insert"]
        assert (1, "name1", 10.0) in by_type["insert"]
        assert (2, "name2", 20.0) in by_type["insert"]

    def test_restore_forward_and_noop(self, spark, table):
        self._mutate(spark, table)
        with pytest.raises(MergeError, match="backwards"):
            table.restore(99)
        r = table.restore(table.current_version())
        assert r["rows_restore_deleted"] == 0
        assert r["version"] == table.current_version()

    def test_restore_reverts_schema_evolution(self, spark, table):
        table.merge(
            spark.createDataFrame(
                [(5, "u5", 1.0, "extra")],
                "id bigint, name string, amount double, note string",
            ),
            on=["id"],
            when_matched_update={"note": src("note")},
            schema_evolution=True,
        )
        assert "note" in table.read().columns
        table.restore(0)
        assert "note" not in table.read().columns
        assert _as_dict(table.read()) == _as_dict(table.read(version=0))

    def test_restore_rechecks_later_constraints(self, spark, table):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConstraintViolation,
        )

        # v1 deletes the negative-amount candidates... (none negative yet)
        table.delete_where(F.col("id") >= 50)
        # v2 adds a constraint the REMAINING rows satisfy
        table.add_constraint("small_id", "id < 50")
        # restoring v0 would resurrect rows violating it
        v_before = table.current_version()
        with pytest.raises(ConstraintViolation, match="small_id"):
            table.restore(0)
        assert table.current_version() == v_before  # unchanged
        table.drop_constraint("small_id")
        table.restore(0)
        assert table.read().count() == 100

    def test_restore_after_compact_emits_no_change_rows(self, spark, table):
        """compact() is physical, not logical — restoring across it must
        produce a commit with ZERO change rows (the visible-row diff is
        empty) while still swapping the file lists."""
        table.compact(target_files=2)
        stats = table.restore(0)
        assert stats["rows_restore_deleted"] == 0
        assert stats["rows_restore_inserted"] == 0
        assert stats["files_removed"] == 2
        assert stats["files_readded"] == 10
        assert table.read().count() == 100
        assert (
            table.read_changes(from_version=2, to_version=2).count() == 0
        )

    def test_restore_lost_race_keeps_old_data_files(self, spark, table):
        """The files a restore 're-adds' belong to retained history — a
        lost commit race must NOT sweep them like fresh staging."""
        from hbase_to_mongo_export_spark.operators.merge import (
            ConcurrentWriteError,
            LocalLogStore,
        )

        self._mutate(spark, table)
        v0_files = table._manifest(0)["files"]

        class AlwaysTaken(LocalLogStore):
            def write_new(self, path, data):
                raise FileExistsError(path)

        real = table.log_store
        table.log_store = AlwaysTaken()
        with pytest.raises(ConcurrentWriteError):
            table.restore(0)
        table.log_store = real
        assert all(os.path.exists(f) for f in v0_files)
        assert _as_dict(table.read(version=0))  # v0 still readable
        table.restore(0)  # and the retry succeeds
        assert table.read().count() == 100

    def test_restore_vacuumed_version_fails_loudly(self, spark, table):
        self._mutate(spark, table)
        table.compact()           # v3 rewrites files
        table.vacuum(retain_last=1)
        with pytest.raises((MergeError, FileNotFoundError)):
            table.restore(0)

    def test_restore_diff_multiplicity_of_duplicate_rows(self, spark, tmp_path):
        """The CDF diff is a MULTISET difference: identical rows whose
        copy-count differs between the versions must emit one change row
        per surplus copy (the net-count diff replicates by |count|, not
        by distinct row)."""
        t = ParquetMergeTable(spark, str(tmp_path / "dup"))
        base = [(1, "a", 1.0)] * 3 + [(2, "b", 2.0)]
        schema = "id bigint, name string, amount double"
        t.create(spark.createDataFrame(base, schema))
        # v1 appends two MORE identical copies of row (1,) and one of (2,)
        t.append(
            spark.createDataFrame([(1, "a", 1.0)] * 2 + [(2, "b", 2.0)], schema)
        )
        stats = t.restore(0)
        assert stats["rows_restore_deleted"] == 3
        assert stats["rows_restore_inserted"] == 0
        chg = t.read_changes(from_version=2, to_version=2).collect()
        got = sorted(
            (r["id"], r["name"], r["amount"], r["_change_type"]) for r in chg
        )
        assert got == [
            (1, "a", 1.0, "delete"),
            (1, "a", 1.0, "delete"),
            (2, "b", 2.0, "delete"),
        ]
        assert sorted(
            map(tuple, t.read().select("id", "name", "amount").collect())
        ) == sorted(base)


class TestUpdateWhere:
    """Row-level SQL UPDATE: copy-on-write over touched files only,
    self-referential assignments, 3VL condition, CDF image pairs."""

    def test_update_reprices_matching_rows(self, spark, table):
        stats = table.update_where(
            F.col("id") < 20,
            {"amount": F.col("amount") + 1.0, "name": F.lit("upd")},
        )
        assert stats["rows_updated"] == 20
        got = _as_dict(table.read())
        assert got[5] == ("upd", 51.0)
        assert got[50] == ("name50", 500.0)
        assert len(got) == 100

    def test_update_rewrites_only_touched_files(self, spark, table):
        # ids 0..9 live in one of the 10 range-clustered files
        stats = table.update_where(
            F.col("id") < 10, {"amount": F.lit(0.0)}
        )
        assert stats["files_touched"] == 1
        assert stats["files_carried"] == 9

    def test_tuple_condition_data_skips_detection_scan(self, spark, table):
        stats = table.update_where(
            [("id", ">=", 90)], {"amount": F.lit(-1.0)}
        )
        assert stats["files_scanned"] == 1
        assert stats["files_touched"] == 1
        assert stats["rows_updated"] == 10
        assert _as_dict(table.read())[95] == ("name95", -1.0)

    def test_null_condition_does_not_fire(self, spark, table):
        # NULL comparison → 3VL NULL → row must carry unchanged
        t2 = ParquetMergeTable(spark, table.path)
        t2.merge(
            spark.createDataFrame(
                [(5, None, None)], "id bigint, name string, amount double"
            ),
            on=["id"],
            when_matched_update={"amount": src("amount")},
        )
        stats = t2.update_where(
            F.col("amount") > 1e9, {"name": F.lit("never")}
        )
        assert stats["rows_updated"] == 0
        assert _as_dict(t2.read())[5][0] == "name5"

    def test_unknown_set_column_rejected(self, spark, table):
        with pytest.raises(MergeError, match="unknown column"):
            table.update_where(F.col("id") < 5, {"nope": F.lit(1)})

    def test_cdf_emits_image_pairs(self, spark, table):
        table.update_where(F.col("id") == 7, {"amount": F.lit(0.5)})
        rows = table.read_changes(from_version=1, to_version=1).collect()
        by_type = {r["_change_type"]: r for r in rows}
        assert len(rows) == 2
        assert by_type["update_preimage"]["amount"] == 70.0
        assert by_type["update_postimage"]["amount"] == 0.5

    def test_update_respects_pending_deletion_vectors(self, spark, table):
        table.delete_where(F.col("id") == 3)
        stats = table.update_where(
            F.col("id").isin(3, 4), {"amount": F.lit(9.0)}
        )
        assert stats["rows_updated"] == 1  # 3 is MoR-deleted
        got = _as_dict(table.read())
        assert 3 not in got and got[4] == ("name4", 9.0)

    def test_update_checks_constraints(self, spark, table):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConstraintViolation,
        )

        table.add_constraint("amount_nonneg", "amount >= 0")
        with pytest.raises(ConstraintViolation, match="amount_nonneg"):
            table.update_where(F.col("id") == 1, {"amount": F.lit(-5.0)})
        assert _as_dict(table.read())[1] == ("name1", 10.0)


class TestShallowClone:
    def test_clone_is_zero_copy_and_independent(self, spark, table, tmp_path):
        import glob

        dest = str(tmp_path / "clone")
        c = table.clone(dest)
        assert _as_dict(c.read()) == _as_dict(table.read())
        # zero data copied: the clone dir holds no parquet of its own
        assert glob.glob(os.path.join(dest, "**", "*.parquet"),
                         recursive=True) == []
        # writes to the clone never touch the source
        c.merge(
            spark.createDataFrame(
                [(5, "cloned", 0.0), (500, "new", 1.0)],
                "id bigint, name string, amount double",
            ),
            on=["id"],
            when_matched_update={"name": src("name")},
        )
        assert _as_dict(c.read())[5][0] == "cloned"
        assert 500 in _as_dict(c.read())
        assert _as_dict(table.read())[5][0] == "name5"
        assert 500 not in _as_dict(table.read())
        # and source writes never show up in the clone
        table.delete_where(F.col("id") == 9)
        assert 9 in _as_dict(c.read())

    def test_clone_copies_stats_not_footers(self, spark, table, tmp_path):
        c = table.clone(str(tmp_path / "clone"))
        m_src = table._manifest(table.current_version())
        m_cl = c._manifest(0)
        src_stats = {os.path.abspath(f): s for f, s in m_src["file_stats"].items()}
        assert {os.path.abspath(f): s for f, s in m_cl["file_stats"].items()} == src_stats
        # data skipping works through the clone's copied stats
        assert c.read(where=[("id", ">=", 90)]).count() == 10

    def test_clone_carries_vectors_and_constraints(self, spark, table, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConstraintViolation,
        )

        table.delete_where(F.col("id") == 3)
        table.add_constraint("amount_nonneg", "amount >= 0")
        c = table.clone(str(tmp_path / "clone"))
        assert 3 not in _as_dict(c.read())
        with pytest.raises(ConstraintViolation):
            c.update_where(F.col("id") == 1, {"amount": F.lit(-1.0)})
        # txn map starts EMPTY: a stream moving to the clone re-ingests
        assert c.last_txn_version("anything") is None

    def test_clone_at_version_time_travels(self, spark, table, tmp_path):
        table.delete_where(F.col("id") < 50)
        c = table.clone(str(tmp_path / "clone"), version=0)
        assert c.read().count() == 100

    def test_clone_vacuum_never_deletes_source_files(self, spark, table, tmp_path):
        c = table.clone(str(tmp_path / "clone"))
        # clone rewrites everything (compact = materialize), then drops
        # its v0 — the source-referenced files leave the clone's history
        c.compact(target_files=2)
        src_files = table._manifest(table.current_version())["files"]
        c.vacuum(retain_last=1)
        assert all(os.path.exists(f) for f in src_files)
        assert _as_dict(table.read())  # source intact
        assert c.read().count() == 100  # clone intact, now self-contained

    def test_clone_onto_existing_table_rejected(self, spark, table, tmp_path):
        dest = str(tmp_path / "clone")
        table.clone(dest)
        with pytest.raises(MergeError, match="already a table"):
            table.clone(dest)


class TestRestoreScanPruning:
    def test_restore_diff_scans_only_changed_files(self, spark, table):
        """The restore CDF diff must read only files whose membership or
        vector coverage changed — never the carried bulk."""
        # touch ONE file's worth of keys (ids 0..9 = first range file)
        table.merge(
            spark.createDataFrame(
                [(5, "u5", -5.0)], "id bigint, name string, amount double"
            ),
            on=["id"],
            when_matched_update={"amount": src("amount")},
        )
        scanned: list[list[str]] = []
        orig = table._scan

        def spy(m, files, *a, **kw):
            scanned.append(sorted(files))
            return orig(m, files, *a, **kw)

        table._scan = spy
        stats = table.restore(0)
        table._scan = orig
        assert stats["files_removed"] == 1 and stats["files_readded"] == 1
        # two diff scans (cur side, tgt side), each over exactly 1 file
        assert len(scanned) == 2
        assert all(len(s) == 1 for s in scanned)


class TestColumnMapping:
    """Delta column mapping: RENAME/DROP COLUMN as metadata-only commits
    over stable physical names — no rewrite at any size, stats-based
    skipping survives renames, CDF replays across them."""

    def test_rename_is_metadata_only(self, spark, table):
        files_before = set(table._manifest(table.current_version())["files"])
        mtimes = {f: os.path.getmtime(f) for f in files_before}
        r = table.rename_column("amount", "price")
        assert r["renamed"] == ["amount", "price"]
        m = table._manifest(table.current_version())
        assert set(m["files"]) == files_before  # zero files rewritten
        assert all(os.path.getmtime(f) == mtimes[f] for f in files_before)
        assert table.read().columns == ["id", "name", "price"]
        got = {r["id"]: r["price"] for r in table.read().collect()}
        assert got[5] == 50.0
        # time travel still shows the OLD logical name
        assert table.read(version=0).columns == ["id", "name", "amount"]

    def test_skipping_survives_rename_without_stats_rebuild(self, spark, table):
        table.rename_column("id", "order_id")
        # stats were collected under the physical name 'id' at create
        # time; the renamed predicate must still prune files
        df = table.read(where=[("order_id", ">=", 90)])
        assert df.count() == 10
        assert {r["order_id"] for r in df.collect()} == set(range(90, 100))
        # the scan was pruned: only 1 of the 10 range files qualifies
        m = table._manifest(table.current_version())
        skip = table._physical_conjuncts(
            [("order_id", ">=", 90)], m["column_mapping"]
        )
        from hbase_to_mongo_export_spark.operators.merge import _file_can_match
        kept = [f for f in m["files"]
                if _file_can_match(m["file_stats"].get(f), skip)]
        assert len(kept) == 1

    def test_merge_after_rename_uses_logical_names(self, spark, table):
        table.rename_column("amount", "price")
        table.merge(
            spark.createDataFrame(
                [(5, "u5", -1.0), (200, "i", 2.0)],
                "id bigint, name string, price double",
            ),
            on=["id"],
            when_matched_update={"price": src("price")},
        )
        got = {r["id"]: r["price"] for r in table.read().collect()}
        assert got[5] == -1.0 and got[200] == 2.0 and len(got) == 101
        # carried (v0) files still physical-named 'amount'; fresh files
        # physical-named 'amount' too (stable physical identity)
        import pyarrow.parquet as pq
        m = table._manifest(table.current_version())
        for f in m["files"]:
            assert "amount" in pq.read_schema(f).names
            assert "price" not in pq.read_schema(f).names

    def test_drop_column_hides_data_and_never_resurrects(self, spark, table):
        table.drop_column("name")
        assert table.read().columns == ["id", "amount"]
        # re-add the same logical name via schema evolution: fresh
        # physical name, old values must NOT resurrect from carried files
        table.merge(
            spark.createDataFrame(
                [(5, "fresh5", -5.0)], "id bigint, name string, amount double"
            ),
            on=["id"],
            when_matched_update={"name": src("name"), "amount": src("amount")},
            schema_evolution=True,
        )
        got = _as_dict(table.read())
        assert got[5] == ("fresh5", -5.0)
        assert got[6] == (None, 60.0)  # carried row: NULL, not 'name6'
        m = table._manifest(table.current_version())
        md = dict(m["column_mapping"])
        assert md["name"] != "name"  # fresh physical, retired not reused
        assert "name" in m["retired_physical"]

    def test_update_delete_after_rename(self, spark, table):
        table.rename_column("amount", "price")
        table.update_where([("id", ">=", 90)], {"price": F.lit(0.0)})
        table.delete_where([("id", "<", 10)])
        got = {r["id"]: r["price"] for r in table.read().collect()}
        assert len(got) == 90 and got[95] == 0.0 and got[50] == 500.0

    def test_cdf_replays_across_rename(self, spark, table):
        table.merge(
            spark.createDataFrame(
                [(5, "u5", -5.0)], "id bigint, name string, amount double"
            ),
            on=["id"],
            when_matched_update={"amount": src("amount")},
        )
        table.rename_column("amount", "price")
        table.update_where(F.col("id") == 7, {"price": F.lit(0.7)})
        # sequential full-row replay from v0 under the END schema: one
        # feed read (end schema = post-rename), sliced per commit
        data_cols = ["id", "name", "price"]
        feed = table.read_changes(from_version=1)
        rebuilt = table.read(version=0).withColumnRenamed("amount", "price")
        for v in range(1, table.current_version() + 1):
            f = feed.filter(F.col("_commit_version") == v)
            removed = f.filter(
                F.col("_change_type").isin("update_preimage", "delete")
            ).select(*data_cols)
            added = f.filter(
                F.col("_change_type").isin("update_postimage", "insert")
            ).select(*data_cols)
            rebuilt = rebuilt.exceptAll(removed).unionByName(added)
        assert sorted(map(tuple, rebuilt.collect())) == sorted(
            map(tuple, table.read().collect())
        )

    def test_restore_reverts_rename_and_drop(self, spark, table):
        table.rename_column("amount", "price")
        table.drop_column("name")
        assert table.read().columns == ["id", "price"]
        stats = table.restore(0)
        assert table.read().columns == ["id", "name", "amount"]
        assert _as_dict(table.read()) == _as_dict(table.read(version=0))
        # pure metadata ops → restoring across them moves no rows
        assert stats["rows_restore_deleted"] == 0
        assert stats["rows_restore_inserted"] == 0

    def test_clone_carries_mapping(self, spark, table, tmp_path):
        table.rename_column("amount", "price")
        c = table.clone(str(tmp_path / "clone"))
        assert c.read().columns == ["id", "name", "price"]
        assert {r["id"]: r["price"] for r in c.read().collect()}[5] == 50.0

    def test_compact_after_drop_sheds_retired_bytes(self, spark, table):
        import pyarrow.parquet as pq

        table.drop_column("name")
        table.compact(target_files=2)
        m = table._manifest(table.current_version())
        for f in m["files"]:
            assert "name" not in pq.read_schema(f).names
        assert table.read().count() == 100

    def test_constraint_reference_blocks_rename_and_drop(self, spark, table):
        table.add_constraint("amount_nonneg", "amount >= 0")
        with pytest.raises(MergeError, match="amount_nonneg"):
            table.rename_column("amount", "price")
        with pytest.raises(MergeError, match="amount_nonneg"):
            table.drop_column("amount")
        table.drop_constraint("amount_nonneg")
        table.rename_column("amount", "price")  # now fine

    def test_rename_validation(self, spark, table):
        with pytest.raises(MergeError, match="no such column"):
            table.rename_column("nope", "x")
        with pytest.raises(MergeError, match="already exists"):
            table.rename_column("amount", "name")

    def test_append_after_rename(self, spark, table):
        table.rename_column("amount", "price")
        r = table.append(
            spark.createDataFrame(
                [(100, "n100", 1.0)], "id bigint, name string, price double"
            )
        )
        assert r["rows_appended"] == 1
        assert {r["id"]: r["price"] for r in table.read().collect()}[100] == 1.0
        with pytest.raises(MergeError, match="schema mismatch"):
            table.append(
                spark.createDataFrame(
                    [(101, "x", 1.0)], "id bigint, name string, amount double"
                )
            )

    def test_overwrite_where_after_rename(self, spark, table):
        table.rename_column("amount", "price")
        repl = spark.createDataFrame(
            [(95, "r95", -1.0)], "id bigint, name string, price double"
        )
        stats = table.overwrite_where([("id", ">=", 90)], repl)
        assert stats["files_scanned"] == 1
        got = {r["id"]: (r["name"], r["price"]) for r in table.read().collect()}
        assert len(got) == 91 and got[95] == ("r95", -1.0)


class TestScd2:
    def _dim(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import scd2_prepare

        t = ParquetMergeTable(spark, str(tmp_path / "dim"))
        base = spark.createDataFrame(
            [(1, "addr1", "gold"), (2, "addr2", "silver"), (3, "addr3", "gold")],
            "cust bigint, address string, tier string",
        )
        t.create(scd2_prepare(base, ts=0.0))
        return t

    def test_changed_new_and_unchanged_rows(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import scd2_apply

        t = self._dim(spark, tmp_path)
        updates = spark.createDataFrame(
            [
                (1, "addr1-new", "gold"),   # address changed → new version
                (2, "addr2", "silver"),     # unchanged → nothing
                (9, "addr9", "bronze"),     # new key → insert
            ],
            "cust bigint, address string, tier string",
        )
        r = scd2_apply(t, updates, ["cust"], ["address", "tier"], ts=5.0)
        assert r["rows_closed"] == 1 and r["rows_inserted"] == 2
        rows = {
            (x["cust"], x["_valid_from"]): x for x in t.read().collect()
        }
        assert len(rows) == 5  # 3 original + 2 new versions
        old1 = rows[(1, 0.0)]
        assert old1["_is_current"] is False and old1["_valid_to"] == 5.0
        new1 = rows[(1, 5.0)]
        assert new1["_is_current"] is True and new1["address"] == "addr1-new"
        assert new1["_valid_to"] is None
        assert rows[(2, 0.0)]["_is_current"] is True  # untouched
        assert rows[(9, 5.0)]["_is_current"] is True

    def test_replay_is_noop(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import scd2_apply

        t = self._dim(spark, tmp_path)
        updates = spark.createDataFrame(
            [(1, "addr1-new", "gold")], "cust bigint, address string, tier string"
        )
        scd2_apply(t, updates, ["cust"], ["address", "tier"], ts=5.0)
        before = sorted(map(tuple, t.read().collect()))
        r = scd2_apply(t, updates, ["cust"], ["address", "tier"], ts=5.0)
        assert r["rows_closed"] == 0 and r["rows_inserted"] == 0
        assert sorted(map(tuple, t.read().collect())) == before

    def test_history_chains_across_multiple_applies(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import scd2_apply

        t = self._dim(spark, tmp_path)
        for ts, addr in [(1.0, "a"), (2.0, "b"), (3.0, "c")]:
            scd2_apply(
                t,
                spark.createDataFrame(
                    [(1, addr, "gold")], "cust bigint, address string, tier string"
                ),
                ["cust"], ["address", "tier"], ts=ts,
            )
        hist = sorted(
            (r["_valid_from"], r["_valid_to"], r["address"], r["_is_current"])
            for r in t.read().filter(F.col("cust") == 1).collect()
        )
        assert hist == [
            (0.0, 1.0, "addr1", False),
            (1.0, 2.0, "a", False),
            (2.0, 3.0, "b", False),
            (3.0, None, "c", True),
        ]

    def test_null_safe_tracked_comparison(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import scd2_apply

        t = self._dim(spark, tmp_path)
        # NULL address incoming: differs from 'addr1' → closes; a second
        # apply with NULL again → eqNullSafe says unchanged → no-op
        upd = spark.createDataFrame(
            [(1, None, "gold")], "cust bigint, address string, tier string"
        )
        r1 = scd2_apply(t, upd, ["cust"], ["address", "tier"], ts=1.0)
        assert r1["rows_closed"] == 1 and r1["rows_inserted"] == 1
        r2 = scd2_apply(t, upd, ["cust"], ["address", "tier"], ts=2.0)
        assert r2["rows_closed"] == 0 and r2["rows_inserted"] == 0

    def test_missing_columns_rejected(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import scd2_apply

        t = self._dim(spark, tmp_path)
        with pytest.raises(MergeError, match="missing column"):
            scd2_apply(
                t,
                spark.createDataFrame([(1,)], "cust bigint"),
                ["cust"], ["address"], ts=1.0,
            )


class TestScd2FullSnapshot:
    """close_missing=True — SCD2 driven by a COMPLETE snapshot (the
    classic NOT MATCHED BY SOURCE use): keys absent from today's feed
    retire in the same atomic commit, unchanged keys carry, replay is
    a no-op."""

    def _dim(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import scd2_prepare

        t = ParquetMergeTable(spark, str(tmp_path / "dim"))
        t.create(
            scd2_prepare(
                spark.createDataFrame(
                    [(1, "a"), (2, "b"), (3, "c"), (4, "d")],
                    "cust bigint, addr string",
                ),
                ts=0.0,
            )
        )
        return t

    def test_vanished_keys_retire_atomically(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import scd2_apply

        t = self._dim(spark, tmp_path)
        # snapshot: 1 changed, 2 unchanged, 5 new — 3 and 4 vanished
        snap = spark.createDataFrame(
            [(1, "a2"), (2, "b"), (5, "e")], "cust bigint, addr string"
        )
        r = scd2_apply(
            t, snap, ["cust"], ["addr"], ts=5.0, close_missing=True
        )
        assert r["rows_closed"] == 3  # cust 1 (changed) + 3, 4 (vanished)
        assert r["rows_inserted"] == 2  # cust 1's successor + new cust 5
        rows = {(x["cust"], x["_valid_from"]): x for x in t.read().collect()}
        for k in (3, 4):
            gone = rows[(k, 0.0)]
            assert gone["_is_current"] is False and gone["_valid_to"] == 5.0
            assert (k, 5.0) not in rows  # no successor
        assert rows[(2, 0.0)]["_is_current"] is True  # unchanged carries
        assert rows[(1, 5.0)]["addr"] == "a2"
        assert rows[(5, 5.0)]["_is_current"] is True

    def test_replay_and_history_are_untouched(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import scd2_apply

        t = self._dim(spark, tmp_path)
        snap = spark.createDataFrame(
            [(1, "a2"), (2, "b")], "cust bigint, addr string"
        )
        scd2_apply(t, snap, ["cust"], ["addr"], ts=5.0, close_missing=True)
        before = sorted(map(tuple, t.read().collect()))
        # replay the SAME snapshot: retired keys are no longer current
        # (by-source condition fails), re-sent inserts match themselves,
        # unchanged keys keep — byte-identical state
        r = scd2_apply(
            t, snap, ["cust"], ["addr"], ts=5.0, close_missing=True
        )
        assert r["rows_closed"] == 0 and r["rows_inserted"] == 0
        assert sorted(map(tuple, t.read().collect())) == before
        # cust 1's CLOSED v0 row (historical, key still in snapshot)
        # was never touched by the by-source clause
        rows = {(x["cust"], x["_valid_from"]): x for x in t.read().collect()}
        assert rows[(1, 0.0)]["_valid_to"] == 5.0

    def test_composes_with_delete_keys(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import scd2_apply

        t = self._dim(spark, tmp_path)
        snap = spark.createDataFrame(
            [(1, "a"), (2, "b")], "cust bigint, addr string"
        )
        dels = spark.createDataFrame([(3,)], "cust bigint")
        r = scd2_apply(
            t, snap, ["cust"], ["addr"], ts=5.0,
            delete_keys=dels, close_missing=True,
        )
        # cust 3 retires via delete_keys (matched close), cust 4 via
        # close_missing (by-source) — one commit, both closed
        assert r["rows_closed"] == 2 and r["rows_inserted"] == 0
        rows = {(x["cust"], x["_valid_from"]): x for x in t.read().collect()}
        assert rows[(3, 0.0)]["_is_current"] is False
        assert rows[(4, 0.0)]["_is_current"] is False
        assert rows[(1, 0.0)]["_is_current"] is True


class TestScd2Deletes:
    def test_delete_keys_close_without_successor(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import (
            scd2_apply,
            scd2_prepare,
        )

        t = ParquetMergeTable(spark, str(tmp_path / "dim"))
        t.create(
            scd2_prepare(
                spark.createDataFrame(
                    [(1, "a"), (2, "b"), (3, "c")], "cust bigint, addr string"
                ),
                ts=0.0,
            )
        )
        updates = spark.createDataFrame(
            [(1, "a2")], "cust bigint, addr string"
        )
        dels = spark.createDataFrame([(3,), (99,)], "cust bigint")
        r = scd2_apply(
            t, updates, ["cust"], ["addr"], ts=5.0, delete_keys=dels
        )
        assert r["rows_closed"] == 2  # cust 1 (changed) + cust 3 (retired)
        assert r["rows_inserted"] == 1  # only cust 1 gets a successor
        rows = {(x["cust"], x["_valid_from"]): x for x in t.read().collect()}
        retired = rows[(3, 0.0)]
        assert retired["_is_current"] is False and retired["_valid_to"] == 5.0
        assert (3, 5.0) not in rows  # no successor
        assert rows[(2, 0.0)]["_is_current"] is True  # untouched
        assert rows[(1, 5.0)]["addr"] == "a2"
        # retire replay: cust 3 no longer current → inner join empty → noop
        r2 = scd2_apply(
            t,
            spark.createDataFrame([], "cust bigint, addr string"),
            ["cust"], ["addr"], ts=6.0, delete_keys=dels,
        )
        assert r2["rows_closed"] == 0 and r2["rows_inserted"] == 0

    def test_duplicate_update_keys_named_error(self, spark, tmp_path):
        """Two rows for the same key in `updates` used to surface as the
        duplicate-source-key guard firing from deep inside merge; the
        pre-check names the offending key and the fix."""
        from hbase_to_mongo_export_spark.operators.merge import (
            scd2_apply,
            scd2_prepare,
        )

        t = ParquetMergeTable(spark, str(tmp_path / "dim"))
        t.create(
            scd2_prepare(
                spark.createDataFrame([(1, "a")], "cust bigint, addr string"),
                ts=0.0,
            )
        )
        dup = spark.createDataFrame(
            [(1, "x"), (1, "y")], "cust bigint, addr string"
        )
        with pytest.raises(
            MergeError, match=r"ONE row per key.*\(1,\).*terminal row"
        ):
            scd2_apply(t, dup, ["cust"], ["addr"], ts=5.0)

    def test_key_in_both_updates_and_delete_keys_named_error(
        self, spark, tmp_path
    ):
        from hbase_to_mongo_export_spark.operators.merge import (
            scd2_apply,
            scd2_prepare,
        )

        t = ParquetMergeTable(spark, str(tmp_path / "dim"))
        t.create(
            scd2_prepare(
                spark.createDataFrame(
                    [(1, "a"), (2, "b")], "cust bigint, addr string"
                ),
                ts=0.0,
            )
        )
        upd = spark.createDataFrame([(1, "a2")], "cust bigint, addr string")
        dels = spark.createDataFrame([(1,)], "cust bigint")
        with pytest.raises(
            MergeError,
            match=r"BOTH updates and delete_keys.*\(1,\).*two applies",
        ):
            scd2_apply(
                t, upd, ["cust"], ["addr"], ts=5.0, delete_keys=dels
            )
        # the check is on the SOURCE key sets, not the table: a key with
        # no current version still collides (it would race on replay)
        dels9 = spark.createDataFrame([(9,)], "cust bigint")
        upd9 = spark.createDataFrame([(9, "z")], "cust bigint, addr string")
        with pytest.raises(MergeError, match="BOTH updates and delete_keys"):
            scd2_apply(
                t, upd9, ["cust"], ["addr"], ts=5.0, delete_keys=dels9
            )


class TestMixedSchemaSubsetScans:
    """The _bin_pack r6 ADVICE bug class, hunted in every other subset
    scan: when ALL the files an operation touches predate a schema
    evolution, the touched-file scan's merged schema under-covers and
    .select(full_cols) must still work (typed NULLs, not
    UNRESOLVED_COLUMN)."""

    def _mixed(self, spark, tmp_path):
        """10 one-key files; a schema-evolving merge touches ONLY key 99
        (the last file), so files holding keys 0..9 stay pre-evolution."""
        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        t.create(
            spark.createDataFrame(
                [(i, float(i)) for i in range(10)] + [(99, 99.0)],
                "id bigint, val double",
            ).repartitionByRange(2, F.col("id"))
        )
        t.merge(
            spark.createDataFrame(
                [(99, 1.0, "x")], "id bigint, val double, note string"
            ),
            on=["id"],
            when_matched_update={"note": src("note")},
            schema_evolution=True,
        )
        return t

    def test_merge_touching_only_old_files(self, spark, tmp_path):
        t = self._mixed(spark, tmp_path)
        stats = t.merge(
            spark.createDataFrame(
                [(1, -1.0, None)], "id bigint, val double, note string"
            ),
            on=["id"],
            when_matched_update={"val": src("val")},
        )
        got = {r["id"]: (r["val"], r["note"]) for r in t.read().collect()}
        assert got[1] == (-1.0, None) and got[99] == (99.0, "x")

    def test_update_where_touching_only_old_files(self, spark, tmp_path):
        t = self._mixed(spark, tmp_path)
        stats = t.update_where(F.col("id") == 1, {"val": F.lit(-1.0)})
        assert stats["rows_updated"] == 1
        got = {r["id"]: (r["val"], r["note"]) for r in t.read().collect()}
        assert got[1] == (-1.0, None) and got[99] == (99.0, "x")

    def test_overwrite_where_touching_only_old_files(self, spark, tmp_path):
        t = self._mixed(spark, tmp_path)
        repl = spark.createDataFrame(
            [(1, -1.0, None)], "id bigint, val double, note string"
        )
        stats = t.overwrite_where(F.col("id") == 1, repl)
        assert stats["rows_removed"] == 1
        got = {r["id"]: (r["val"], r["note"]) for r in t.read().collect()}
        assert got[1] == (-1.0, None) and got[99] == (99.0, "x")

    def test_delete_where_pruned_to_old_files_keeps_full_change_width(
        self, spark, tmp_path
    ):
        t = self._mixed(spark, tmp_path)
        t.compact(sort_col="id", target_files=3)  # restore stats clustering
        t.merge(
            spark.createDataFrame(
                [(100, 1.0, "y")], "id bigint, val double, note string"
            ),
            on=["id"],
            schema_evolution=True,
        )
        stats = t.delete_where(F.col("id") == 1)
        feed = t.read_changes(
            from_version=t.current_version(), to_version=t.current_version()
        )
        assert "note" in feed.columns
        (row,) = feed.collect()
        assert row["id"] == 1 and row["_change_type"] == "delete"


class TestStreamReplayAcrossRestore:
    def test_streamed_feed_spanning_a_restore_reconstructs_table(
        self, spark, table, tmp_path
    ):
        """The CDF stream contract must survive a RESTORE in the feed:
        a restore commit carries delete+insert rows for the same key
        (the value flips back), pure deletes (keys the restore removes),
        and pure inserts (keys it resurrects) — the terminal-change
        reduction and the two-merge apply must land the replica exactly
        on the restored-and-then-mutated final state."""
        from hbase_to_mongo_export_spark.operators.merge import (
            changes_schema,
            changes_stream,
            spool_changes,
            stream_apply_changes,
        )

        table.merge(
            spark.createDataFrame(
                [(3, "u3", -3.0), (300, "i300", 3.0)],
                "id bigint, name string, amount double",
            ),
            on=["id"],
            when_matched_update={"name": src("name"), "amount": src("amount")},
        )                                        # v1: update 3, insert 300
        table.delete_where(F.col("id").isin(4, 50))   # v2: MoR delete
        table.restore(0)                              # v3: flip it all back
        table.update_where(F.col("id") == 7, {"amount": F.lit(0.7)})  # v4

        replica = ParquetMergeTable(spark, str(tmp_path / "replica"))
        replica.create(table.read(version=0))
        spool = str(tmp_path / "spool")
        assert spool_changes(table, spool, from_version=1) == [1, 2, 3, 4]
        stream = changes_stream(
            spark, spool, changes_schema(table), max_files_per_trigger=1
        )
        q = (
            stream_apply_changes(
                replica, stream, on=["id"], checkpoint_dir=str(tmp_path / "ck")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        assert _as_dict(replica.read()) == _as_dict(table.read())
        got = _as_dict(replica.read())
        assert got[3] == ("name3", 30.0)   # v1 update rolled back by v3
        assert 300 not in got              # v1 insert rolled back
        assert got[4] == ("name4", 40.0)   # v2 delete resurrected
        assert got[7] == ("name7", 0.7)    # v4 applied on top


class TestTxnOnAllMutators:
    """The idempotent-writer stamp must cover EVERY mutating operation,
    not just append/merge — a foreachBatch sink can delete, update, or
    partition-overwrite per batch."""

    def test_delete_update_overwrite_replays_skip(self, spark, table):
        r1 = table.delete_where(F.col("id") < 5, txn_app_id="s", txn_version=0)
        assert r1["rows_deleted"] == 5
        r = table.delete_where(F.col("id") < 20, txn_app_id="s", txn_version=0)
        assert r == {"version": r1["version"], "txn_skipped": True}
        assert table.read().count() == 95  # the replay deleted nothing

        r2 = table.update_where(
            F.col("id") == 7, {"amount": F.lit(1.0)},
            txn_app_id="s", txn_version=1,
        )
        r = table.update_where(
            F.col("id") == 7, {"amount": F.lit(2.0)},
            txn_app_id="s", txn_version=1,
        )
        assert r["txn_skipped"] is True
        assert _as_dict(table.read())[7] == ("name7", 1.0)

        repl = spark.createDataFrame(
            [(95, "r", 0.0)], "id bigint, name string, amount double"
        )
        r3 = table.overwrite_where(
            [("id", ">=", 90)], repl, txn_app_id="s", txn_version=2
        )
        assert r3["rows_removed"] == 10
        r = table.overwrite_where(
            [("id", ">=", 90)], repl, txn_app_id="s", txn_version=2
        )
        assert r["txn_skipped"] is True
        assert table.read().count() == 86  # not overwritten twice
        assert table.last_txn_version("s") == 2


class TestDescribeDetail:
    def test_detail_reports_operational_facts(self, spark, table, tmp_path):
        table.delete_where(F.col("id") < 5)
        table.rename_column("amount", "price")
        table.add_constraint("amt", "price >= 0")
        table.append(
            spark.createDataFrame(
                [(100, "x", 1.0)], "id bigint, name string, price double"
            ),
            txn_app_id="s", txn_version=3,
        )
        d = table.detail()
        assert d["version"] == 4
        assert d["rows_total"] == 96
        assert d["delete_rows_pending"] == 5
        assert d["columns"] == ["id", "name", "price"]
        assert d["column_mapping"]["price"] == "amount"
        assert d["constraints"] == {"amt": "price >= 0"}
        assert d["txns"] == {"s": 3}
        assert d["num_files"] >= 11 and d["size_bytes"] > 0
        d0 = table.detail(version=0)
        assert d0["rows_total"] == 100 and d0["columns"][-1] == "amount"


class TestDeclaredClustering:
    def test_compact_defaults_to_declared_clustering(self, spark, table):
        table.set_clustering("id")
        # scramble the layout, then a bare compact() must re-cluster on
        # id — provable via data skipping afterwards
        table.compact(target_files=5)  # explicit plain repartition
        table.set_clustering("id")  # (already set; idempotent re-declare)
        table.compact(target_files=5)  # no layout args → CLUSTER BY id
        df = table.read(where=[("id", ">=", 90)])
        assert df.count() == 10
        m = table._manifest(table.current_version())
        from hbase_to_mongo_export_spark.operators.merge import (
            _file_can_match,
        )
        kept = [
            f for f in m["files"]
            if _file_can_match(m["file_stats"].get(f), [("id", ">=", 90)])
        ]
        assert len(kept) == 1  # range-clustered again

    def test_clustering_survives_rename_and_drop_strips_it(self, spark, table):
        table.set_clustering("amount", "id")
        table.rename_column("amount", "price")
        assert table.detail()["clustering"] == ["price", "id"]
        table.drop_column("price")
        assert table.detail()["clustering"] == ["id"]

    def test_unknown_clustering_column_rejected(self, spark, table):
        with pytest.raises(MergeError, match="no such column"):
            table.set_clustering("nope")

    def test_bin_pack_uses_leading_clustering_column(self, spark, table):
        table.set_clustering("id", "amount")
        # threshold below every file → no-op, but must not raise the
        # zorder-vs-binpack conflict (clustering downgrades to sort)
        stats = table.compact(bin_pack_bytes=1)
        assert stats["files_packed"] == 0


class TestTypeWidening:
    """Delta-style type widening (operators/merge.py:_is_type_widening):
    the table schema widens through merge(schema_evolution=True) or
    append; carried NARROW files read through the Spark 4 parquet
    reader's native widening promotion under the manifest-recorded
    schema — zero rewrite."""

    def _narrow(self, spark, tmp_path, name="tbl"):
        import datetime

        t = ParquetMergeTable(spark, str(tmp_path / name))
        base = spark.createDataFrame(
            [
                (i, float(i), datetime.date(2020, 1, 1 + i))
                for i in range(10)
            ],
            "id int, v float, d date",
        )
        t.create(base.repartitionByRange(5, F.col("id")).sortWithinPartitions("id"))
        return t

    def test_merge_widens_with_schema_evolution(self, spark, tmp_path):
        import datetime

        t = self._narrow(spark, tmp_path)
        delta = spark.createDataFrame(
            [(2, 2.5, datetime.datetime(2021, 6, 1, 12, 0))],
            "id bigint, v double, d timestamp_ntz",
        )
        stats = t.merge(
            delta,
            on=["id"],
            when_matched_update={"v": src("v"), "d": src("d")},
            schema_evolution=True,
        )
        assert stats["columns_widened"] == {
            "d": "timestamp_ntz", "id": "bigint", "v": "double",
        }
        # carried narrow files (only the key-2 file was touched) read
        # through native promotion under the widened schema
        assert stats["files_touched"] == 1 and stats["files_carried"] == 4
        got = t.read()
        types = {f.name: f.dataType.simpleString() for f in got.schema.fields}
        assert types == {"id": "bigint", "v": "double", "d": "timestamp_ntz"}
        rows = {r["id"]: (r["v"], r["d"]) for r in got.collect()}
        assert rows[2] == (2.5, datetime.datetime(2021, 6, 1, 12, 0))
        assert rows[7] == (7.0, datetime.datetime(2020, 1, 8, 0, 0))
        assert len(rows) == 10

    def test_merge_widening_requires_schema_evolution_flag(self, spark, tmp_path):
        t = self._narrow(spark, tmp_path)
        delta = spark.createDataFrame([(2,)], "id bigint").select(
            "id", F.lit(2.5).alias("v"), F.lit(None).cast("date").alias("d")
        )
        with pytest.raises(
            MergeError, match="'id' is bigint.*schema_evolution=True"
        ):
            t.merge(delta, on=["id"], when_matched_update={"v": src("v")})

    def test_incompatible_type_named_error(self, spark, tmp_path):
        t = self._narrow(spark, tmp_path)
        delta = spark.createDataFrame([("x", 1.0, None)], "id string, v float, d date")
        with pytest.raises(MergeError, match="'id' type string is incompatible"):
            t.merge(delta, on=["id"], schema_evolution=True)
        with pytest.raises(MergeError, match="incompatible"):
            t.append(delta)
        # long → double is LOSSY above 2^53 — not a widening either
        from hbase_to_mongo_export_spark.operators.merge import (
            _is_type_widening,
        )
        from pyspark.sql.types import DoubleType, LongType

        assert not _is_type_widening(LongType(), DoubleType())

    def test_append_widens_and_narrow_appends_upcast(self, spark, tmp_path):
        import datetime

        t = self._narrow(spark, tmp_path)
        wide = spark.createDataFrame(
            [(2**40, 99.5, datetime.datetime(2022, 1, 1))],
            "id bigint, v double, d timestamp_ntz",
        )
        # widening is opt-in on append too: a misconfigured producer
        # must not silently change the table schema
        with pytest.raises(MergeError, match="widening.*schema_evolution"):
            t.append(wide)
        r = t.append(wide, schema_evolution=True)
        assert r["rows_appended"] == 1
        types = {f.name: f.dataType.simpleString() for f in t.read().schema.fields}
        assert types["id"] == "bigint" and types["v"] == "double"
        # a NARROW producer keeps appending after the widening — upcast
        narrow = spark.createDataFrame(
            [(100, 1.5, datetime.date(2022, 2, 2))], "id int, v float, d date"
        )
        r2 = t.append(narrow)
        assert r2["rows_appended"] == 1
        rows = {r["id"]: r for r in t.read().collect()}
        assert rows[2**40]["v"] == 99.5
        assert rows[100]["d"] == datetime.datetime(2022, 2, 2, 0, 0)
        assert len(rows) == 12

    def test_time_travel_keeps_pre_widening_schema(self, spark, tmp_path):
        t = self._narrow(spark, tmp_path)
        wide = spark.createDataFrame([(50, 1.0, None)], "id bigint, v double, d date")
        t.append(wide, schema_evolution=True)
        v0 = {f.name: f.dataType.simpleString() for f in t.read(version=0).schema.fields}
        assert v0 == {"id": "int", "v": "float", "d": "date"}
        v1 = {f.name: f.dataType.simpleString() for f in t.read(version=1).schema.fields}
        assert v1["id"] == "bigint"
        assert {r["id"] for r in t.read(version=0).collect()} == set(range(10))

    def test_restore_reverts_widening_and_rewiden_works(self, spark, tmp_path):
        t = self._narrow(spark, tmp_path)
        t.append(
            spark.createDataFrame([(2**40, 1.0, None)], "id bigint, v double, d date"),
            schema_evolution=True,
        )
        t.restore(0)
        types = {f.name: f.dataType.simpleString() for f in t.read().schema.fields}
        assert types["id"] == "int" and types["v"] == "float"
        assert t.detail()["column_types"]["id"] == "int"
        r = t.append(
            spark.createDataFrame([(2**41, 2.0, None)], "id bigint, v double, d date"),
            schema_evolution=True,
        )
        assert r["rows_appended"] == 1
        assert t.read().filter(F.col("id") == 2**41).count() == 1

    def test_data_skipping_on_widened_column(self, spark, tmp_path):
        t = self._narrow(spark, tmp_path)
        t.append(
            spark.createDataFrame([(2**40, 1.0, None)], "id bigint, v double, d date"),
            schema_evolution=True,
        )
        # stats of the narrow files are ints, of the new file a big int —
        # both compare against the int literal; only matching files open
        df = t.read(where=[("id", ">=", 8)])
        assert sorted(r["id"] for r in df.collect()) == [8, 9, 2**40]
        from hbase_to_mongo_export_spark.operators.merge import _file_can_match

        m = t._manifest(t.current_version())
        kept = [
            f for f in m["files"]
            if _file_can_match(m["file_stats"].get(f), [("id", ">=", 8)])
        ]
        assert len(kept) == 2  # the top narrow file + the appended wide one

    def test_cdf_unions_across_widening(self, spark, tmp_path):
        t = self._narrow(spark, tmp_path)
        delta = spark.createDataFrame(
            [(3, 3.5, None)], "id bigint, v double, d timestamp_ntz"
        )
        t.merge(
            delta, on=["id"], when_matched_update={"v": src("v")},
            schema_evolution=True,
        )
        feed = t.read_changes(0)
        types = {f.name: f.dataType.simpleString() for f in feed.schema.fields}
        assert types["id"] == "bigint" and types["v"] == "double"
        by_type = {
            (r["_change_type"], r["id"]): r["v"] for r in feed.collect()
        }
        assert by_type[("update_preimage", 3)] == 3.0
        assert by_type[("update_postimage", 3)] == 3.5
        assert by_type[("insert", 7)] == 7.0  # v0 insert file, promoted

    def test_compact_rewrites_uniformly_wide(self, spark, tmp_path):
        import pyarrow.parquet as pq

        t = self._narrow(spark, tmp_path)
        t.append(
            spark.createDataFrame([(2**40, 1.0, None)], "id bigint, v double, d date"),
            schema_evolution=True,
        )
        t.compact(target_files=2)
        m = t._manifest(t.current_version())
        for f in m["files"]:
            sch = pq.read_schema(f)
            assert str(sch.field("id").type) == "int64", f
        assert t.read().count() == 11

    def test_overwrite_where_narrow_replacement_upcasts(self, spark, tmp_path):
        t = self._narrow(spark, tmp_path)
        t.append(
            spark.createDataFrame([(2**40, 1.0, None)], "id bigint, v double, d date"),
            schema_evolution=True,
        )
        repl = spark.createDataFrame([(5, 55.0, None)], "id int, v float, d date")
        t.overwrite_where([("id", "=", 5)], repl)
        assert {
            r["v"] for r in t.read().filter(F.col("id") == 5).collect()
        } == {55.0}
        # a WIDER replacement column cannot silently evolve the schema
        t2 = self._narrow(spark, tmp_path, "tbl2")
        wide = spark.createDataFrame([(5, 55.0, None)], "id bigint, v double, d date")
        with pytest.raises(MergeError, match="widening.*merge"):
            t2.overwrite_where([("id", "=", 5)], wide)

    def test_legacy_manifest_backfills_schema_json(self, spark, tmp_path):
        """Tables committed before schema tracking (no schema_json in any
        entry) read via the legacy file-derived path, and the first
        schema-aware mutator backfills the manifest."""
        t = self._narrow(spark, tmp_path)
        # simulate a legacy table: strip schema_json from every entry
        import json as _json

        for f in os.listdir(t.manifest_dir):
            if f.startswith("v") and f.endswith(".json"):
                p = os.path.join(t.manifest_dir, f)
                e = _json.loads(open(p).read())
                e.pop("schema_json", None)
                open(p, "w").write(_json.dumps(e))
        t._cache.clear()
        assert t._table_schema(t._manifest(t.current_version())) is None
        assert t.read().count() == 10  # legacy read path
        t.append(
            spark.createDataFrame([(50, 1.0, None)], "id int, v float, d date")
        )
        m = t._manifest(t.current_version())
        assert t._table_schema(m) is not None  # backfilled
        assert t.read().count() == 11


class TestVectorPurge:
    """compact(purge_vectors_over=...) — Delta REORG APPLY (PURGE): only
    files whose deleted fraction exceeds the threshold rewrite."""

    def _tbl(self, spark, tmp_path):
        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        base = spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "id bigint, v double"
        )
        t.create(base.repartitionByRange(5, F.col("id")).sortWithinPartitions("id"))
        return t

    def test_targeted_purge(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        # kill 60% of the first file's rows, 5% of the last file's
        t.delete_where([("id", "<", 12)])
        t.delete_where([("id", ">=", 99)])
        m0 = t._manifest(t.current_version())
        assert m0["delete_rows_total"] == 13
        stats = t.compact(purge_vectors_over=0.5)
        assert stats["files_purged"] == 1
        assert stats["vector_rows_purged"] == 12
        m1 = t._manifest(stats["version"])
        # the under-threshold file's vector entries carry
        assert m1["delete_rows_total"] == 1
        assert t.read().count() == 100 - 13
        assert t.read().filter(F.col("id") < 20).count() == 8  # 12..19
        # idempotent: nothing else crosses the threshold → no commit
        again = t.compact(purge_vectors_over=0.5)
        assert again["files_purged"] == 0
        assert again["version"] == stats["version"]

    def test_no_vectors_no_commit(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        r = t.compact(purge_vectors_over=0.1)
        assert r["files_purged"] == 0 and r["version"] == 0

    def test_threshold_zero_purges_any_deleted_file(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        t.delete_where([("id", "=", 50)])
        r = t.compact(purge_vectors_over=0.0)
        assert r["files_purged"] == 1
        assert t._manifest(r["version"])["delete_rows_total"] == 0
        assert t.read().count() == 99

    def test_purge_excludes_layout_args(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        with pytest.raises(MergeError, match="separately"):
            t.compact(purge_vectors_over=0.5, sort_col="id")
        with pytest.raises(MergeError, match=r"in \[0, 1\)"):
            t.compact(purge_vectors_over=1.5)


class TestConditionalPutLogStore:
    """The object-store-shaped commit backend: exclusive-create-as-
    conditional-PUT with injected latency and crash points."""

    def _mk(self, spark, tmp_path, store, name="tbl"):
        t = ParquetMergeTable(spark, str(tmp_path / name), log_store=store)
        t.create(
            spark.createDataFrame(
                [(i, float(i)) for i in range(20)], "id bigint, v double"
            ).repartitionByRange(2, F.col("id"))
        )
        return t

    def test_normal_operation_with_latency(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConditionalPutLogStore,
        )

        t = self._mk(spark, tmp_path, ConditionalPutLogStore(latency_s=0.01))
        t.append(spark.createDataFrame([(100, 1.0)], "id bigint, v double"))
        t.merge(
            spark.createDataFrame([(5, 5.5)], "id bigint, v double"),
            on=["id"],
            when_matched_update={"v": src("v")},
        )
        assert t.read().count() == 21
        assert t.read().filter(F.col("id") == 5).first()["v"] == 5.5

    def test_conflict_raises_concurrent_write(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConditionalPutLogStore,
            ConcurrentWriteError,
        )

        t = self._mk(spark, tmp_path, ConditionalPutLogStore())
        # a second handle on the same table wins version 1 first
        t2 = ParquetMergeTable(
            spark, t.path, log_store=ConditionalPutLogStore()
        )
        m = t._manifest(0)
        t2.delete_where([("id", "=", 1)])
        with pytest.raises(ConcurrentWriteError):
            t._commit(m, m["files"], "compact", {}, discard_on_conflict=False)
        # append REBASES through the same race instead of failing
        r = t.append(spark.createDataFrame([(200, 2.0)], "id bigint, v double"))
        assert r["version"] == 2
        assert t.read().count() == 20  # 20 - 1 deleted + 1 appended

    def test_crash_before_commit_leaves_sweepable_orphans(self, spark, tmp_path):
        import glob
        import time as _time

        from hbase_to_mongo_export_spark.operators.merge import (
            ConditionalPutLogStore,
            CrashPoint,
        )

        # v0 (create) is commit attempt 1 on this handle; the append's
        # commit is attempt 2 — crash there, after data files staged
        store = ConditionalPutLogStore(crash_before_commit=2)
        t = self._mk(spark, tmp_path, store)
        with pytest.raises(CrashPoint):
            t.append(
                spark.createDataFrame([(100, 1.0)], "id bigint, v double"),
                # pin rebase off so the crash surfaces directly
                max_rebase_attempts=1,
            )
        # the dead writer's staged files are orphans: no manifest
        # references them, a fresh handle sees v0 intact
        t2 = ParquetMergeTable(spark, t.path)
        assert t2.current_version() == 0
        assert t2.read().count() == 20
        all_parquet = set(
            glob.glob(os.path.join(t.path, "**", "*.parquet"), recursive=True)
        )
        referenced = {
            os.path.abspath(f) for f in t2._manifest(0)["files"]
        }
        orphans = {os.path.abspath(f) for f in all_parquet} - referenced
        assert orphans  # the crashed append's staged files
        for f in orphans:  # age them past the sweep cutoff
            os.utime(f, (1, 1))
        swept = t2.vacuum(sweep_orphans=True, orphan_grace_seconds=0)
        assert swept["orphans_removed"] >= len(orphans)
        assert t2.read().count() == 20

    def test_crash_after_commit_is_durable_and_txn_skips(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConditionalPutLogStore,
            CrashPoint,
        )

        store = ConditionalPutLogStore(crash_after_commit=2)
        t = self._mk(spark, tmp_path, store)
        with pytest.raises(CrashPoint):
            t.append(
                spark.createDataFrame([(100, 1.0)], "id bigint, v double"),
                txn_app_id="ingest", txn_version=7,
            )
        # the PUT landed before the 'process' died: everyone else sees it
        t2 = ParquetMergeTable(spark, t.path)
        assert t2.current_version() == 1
        assert t2.read().count() == 21
        # the successor's redelivery of the same batch skips exactly-once
        r = t2.append(
            spark.createDataFrame([(100, 1.0)], "id bigint, v double"),
            txn_app_id="ingest", txn_version=7,
        )
        assert r.get("txn_skipped") is True
        assert t2.read().count() == 21


class TestStreamReplayAcrossWidening:
    def test_streamed_feed_spanning_a_widening_follows_schema(
        self, spark, tmp_path
    ):
        """A CDF stream replay whose feed crosses a TYPE WIDENING must
        carry the wide values exactly (`cdf_data_schema` folds the range
        types into the spool schema) and the replica must FOLLOW the
        widening (`stream_apply_changes` merges with schema_evolution) —
        a replica that rejected the first wide batch would stall every
        materialized view the moment its source table widened."""
        from hbase_to_mongo_export_spark.operators.merge import (
            changes_schema,
            changes_stream,
            spool_changes,
            stream_apply_changes,
        )

        t = ParquetMergeTable(spark, str(tmp_path / "src"))
        t.create(
            spark.createDataFrame(
                [(i, float(i)) for i in range(10)], "id int, v float"
            ).repartitionByRange(2, F.col("id"))
        )
        # v1: narrow update; v2: WIDE merge (widens id → bigint,
        # v → double, inserts a beyond-int32 key); v3: delete
        t.merge(
            spark.createDataFrame([(3, 3.5)], "id int, v float"),
            on=["id"], when_matched_update={"v": src("v")},
        )
        t.merge(
            spark.createDataFrame(
                [(5, 5.5), (2**40, 40.5)], "id bigint, v double"
            ),
            on=["id"],
            when_matched_update={"v": src("v")},
            schema_evolution=True,
        )
        t.delete_where([("id", "=", 7)])

        replica = ParquetMergeTable(spark, str(tmp_path / "replica"))
        replica.create(t.read(version=0))  # NARROW seed
        spool = str(tmp_path / "spool")
        assert spool_changes(t, spool, from_version=1) == [1, 2, 3]
        # the stream schema folds the widened types over the range
        sch = changes_schema(t, from_version=1)
        types = {f.name: f.dataType.simpleString() for f in sch.fields}
        assert types["id"] == "bigint" and types["v"] == "double"
        q = (
            stream_apply_changes(
                replica,
                changes_stream(spark, spool, sch, max_files_per_trigger=1),
                on=["id"],
                checkpoint_dir=str(tmp_path / "ck"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = {r["id"]: r["v"] for r in replica.read().collect()}
        want = {r["id"]: r["v"] for r in t.read().collect()}
        assert got == want
        assert got[2**40] == 40.5 and got[5] == 5.5 and 7 not in got
        # the replica's schema followed the source's widening
        rt = {f.name: f.dataType.simpleString() for f in replica.read().schema.fields}
        assert rt["id"] == "bigint" and rt["v"] == "double"


class TestStoreAssignmentCasts:
    """Update/insert EXPRESSIONS cast to their column's type at the
    staging boundary (Delta ANSI store-assignment): an expression of
    wider type must never stage files wider than the recorded schema —
    that would poison every later read of the table."""

    def _narrow(self, spark, tmp_path, name="tbl"):
        t = ParquetMergeTable(spark, str(tmp_path / name))
        t.create(
            spark.createDataFrame(
                [(i, float(i)) for i in range(10)], "id int, v float"
            ).repartitionByRange(2, F.col("id"))
        )
        return t

    def test_update_where_wider_set_expression(self, spark, tmp_path):
        t = self._narrow(spark, tmp_path)
        t.update_where(F.col("id") == 3, {"v": F.lit(3.5)})  # double literal
        got = {r["id"]: r["v"] for r in t.read().collect()}
        assert got[3] == 3.5 and got[4] == 4.0
        assert dict(t.read().dtypes)["v"] == "float"  # schema unchanged
        feed = t.read_changes(1, 1)
        assert dict(feed.dtypes)["v"] == "float"

    def test_merge_wider_update_expression(self, spark, tmp_path):
        t = self._narrow(spark, tmp_path)
        t.merge(
            spark.createDataFrame([(3, 1.0)], "id int, v float"),
            on=["id"],
            when_matched_update={"v": src("v") + F.lit(100.0)},  # double
        )
        got = {r["id"]: r["v"] for r in t.read().collect()}
        assert got[3] == 101.0
        assert dict(t.read().dtypes)["v"] == "float"

    def test_merge_wider_insert_mapping(self, spark, tmp_path):
        t = self._narrow(spark, tmp_path)
        t.merge(
            spark.createDataFrame([(50, 1.0)], "id int, v float"),
            on=["id"],
            when_not_matched_insert={"v": F.lit(0.25)},  # double literal
        )
        got = {r["id"]: r["v"] for r in t.read().collect()}
        assert got[50] == 0.25 and len(got) == 11
        assert dict(t.read().dtypes)["v"] == "float"

    def test_widened_table_update_expression_casts_to_wide(self, spark, tmp_path):
        t = self._narrow(spark, tmp_path)
        t.append(
            spark.createDataFrame([(2**40, 1.0)], "id bigint, v double"),
            schema_evolution=True,
        )
        # SET expression on the WIDENED column casts to the wide type
        t.update_where(F.col("id") == 2**40, {"v": F.lit(9.125)})
        got = {r["id"]: r["v"] for r in t.read().collect()}
        assert got[2**40] == 9.125
        assert dict(t.read().dtypes)["v"] == "double"


class TestAppendSchemaEvolution:
    """append(schema_evolution=True) — Delta's append+mergeSchema: NEW
    source columns join the table schema in the commit; existing files
    surface them as NULL."""

    def _tbl(self, spark, tmp_path, name="tbl"):
        t = ParquetMergeTable(spark, str(tmp_path / name))
        t.create(
            spark.createDataFrame(
                [(i, float(i)) for i in range(10)], "id bigint, v double"
            ).repartitionByRange(2, F.col("id"))
        )
        return t

    def test_new_column_joins_schema(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        new = spark.createDataFrame(
            [(100, 1.0, "fresh")], "id bigint, v double, note string"
        )
        with pytest.raises(MergeError, match="new column.*schema_evolution"):
            t.append(new)
        r = t.append(new, schema_evolution=True)
        assert r["rows_appended"] == 1
        got = {x["id"]: (x["v"], x["note"]) for x in t.read().collect()}
        assert got[100] == (1.0, "fresh")
        assert got[3] == (3.0, None)  # pre-evolution file: typed NULL
        assert len(got) == 11
        # the next PLAIN append must now carry the evolved column
        with pytest.raises(MergeError, match="lacks table column"):
            t.append(spark.createDataFrame([(101, 2.0)], "id bigint, v double"))

    def test_missing_column_still_rejected(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        with pytest.raises(MergeError, match="lacks table column"):
            t.append(
                spark.createDataFrame([(100,)], "id bigint"),
                schema_evolution=True,
            )

    def test_evolution_under_column_mapping(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        t.rename_column("v", "price")
        t.append(
            spark.createDataFrame(
                [(100, 1.0, "x")], "id bigint, price double, tag string"
            ),
            schema_evolution=True,
        )
        got = {x["id"]: (x["price"], x["tag"]) for x in t.read().collect()}
        assert got[100] == (1.0, "x") and got[2] == (2.0, None)
        # CDF insert rows read back through the extended mapping
        feed = t.read_changes(2, 2).collect()
        assert {(r["id"], r["tag"]) for r in feed} == {(100, "x")}

    def test_retired_physical_name_never_resurrects(self, spark, tmp_path):
        """Drop column 'v' (retiring physical 'v'), then append-evolve a
        NEW column named 'v': it must get a FRESH physical name, so the
        dropped column's bytes in carried files stay invisible."""
        t = self._tbl(spark, tmp_path)
        t.drop_column("v")
        t.append(
            spark.createDataFrame([(100, "new-v")], "id bigint, v string"),
            schema_evolution=True,
        )
        got = {x["id"]: x["v"] for x in t.read().collect()}
        assert got[100] == "new-v"
        # old rows must read NULL — never the dropped double values
        assert all(got[i] is None for i in range(10))
        m = t._manifest(t.current_version())
        phys = dict(m["column_mapping"])["v"]
        assert phys != "v" and "v" in m["retired_physical"]

    def test_evolution_plus_widening_in_one_append(self, spark, tmp_path):
        t = ParquetMergeTable(spark, str(tmp_path / "nw"))
        t.create(
            spark.createDataFrame([(1, 1.0)], "id int, v float")
        )
        t.append(
            spark.createDataFrame(
                [(2**40, 2.5, 7)], "id bigint, v double, extra bigint"
            ),
            schema_evolution=True,
        )
        types = dict(t.read().dtypes)
        assert types == {"id": "bigint", "v": "double", "extra": "bigint"}
        got = {x["id"]: (x["v"], x["extra"]) for x in t.read().collect()}
        assert got[1] == (1.0, None) and got[2**40] == (2.5, 7)

    def test_stream_append_evolving_source(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import stream_append

        t = self._tbl(spark, tmp_path)
        src_dir = str(tmp_path / "in")
        os.makedirs(src_dir)
        spark.createDataFrame(
            [(200, 2.0, "s")], "id bigint, v double, note string"
        ).coalesce(1).write.mode("overwrite").parquet(src_dir)
        stream = (
            spark.readStream.schema("id bigint, v double, note string")
            .parquet(src_dir)
        )
        q = (
            stream_append(
                t, stream, str(tmp_path / "ck"), schema_evolution=True
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = {x["id"]: x["note"] for x in t.read().collect()}
        assert got[200] == "s" and got[3] is None and len(got) == 11


class TestNtzSkippingTimeline:
    def test_ntz_skipping_exact_under_non_utc_session(self, spark, tmp_path):
        """timestamp_ntz stats live on the WALL-CLOCK timeline: the skip
        literal must not be session-tz-shifted to UTC (correct only for
        instant-typed timestamps) and the residual must compare the same
        wall-clock value — under a New-York session a shifted literal
        would prune files that contain matches (silent missing rows)."""
        import datetime

        tz_before = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        try:
            t = ParquetMergeTable(spark, str(tmp_path / "ntz"))
            rows = [
                (i, datetime.datetime(2021, 3, 1 + i, 1, 0)) for i in range(8)
            ]
            t.create(
                spark.createDataFrame(rows, "id bigint, ts timestamp_ntz")
                .repartitionByRange(4, F.col("ts"))
                .sortWithinPartitions("ts")
            )
            got = t.read(
                where=[
                    ("ts", ">=", datetime.datetime(2021, 3, 3, 0, 0)),
                    ("ts", "<", datetime.datetime(2021, 3, 5, 0, 0)),
                ]
            ).collect()
            assert sorted(r["id"] for r in got) == [2, 3]
            assert all(
                r["ts"].hour == 1 and r["ts"].day in (3, 4) for r in got
            )
            # equality + IN on the wall-clock timeline
            got_eq = t.read(
                where=[("ts", "=", datetime.datetime(2021, 3, 6, 1, 0))]
            ).collect()
            assert [r["id"] for r in got_eq] == [5]
            got_in = t.read(
                where=[(
                    "ts", "in",
                    [datetime.datetime(2021, 3, 1, 1, 0),
                     datetime.datetime(2021, 3, 8, 1, 0)],
                )]
            ).collect()
            assert sorted(r["id"] for r in got_in) == [0, 7]
            # a zone-AWARE literal has no unambiguous wall clock: it must
            # never SKIP a file (conservative), residual still filters
            aware = datetime.datetime(
                2021, 3, 6, 1, 0, tzinfo=datetime.timezone.utc
            )
            from hbase_to_mongo_export_spark.operators.merge import (
                ParquetMergeTable as _T,
            )
            _, skip = t._predicate(
                [("ts", "=", aware)],
                t._table_schema(t._manifest(t.current_version())),
            )
            assert skip == []  # aware literal: no skip conjunct
        finally:
            spark.conf.set("spark.sql.session.timeZone", tz_before)


class TestNestedSchemaEvolution:
    """Schema evolution recursed into struct/array/map (Delta
    mergeSchema nesting, operators/merge.py:_merge_types): nested field
    ADD and nested type WIDENING evolve the table type under
    schema_evolution=True; carried files read through the parquet
    reader's native nested NULL-fill / promotion — zero rewrite."""

    def _tbl(self, spark, tmp_path, name="tbl"):
        t = ParquetMergeTable(spark, str(tmp_path / name))
        base = spark.createDataFrame(
            [
                (i, (i * 10, f"y{i}"), [(i,)], {"k": (i,)})
                for i in range(10)
            ],
            "id bigint, s struct<x:int,y:string>, "
            "arr array<struct<q:int>>, mp map<string,struct<m:int>>",
        )
        t.create(base.repartitionByRange(5, F.col("id")).sortWithinPartitions("id"))
        return t

    def _evolved_delta(self, spark):
        # s: x widens int->bigint, gains z; arr element gains r;
        # map value m widens int->bigint
        return spark.createDataFrame(
            [
                (3, (333, "Y3", 7), [(33, "rr")], {"k": (2**40,)}),
                (100, (1000, "Y100", 8), [(110, "ss")], {"k": (5,)}),
            ],
            "id bigint, s struct<x:bigint,y:string,z:bigint>, "
            "arr array<struct<q:int,r:string>>, "
            "mp map<string,struct<m:bigint>>",
        )

    def test_merge_gates_nested_add_and_widen(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        with pytest.raises(MergeError, match="'s.x' is bigint.*schema_evolution"):
            t.merge(
                self._evolved_delta(spark),
                on=["id"],
                when_matched_update={"s": src("s")},
            )
        # widen-only source: the nested ADD is the remaining gate
        add_only = spark.createDataFrame(
            [(3, (3, "y", 1.5))], "id bigint, s struct<x:int,y:string,w:double>"
        )
        with pytest.raises(
            MergeError, match="struct field 's.w'.*schema_evolution"
        ):
            t.merge(add_only, on=["id"], when_matched_update={"s": src("s")})

    def test_merge_evolves_nested_types(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        stats = t.merge(
            self._evolved_delta(spark),
            on=["id"],
            when_matched_update={
                "s": src("s"), "arr": src("arr"), "mp": src("mp"),
            },
            schema_evolution=True,
        )
        assert set(stats["columns_widened"]) == {"s", "arr", "mp"}
        assert "z:bigint" in stats["columns_widened"]["s"]
        # only the file holding id=3 was rewritten
        assert stats["files_touched"] == 1 and stats["files_carried"] == 4
        got = {r["id"]: r for r in t.read().collect()}
        assert len(got) == 11
        # rewritten + inserted rows carry the new nested values
        assert got[3]["s"].asDict() == {"x": 333, "y": "Y3", "z": 7}
        assert got[3]["arr"][0].asDict() == {"q": 33, "r": "rr"}
        assert got[3]["mp"]["k"]["m"] == 2**40
        assert got[100]["s"].asDict() == {"x": 1000, "y": "Y100", "z": 8}
        # carried rows NULL-fill the added fields and promote the
        # widened ones natively (id=7 lives in an untouched v0 file)
        assert got[7]["s"].asDict() == {"x": 70, "y": "y7", "z": None}
        assert got[7]["arr"][0].asDict() == {"q": 7, "r": None}
        assert got[7]["mp"]["k"]["m"] == 7
        st = {f.name: f.dataType.simpleString() for f in t.read().schema.fields}
        assert st["s"] == "struct<x:bigint,y:string,z:bigint>"
        assert st["arr"] == "array<struct<q:int,r:string>>"
        assert st["mp"] == "map<string,struct<m:bigint>>"

    def test_source_missing_nested_field_gated_on_evolution(
        self, spark, tmp_path
    ):
        """A source struct LACKING a table field NULL-fills only under
        schema_evolution (Delta autoMerge): ungated, the omission raises
        naming the nested path — an update writing src(s) would
        otherwise silently erase s.y on every matched row (the advisor-
        flagged silent-data-loss direction)."""
        t = self._tbl(spark, tmp_path)
        slim = spark.createDataFrame(
            [(4, (44,))], "id bigint, s struct<x:int>"
        )
        with pytest.raises(MergeError, match="omits nested field 's.y'"):
            t.merge(slim, on=["id"], when_matched_update={"s": src("s")})
        t.merge(
            slim, on=["id"], when_matched_update={"s": src("s")},
            schema_evolution=True,
        )
        got = {r["id"]: r for r in t.read().collect()}
        assert got[4]["s"].asDict() == {"x": 44, "y": None}
        # struct-level NULL stays NULL (not a struct of NULLs)
        nul = spark.createDataFrame([(5, None)], "id bigint, s struct<x:int>")
        t.merge(nul, on=["id"], when_matched_update={"s": src("s")},
                schema_evolution=True)
        assert {r["id"]: r["s"] for r in t.read().collect()}[5] is None

    def test_incompatible_nested_and_map_key_raise(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        bad = spark.createDataFrame(
            [(3, ("oops", "y"))], "id bigint, s struct<x:string,y:string>"
        )
        with pytest.raises(MergeError, match="'s.x' type string is incompatible"):
            t.merge(bad, on=["id"], when_matched_update={"s": src("s")},
                    schema_evolution=True)
        badkey = spark.createDataFrame(
            [(3, {1: (1,)})], "id bigint, mp map<int,struct<m:int>>"
        )
        with pytest.raises(MergeError, match="map key.*never evolve"):
            t.merge(badkey, on=["id"], when_matched_update={"mp": src("mp")},
                    schema_evolution=True)

    def test_append_nested_evolution(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        row = spark.createDataFrame(
            [(200, (2000, "Y", 9), [(1, "a")], {"k": (1,)})],
            "id bigint, s struct<x:int,y:string,z:bigint>, "
            "arr array<struct<q:int,r:string>>, mp map<string,struct<m:int>>",
        )
        with pytest.raises(MergeError, match="struct field 's.z'"):
            t.append(row)
        r = t.append(row, schema_evolution=True)
        assert r["rows_appended"] == 1
        got = {x["id"]: x for x in t.read().collect()}
        assert got[200]["s"].asDict() == {"x": 2000, "y": "Y", "z": 9}
        assert got[2]["s"].asDict() == {"x": 20, "y": "y2", "z": None}

    def test_restore_past_nested_evolution(self, spark, tmp_path):
        """RESTORE reverts the nested schema; the CDF diff runs under
        the TARGET shape, so a rewrite that changed ONLY the added
        nested field produces NO row churn (like a reverted column)."""
        t = self._tbl(spark, tmp_path)
        # v1: update id=3 adding z but keeping x/y IDENTICAL
        same = spark.createDataFrame(
            [(3, (30, "y3", 7))], "id bigint, s struct<x:int,y:string,z:bigint>"
        )
        t.merge(same, on=["id"], when_matched_update={"s": src("s")},
                schema_evolution=True)
        r = t.restore(0)
        assert (r["rows_restore_deleted"], r["rows_restore_inserted"]) == (0, 0)
        st = {f.name: f.dataType.simpleString() for f in t.read().schema.fields}
        assert st["s"] == "struct<x:int,y:string>"
        assert {x["id"]: x["s"].asDict() for x in t.read().collect()}[3] == {
            "x": 30, "y": "y3",
        }

    def test_restore_churn_when_target_shape_differs(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        diff = spark.createDataFrame(
            [(3, (999, "y3", 7))], "id bigint, s struct<x:int,y:string,z:bigint>"
        )
        t.merge(diff, on=["id"], when_matched_update={"s": src("s")},
                schema_evolution=True)
        r = t.restore(0)
        assert (r["rows_restore_deleted"], r["rows_restore_inserted"]) == (1, 1)
        assert {x["id"]: x["s"].asDict() for x in t.read().collect()}[3] == {
            "x": 30, "y": "y3",
        }

    def test_cdf_conforms_pre_evolution_change_files(self, spark, tmp_path):
        """Change files written BEFORE a nested evolution have a
        narrower struct arity; read_changes must NULL-fill by name (a
        positional struct-cast would reject the arity change)."""
        t = self._tbl(spark, tmp_path)
        pre = spark.createDataFrame(
            [(4, (444, "Y4"))], "id bigint, s struct<x:int,y:string>"
        )
        t.merge(pre, on=["id"], when_matched_update={"s": src("s")})  # v1
        t.merge(                                                      # v2
            self._evolved_delta(spark),
            on=["id"],
            when_matched_update={
                "s": src("s"), "arr": src("arr"), "mp": src("mp"),
            },
            schema_evolution=True,
        )
        ch = t.read_changes(0)
        rows = {
            (r["id"], r["_change_type"], r["_commit_version"]): r
            for r in ch.collect()
        }
        r1 = rows[(4, "update_postimage", 1)]
        assert r1["s"].asDict() == {"x": 444, "y": "Y4", "z": None}
        r2 = rows[(3, "update_postimage", 2)]
        assert r2["s"].asDict() == {"x": 333, "y": "Y3", "z": 7}

    def test_concurrent_append_rebase_reconciles_nested(self, spark, tmp_path):
        """Two writers evolve the SAME struct differently (one adds z,
        one adds w): the rebase commits under the UNION struct type and
        both generations of staged files stay readable."""
        t = self._tbl(spark, tmp_path)
        t2 = ParquetMergeTable(spark, t.path)
        a = spark.createDataFrame(
            [(300, (1, "a", 5), [(1,)], {"k": (1,)})],
            "id bigint, s struct<x:int,y:string,z:bigint>, "
            "arr array<struct<q:int>>, mp map<string,struct<m:int>>",
        )
        b = spark.createDataFrame(
            [(400, (2, "b", True), [(2,)], {"k": (2,)})],
            "id bigint, s struct<x:int,y:string,w:boolean>, "
            "arr array<struct<q:int>>, mp map<string,struct<m:int>>",
        )
        t.append(a, schema_evolution=True)
        t2.append(b, schema_evolution=True)
        st = {f.name: f.dataType.simpleString() for f in t.read().schema.fields}
        assert st["s"] == "struct<x:int,y:string,z:bigint,w:boolean>"
        got = {x["id"]: x["s"].asDict() for x in t.read().collect()}
        assert got[300] == {"x": 1, "y": "a", "z": 5, "w": None}
        assert got[400] == {"x": 2, "y": "b", "z": None, "w": True}
        assert got[1] == {"x": 10, "y": "y1", "z": None, "w": None}


class TestCheckpointCrash:
    """Crash injection on the CHECKPOINT write path (the round-8 ask):
    checkpoints are derived data, so a writer dying mid-checkpoint —
    body staged, PUT never acknowledged — must leave resolution fully
    correct from the un-checkpointed delta-log prefix, and the next
    checkpointing operation must re-derive the identical snapshot."""

    def test_commit_checkpoint_crash_recovers(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import (
            CHECKPOINT_INTERVAL,
            ConditionalPutLogStore,
            CrashPoint,
        )

        path = str(tmp_path / "tbl")
        store = ConditionalPutLogStore(crash_mid_checkpoint=1)
        t = ParquetMergeTable(spark, path, log_store=store)
        t.create(spark.createDataFrame([(0, 0.0)], "id bigint, v double"))
        row = lambda i: spark.createDataFrame([(i, float(i))], "id bigint, v double")  # noqa: E731
        for i in range(1, CHECKPOINT_INTERVAL):
            t.append(row(i))
        # the interval-th commit LANDS, then the checkpoint write dies
        with pytest.raises(CrashPoint, match="MID-checkpoint"):
            t.append(row(CHECKPOINT_INTERVAL))
        # a fresh reader/writer: the commit is visible, NO checkpoint
        # exists, resolution replays the delta prefix correctly
        t2 = ParquetMergeTable(spark, path)
        assert t2.current_version() == CHECKPOINT_INTERVAL
        assert t2._checkpoints() == []
        got = {r["id"] for r in t2.read().collect()}
        assert got == set(range(CHECKPOINT_INTERVAL + 1))
        # the orphaned temp is invisible to the manifest scan and the
        # next checkpointing op (vacuum's truncation checkpoint)
        # re-derives the snapshot
        t2.vacuum(retain_last=2)
        assert t2._checkpoints() == [CHECKPOINT_INTERVAL - 1]
        assert {r["id"] for r in t2.read().collect()} == set(
            range(CHECKPOINT_INTERVAL + 1)
        )

    def test_vacuum_checkpoint_crash_aborts_cleanly(self, spark, tmp_path):
        from hbase_to_mongo_export_spark.operators.merge import (
            ConditionalPutLogStore,
            CrashPoint,
        )

        path = str(tmp_path / "tbl")
        t = ParquetMergeTable(spark, path)
        t.create(spark.createDataFrame([(0, 0.0)], "id bigint, v double"))
        for i in range(1, 6):
            t.append(
                spark.createDataFrame([(i, float(i))], "id bigint, v double")
            )
        logs_before = sorted(t._versions())
        # vacuum writes the truncation checkpoint BEFORE deleting
        # anything; dying inside that write must abort with the log and
        # every data file untouched
        dead = ParquetMergeTable(
            spark, path, log_store=ConditionalPutLogStore(crash_mid_checkpoint=1)
        )
        with pytest.raises(CrashPoint, match="MID-checkpoint"):
            dead.vacuum(retain_last=2)
        t3 = ParquetMergeTable(spark, path)
        assert sorted(t3._versions()) == logs_before  # nothing truncated
        for v in logs_before:  # every version still resolves and reads
            assert {r["id"] for r in t3.read(version=v).collect()} == set(
                range(v + 1)
            )
        # the retry (a healthy successor) completes the truncation
        t3.vacuum(retain_last=2)
        assert sorted(t3._versions()) == [4, 5]
        assert t3._checkpoints() == [4]
        assert {r["id"] for r in t3.read().collect()} == set(range(6))


class TestStoreAssignByName:
    """_store_assign_expr: update/insert expressions assign to struct
    columns BY NAME (a positional cast would silently pair mismatched
    fields), NULL-fill fields the expression lacks, and ERROR on fields
    the column's type lacks (a store assignment must not drop data)."""

    def _tbl(self, spark, tmp_path):
        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        t.create(
            spark.createDataFrame(
                [(1, (10, 100)), (2, (20, 200))],
                "id bigint, s struct<x:int,y:int>",
            )
        )
        return t

    def test_update_struct_fields_pair_by_name(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        delta = spark.createDataFrame([(1, 0)], "id bigint, dummy int")
        # expression lists y BEFORE x — a positional cast would swap them
        t.merge(
            delta,
            on=["id"],
            when_matched_update={
                "s": F.struct(
                    F.lit(999).alias("y"), F.lit(111).alias("x")
                )
            },
        )
        got = {r["id"]: r["s"].asDict() for r in t.read().collect()}
        assert got[1] == {"x": 111, "y": 999}
        assert got[2] == {"x": 20, "y": 200}

    def test_update_missing_field_gated_on_evolution(self, spark, tmp_path):
        """An update expression omitting a nested field raises unless
        schema_evolution opts into the NULL-fill (ADVICE r9: ungated,
        `s = struct(y=7)` silently erased s.x on every matched row)."""
        t = self._tbl(spark, tmp_path)
        delta = spark.createDataFrame([(2, 0)], "id bigint, dummy int")
        with pytest.raises(MergeError, match="omits nested field 's.x'"):
            t.merge(
                delta,
                on=["id"],
                when_matched_update={"s": F.struct(F.lit(7).alias("y"))},
            )
        t.merge(
            delta,
            on=["id"],
            when_matched_update={"s": F.struct(F.lit(7).alias("y"))},
            schema_evolution=True,
        )
        assert {r["id"]: r["s"].asDict() for r in t.read().collect()}[2] == {
            "x": None, "y": 7,
        }

    def test_update_extra_field_errors_with_path(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        delta = spark.createDataFrame([(1, 0)], "id bigint, dummy int")
        with pytest.raises(MergeError, match="'s.zzz' is not in the column"):
            t.merge(
                delta,
                on=["id"],
                when_matched_update={
                    "s": F.struct(
                        F.lit(1).alias("x"),
                        F.lit(2).alias("y"),
                        F.lit(3).alias("zzz"),
                    )
                },
            )

    def test_insert_mapping_struct_by_name(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        delta = spark.createDataFrame([(9, 0)], "id bigint, dummy int")
        t.merge(
            delta,
            on=["id"],
            when_not_matched_insert={
                "id": F.col("id"),
                "s": F.struct(F.lit(5).alias("y"), F.lit(4).alias("x")),
            },
        )
        assert {r["id"]: r["s"].asDict() for r in t.read().collect()}[9] == {
            "x": 4, "y": 5,
        }

    def test_update_where_set_struct_by_name(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        t.update_where(
            F.col("id") == 2,
            {"s": F.struct((F.col("s.y") + 1).alias("y"), F.col("s.x").alias("x"))},
        )
        assert {r["id"]: r["s"].asDict() for r in t.read().collect()}[2] == {
            "x": 20, "y": 201,
        }


class TestNestedDataSkipping:
    """Footer stats on nested STRUCT leaves (Delta collects these too):
    a ("s.x", op, lit) conjunct prunes files without opening them,
    array-element/map-value paths never participate (per-element stats
    are meaningless for a row-level interval check), and a top-level
    RENAME keeps nested skipping alive via the physical head segment."""

    def _tbl(self, spark, tmp_path):
        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        rows = [(i, (i * 10, f"y{i}"), [(i,)]) for i in range(100)]
        t.create(
            spark.createDataFrame(
                rows,
                "id bigint, s struct<x:int,y:string>, "
                "arr array<struct<q:int>>",
            ).repartitionByRange(4, F.col("id")).sortWithinPartitions("id")
        )
        return t

    def test_nested_leaf_stats_recorded_repeated_paths_not(
        self, spark, tmp_path
    ):
        t = self._tbl(spark, tmp_path)
        m = t._manifest(t.current_version())
        stats = m["file_stats"][m["files"][0]]
        assert "s.x" in stats and "s.y" in stats and "id" in stats
        assert not any(k.startswith("arr") for k in stats)

    def test_nested_predicate_skips_files_and_stays_exact(
        self, spark, tmp_path
    ):
        t = self._tbl(spark, tmp_path)
        got = {r["id"] for r in t.read(where=[("s.x", ">=", 900)]).collect()}
        assert got == {i for i in range(100) if i * 10 >= 900}
        # the tuple-form delete reports its pruned scan: the clustered
        # layout (s.x correlates with the range-cluster key) means the
        # top-range conjunct opens a strict subset of the 4 files
        stats = t.delete_where([("s.x", ">=", 900)])
        assert stats["rows_deleted"] == 10
        assert stats["files_scanned"] < 4

    def test_nested_skipping_survives_top_level_rename(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        t.rename_column("s", "info")
        got = {r["id"] for r in t.read(where=[("info.x", "<", 100)]).collect()}
        assert got == set(range(10))
        stats = t.delete_where([("info.x", "<", 100)])
        assert stats["rows_deleted"] == 10
        assert stats["files_scanned"] < 4


class TestNullCountSkipping:
    """IS [NOT] NULL data skipping via footer null counts (Delta's
    nullCount stats): a no-nulls file prunes for isnull, an all-null
    column prunes for notnull (even though it has NO min/max bounds),
    and legacy 2-element stat entries never prune for null ops."""

    def _tbl(self, spark, tmp_path):
        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        # file A (ids 0-49): v fully populated; file B (ids 50-99):
        # v entirely NULL — written as two range-clustered files
        rows = [(i, float(i) if i < 50 else None) for i in range(100)]
        t.create(
            spark.createDataFrame(rows, "id bigint, v double")
            .repartitionByRange(2, F.col("id"))
            .sortWithinPartitions("id")
        )
        return t

    def test_stats_carry_null_flags(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        m = t._manifest(t.current_version())
        by_file = [m["file_stats"][f].get("v") for f in sorted(m["files"])]
        shapes = sorted(
            (None if e is None else (e[2], e[3])) for e in by_file
        )
        # one file: no nulls; the other: all null (bounds None but flags
        # present)
        assert shapes == [(False, False), (True, True)]

    def test_isnull_and_notnull_prune_and_stay_exact(self, spark, tmp_path):
        t = self._tbl(spark, tmp_path)
        assert {
            r["id"] for r in t.read(where=[("v", "isnull", None)]).collect()
        } == set(range(50, 100))
        assert {
            r["id"] for r in t.read(where=[("v", "notnull", None)]).collect()
        } == set(range(50))
        # pruning is observable through the tuple-form delete scan
        s1 = t.delete_where([("v", "isnull", None)])
        assert s1["rows_deleted"] == 50 and s1["files_scanned"] == 1
        s2 = t.delete_where([("v", "notnull", None)])
        assert s2["rows_deleted"] == 50 and s2["files_scanned"] == 1

    def test_legacy_two_element_stats_never_prune_null_ops(
        self, spark, tmp_path
    ):
        from hbase_to_mongo_export_spark.operators.merge import (
            _file_can_match,
        )

        legacy = {"v": [1.0, 9.0]}
        assert _file_can_match(legacy, [("v", "isnull", None)])
        assert _file_can_match(legacy, [("v", "notnull", None)])

    def test_nested_leaf_null_skipping(self, spark, tmp_path):
        t = ParquetMergeTable(spark, str(tmp_path / "ntbl"))
        rows = [
            (i, (i, None) if i >= 50 else (i, f"y{i}")) for i in range(100)
        ]
        t.create(
            spark.createDataFrame(rows, "id bigint, s struct<x:int,y:string>")
            .repartitionByRange(2, F.col("id"))
            .sortWithinPartitions("id")
        )
        stats = t.delete_where([("s.y", "notnull", None)])
        assert stats["rows_deleted"] == 50 and stats["files_scanned"] == 1


class TestBoundsFreeNullStats:
    """ADVICE r9: a column with COMPLETE null counts but no usable
    min/max bounds (e.g. decimal — _enc_bound returns None) must still
    record [None, None, has_nulls, all_null] so IS [NOT] NULL pruning
    works; previously only the all-null case got an entry."""

    def test_boundless_column_still_prunes_is_null(self, spark, tmp_path):
        t = ParquetMergeTable(spark, str(tmp_path / "dec"))
        rows = [(i, None if i >= 50 else i) for i in range(100)]
        df = spark.createDataFrame(rows, "id bigint, v bigint").select(
            "id", F.col("v").cast("decimal(20,2)").alias("v")
        )
        t.create(
            df.repartitionByRange(2, F.col("id")).sortWithinPartitions("id")
        )
        m = t._manifest(0)
        ent = {
            e
            for f in m["files"]
            for c, e in map(
                lambda kv: (kv[0], tuple(kv[1])),
                m["file_stats"][f].items(),
            )
            if c == "v"
        }
        # decimal bounds are un-encodable, null coverage is complete:
        # the no-null half records has_nulls=False (NEW — previously no
        # entry at all), the all-null half keeps its all_null shape
        assert ent == {(None, None, False, False), (None, None, True, True)}
        s = t.delete_where([("v", "isnull", None)])
        assert s["rows_deleted"] == 50 and s["files_scanned"] == 1


class TestDottedColumnNames:
    """ADVICE r9: a top-level name containing '.' is indistinguishable
    from a nested stats path — rejected at every schema boundary."""

    def test_create_rejects_dotted(self, spark, tmp_path):
        t = ParquetMergeTable(spark, str(tmp_path / "dot"))
        df = spark.createDataFrame([(1,)], "id bigint").withColumnRenamed(
            "id", "s.x"
        )
        with pytest.raises(MergeError, match="contain '.'"):
            t.create(df)

    def test_evolution_rejects_dotted(self, spark, table):
        bad = spark.createDataFrame(
            [(5, "n", 1.0, 7)], "id bigint, name string, amount double, x int"
        ).withColumnRenamed("x", "a.b")
        with pytest.raises(MergeError, match="contain '.'"):
            table.merge(bad, on=["id"], schema_evolution=True,
                        when_matched_update={"name": src("name")})
        with pytest.raises(MergeError, match="contain '.'"):
            table.append(bad, schema_evolution=True)

    def test_rename_rejects_dotted(self, spark, table):
        with pytest.raises(MergeError, match="contain '.'"):
            table.rename_column("name", "na.me")

    def test_nested_dotted_field_rejected(self, spark, tmp_path):
        """A nested struct FIELD named with a dot collides with the
        dot-joined stats keyspace exactly like a top-level one (review
        finding): rejected at create and at evolution-add."""
        t = ParquetMergeTable(spark, str(tmp_path / "ndot"))
        from pyspark.sql.types import (
            IntegerType, LongType, StructField, StructType,
        )

        bad_schema = StructType([
            StructField("id", LongType()),
            StructField("s", StructType([StructField("a.b", IntegerType())])),
        ])
        bad = spark.createDataFrame([], bad_schema)
        with pytest.raises(MergeError, match="contain '.'"):
            t.create(bad)
        # evolution-add of a dotted nested field is rejected too
        t.create(spark.createDataFrame(
            [(1, (2,))], "id bigint, s struct<x:int>"))
        evil = spark.createDataFrame([], StructType([
            StructField("id", LongType()),
            StructField("s", StructType([
                StructField("x", IntegerType()),
                StructField("y.z", IntegerType()),
            ])),
        ]))
        with pytest.raises(MergeError, match="contains '.'"):
            t.append(evil, schema_evolution=True)


class TestWriterJobCounts:
    """Pins the Spark job count of every writer on one small table (2,000
    rows in 4 files, one CHECK constraint) and the rows it leaves: a
    refactor of the copy-on-write plumbing must run the same actions."""

    JOBS = {
        "create": 1,
        "add_constraint": 2,
        "merge_upsert": 16,
        "update_where": 7,
        "overwrite_where": 9,
        "delete_where": 3,
        "append": 4,
        "bin_pack": 6,
        "purge_vectors": 8,
        "read_where_count": 2,
        "restore": 5,
    }

    def test_job_counts_and_rows(self, spark, tmp_path):
        import uuid

        sc = spark.sparkContext
        run_id = uuid.uuid4().hex[:8]
        jobs: dict[str, int] = {}

        def op(name, fn):
            group = f"writer-jobs-{run_id}-{name}"
            sc.setJobGroup(group, name)
            try:
                out = fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            # job-start events reach the status store through the async
            # listener bus; drain it before counting
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
            return out

        def rows(lo, hi, parts, name_expr, amount_expr):
            return spark.range(lo, hi, 1, parts).selectExpr(
                "id", f"{name_expr} AS name", f"{amount_expr} AS amount"
            )

        t = ParquetMergeTable(spark, str(tmp_path / "tbl"))
        op("create", lambda: t.create(
            rows(0, 2000, 4, "concat('n', id)", "cast(id AS double)")))
        assert len(t._manifest(0)["files"]) == 4
        op("add_constraint", lambda: t.add_constraint("nonneg", "amount >= 0"))
        source = rows(0, 10, 1, "concat('x', id)", "cast(id AS double) + 1e6")
        source = source.unionByName(
            rows(2000, 2010, 1, "concat('new', id)", "cast(id AS double)"))
        op("merge_upsert", lambda: t.merge(
            source, on=["id"], when_matched_update={"amount": src("amount")}))
        op("update_where", lambda: t.update_where(
            [("id", "<", 100)], {"amount": F.col("amount") + 1}))
        op("overwrite_where", lambda: t.overwrite_where(
            [("id", ">=", 500), ("id", "<", 600)],
            rows(500, 600, 1, "concat('r', id)", "7.0D")))
        op("delete_where", lambda: t.delete_where(
            [("id", ">=", 1900), ("id", "<", 2000)]))
        op("append", lambda: t.append(
            rows(3000, 3100, 1, "concat('a', id)", "cast(id AS double)")))
        # pack the small insert/replacement/append files and carry the
        # big ones, the vector-holding 1500..1999 file among them
        m = t._manifest(t.current_version())
        big = [m["file_bytes"][f] for f in m["files"] if m["file_rows"][f] >= 400]
        small = [m["file_bytes"][f] for f in m["files"] if m["file_rows"][f] <= 100]
        assert len(small) == 3 and max(small) < min(big)
        packed = op("bin_pack", lambda: t.compact(
            bin_pack_bytes=(max(small) + min(big)) // 2))
        assert packed["files_packed"] == 3 and t._manifest(
            t.current_version())["delete_files"]
        op("purge_vectors", lambda: t.compact(purge_vectors_over=0.1))
        assert not t._manifest(t.current_version())["delete_files"]
        n_read = op("read_where_count",
                    lambda: t.read(where=[("id", "<", 50)]).count())
        final = {r["id"]: (r["name"], r["amount"]) for r in t.read().collect()}
        op("restore", lambda: t.restore(1))
        restored = {r["id"]: (r["name"], r["amount"])
                    for r in t.read().collect()}

        expected = {i: (f"n{i}", float(i)) for i in range(2000)}
        for i in range(10):
            expected[i] = (f"n{i}", i + 1e6 + 1)
        for i in range(10, 100):
            expected[i] = (f"n{i}", float(i + 1))
        for i in range(500, 600):
            expected[i] = (f"r{i}", 7.0)
        for i in range(1900, 2000):
            del expected[i]
        expected.update({i: (f"new{i}", float(i)) for i in range(2000, 2010)})
        expected.update({i: (f"a{i}", float(i)) for i in range(3000, 3100)})
        assert final == expected
        assert n_read == 50
        assert restored == {i: (f"n{i}", float(i)) for i in range(2000)}
        assert jobs == self.JOBS
