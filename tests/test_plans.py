"""SQL runner, job-state store, catalog publication, and the date-range
collection runner (CLI path) end-to-end."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from dataworks_aws_corporate_data_ingestion_spark.plans import state as state_mod
from dataworks_aws_corporate_data_ingestion_spark.plans.publish import (
    TableSpec,
    publish_audit_day,
    publish_audit_view,
    publish_snapshot_tables,
)
from dataworks_aws_corporate_data_ingestion_spark.plans.runner import (
    CollectionSpec,
    EngineConfig,
    date_range,
    main as runner_main,
    read_dailies_since,
    run_day,
    run_range,
    run_update,
)
from dataworks_aws_corporate_data_ingestion_spark.plans.sqlrunner import (
    SqlRunner,
    interpolate,
    split_statements,
)
from dataworks_aws_corporate_data_ingestion_spark.plans.state import (
    JobStatus,
    LocalStateStore,
)

from tests.fixtures import make_batch


class TestSqlRunner:
    def test_interpolation_and_split(self):
        sql = "SELECT * FROM #{hivevar:db}.t; DROP TABLE #{hivevar:db}.t"
        out = interpolate(sql, {"db": "mydb"})
        assert split_statements(out) == [
            "SELECT * FROM mydb.t",
            "DROP TABLE mydb.t",
        ]

    def test_execute_multi_statement(self, spark):
        r = SqlRunner(spark)
        df = r.execute(
            "CREATE DATABASE IF NOT EXISTS #{hivevar:db}; SELECT 1 AS one",
            variables={"db": "t_sqlrunner"},
        )
        assert df.collect()[0]["one"] == 1


class TestStateStore:
    def test_latest_completed_export(self, tmp_path):
        store = LocalStateStore(str(tmp_path / "state.jsonl"))
        put = lambda **kw: store.put(  # noqa: E731
            JobStatus(correlation_id="c1", data_product="CDI-a:b", **kw)
        )
        put(date="2023-05-01", status=state_mod.COMPLETED, export_prefix="exports/1")
        put(date="2023-05-08", status=state_mod.COMPLETED)  # no export prefix
        put(date="2023-05-15", status=state_mod.FAILED, export_prefix="exports/x")
        put(date="2023-05-10", status=state_mod.COMPLETED, export_prefix="exports/2")
        latest = store.latest_completed_export("CDI-a:b")
        assert latest.date == "2023-05-10"
        assert latest.export_prefix == "exports/2"
        assert store.latest_completed_export("CDI-other") is None

    def test_last_writer_wins_per_day(self, tmp_path):
        store = LocalStateStore(str(tmp_path / "state.jsonl"))
        base = dict(correlation_id="c", data_product="p", date="2023-05-01")
        store.put(JobStatus(status=state_mod.IN_PROGRESS, **base))
        store.put(JobStatus(status=state_mod.COMPLETED, **base))
        entries = store.entries("p")
        assert len(entries) == 1 and entries[0].status == state_mod.COMPLETED


class TestPublish:
    def test_snapshot_tables(self, spark, tmp_path):
        snap = str(tmp_path / "snap")
        rows = [
            (f"id{i}", f"{i % 4:02d}", "INSERT", json.dumps({"a": i, "b": f"x{i}"}))
            for i in range(20)
        ]
        spark.createDataFrame(rows, "id string, id_part string, db_type string, val string").write.format(
            "orc"
        ).save(snap)
        publish_snapshot_tables(
            spark,
            snap,
            [TableSpec("t_pub_snapshot", "a INT, b STRING")],
        )
        out = spark.table("t_pub_snapshot")
        assert out.columns == ["a", "b"]
        assert out.count() == 20
        assert out.filter(F.col("b") == "x7").collect()[0]["a"] == 7

    def test_audit_day_and_view(self, spark, tmp_path):
        day_dir = tmp_path / "audit_jsonl"
        day_dir.mkdir()
        recs = [{"AUDIT_EVENT": f"E{i}", "who": f"u{i}", "extra": i} for i in range(5)]
        (day_dir / "part-0.jsonl").write_text(
            "\n".join(json.dumps(r) for r in recs)
        )
        publish_audit_day(spark, str(day_dir), "2023-05-02", database="t_audit_db")
        raw = spark.table("t_audit_db.auditlog_raw")
        assert raw.filter(F.col("date_str") == "2023-05-02").count() == 5

        # idempotent re-run replaces, not duplicates, the partition
        publish_audit_day(spark, str(day_dir), "2023-05-02", database="t_audit_db")
        assert raw.filter(F.col("date_str") == "2023-05-02").count() == 5

        publish_audit_view(
            spark,
            "t_audit_db",
            "auditlog_sec_v",
            ["AUDIT_EVENT", "who"],
            "t_audit_db.auditlog_raw",
            "AUDIT_EVENT STRING, who STRING, extra INT",
        )
        view = spark.table("t_audit_db.auditlog_sec_v")
        assert set(view.columns) == {"AUDIT_EVENT", "who", "date_str"}
        assert view.count() == 5


class TestPartitionListing:
    """Loading an id_part tree wider than Spark's parallel-discovery
    threshold (32) lists it on the driver: on a local master the listing
    job's tasks would run on driver threads anyway."""

    def test_wide_trees_load_without_a_spark_job(self, spark, tmp_path):
        schema = "id string, db_type string, val string, id_part string"
        parts = [f"{i:02x}" for i in range(40)]
        rows = [(f"id{p}", "INSERT", f'{{"p": "{p}"}}', p) for p in parts]
        df = spark.createDataFrame(rows, schema)
        snap, daily = str(tmp_path / "snap"), str(tmp_path / "daily")
        df.write.partitionBy("id_part").parquet(snap)
        df.withColumn("export_year", F.lit(2023)).withColumn(
            "export_month", F.lit(5)
        ).withColumn("export_day", F.lit(1)).write.partitionBy(
            "export_year", "export_month", "export_day", "id_part"
        ).parquet(daily)

        sc = spark.sparkContext
        group = "wide-tree-listing"
        sc.setJobGroup(group, "load wide id_part trees")
        try:
            snapshot = spark.read.schema(schema).format("parquet").load(snap)
            dailies = read_dailies_since(spark, daily, "2023-04-30")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == []

        for loaded in (snapshot, dailies):
            got = loaded.select(*df.columns).collect()
            assert sorted(tuple(r) for r in got) == sorted(rows)


class TestRunner:
    def test_date_range(self):
        assert date_range("2023-05-01", "2023-05-03") == [
            "2023-05-01",
            "2023-05-02",
            "2023-05-03",
        ]

    def _land(self, tmp_path, date: str, n: int, seed: int):
        y, m, d = date.split("-")
        day_dir = tmp_path / "landing" / y / m / d
        day_dir.mkdir(parents=True)
        lines, _ = make_batch(n, seed=seed)
        (day_dir / "batch.jsonl").write_text("\n".join(lines))

    def test_run_range_tracks_status_and_writes(self, spark, tmp_path):
        self._land(tmp_path, "2023-05-01", 8, seed=11)
        self._land(tmp_path, "2023-05-02", 9, seed=22)
        cfg = EngineConfig(
            correlation_id="t1",
            start_date="2023-05-01",
            end_date="2023-05-02",
            collection=CollectionSpec(
                name="calculator:calculationParts",
                source_root=str(tmp_path / "landing"),
                output_root=str(tmp_path / "out"),
            ),
            state_path=str(tmp_path / "state.jsonl"),
        )
        run_range(spark, cfg)
        out = spark.read.parquet(str(tmp_path / "out"))
        assert out.count() == 17
        assert set(r["export_day"] for r in out.select("export_day").distinct().collect()) == {1, 2}
        store = LocalStateStore(cfg.state_path)
        statuses = {e.date: e.status for e in store.entries("CDI-calculator:calculationParts")}
        assert statuses == {
            "2023-05-01": state_mod.COMPLETED,
            "2023-05-02": state_mod.COMPLETED,
        }

    def test_run_day_counts_quarantine_in_the_write_pass(
        self, spark, tmp_path, monkeypatch
    ):
        """The quarantine count is an observed metric on the single write
        action -- run_day must never fire a second action (the round-3
        verdict's 100x-scale wart: counting the quarantine branch re-read
        and re-parsed the whole day).  Any .count() call here fails."""
        lines, _ = make_batch(6, seed=33)
        broken = json.loads(lines[0])
        broken["message"]["dbObject"] = None
        lines[0] = json.dumps(broken)
        y, m, d = "2023-05-01".split("-")
        day_dir = tmp_path / "landing" / y / m / d
        day_dir.mkdir(parents=True)
        (day_dir / "batch.jsonl").write_text("\n".join(lines))
        cfg = EngineConfig(
            correlation_id="t-obs",
            start_date="2023-05-01",
            end_date="2023-05-01",
            collection=CollectionSpec(
                name="calculator:calculationParts",
                source_root=str(tmp_path / "landing"),
                output_root=str(tmp_path / "out"),
            ),
            state_path=str(tmp_path / "state.jsonl"),
        )
        from pyspark.sql import DataFrame

        def _no_second_action(self):
            raise AssertionError("run_day fired a counting action")

        monkeypatch.setattr(DataFrame, "count", _no_second_action)
        assert run_day(spark, cfg, "2023-05-01") == 1
        monkeypatch.undo()
        out = spark.read.parquet(str(tmp_path / "out"))
        assert out.count() == 5

    def test_failure_marks_failed_and_raises(self, spark, tmp_path):
        # no landing data -> the read fails -> FAILED status then raise
        cfg = EngineConfig(
            correlation_id="t2",
            start_date="2023-05-01",
            end_date="2023-05-01",
            collection=CollectionSpec(
                name="calculator:calculationParts",
                source_root=str(tmp_path / "missing"),
                output_root=str(tmp_path / "out2"),
            ),
            state_path=str(tmp_path / "state2.jsonl"),
        )
        with pytest.raises(Exception):
            run_range(spark, cfg)
        store = LocalStateStore(cfg.state_path)
        assert store.entries()[0].status == state_mod.FAILED


class TestUpdateLifecycle:
    """The weekly snapshot-update cycle end-to-end against LocalStateStore
    (reference steps/ingesters.py:273-281, 341-460): dailies -> bootstrap
    merge -> export recorded -> new dailies -> pruned incremental merge."""

    def _land(self, tmp_path, date: str, n: int, seed: int, delete_every: int = 0):
        y, m, d = date.split("-")
        day_dir = tmp_path / "landing" / y / m / d
        day_dir.mkdir(parents=True, exist_ok=True)
        lines, _ = make_batch(n, seed=seed, delete_every=delete_every)
        (day_dir / "batch.jsonl").write_text("\n".join(lines))

    def _cfg(self, tmp_path, start: str, end: str, corr: str, **flags):
        return EngineConfig(
            correlation_id=corr,
            start_date=start,
            end_date=end,
            collection=CollectionSpec(
                name="calculator:calculationParts",
                source_root=str(tmp_path / "landing"),
                output_root=str(tmp_path / "daily"),
                exports_root=str(tmp_path / "exports"),
                hive_tables=(TableSpec("t_update_pub", "amount INT"),),
            ),
            state_path=str(tmp_path / "state.jsonl"),
            **flags,
        )

    def test_update_cycle_end_to_end(self, spark, tmp_path):
        self._land(tmp_path, "2023-05-01", 8, seed=11)
        self._land(tmp_path, "2023-05-02", 9, seed=22)
        cfg = self._cfg(
            tmp_path, "2023-05-01", "2023-05-02", "w1", force_collection_update=True
        )
        run_range(spark, cfg)

        # bootstrap merge: no previous export -> snapshot = all dailies
        store = LocalStateStore(cfg.state_path)
        latest = store.latest_completed_export("CDI-calculator:calculationParts")
        assert latest is not None
        assert latest.export_prefix == str(tmp_path / "exports" / "2023-05-02")
        snap = spark.read.parquet(latest.export_prefix)
        assert snap.count() == 17
        assert set(snap.columns) == {"id", "db_type", "val", "id_part"}
        # the forced update also published the hive tables
        assert spark.table("t_update_pub").count() == 17

        # second cycle: day 3 re-lands the day-1 ids as DELETEs
        self._land(tmp_path, "2023-05-03", 8, seed=11, delete_every=1)
        cfg2 = self._cfg(
            tmp_path, "2023-05-03", "2023-05-03", "w2", force_collection_update=True
        )
        run_range(spark, cfg2)

        latest2 = store.latest_completed_export("CDI-calculator:calculationParts")
        assert latest2.export_prefix == str(tmp_path / "exports" / "2023-05-03")
        snap2 = spark.read.parquet(latest2.export_prefix)
        # same 17 keys; the 8 day-1 ids now carry the DELETE tombstone
        assert snap2.count() == 17
        assert snap2.filter(F.col("db_type") == "DELETE").count() == 8
        day1_ids = {r["id"] for r in snap.filter(F.col("id_part").isNotNull()).collect()} - {
            r["id"] for r in snap2.filter(F.col("db_type") == "INSERT").collect()
        }
        assert len(day1_ids) == 8

    def test_incremental_merge_prunes_merged_days(self, spark, tmp_path):
        """The dailies-since filter must prune whole day partitions at the
        file-listing level (reference steps/ingesters.py:429-438): after a
        snapshot at day 2, the day-3 merge opens NO day-1/day-2 files."""
        self._land(tmp_path, "2023-05-01", 5, seed=1)
        self._land(tmp_path, "2023-05-02", 5, seed=2)
        self._land(tmp_path, "2023-05-03", 5, seed=3)
        cfg = self._cfg(tmp_path, "2023-05-01", "2023-05-03", "w1")
        run_range(spark, cfg)

        pruned = read_dailies_since(
            spark, cfg.collection.output_root, "2023-05-02", fmt="parquet"
        )
        # the executed query must open only day-3 files (file-level pruning;
        # the plan string truncates its PartitionFilters field, so the IO
        # observed via input_file_name is the assertion)
        files = {
            r["f"]
            for r in pruned.select(F.input_file_name().alias("f")).distinct().collect()
        }
        assert files, "day-3 files expected"
        assert all("export_day=3" in f for f in files)
        assert pruned.count() == 5

    def test_cli_main_runs_update_phase(self, spark, tmp_path):
        """The spark-submit surface end-to-end: runner main() with the
        reference's conditional-phase flags (steps/corporate_data_ingestion.py:64-71)
        lands dailies, merges, publishes, and records the export."""
        self._land(tmp_path, "2023-05-01", 6, seed=9)
        rc = runner_main(
            [
                "--collection", "calculator:calculationParts",
                "--source-root", str(tmp_path / "landing"),
                "--output-root", str(tmp_path / "daily"),
                "--start-date", "2023-05-01",
                "--end-date", "2023-05-01",
                "--state-path", str(tmp_path / "state.jsonl"),
                "--exports-root", str(tmp_path / "exports"),
                "--force-collection-update",
                "--hive-table", "t_cli_pub=amount INT",
            ]
        )
        assert rc == 0
        latest = LocalStateStore(str(tmp_path / "state.jsonl")).latest_completed_export(
            "CDI-calculator:calculationParts"
        )
        assert latest.export_prefix == str(tmp_path / "exports" / "2023-05-01")
        assert spark.read.parquet(latest.export_prefix).count() == 6
        assert spark.table("t_cli_pub").count() == 6

    def test_export_only_phase_requires_an_export(self, spark, tmp_path):
        self._land(tmp_path, "2023-05-01", 4, seed=5)
        cfg = self._cfg(
            tmp_path, "2023-05-01", "2023-05-01", "w1", force_export_to_hive=True
        )
        with pytest.raises(ValueError, match="no completed export"):
            run_range(spark, cfg)
        # after an update exists, export-only succeeds against the latest
        run_update(spark, cfg)
        run_range(
            spark,
            self._cfg(
                tmp_path, "2023-05-01", "2023-05-01", "w2", force_export_to_hive=True
            ),
        )
        assert spark.table("t_update_pub").count() == 4


class StubDynamoClient:
    """In-memory stand-in for the low-level boto3 dynamodb client,
    implementing exactly the call shapes DynamoDBStateStore makes.
    Scan returns one item per page to exercise pagination."""

    def __init__(self):
        self.items = {}  # (correlation_id, data_product) -> item dict
        self.calls = []

    @staticmethod
    def _k(key):
        return (key["Correlation_Id"]["S"], key["DataProduct"]["S"])

    def get_item(self, TableName, Key):
        self.calls.append(("get_item", TableName))
        item = self.items.get(self._k(Key))
        return {"Item": item} if item else {}

    def put_item(self, TableName, Item):
        self.calls.append(("put_item", TableName))
        self.items[self._k(Item)] = dict(Item)

    def update_item(self, TableName, Key, AttributeUpdates):
        self.calls.append(("update_item", TableName))
        item = self.items[self._k(Key)]
        for name, upd in AttributeUpdates.items():
            item[name] = upd["Value"]

    def scan(
        self,
        TableName,
        FilterExpression,
        ExpressionAttributeNames,
        ExpressionAttributeValues,
        ExclusiveStartKey=None,
    ):
        self.calls.append(("scan", TableName))
        assert "attribute_exists(S3_Prefix_CDI_Export)" in FilterExpression
        assert ExpressionAttributeNames == {"#st": "Status"}
        dp = ExpressionAttributeValues[":dp"]["S"]
        completed = ExpressionAttributeValues[":completed"]["S"]
        matches = sorted(
            (
                item
                for item in self.items.values()
                if item["DataProduct"]["S"] == dp
                and "S3_Prefix_CDI_Export" in item
                and item["Status"]["S"] == completed
            ),
            key=lambda it: it["Correlation_Id"]["S"],
        )
        start = 0
        if ExclusiveStartKey is not None:
            keys = [self._k(it) for it in matches]
            start = keys.index(self._k(ExclusiveStartKey)) + 1
        page = {"Items": matches[start : start + 1]}
        if start + 1 < len(matches):
            page["LastEvaluatedKey"] = {
                "Correlation_Id": matches[start]["Correlation_Id"],
                "DataProduct": matches[start]["DataProduct"],
            }
        return page


class TestDynamoDBStateStore:
    def _store(self):
        from dataworks_aws_corporate_data_ingestion_spark.plans.state import (
            DynamoDBStateStore,
        )

        client = StubDynamoClient()
        return DynamoDBStateStore(client, now=lambda: 1_000_000.0), client

    def test_create_then_update_flow(self):
        from dataworks_aws_corporate_data_ingestion_spark.plans.state import (
            COMPLETED,
            IN_PROGRESS,
            JobStatus,
        )

        store, client = self._store()
        store.put(
            JobStatus("corr1", "CDI-a:b", "2024-01-05", IN_PROGRESS, cluster_id="j-1")
        )
        item = client.items[("corr1", "CDI-a:b")]
        # first write creates the full row, reference steps/dynamodb.py:44-56
        assert item["Status"]["S"] == IN_PROGRESS
        assert item["Cluster_Id"]["S"] == "j-1"
        assert float(item["TimeToExist"]["N"]) == 1_000_000.0 + 2 * 52 * 7 * 24 * 3600
        assert "S3_Prefix_CDI_Export" not in item

        store.put(
            JobStatus(
                "corr1", "CDI-a:b", "2024-01-05", COMPLETED, export_prefix="s3://x/p1"
            )
        )
        # second write goes through update_item, not put_item
        assert client.calls.count(("put_item", "data_pipeline_metadata")) == 1
        assert client.calls.count(("update_item", "data_pipeline_metadata")) == 1
        item = client.items[("corr1", "CDI-a:b")]
        assert item["Status"]["S"] == COMPLETED
        assert item["S3_Prefix_CDI_Export"]["S"] == "s3://x/p1"

    def test_latest_completed_export_scans_and_paginates(self):
        from dataworks_aws_corporate_data_ingestion_spark.plans.state import (
            COMPLETED,
            IN_PROGRESS,
            JobStatus,
        )

        store, client = self._store()
        put = lambda corr, date, status, prefix: store.put(
            JobStatus(corr, "CDI-a:b", date, status, export_prefix=prefix)
        )
        put("c1", "2024-01-05", COMPLETED, "s3://x/p1")
        put("c2", "2024-02-01", COMPLETED, "s3://x/p2")   # newest valid
        put("c3", "2024-03-01", IN_PROGRESS, "s3://x/p3")  # wrong status
        put("c4", "2024-04-01", COMPLETED, None)           # no export prefix
        put("c5", "not-a-date", COMPLETED, "s3://x/p5")    # unparseable Date
        store.put(JobStatus("c6", "CDI-other", "2024-05-01", COMPLETED,
                            export_prefix="s3://x/p6"))    # other product

        latest = store.latest_completed_export("CDI-a:b")
        assert latest is not None
        assert (latest.correlation_id, latest.export_prefix) == ("c2", "s3://x/p2")
        # stub pages 1 item at a time -> pagination was exercised
        assert client.calls.count(("scan", "data_pipeline_metadata")) >= 2

    def test_empty_scan_returns_none(self):
        store, _ = self._store()
        assert store.latest_completed_export("CDI-a:b") is None


class TestHiveDdlAuditPath:
    """The metastore-backed audit publication variant: DDL strings are
    asserted verbatim against the reference sequence
    (steps/ingesters.py:181-206), AND executed for real against an
    embedded-Derby Hive metastore in a subprocess (static catalog conf
    means the shared in-memory session can't do it in-process)."""

    def test_ddl_executes_against_embedded_derby_metastore(self):
        """Executed (not asserted) round trip of the reference's audit load:
        EXTERNAL TABLE over the day's JSONL -> ADD PARTITION -> INSERT
        OVERWRITE into the ORC raw table -> DROP, then the projected view.
        Skips only if the Derby metastore itself cannot start."""
        import subprocess
        import sys

        import pytest

        script = os.path.join(os.path.dirname(__file__), "hive_ddl_subprocess.py")
        proc = subprocess.run(
            [sys.executable, script],
            capture_output=True,
            text=True,
            timeout=300,
        )
        out = proc.stdout
        if "DERBY_FAIL" in out:
            pytest.skip(f"embedded Derby metastore unavailable: {out.strip()}")
        assert proc.returncode == 0, (out, proc.stderr[-2000:])
        assert "HIVE_DDL_OK 7" in out, (out, proc.stderr[-2000:])

    def test_raw_load_sequence_matches_reference(self):
        from dataworks_aws_corporate_data_ingestion_spark.plans.publish import (
            audit_raw_load_ddl,
        )
        from dataworks_aws_corporate_data_ingestion_spark.plans.sqlrunner import (
            split_statements,
        )

        stmts = split_statements(
            audit_raw_load_ddl(
                "uc_dw_auditlog", "auditlog_raw", "2024-01-05", "s3://pub/audit/2024-01-05/"
            )
        )
        assert stmts == [
            "DROP TABLE IF EXISTS uc_dw_auditlog.auditlog_raw_2024_01_05",
            "CREATE EXTERNAL TABLE uc_dw_auditlog.auditlog_raw_2024_01_05 (val STRING)"
            " PARTITIONED BY (date_str STRING) STORED AS TEXTFILE"
            " LOCATION 's3://pub/audit/2024-01-05/'",
            "ALTER TABLE uc_dw_auditlog.auditlog_raw_2024_01_05 ADD IF NOT EXISTS"
            " PARTITION(date_str='2024-01-05') LOCATION 's3://pub/audit/2024-01-05/'",
            "INSERT OVERWRITE TABLE uc_dw_auditlog.auditlog_raw"
            " SELECT * FROM uc_dw_auditlog.auditlog_raw_2024_01_05",
            "DROP TABLE IF EXISTS uc_dw_auditlog.auditlog_raw_2024_01_05",
        ]

    def test_expanded_table_uses_openx_serde(self):
        from dataworks_aws_corporate_data_ingestion_spark.plans.publish import (
            audit_expanded_table_ddl,
        )

        ddl = audit_expanded_table_ddl(
            "uc_dw_auditlog", "2024-01-05", "s3://pub/audit/2024-01-05/"
        )
        assert "ROW FORMAT SERDE 'org.openx.data.jsonserde.JsonSerDe'" in ddl
        assert "auditlog_expanded_2024_01_05" in ddl
        assert "PARTITION(date_str='2024-01-05')" in ddl

    def test_execution_gated_on_hive_catalog(self, spark):
        import pytest

        from dataworks_aws_corporate_data_ingestion_spark.plans.publish import (
            publish_audit_day_hive,
        )

        with pytest.raises(RuntimeError, match="catalogImplementation"):
            publish_audit_day_hive(spark, "/tmp/nowhere", "2024-01-05")


class TestZorderedRewrite:
    def test_rewrite_preserves_rows_and_collapses_files(self, spark, tmp_path):
        """The periodic re-layout: N days of directory-partitioned dailies
        (days x id_parts sliver leaves) rewritten as one flat z-ordered
        dataset -- row-for-row identical content, far fewer files."""
        import os

        from pyspark.sql import functions as F

        from dataworks_aws_corporate_data_ingestion_spark.plans.runner import (
            rewrite_dailies_zordered,
        )
        from dataworks_aws_corporate_data_ingestion_spark.sinks.writers import (
            read_daily,
        )

        root = str(tmp_path / "dailies")
        rows = spark.range(0, 3000).select(
            F.concat(F.lit("id"), F.col("id")).alias("id"),
            F.lit("INSERT").alias("db_type"),
            F.lit("{}").alias("val"),
            F.lpad((F.col("id") % 8).cast("string"), 2, "0").alias("id_part"),
            F.lit(2024).alias("export_year"),
            F.lit(1).alias("export_month"),
            (F.col("id") % 5 + 1).cast("int").alias("export_day"),
        )
        (
            rows.write.partitionBy(
                "export_year", "export_month", "export_day", "id_part"
            ).parquet(root)
        )
        dest = str(tmp_path / "flat_z")
        rewrite_dailies_zordered(
            spark, root, dest, base_date="2024-01-01", fmt="parquet"
        )
        back = spark.read.parquet(dest)
        orig = read_daily(spark, root, "parquet")
        assert back.count() == 3000
        # an all-digit id_part directory stays the string it was written as
        assert dict(back.dtypes)["id_part"] == "string"
        assert sorted(
            r.id_part for r in back.select("id_part").distinct().collect()
        ) == [f"{i:02d}" for i in range(8)]
        # content parity, column-order independent
        cols = sorted(back.columns)
        assert sorted(orig.columns) == cols
        assert (
            back.select(*cols).exceptAll(orig.select(*cols)).count() == 0
        )
        n_flat = sum(
            1 for _, _, fs in os.walk(dest) for f in fs if f.endswith(".parquet")
        )
        n_part = sum(
            1 for _, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
        )
        assert n_flat < n_part / 4  # 40 leaf slivers collapse


class TestStateReport:
    def test_report_lines_and_summary(self, spark, tmp_path):
        from dataworks_aws_corporate_data_ingestion_spark.plans.state import (
            COMPLETED,
            FAILED,
            JobStatus,
            LocalStateStore,
        )
        from dataworks_aws_corporate_data_ingestion_spark.plans.state_report import (
            report,
        )

        path = str(tmp_path / "state.jsonl")
        store = LocalStateStore(path)
        store.put(
            JobStatus(
                "c1", "CDI-a", "2024-01-01", COMPLETED,
                export_prefix="s3://x/a/1", updated_at=1.0,
            )
        )
        store.put(JobStatus("c1", "CDI-a", "2024-01-02", FAILED, updated_at=2.0))
        store.put(
            JobStatus(
                "c1", "CDI-b", "2024-01-02", COMPLETED,
                export_prefix="s3://x/b/1", updated_at=3.0,
            )
        )
        lines = report(spark, path)
        assert any("2024-01-02" in x and "FAILED" in x for x in lines)
        assert any(
            "CDI-a" in x and "runs=2 failed=1 last_completed=2024-01-01" in x
            for x in lines
        )
        # product filter narrows both the detail and summary sections
        only_b = report(spark, path, product="CDI-b")
        assert not any("CDI-a" in x for x in only_b)
