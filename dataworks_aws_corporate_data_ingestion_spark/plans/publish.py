"""Catalog publication: snapshot -> schema-applied tables, and the audit
external/managed table sequence.

Re-expresses the reference's two Hive flows:
  * calcParts export (steps/ingesters.py:283-339): read snapshot once,
    DISK_ONLY persist, then per target table from_json(val, ddl) ->
    range-recluster -> select("val.*") -> saveAsTable.
  * audit publication (steps/ingesters.py:141-206): raw managed table
    partitioned by date_str + per-day load.  The reference loaded via a
    Hive EXTERNAL TABLE + openx JsonSerDe; on a plain Spark catalog the
    same contract (managed table gains the day's rows, partition column
    date_str) is met with spark.read + insertInto -- one less DDL round
    trip and no SerDe jar.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..sinks.writers import read_snapshot
from .sqlrunner import SqlRunner


@dataclass(frozen=True)
class TableSpec:
    table_name: str  # fully qualified, e.g. staging.src_calculator_parts
    json_schema: str  # DDL string for from_json


def publish_snapshot_tables(
    spark: SparkSession,
    snapshot_path: str,
    tables: list[TableSpec],
    snapshot_format: str = "orc",
) -> None:
    """Impose each DDL schema over the snapshot's `val` JSON and publish as
    a managed table (reference steps/ingesters.py:283-339).

    Scale notes: one snapshot scan feeds N tables via a DISK_ONLY persist
    (the reference's exact trick); per-table output re-clusters by range on
    (id_part, id) so downstream scans prune.  AQE sizes the exchange (the
    reference hard-coded 1024)."""
    source = read_snapshot(spark, snapshot_path, snapshot_format).persist(
        StorageLevel.DISK_ONLY
    )
    try:
        for spec in tables:
            (
                source.select(
                    F.from_json("val", spec.json_schema).alias("val"), "id_part", "id"
                )
                .repartitionByRange("id_part", "id")
                .select("val.*")
                .write.format("parquet")
                .mode("overwrite")
                .saveAsTable(spec.table_name)
            )
    finally:
        source.unpersist()


def publish_audit_day(
    spark: SparkSession,
    jsonl_day_path: str,
    export_date: str,
    database: str = "uc_dw_auditlog",
    table: str = "auditlog_raw",
) -> None:
    """Load one day of published audit JSONL into the raw managed table
    (val STRING, partitioned by date_str), idempotently replacing that
    day's partition (reference steps/ingesters.py:162-193)."""
    runner = SqlRunner(spark)
    runner.create_database_if_not_exists(database)
    # Spark-native DDL (the reference's `STORED AS orc` form requires a Hive
    # metastore; `USING parquet` is the same managed partitioned table)
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {database}.{table} (val STRING, date_str STRING)
        USING parquet PARTITIONED BY (date_str)
        """
    )
    day = spark.read.text(jsonl_day_path).select(
        F.col("value").alias("val"), F.lit(export_date).alias("date_str")
    )
    (
        day.write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .insertInto(f"{database}.{table}")
    )


AUDIT_JSON_SERDE = "org.openx.data.jsonserde.JsonSerDe"


def audit_raw_load_ddl(
    database: str,
    table: str,
    export_date: str,
    location: str,
) -> str:
    """The reference's exact external-table load sequence for one audit day
    (reference steps/ingesters.py:181-193, verbatim statement shapes): a
    throwaway EXTERNAL TABLE over the day's JSONL prefix, partition
    registration, INSERT OVERWRITE into the raw managed table, then drop.

    Returned as the same ';'-joined multi-statement text the reference fed
    HiveService.execute_sql_statement_with_interpolation; run it with
    SqlRunner.execute on a Hive-enabled session."""
    external_table_name = f"auditlog_raw_{export_date.replace('-', '_')}"
    return f"""
        DROP TABLE IF EXISTS {database}.{external_table_name};
        CREATE EXTERNAL TABLE {database}.{external_table_name} (val STRING) PARTITIONED BY (date_str STRING) STORED AS TEXTFILE LOCATION '{location}';
        ALTER TABLE {database}.{external_table_name} ADD IF NOT EXISTS PARTITION(date_str='{export_date}') LOCATION '{location}';
        INSERT OVERWRITE TABLE {database}.{table} SELECT * FROM {database}.{external_table_name};
        DROP TABLE IF EXISTS {database}.{external_table_name}
    """


def audit_expanded_table_ddl(
    database: str,
    export_date: str,
    location: str,
    columns_ddl: str = "val STRING",
) -> str:
    """The JsonSerDe external-table day view (the reference interpolated
    `auditlog_external_table.sql` with hivevars serde/date_underscore/
    date_hyphen/data_location, steps/ingesters.py:195-206; the template
    file itself lives outside the reference repo, so this reproduces the
    documented interpolation contract rather than a byte-exact file)."""
    table = f"auditlog_expanded_{export_date.replace('-', '_')}"
    return f"""
        DROP TABLE IF EXISTS {database}.{table};
        CREATE EXTERNAL TABLE {database}.{table} ({columns_ddl}) PARTITIONED BY (date_str STRING) ROW FORMAT SERDE '{AUDIT_JSON_SERDE}' STORED AS TEXTFILE LOCATION '{location}';
        ALTER TABLE {database}.{table} ADD IF NOT EXISTS PARTITION(date_str='{export_date}') LOCATION '{location}'
    """


def publish_audit_day_hive(
    spark: SparkSession,
    jsonl_day_path: str,
    export_date: str,
    database: str = "uc_dw_auditlog",
    table: str = "auditlog_raw",
) -> None:
    """Hive-metastore form of publish_audit_day: the reference's actual
    EXTERNAL TABLE/ADD PARTITION/INSERT OVERWRITE/DROP DDL round trip.
    Requires a Hive-enabled session (enableHiveSupport); on the default
    in-memory catalog raise rather than half-run DDL the catalog cannot
    honour -- callers fall back to publish_audit_day."""
    if spark.conf.get("spark.sql.catalogImplementation", "in-memory") != "hive":
        raise RuntimeError(
            "publish_audit_day_hive needs spark.sql.catalogImplementation=hive;"
            " use publish_audit_day on the in-memory catalog"
        )
    runner = SqlRunner(spark)
    runner.create_database_if_not_exists(database)
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {database}.{table} (val STRING)
        PARTITIONED BY (date_str STRING) STORED AS ORC
        """
    )
    runner.execute(
        audit_raw_load_ddl(database, table, export_date, jsonl_day_path)
    )


def publish_audit_view(
    spark: SparkSession,
    database: str,
    view_name: str,
    columns: list[str],
    source_table: str,
    json_schema: str,
) -> None:
    """'View-like' column-projected table over the raw audit JSON
    (reference's sec/red tables with column lists from text files,
    steps/ingesters.py:208-266): expand val with the schema, keep only the
    requested columns."""
    expanded = spark.table(source_table).select(
        F.from_json("val", json_schema).alias("j"), "date_str"
    )
    projected = expanded.select(
        *[F.col(f"j.{c}").alias(c) for c in columns], "date_str"
    )
    projected.write.mode("overwrite").saveAsTable(f"{database}.{view_name}")
