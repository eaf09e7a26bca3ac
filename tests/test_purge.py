"""Targeted record deletion over the keyed snapshot (operators/purge.py).

Round-trips a small partitioned snapshot through purge_keys and checks:
surgical rewrite (untouched partitions keep their exact files), exact
survivor content, all-purged partition removal, audit numbers,
idempotence, and the empty-key no-op.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from dataworks_aws_corporate_data_ingestion_spark.operators.purge import (
    keys_with_parts,
    purge_keys,
)
from dataworks_aws_corporate_data_ingestion_spark.sinks.writers import (
    read_snapshot,
    write_snapshot,
)


def _wrapped_id(part: str, n: int) -> str:
    return json.dumps({"id": f"{part}-rec-{n}"})


def _snapshot_df(spark):
    rows = []
    for part in ("aa", "bb", "cc"):
        for n in range(5):
            rows.append(
                (
                    _wrapped_id(part, n),
                    part,
                    "INSERT",
                    json.dumps({"part": part, "n": n}),
                )
            )
    return spark.createDataFrame(
        rows, "id string, id_part string, db_type string, val string"
    )


def _listing(path: str, part: str):
    d = os.path.join(path, f"id_part={part}")
    if not os.path.isdir(d):
        return None
    return sorted(
        (f, os.path.getsize(os.path.join(d, f)))
        for f in os.listdir(d)
        if not f.startswith((".", "_"))
    )


@pytest.fixture()
def snap_path(spark, tmp_path):
    p = str(tmp_path / "snapshot")
    write_snapshot(_snapshot_df(spark), p, fmt="parquet", compression="snappy")
    return p


class TestKeysWithParts:
    def test_derives_part_from_wrapped_id(self, spark):
        keys = spark.createDataFrame(
            [(_wrapped_id("aa", 1),)], "id string"
        )
        rows = keys_with_parts(keys).collect()
        assert rows[0].id_part == "aa"

    def test_primitive_id_falls_back_to_prefix(self, spark):
        keys = spark.createDataFrame([("zz-plain-7",)], "id string")
        assert keys_with_parts(keys).collect()[0].id_part == "zz"


class TestPurgeKeys:
    def test_surgical_rewrite_and_audit(self, spark, snap_path):
        untouched_before = _listing(snap_path, "cc")
        keys = spark.createDataFrame(
            [(_wrapped_id("aa", 1),), (_wrapped_id("aa", 3),)], "id string"
        )
        audit = {
            r.id_part: r for r in purge_keys(spark, snap_path, keys, fmt="parquet").collect()
        }
        assert set(audit) == {"aa"}
        assert audit["aa"].rows_before == 5
        assert audit["aa"].rows_after == 3
        assert audit["aa"].purged == 2

        # untouched partition: exact same files on disk
        assert _listing(snap_path, "cc") == untouched_before

        back = spark.read.parquet(snap_path)
        assert back.count() == 13
        gone = {_wrapped_id("aa", 1), _wrapped_id("aa", 3)}
        assert {r.id for r in back.collect()} & gone == set()
        # survivor content intact
        vals = {
            r.id: r.val for r in back.filter("id_part = 'aa'").collect()
        }
        assert vals[_wrapped_id("aa", 0)] == json.dumps(
            {"part": "aa", "n": 0}
        )

    def test_all_purged_partition_is_removed(self, spark, snap_path):
        keys = spark.createDataFrame(
            [(_wrapped_id("bb", n),) for n in range(5)], "id string"
        )
        audit = purge_keys(spark, snap_path, keys, fmt="parquet").collect()
        assert audit[0].rows_after == 0 and audit[0].purged == 5
        assert _listing(snap_path, "bb") is None
        back = spark.read.parquet(snap_path)
        assert back.count() == 10
        assert set(
            r.id_part for r in back.select("id_part").distinct().collect()
        ) == {"aa", "cc"}

    def test_idempotent_second_run(self, spark, snap_path):
        keys = spark.createDataFrame(
            [(_wrapped_id("aa", 1),)], "id string"
        )
        purge_keys(spark, snap_path, keys, fmt="parquet")
        audit2 = purge_keys(spark, snap_path, keys, fmt="parquet").collect()
        assert audit2[0].purged == 0
        assert spark.read.parquet(snap_path).count() == 14

    def test_unknown_key_purges_nothing(self, spark, snap_path):
        keys = spark.createDataFrame(
            [(_wrapped_id("aa", 99),)], "id string"
        )
        audit = purge_keys(spark, snap_path, keys, fmt="parquet").collect()
        assert audit[0].purged == 0
        assert spark.read.parquet(snap_path).count() == 15

    def test_empty_keys_is_noop(self, spark, snap_path):
        keys = spark.createDataFrame([], "id string")
        audit = purge_keys(spark, snap_path, keys, fmt="parquet")
        assert audit.count() == 0
        assert spark.read.parquet(snap_path).count() == 15

    def test_key_for_absent_partition_reports_nothing(self, spark, snap_path):
        # id_part 'zz' has no partition on disk: no audit row, no error
        keys = spark.createDataFrame(
            [(_wrapped_id("zz", 0),)], "id string"
        )
        audit = purge_keys(spark, snap_path, keys, fmt="parquet")
        assert audit.count() == 0
        assert spark.read.parquet(snap_path).count() == 15

    def test_all_digit_partitions_stay_strings(self, spark, tmp_path):
        # Spark infers an all-digit partition directory as INT
        # (id_part=07 -> 7), so a schema-less read matches no string
        # id_part and purges nothing
        snap = str(tmp_path / "digits")
        write_snapshot(
            spark.createDataFrame(
                [
                    (_wrapped_id(part, n), part, "INSERT", "{}")
                    for part, n in (("07", 0), ("07", 1), ("12", 0))
                ],
                "id string, id_part string, db_type string, val string",
            ),
            snap,
            fmt="parquet",
            compression="snappy",
        )
        gone = _wrapped_id("07", 0)
        keys = spark.createDataFrame([(gone,)], "id string")
        audit = purge_keys(spark, snap, keys, fmt="parquet").collect()
        assert [(r.id_part, r.purged) for r in audit] == [("07", 1)]
        ids = {r.id for r in read_snapshot(spark, snap, "parquet").collect()}
        assert ids == {_wrapped_id("07", 1), _wrapped_id("12", 0)}
        assert sorted(
            d for d in os.listdir(snap) if d.startswith("id_part=")
        ) == ["id_part=07", "id_part=12"]
