"""Merge-on-read: read-time view equals eager merge at every point,
later deltas win, tombstones hide at read and vanish at compaction."""

from __future__ import annotations

import os

import pytest

from dataworks_aws_corporate_data_ingestion_spark.operators import mor
from dataworks_aws_corporate_data_ingestion_spark.operators.mor import (
    compact,
    delta_fraction,
    read_merged,
    write_delta,
)


def _rows(spark, *triples):
    return spark.createDataFrame(
        [(i, t, v, i[:2]) for i, t, v in triples],
        "id string, db_type string, val string, id_part string",
    )


def _snap(spark, table_dir):
    return {
        r["id"]: (r["db_type"], r["val"]) for r in read_merged(spark, table_dir).collect()
    }


class TestMergeOnRead:
    def test_lifecycle(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        write_delta(_rows(spark, ("aa1", "INSERT", "v1"), ("bb2", "INSERT", "v2")), t)
        assert _snap(spark, t) == {"aa1": ("INSERT", "v1"), "bb2": ("INSERT", "v2")}

        # newer delta updates bb2, tombstones aa1, adds cc3
        write_delta(
            _rows(
                spark,
                ("bb2", "INSERT", "v9"),
                ("aa1", "DELETE", "v1"),
                ("cc3", "INSERT", "v3"),
            ),
            t,
        )
        assert _snap(spark, t) == {"bb2": ("INSERT", "v9"), "cc3": ("INSERT", "v3")}
        assert delta_fraction(spark, t) > 0

        compact(spark, t)
        # same logical view after compaction, deltas gone, base present
        assert _snap(spark, t) == {"bb2": ("INSERT", "v9"), "cc3": ("INSERT", "v3")}
        assert not os.path.exists(os.path.join(t, "deltas"))
        assert delta_fraction(spark, t) == 0.0

        # a key re-inserted after its tombstone compacted away comes back
        write_delta(_rows(spark, ("aa1", "INSERT", "v-new")), t)
        assert _snap(spark, t)["aa1"] == ("INSERT", "v-new")

    def test_within_batch_delete_beats_insert(self, spark, tmp_path):
        t = str(tmp_path / "tbl2")
        write_delta(
            _rows(spark, ("aa1", "INSERT", "v1"), ("aa1", "DELETE", "v1")), t
        )
        assert "aa1" not in _snap(spark, t)


class TestManifest:
    def test_manifest_is_authoritative_orphans_invisible(self, spark, tmp_path):
        """A crash between writing a batch directory and committing the
        manifest leaves an orphan dir; readers must not see it."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.mor import (
            read_manifest,
        )

        t = str(tmp_path / "tbl")
        write_delta(_rows(spark, ("aa1", "INSERT", "v1")), t)
        # simulate the torn write: batch parquet exists, manifest never updated
        orphan = _rows(spark, ("aa1", "INSERT", "SHOULD-NOT-WIN"))
        orphan.select("id", "db_type", "val", "id_part").write.parquet(
            os.path.join(t, "deltas", "batch-99999999999999999999-dead")
        )
        assert _snap(spark, t) == {"aa1": ("INSERT", "v1")}
        assert read_manifest(t)["deltas"] != []

    def test_orphan_first_batch_is_not_data(self, spark, tmp_path):
        """A first write_delta that dies between its parquet write and its
        manifest commit leaves a batch no manifest names: the table reads
        as empty, and the next write_delta does not adopt the orphan."""
        t = str(tmp_path / "tbl")
        orphan = os.path.join(t, "deltas", "batch-00000000000000000001-dead")
        _rows(spark, ("aa1", "INSERT", "ORPHAN")).write.parquet(orphan)
        assert mor.current_state(t) == {"version": 0, "base": False, "deltas": []}
        assert _snap(spark, t) == {}
        write_delta(_rows(spark, ("bb2", "INSERT", "v1")), t)
        m = mor.read_manifest(t)
        assert m["version"] == 1 and len(m["deltas"]) == 1
        assert os.path.basename(orphan) not in m["deltas"]
        assert _snap(spark, t) == {"bb2": ("INSERT", "v1")}

    def test_compact_commits_empty_delta_list(self, spark, tmp_path):
        from dataworks_aws_corporate_data_ingestion_spark.operators.mor import (
            read_manifest,
        )

        t = str(tmp_path / "tbl")
        write_delta(_rows(spark, ("aa1", "INSERT", "v1")), t)
        v_before = read_manifest(t)["version"]
        compact(spark, t)
        m = read_manifest(t)
        assert m == {
            "version": v_before + 1,
            "base": True,
            "deltas": [],
            "base_rows": 1,
            "delta_rows": {},
        }

    def test_time_travel_versions(self, spark, tmp_path):
        from dataworks_aws_corporate_data_ingestion_spark.operators.mor import (
            read_manifest,
        )

        t = str(tmp_path / "tt")
        write_delta(_rows(spark, ("aa1", "INSERT", "v1")), t)   # version 1
        write_delta(_rows(spark, ("aa1", "INSERT", "v2")), t)   # version 2
        assert read_manifest(t)["version"] == 2

        v1 = {
            r["id"]: r["val"]
            for r in read_merged(spark, t, version=1).collect()
        }
        assert v1 == {"aa1": "v1"}  # the past, before the second delta
        assert _snap(spark, t)["aa1"] == ("INSERT", "v2")  # the present

    def test_stale_commit_raises_conflict(self, spark, tmp_path):
        """A commit derived from a superseded version must CAS-fail, not
        silently overwrite -- the conditional-PUT contract."""
        import pytest

        from dataworks_aws_corporate_data_ingestion_spark.operators import mor

        t = str(tmp_path / "cas")
        write_delta(_rows(spark, ("aa1", "INSERT", "v1")), t)  # version 1
        stale = mor.read_manifest(t)  # derived from version 1
        write_delta(_rows(spark, ("bb2", "INSERT", "v2")), t)  # version 2
        stale["version"] = int(stale["version"]) + 1  # would commit v2 again
        with pytest.raises(mor.ManifestConflict, match="expected version"):
            mor._commit_manifest(t, stale)
        # loser's failure left the winner's state intact
        assert mor.read_manifest(t)["version"] == 2
        assert len(mor.read_manifest(t)["deltas"]) == 2

    def test_delta_append_retries_past_conflict(self, spark, tmp_path, monkeypatch):
        """write_delta auto-retries: force its first state snapshot to be
        stale (as if another appender committed in between) and assert the
        commit still lands with every batch present."""
        from dataworks_aws_corporate_data_ingestion_spark.operators import mor

        t = str(tmp_path / "race")
        write_delta(_rows(spark, ("aa1", "INSERT", "v1")), t)
        real = mor.current_state
        seen = []

        def stale_once(table_dir):
            state = real(table_dir)
            if not seen:
                seen.append(1)
                state["version"] = int(state["version"]) - 1  # stale view
            return state

        monkeypatch.setattr(mor, "current_state", stale_once)
        write_delta(_rows(spark, ("bb2", "INSERT", "v2")), t)
        monkeypatch.setattr(mor, "current_state", real)
        assert len(seen) == 1  # the stale path was actually exercised
        m = mor.read_manifest(t)
        assert m["version"] == 2 and len(m["deltas"]) == 2
        assert _snap(spark, t) == {
            "aa1": ("INSERT", "v1"),
            "bb2": ("INSERT", "v2"),
        }

    def test_compaction_is_the_time_travel_boundary(self, spark, tmp_path):
        import pytest

        t = str(tmp_path / "ttc")
        write_delta(_rows(spark, ("aa1", "INSERT", "v1")), t)   # version 1
        compact(spark, t)                                       # version 2 + GC
        with pytest.raises(FileNotFoundError, match="garbage-collected"):
            read_merged(spark, t, version=1)
        assert _snap(spark, t)["aa1"] == ("INSERT", "v1")
        # post-compaction history starts fresh
        write_delta(_rows(spark, ("aa1", "INSERT", "v9")), t)   # version 3
        assert {
            r["val"] for r in read_merged(spark, t, version=2).collect()
        } == {"v1"}


class TestManifestRowCounts:
    def test_delta_fraction_is_metadata_only(self, spark, tmp_path):
        """After manifest-era appends and a compact, delta_fraction needs
        no SparkSession at all -- counts ride in the manifest."""
        t = str(tmp_path / "t")
        base = spark.createDataFrame(
            [(str(i), "INSERT", f"v{i}", "00") for i in range(10)],
            "id string, db_type string, val string, id_part string",
        )
        mor.write_delta(base, t)
        mor.compact(spark, t)
        delta = spark.createDataFrame(
            [("3", "INSERT", "v3b", "00"), ("99", "INSERT", "v99", "00")],
            "id string, db_type string, val string, id_part string",
        )
        mor.write_delta(delta, t)
        m = mor.read_manifest(t)
        assert m["base_rows"] == 10
        assert list(m["delta_rows"].values()) == [2]
        # spark=None proves zero jobs: any data-file read would crash
        assert mor.delta_fraction(None, t) == 2 / 10

    def test_orphan_batches_are_not_counted(self, spark, tmp_path):
        """delta_fraction counts only what the manifest names: an orphan
        first batch adds no rows before or after the next commit."""
        t = str(tmp_path / "t")
        orphan = os.path.join(t, "deltas", "batch-00000000000000000001-dead")
        orphan_rows = _rows(
            spark, ("aa1", "INSERT", "ORPHAN"), ("cc3", "INSERT", "ORPHAN")
        )
        orphan_rows.write.parquet(orphan)
        # spark=None: no re-count of listed batches is possible
        assert mor.delta_fraction(None, t) == 0.0
        write_delta(_rows(spark, ("bb2", "INSERT", "v1")), t)
        assert mor.delta_fraction(None, t) == 1.0
