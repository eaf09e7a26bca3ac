"""End-to-end ingest pipeline: encrypted JSONL envelopes -> daily rows ->
range-clustered write -> snapshot merge.  The oracle is the pure-Python
record chain applied to the same payloads (the canonical-output parity
strategy the reference used, docs/message-transformation.md:16-21)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from dataworks_aws_corporate_data_ingestion_spark.functions import record
from dataworks_aws_corporate_data_ingestion_spark.functions.crypto import IdentityKeyService
from dataworks_aws_corporate_data_ingestion_spark.operators.ingest import ingest_daily
from dataworks_aws_corporate_data_ingestion_spark.operators.merge import merge_snapshot
from dataworks_aws_corporate_data_ingestion_spark.sinks.writers import (
    write_daily,
    write_snapshot,
)

from tests.fixtures import make_batch, make_envelope_line, make_materials


def expected_val(payload: dict, audit: bool = False, stamp: str = "") -> str:
    rec = json.dumps(payload)
    if audit:
        rec = record.audit_transform(rec, stamp)
    rec, _ = record.validate_record(rec)
    return record.finalise_record(record.sanitise_text(rec))


def _write_lines(tmp_path, lines, name="input.jsonl"):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return str(p)


class TestIngestDaily:
    def test_calcparts_rows_match_python_oracle(self, spark, tmp_path):
        lines, payloads = make_batch(40, n_keys=3, delete_every=10)
        src = _write_lines(tmp_path, lines)
        rows, quarantined = ingest_daily(
            spark, src, "calculator:calculationParts", IdentityKeyService(), "2023-05-02"
        )
        got = {r["id"]: r.asDict() for r in rows.collect()}
        assert quarantined.count() == 0
        assert len(got) == 40
        for payload in payloads:
            rid = record.canonical_json(payload["_id"])
            row = got[rid]
            assert row["val"] == expected_val(payload)
            assert row["id_part"] == payload["_id"]["id"][:2]
            assert row["db_type"] == (
                "DELETE" if "_removedDateTime" in payload else "INSERT"
            )
            assert (row["export_year"], row["export_month"], row["export_day"]) == (
                2023,
                5,
                2,
            )

    def test_audit_transform_path(self, spark, tmp_path):
        lines, payloads = make_batch(6, db="data", collection="businessAudit", audit=True)
        src = _write_lines(tmp_path, lines)
        rows, _ = ingest_daily(
            spark, src, "data:businessAudit", IdentityKeyService(), "2023-05-02", audit=True
        )
        vals = sorted(r["val"] for r in rows.collect())
        want = sorted(
            expected_val(p, audit=True, stamp="2023-05-01T10:00:00.000+0000")
            for p in payloads
        )
        assert vals == want

    def test_permissive_mode_quarantines_poison_lines(self, spark, tmp_path):
        """A day with 2 corrupt lines (invalid JSON; JSON missing the
        'message' envelope) completes in permissive mode: both land in
        quarantine with their raw bytes preserved, the observation counts
        them, and the clean rows are byte-identical to a corrupt-free run."""
        from pyspark.sql import Observation

        lines, _ = make_batch(8, n_keys=2)
        clean_src = _write_lines(tmp_path, list(lines), name="clean.jsonl")
        poisoned = list(lines)
        bad1 = '{"this is not json'
        bad2 = json.dumps({"not_message": {"x": 1}})
        poisoned.insert(3, bad1)
        poisoned.append(bad2)
        poison_src = _write_lines(tmp_path, poisoned, name="poison.jsonl")

        # strict mode (the default, reference parity): the day fails
        rows_strict, _ = ingest_daily(
            spark, poison_src, "calculator:calculationParts",
            IdentityKeyService(), "2023-05-02",
        )
        with pytest.raises(Exception):
            rows_strict.count()

        obs = Observation("poison_metrics")
        rows, quarantined = ingest_daily(
            spark, poison_src, "calculator:calculationParts",
            IdentityKeyService(), "2023-05-02",
            observation=obs, permissive=True,
        )
        got = sorted((r["id"], r["val"]) for r in rows.collect())
        assert obs.get["n_quarantined"] == 2
        assert obs.get["n_envelopes"] == 10
        q = quarantined.collect()
        assert sorted(r["value"] for r in q) == sorted([bad1, bad2])
        assert all(r["db_object"] is None for r in q)

        clean_rows, _ = ingest_daily(
            spark, clean_src, "calculator:calculationParts",
            IdentityKeyService(), "2023-05-02",
        )
        want = sorted((r["id"], r["val"]) for r in clean_rows.collect())
        assert got == want

    def test_permissive_mode_quarantines_undecryptable_records(
        self, spark, tmp_path
    ):
        """A day with 2 records whose crypto materials are corrupt (an
        AES key of invalid length; an IV of invalid length) completes in
        permissive mode: both divert to the quarantine branch with their
        raw lines preserved, `decrypt_observation` counts them, and the
        remaining rows are byte-identical to the all-clean run (VERDICT
        r6 #3 done-criterion)."""
        import base64

        from pyspark.sql import Observation

        lines, payloads = make_batch(8, n_keys=2)
        clean_src = _write_lines(tmp_path, list(lines), name="clean2.jsonl")
        poisoned = list(lines)
        bad_idx = [2, 5]
        e = json.loads(poisoned[2])
        e["message"]["encryption"]["encryptedEncryptionKey"] = (
            base64.b64encode(b"short").decode()
        )
        poisoned[2] = json.dumps(e)
        e = json.loads(poisoned[5])
        e["message"]["encryption"]["initialisationVector"] = (
            base64.b64encode(b"8bytesiv").decode()
        )
        poisoned[5] = json.dumps(e)
        src = _write_lines(tmp_path, poisoned, name="undecryptable.jsonl")

        # strict mode (the default, reference parity): the day fails
        rows_strict, _ = ingest_daily(
            spark, src, "calculator:calculationParts",
            IdentityKeyService(), "2023-05-02",
        )
        with pytest.raises(Exception):
            # collect, not count: count() prunes the payload projection
            # (even nondeterministic exprs) and would never decrypt
            rows_strict.collect()

        obs = Observation("parse_metrics2")
        dobs = Observation("decrypt_metrics")
        rows, quarantined = ingest_daily(
            spark, src, "calculator:calculationParts",
            IdentityKeyService(), "2023-05-02",
            observation=obs, permissive=True, decrypt_observation=dobs,
        )
        got = sorted((r["id"], r["val"]) for r in rows.collect())
        assert dobs.get["n_undecryptable"] == 2
        assert obs.get["n_quarantined"] == 0  # parse-level: all clean
        assert obs.get["n_envelopes"] == 8

        q = quarantined.collect()
        assert sorted(r["value"] for r in q) == sorted(
            poisoned[i] for i in bad_idx
        )
        # unlike parse-quarantined rows these have an (undecryptable)
        # dbObject -- the envelope itself was fine
        assert all(r["db_object"] is not None for r in q)

        clean_rows, _ = ingest_daily(
            spark, clean_src, "calculator:calculationParts",
            IdentityKeyService(), "2023-05-02",
        )
        bad_ids = {
            record.canonical_json(payloads[i]["_id"]) for i in bad_idx
        }
        want = sorted(
            (r["id"], r["val"])
            for r in clean_rows.collect()
            if r["id"] not in bad_ids
        )
        assert got == want

    def test_missing_db_object_quarantined(self, spark, tmp_path):
        lines, _ = make_batch(5)
        broken = json.loads(lines[0])
        broken["message"]["dbObject"] = None
        lines[0] = json.dumps(broken)
        src = _write_lines(tmp_path, lines)
        rows, quarantined = ingest_daily(
            spark, src, "calculator:calculationParts", IdentityKeyService(), "2023-05-02"
        )
        assert rows.count() == 4
        assert quarantined.count() == 1


class TestDailyWriteAndMerge:
    def test_write_read_merge_round_trip(self, spark, tmp_path):
        lines, payloads = make_batch(30, n_keys=2)
        src = _write_lines(tmp_path, lines)
        daily_path = str(tmp_path / "daily")
        snap_path = str(tmp_path / "snapshot")

        rows, _ = ingest_daily(
            spark, src, "calculator:calculationParts", IdentityKeyService(), "2023-05-02"
        )
        write_daily(rows, daily_path, fmt="parquet", compression="snappy")

        back = spark.read.parquet(daily_path)
        assert back.count() == 30
        # partition columns materialised from directory layout
        assert {"export_year", "export_month", "export_day", "id_part"} <= set(
            back.columns
        )

        # build a fake previous snapshot: same ids, all INSERT, older vals
        snapshot = back.select(
            "id",
            F.lit("INSERT").alias("db_type"),
            F.lit('{"old":true}').alias("val"),
            "id_part",
        )
        write_snapshot(snapshot, snap_path, fmt="parquet", compression="snappy")
        prev = spark.read.parquet(snap_path)

        dailies = back.select("id", "db_type", "val", "id_part")
        merged = merge_snapshot(prev, dailies)
        out = {r["id"]: r for r in merged.collect()}
        assert len(out) == 30  # one row per id

        deletes = {r["id"] for r in dailies.filter(F.col("db_type") == "DELETE").collect()}
        for rid, row in out.items():
            if rid in deletes:
                assert row["db_type"] == "DELETE"  # DELETE wins over INSERT
            else:
                assert row["db_type"] == "INSERT"

    def test_merge_new_and_disjoint_keys_survive(self, spark):
        prev = spark.createDataFrame(
            [("a", "INSERT", "old-a", "aa"), ("b", "INSERT", "old-b", "bb")],
            ["id", "db_type", "val", "id_part"],
        )
        daily = spark.createDataFrame(
            [("b", "INSERT", "new-b", "bb"), ("c", "INSERT", "new-c", "cc")],
            ["id", "db_type", "val", "id_part"],
        )
        # order by db_type then val desc as a deterministic tiebreaker:
        # duplicate INSERTs for b -> the daily (lexically larger val) wins
        merged = merge_snapshot(
            prev, daily, order_by=[F.col("db_type").asc(), F.col("val").desc()]
        )
        got = {r["id"]: r["val"] for r in merged.collect()}
        assert got == {"a": "old-a", "b": "old-b", "c": "new-c"} or got == {
            "a": "old-a",
            "b": "new-b",
            "c": "new-c",
        }
        # with the explicit tiebreaker the winner is deterministic
        assert got["b"] == "old-b"  # 'old-b' > 'new-b' lexically


class TestObserveIngest:
    def test_metrics_computed_with_action(self, spark):
        from pyspark.sql import Observation

        from dataworks_aws_corporate_data_ingestion_spark.operators.ingest import observe_ingest

        df = spark.createDataFrame(
            [("a1", "00", "INSERT"), ("b2", "01", "DELETE"), ("c3", "00", "INSERT")],
            "id string, id_part string, db_type string",
        )
        obs = Observation("ingest_metrics")
        observe_ingest(df, obs).write.format("noop").mode("overwrite").save()
        got = obs.get
        assert got["n_rows"] == 3
        assert got["n_deletes"] == 1
        assert got["n_buckets"] == 2


class TestWriteStabilize:
    def test_stabilized_write_decrypts_each_record_once(self, spark, tmp_path):
        """The range sampler executes the write input twice.  With
        stabilize=True write_daily persists across it, so the crypto chain
        decrypts each record exactly once (one key-cache lookup, hit or
        miss, per decrypt); without it the sampler reruns the chain."""
        lines, _ = make_batch(40, seed=515151, n_keys=3)
        src = _write_lines(tmp_path, lines)

        def key_lookups(stabilize: bool) -> int:
            hit_acc = spark.sparkContext.accumulator(0)
            miss_acc = spark.sparkContext.accumulator(0)
            rows, _ = ingest_daily(
                spark, src, "calculator:calculationParts",
                IdentityKeyService(), "2023-05-02",
                hit_acc=hit_acc, miss_acc=miss_acc,
            )
            out = str(tmp_path / f"daily_{stabilize}")
            write_daily(
                rows, out, fmt="parquet", compression="snappy",
                stabilize=stabilize,
            )
            assert spark.read.parquet(out).count() == 40
            return hit_acc.value + miss_acc.value

        assert key_lookups(True) == 40
        assert key_lookups(False) > 40


class TestStreamBatchParity:
    def test_stream_rows_equal_batch_rows(self, spark, tmp_path):
        """streaming_ingest_query and ingest_daily compose the same chain:
        for the same landing files their (id, val, db_type) rows match,
        and both drop the null-dbObject line."""
        from dataworks_aws_corporate_data_ingestion_spark.streaming.ingest import (
            streaming_ingest_query,
        )

        lines, _ = make_batch(20, seed=626262, delete_every=4)
        broken = json.loads(lines[3])
        broken["message"]["dbObject"] = None
        lines[3] = json.dumps(broken)
        landing = tmp_path / "landing"
        landing.mkdir()
        _write_lines(landing, lines, name="day.jsonl")

        batch_rows, _ = ingest_daily(
            spark, str(landing), "calculator:calculationParts",
            IdentityKeyService(), "2023-05-02",
        )
        want = sorted(
            (r["id"], r["val"], r["db_type"]) for r in batch_rows.collect()
        )
        assert len(want) == 19
        assert {db_type for _, _, db_type in want} == {"INSERT", "DELETE"}

        out = str(tmp_path / "stream_out")
        q = streaming_ingest_query(
            spark, str(landing), out, str(tmp_path / "ckpt"),
            "calculator:calculationParts", IdentityKeyService(),
        )
        try:
            assert q.awaitTermination(120)
        finally:
            if q.isActive:
                q.stop()
        got = sorted(
            (r["id"], r["val"], r["db_type"])
            for r in spark.read.parquet(out).collect()
        )
        assert got == want
