"""Structured-streaming paths: incremental file ingest (exactly-once),
watermarked windows (stream==batch), and custom stateful dedup."""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F

from dataworks_aws_corporate_data_ingestion_spark.functions.crypto import IdentityKeyService
from dataworks_aws_corporate_data_ingestion_spark.streaming.ingest import (
    streaming_ingest_query,
)
from dataworks_aws_corporate_data_ingestion_spark.streaming.windows import (
    apply_stateful_dedup,
    windowed_event_counts,
)

from tests.fixtures import make_batch


class TestStreamingIngest:
    def test_incremental_exactly_once(self, spark, tmp_path):
        src = tmp_path / "landing"
        src.mkdir()
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        lines1, _ = make_batch(10, seed=1)
        (src / "day1.jsonl").write_text("\n".join(lines1) + "\n")

        q = streaming_ingest_query(
            spark, str(src), out, ckpt, "calculator:calculationParts", IdentityKeyService()
        )
        q.awaitTermination(120)
        assert spark.read.parquet(out).count() == 10

        # second landing: only the new file is processed on restart
        lines2, _ = make_batch(7, seed=2)
        (src / "day2.jsonl").write_text("\n".join(lines2) + "\n")
        q2 = streaming_ingest_query(
            spark, str(src), out, ckpt, "calculator:calculationParts", IdentityKeyService()
        )
        q2.awaitTermination(120)
        result = spark.read.parquet(out)
        assert result.count() == 17
        # every row canonical + flagged
        assert result.filter(F.col("db_type").isin("INSERT", "DELETE")).count() == 17


class TestWindowedCounts:
    def test_stream_equals_batch(self, spark, tmp_path):
        from dataworks_aws_corporate_data_ingestion_spark.sources.tables import load_table

        events = load_table(spark, "events", "/root/testdata/sf0.001")
        events_path = str(tmp_path / "events_parquet")
        events.write.parquet(events_path)

        batch_out = windowed_event_counts(events).collect()

        stream = spark.readStream.schema(
            spark.read.parquet(events_path).schema
        ).parquet(events_path)
        sq = (
            windowed_event_counts(stream)
            .writeStream.format("memory")
            .queryName("win_counts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination(120)
        stream_out = spark.sql("select * from win_counts").collect()

        key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
        got = {key(r): (r["n_events"], r["total_value"]) for r in stream_out}
        want = {key(r): (r["n_events"], r["total_value"]) for r in batch_out}
        assert got == want
        assert len(want) > 0


class TestStatefulDedup:
    def test_high_water_mark_across_microbatches(self, spark, tmp_path):
        src = tmp_path / "stream"
        src.mkdir()
        rows1 = [{"user_id": 1, "event_id": i, "event_type": "a"} for i in range(5)]
        rows2 = [
            {"user_id": 1, "event_id": i, "event_type": "a"} for i in range(3, 9)
        ]  # 3,4 are replays
        (src / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in rows1))
        time.sleep(1.1)  # distinct mtimes -> deterministic file order
        (src / "b2.jsonl").write_text("\n".join(json.dumps(r) for r in rows2))

        stream = (
            spark.readStream.schema("user_id bigint, event_id bigint, event_type string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        sq = (
            apply_stateful_dedup(stream)
            .writeStream.format("memory")
            .queryName("dedup_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination(120)
        out = spark.sql("select * from dedup_out").collect()
        ids = sorted(r["event_id"] for r in out)
        assert ids == list(range(9))  # 0..8 each exactly once


class TestSessionWindows:
    def test_session_window_matches_batch_sessionize(self, spark):
        from dataworks_aws_corporate_data_ingestion_spark.operators.sessions import sessionize
        from dataworks_aws_corporate_data_ingestion_spark.streaming.windows import (
            session_window_counts,
        )
        from dataworks_aws_corporate_data_ingestion_spark.sources.tables import load_table

        e = load_table(spark, "events", "/root/testdata/sf0.001").select(
            "user_id", "ts", "event_id"
        )
        native = session_window_counts(e, gap="30 minutes")
        batch = (
            sessionize(e, "user_id", "ts", gap_minutes=30, tiebreak="event_id")
            .groupBy("user_id", "session_no")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        # same multiset of (user, session-event-count): the two algorithms
        # must carve identical session boundaries
        got = sorted((r["user_id"], r["n_events"]) for r in native.collect())
        want = sorted((r["user_id"], r["n_events"]) for r in batch.collect())
        assert got == want and len(got) > 0


class TestContinuousRollup:
    def test_incremental_equals_batch_recompute(self, spark, tmp_path):
        import datetime as dt

        from dataworks_aws_corporate_data_ingestion_spark.streaming.rollup import (
            continuous_rollup_query,
        )

        delta_dir = tmp_path / "events"
        rollup_dir = str(tmp_path / "rollup")
        ckpt = str(tmp_path / "ckpt")
        delta_dir.mkdir()

        def batch(rows):
            spark.createDataFrame(
                rows,
                "event_id bigint, ts timestamp, user_id bigint,"
                " event_type string, value double",
            ).write.mode("append").parquet(str(delta_dir))

        t0 = dt.datetime(2024, 1, 1, 10, 15)
        t1 = dt.datetime(2024, 1, 1, 11, 45)
        batch([(1, t0, 1, "view", 2.0), (2, t0, 2, "click", 1.0)])
        q = continuous_rollup_query(spark, str(delta_dir), rollup_dir, ckpt)
        q.awaitTermination(120)
        # second delta touches an existing window AND a new one
        batch([(3, t0, 3, "view", 5.0), (4, t1, 1, "view", 7.0)])
        q = continuous_rollup_query(spark, str(delta_dir), rollup_dir, ckpt)
        q.awaitTermination(120)

        got = {
            (r["window_start"].hour, r["event_type"]): (
                r["n_events"],
                float(r["sum_value"]),
            )
            for r in spark.read.parquet(rollup_dir).collect()
        }
        assert got == {
            (10, "view"): (2, 7.0),
            (10, "click"): (1, 1.0),
            (11, "view"): (1, 7.0),
        }

    def test_replayed_batch_is_a_noop(self, spark, tmp_path):
        """foreachBatch is at-least-once: a crash after the atomic swap but
        before the checkpoint commit re-delivers the SAME batch_id.  The
        additive merge must not double-count, so the applier skips ids
        already recorded by the swap's _meta.json."""
        import datetime as dt

        from dataworks_aws_corporate_data_ingestion_spark.streaming.rollup import (
            last_applied_batch_id,
            rollup_batch_applier,
        )

        rollup_dir = str(tmp_path / "rollup")
        t0 = dt.datetime(2024, 1, 1, 10, 15)
        df = spark.createDataFrame(
            [(1, t0, 1, "view", 2.0), (2, t0, 2, "view", 3.0)],
            "event_id bigint, ts timestamp, user_id bigint,"
            " event_type string, value double",
        )
        apply_batch = rollup_batch_applier(spark, rollup_dir, "1 hour")

        apply_batch(df, 0)
        first = spark.read.parquet(rollup_dir).collect()
        assert last_applied_batch_id(rollup_dir) == 0

        apply_batch(df, 0)  # replay: must be a no-op
        assert spark.read.parquet(rollup_dir).collect() == first

        apply_batch(df, 1)  # genuinely new batch still merges additively
        row = spark.read.parquet(rollup_dir).collect()[0]
        assert row["n_events"] == 4 and float(row["sum_value"]) == 10.0
        assert last_applied_batch_id(rollup_dir) == 1


class TestStatefulAnomaly:
    def test_state_carries_across_micro_batches(self, spark, tmp_path):
        """Batch 1 builds each user's baseline; batch 2's outlier must be
        judged against state restored via the checkpoint -- proving the
        applyInPandasWithState state survives across runs."""
        import datetime as dt

        from dataworks_aws_corporate_data_ingestion_spark.streaming.stateful import (
            zscore_alert_query,
        )

        delta_dir = tmp_path / "events"
        out_dir = str(tmp_path / "alerts")
        ckpt = str(tmp_path / "ckpt")
        delta_dir.mkdir()
        t0 = dt.datetime(2024, 1, 1, 10, 0)

        def batch(rows):
            spark.createDataFrame(
                rows,
                "event_id bigint, ts timestamp, user_id bigint,"
                " event_type string, value double",
            ).write.mode("append").parquet(str(delta_dir))

        # baseline: 12 calm events for user 1, values 10 +/- 1
        batch(
            [
                (i, t0 + dt.timedelta(minutes=i), 1, "view", 10.0 + (i % 3 - 1))
                for i in range(12)
            ]
        )
        q = zscore_alert_query(spark, str(delta_dir), out_dir, ckpt, k=3.0, min_n=10)
        q.awaitTermination(120)

        # batch 2: one outlier and one calm event
        batch(
            [
                (100, t0 + dt.timedelta(hours=1), 1, "view", 50.0),
                (101, t0 + dt.timedelta(hours=1, minutes=1), 1, "view", 10.0),
            ]
        )
        q = zscore_alert_query(spark, str(delta_dir), out_dir, ckpt, k=3.0, min_n=10)
        q.awaitTermination(120)

        alerts = spark.read.parquet(out_dir).collect()
        assert [r["event_id"] for r in alerts] == [100]
        a = alerts[0]
        assert a["user_id"] == 1 and a["value"] == 50.0
        assert a["n_before"] == 12  # the full batch-1 history was in state
        assert abs(a["mean_before"] - 10.0) < 0.1

    def test_no_alerts_below_min_history(self, spark, tmp_path):
        import datetime as dt

        from dataworks_aws_corporate_data_ingestion_spark.streaming.stateful import (
            zscore_alert_query,
        )

        delta_dir = tmp_path / "e2"
        delta_dir.mkdir()
        t0 = dt.datetime(2024, 1, 1)
        spark.createDataFrame(
            [(i, t0, 7, "view", 10.0 if i < 5 else 99.0) for i in range(6)],
            "event_id bigint, ts timestamp, user_id bigint,"
            " event_type string, value double",
        ).write.mode("append").parquet(str(delta_dir))
        q = zscore_alert_query(
            spark, str(delta_dir), str(tmp_path / "a2"), str(tmp_path / "c2"),
            min_n=10,
        )
        q.awaitTermination(120)
        import os

        files = [f for f in os.listdir(tmp_path / "a2") if f.endswith(".parquet")]
        assert (
            not files
            or spark.read.parquet(str(tmp_path / "a2")).count() == 0
        )


class TestDedupAdmission:
    BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 12
    OTHER = "totally different unrelated words here " * 15
    THIRD = "yet another fully distinct document body " * 15

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def test_cross_batch_admission(self, spark):
        """Batch 2 must dedup against batch 1's admitted docs (the index
        is the cross-batch state), and within a batch the smallest id
        survives."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.dedup import (
            materialize_minhash_index,
        )
        from dataworks_aws_corporate_data_ingestion_spark.streaming.dedup_admission import (
            admit_batch,
        )

        try:
            corpus = self._docs(spark, [(1, self.BASE)])
            materialize_minhash_index(spark, corpus, "t_adm", n_buckets=4)

            batch1 = self._docs(
                spark,
                [
                    (10, self.BASE),    # dup of indexed corpus -> reject
                    (11, self.OTHER),   # new -> admit
                    (12, self.OTHER),   # dup of batchmate 11 -> reject
                ],
            )
            got1 = sorted(
                r.doc_id for r in admit_batch(spark, batch1, "t_adm").collect()
            )
            assert got1 == [11]

            batch2 = self._docs(
                spark,
                [
                    (20, self.OTHER),   # dup of batch-1 admit -> reject
                    (21, self.THIRD),   # new -> admit
                ],
            )
            got2 = sorted(
                r.doc_id for r in admit_batch(spark, batch2, "t_adm").collect()
            )
            assert got2 == [21]
            # index now holds corpus + both admissions
            ids = sorted(
                r.doc_id
                for r in spark.table("t_adm_shingles").select("doc_id").collect()
            )
            assert ids == [1, 11, 21]
        finally:
            for t in ("t_adm_shingles", "t_adm_buckets"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_replay_idempotence(self, spark, tmp_path):
        """At-least-once replay of an applied batch must converge: same
        admitted files (per-batch overwrite), no duplicate index rows,
        previously-admitted docs pass through instead of colliding with
        their own indexed copies."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.dedup import (
            materialize_minhash_index,
        )
        from dataworks_aws_corporate_data_ingestion_spark.streaming.dedup_admission import (
            dedup_admission_applier,
        )

        out = tmp_path / "admitted"
        try:
            materialize_minhash_index(
                spark, self._docs(spark, [(1, self.BASE)]), "t_adm3", n_buckets=4
            )
            apply_ = dedup_admission_applier(spark, "t_adm3", str(out))
            batch = self._docs(
                spark, [(10, self.BASE), (11, self.OTHER), (12, self.OTHER)]
            )
            apply_(batch, 0)
            assert sorted(
                r.doc_id for r in spark.read.parquet(str(out)).collect()
            ) == [11]

            apply_(batch, 0)  # redelivery of the same micro-batch
            assert sorted(
                r.doc_id for r in spark.read.parquet(str(out)).collect()
            ) == [11]
            shingle_ids = sorted(
                r.doc_id for r in spark.table("t_adm3_shingles").collect()
            )
            assert shingle_ids == [1, 11]  # no duplicate index rows
            dup_buckets = (
                spark.table("t_adm3_buckets")
                .groupBy("doc_id", "band_id")
                .count()
                .filter("count > 1")
                .count()
            )
            assert dup_buckets == 0
        finally:
            for t in ("t_adm3_shingles", "t_adm3_buckets"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_foreachbatch_stream_end_to_end(self, spark, tmp_path):
        """The real streaming surface: a file stream of document batches
        through foreachBatch admission; admitted output and final index
        match the sequential-batch semantics."""
        import time

        from dataworks_aws_corporate_data_ingestion_spark.operators.dedup import (
            materialize_minhash_index,
        )
        from dataworks_aws_corporate_data_ingestion_spark.streaming.dedup_admission import (
            dedup_admission_applier,
        )

        src = tmp_path / "src"
        out = tmp_path / "admitted"
        try:
            materialize_minhash_index(
                spark, self._docs(spark, [(1, self.BASE)]), "t_adm2", n_buckets=4
            )
            self._docs(
                spark, [(10, self.BASE), (11, self.OTHER), (12, self.OTHER)]
            ).write.parquet(str(src), mode="append")
            stream = (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", "1000")
                .parquet(str(src))
            )
            q = (
                stream.writeStream.foreachBatch(
                    dedup_admission_applier(spark, "t_adm2", str(out))
                )
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            admitted = sorted(
                r.doc_id for r in spark.read.parquet(str(out)).collect()
            )
            assert admitted == [11]
        finally:
            for t in ("t_adm2_shingles", "t_adm2_buckets"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_foreachbatch_cross_batch_rejection(self, spark, tmp_path):
        """Two micro-batches through the real foreachBatch surface: the
        second batch's near-copy of a batch-1 admission must be
        rejected.  Regression for the cloned-session staleness bug
        (same class as the span/LM twins): without the explicit state
        refresh, batch 2 deduped against a stale empty index and
        re-admitted the duplicate."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.dedup import (
            materialize_minhash_index,
        )
        from dataworks_aws_corporate_data_ingestion_spark.streaming.dedup_admission import (
            dedup_admission_applier,
        )

        src = tmp_path / "src"
        src.mkdir()
        out = tmp_path / "admitted"
        try:
            materialize_minhash_index(
                spark,
                spark.createDataFrame([], "doc_id bigint, text string"),
                "t_adm3",
                n_buckets=4,
            )
            self._docs(spark, [(20, self.OTHER)]).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(src / "day0"))
            self._docs(spark, [(21, self.OTHER), (22, self.BASE)]).coalesce(
                1
            ).write.mode("overwrite").parquet(str(src / "day1"))
            stream = (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(str(src / "day*"))
            )
            q = (
                stream.writeStream.foreachBatch(
                    dedup_admission_applier(spark, "t_adm3", str(out))
                )
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            admitted = sorted(
                r.doc_id for r in spark.read.parquet(str(out)).collect()
            )
            # whichever batch carried doc 20 vs 21: exactly one of the
            # two OTHER copies survives, plus the unrelated BASE doc
            assert admitted in ([20, 22], [21, 22])
            idx = sorted(
                r.doc_id
                for r in spark.table("t_adm3_shingles")
                .select("doc_id")
                .collect()
            )
            assert idx == admitted
        finally:
            for t in ("t_adm3_shingles", "t_adm3_buckets"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestStreamingBatchHandoff:
    """Stream and weekly batch merge sharing one export lineage through the
    state store (streaming/merge.py handoff <-> plans/runner.py run_update)."""

    PRODUCT = "CDI-calculator:calculationParts"

    def _rows(self, spark, *triples):
        return spark.createDataFrame(
            [(i, t, v, i[:2]) for i, t, v in triples],
            "id string, db_type string, val string, id_part string",
        )

    def _run_stream(self, spark, tmp_path):
        from dataworks_aws_corporate_data_ingestion_spark.streaming.merge import (
            streaming_handoff_query,
        )

        q = streaming_handoff_query(
            spark,
            str(tmp_path / "deltas"),
            str(tmp_path / "ckpt"),
            state_path=str(tmp_path / "state.jsonl"),
            collection="calculator:calculationParts",
            exports_root=str(tmp_path / "exports"),
            as_of="2023-06-01",
        )
        q.awaitTermination(120)

    def test_stream_batches_chain_through_state_store(self, spark, tmp_path):
        from dataworks_aws_corporate_data_ingestion_spark.plans.state import (
            LocalStateStore,
        )

        (tmp_path / "deltas").mkdir()
        self._rows(
            spark, ("aa1", "INSERT", "v1"), ("bb2", "INSERT", "v2")
        ).write.mode("append").parquet(str(tmp_path / "deltas"))
        self._run_stream(spark, tmp_path)

        self._rows(
            spark, ("aa1", "DELETE", "v1"), ("cc3", "INSERT", "v3")
        ).write.mode("append").parquet(str(tmp_path / "deltas"))
        self._run_stream(spark, tmp_path)

        store = LocalStateStore(str(tmp_path / "state.jsonl"))
        latest = store.latest_completed_export(self.PRODUCT)
        assert latest is not None and latest.export_prefix.endswith(
            "2023-06-01.b000001"
        )
        snap = {
            r["id"]: r["db_type"]
            for r in spark.read.parquet(latest.export_prefix).collect()
        }
        assert snap == {"aa1": "DELETE", "bb2": "INSERT", "cc3": "INSERT"}

    def test_batch_run_update_builds_on_stream_export(self, spark, tmp_path):
        from dataworks_aws_corporate_data_ingestion_spark.plans.runner import (
            CollectionSpec,
            EngineConfig,
            run_update,
        )
        from dataworks_aws_corporate_data_ingestion_spark.plans.state import (
            LocalStateStore,
        )
        from dataworks_aws_corporate_data_ingestion_spark.sinks.writers import (
            write_daily,
        )

        (tmp_path / "deltas").mkdir()
        self._rows(
            spark, ("aa1", "INSERT", "v1"), ("bb2", "INSERT", "v2")
        ).write.mode("append").parquet(str(tmp_path / "deltas"))
        self._run_stream(spark, tmp_path)

        # a daily lands AFTER the stream's as_of date, then the weekly merge.
        # bb2 arrives as a DELETE: deterministic winner over the snapshot's
        # INSERT (INSERT-vs-INSERT ties are reference-tolerated nondeterminism)
        daily = self._rows(
            spark, ("bb2", "DELETE", "v9"), ("dd4", "INSERT", "v4")
        ).select(
            "*",
            F.lit(2023).alias("export_year"),
            F.lit(6).alias("export_month"),
            F.lit(2).alias("export_day"),
        ).select(
            "id", "db_type", "val", "export_year", "export_month",
            "export_day", "id_part",
        )
        write_daily(
            daily,
            str(tmp_path / "daily"),
            fmt="parquet",
            compression="snappy",
            stabilize=False,
        )

        cfg = EngineConfig(
            correlation_id="weekly",
            start_date="2023-06-02",
            end_date="2023-06-02",
            collection=CollectionSpec(
                name="calculator:calculationParts",
                source_root=str(tmp_path / "landing"),
                output_root=str(tmp_path / "daily"),
                exports_root=str(tmp_path / "exports"),
            ),
            state_path=str(tmp_path / "state.jsonl"),
        )
        new_prefix = run_update(spark, cfg, as_of="2023-06-02")
        assert new_prefix == str(tmp_path / "exports") + "/2023-06-02"
        snap = {
            r["id"]: (r["db_type"], r["val"])
            for r in spark.read.parquet(new_prefix).collect()
        }
        # stream-era keys survive; the daily's tombstone and new key land
        assert snap == {
            "aa1": ("INSERT", "v1"),
            "bb2": ("DELETE", "v9"),
            "dd4": ("INSERT", "v4"),
        }
        # and a FRESH stream bootstraps from the weekly export in turn
        latest = LocalStateStore(str(tmp_path / "state.jsonl")).latest_completed_export(
            self.PRODUCT
        )
        assert latest.export_prefix == new_prefix

    def test_replay_is_noop_and_failure_keeps_pointer(
        self, spark, tmp_path, monkeypatch
    ):
        import dataworks_aws_corporate_data_ingestion_spark.plans.runner as runner
        import dataworks_aws_corporate_data_ingestion_spark.streaming.merge as sm
        from dataworks_aws_corporate_data_ingestion_spark.plans.state import (
            LocalStateStore,
        )

        state = str(tmp_path / "state.jsonl")
        kw = dict(
            state_path=state,
            collection="calculator:calculationParts",
            exports_root=str(tmp_path / "exports"),
            as_of="2023-06-01",
        )
        b0 = self._rows(spark, ("aa1", "INSERT", "v1"))
        p0 = sm.apply_handoff_batch(spark, b0, 0, **kw)
        store = LocalStateStore(state)
        n_lines = len(open(state).readlines())

        # replay of the same (batch_id, as_of): no merge, no state churn
        assert sm.apply_handoff_batch(spark, b0, 0, **kw) == p0
        assert len(open(state).readlines()) == n_lines

        # a failing batch must NOT clobber the last COMPLETED pointer
        def _boom(*a, **k):
            raise RuntimeError("disk full")

        # the export step the stream shares with run_update writes through
        # plans.runner's write_snapshot
        monkeypatch.setattr(runner, "write_snapshot", _boom)
        b1 = self._rows(spark, ("bb2", "INSERT", "v2"))
        try:
            sm.apply_handoff_batch(spark, b1, 1, **kw)
            raise AssertionError("expected failure")
        except RuntimeError:
            pass
        monkeypatch.undo()
        assert store.latest_completed_export(self.PRODUCT).export_prefix == p0

        # the retry lands batch 1 on top of batch 0
        p1 = sm.apply_handoff_batch(spark, b1, 1, **kw)
        snap = {r["id"] for r in spark.read.parquet(p1).collect()}
        assert snap == {"aa1", "bb2"}


class TestStreamStreamIntervalJoin:
    def test_stream_equals_batch(self, spark, tmp_path):
        """The watermarked stream-stream interval join must emit exactly
        the pair set the batch twin (oracle-certified
        purchases_attributed_views) computes."""
        from dataworks_aws_corporate_data_ingestion_spark.sources.tables import load_table
        from dataworks_aws_corporate_data_ingestion_spark.streaming.joins import (
            interval_join_attribution,
        )

        events = load_table(spark, "events", "/root/testdata/sf0.001")
        path = str(tmp_path / "events_parquet")
        events.write.parquet(path)

        views_b = events.filter(F.col("event_type") == "view")
        purch_b = events.filter(F.col("event_type") == "purchase")
        batch = {
            (r["view_id"], r["purchase_id"])
            for r in interval_join_attribution(views_b, purch_b).collect()
        }
        assert len(batch) > 0

        schema = spark.read.parquet(path).schema
        stream = spark.readStream.schema(schema).parquet(path)
        sq = (
            interval_join_attribution(
                stream.filter(F.col("event_type") == "view"),
                stream.filter(F.col("event_type") == "purchase"),
            )
            .writeStream.format("memory")
            .queryName("attrib_pairs")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination(120)
        got = {
            (r["view_id"], r["purchase_id"])
            for r in spark.sql("select * from attrib_pairs").collect()
        }
        assert got == batch

    def test_streaming_plan_has_bounded_state(self, spark, tmp_path):
        """Both sides must carry watermarks into the stream-stream join
        (the condition under which Spark can evict buffered rows); an
        unwatermarked interval join would accumulate state forever."""
        from dataworks_aws_corporate_data_ingestion_spark.sources.tables import load_table
        from dataworks_aws_corporate_data_ingestion_spark.streaming.joins import (
            interval_join_attribution,
        )

        events = load_table(spark, "events", "/root/testdata/sf0.001")
        path = str(tmp_path / "ev")
        events.write.parquet(path)
        stream = spark.readStream.schema(
            spark.read.parquet(path).schema
        ).parquet(path)
        joined = interval_join_attribution(
            stream.filter(F.col("event_type") == "view"),
            stream.filter(F.col("event_type") == "purchase"),
        )
        plan = joined._jdf.queryExecution().analyzed().toString()
        assert plan.count("EventTimeWatermark") == 2

    def test_left_outer_keeps_unattributed_views(self, spark):
        from dataworks_aws_corporate_data_ingestion_spark.sources.tables import load_table
        from dataworks_aws_corporate_data_ingestion_spark.streaming.joins import (
            interval_join_attribution,
        )

        events = load_table(spark, "events", "/root/testdata/sf0.001")
        views = events.filter(F.col("event_type") == "view")
        out = interval_join_attribution(
            views,
            events.filter(F.col("event_type") == "purchase"),
            how="leftOuter",
        )
        # every view appears; those without a purchase in the horizon
        # carry nulls
        assert out.select("view_id").distinct().count() == views.count()
        assert out.filter(F.col("purchase_id").isNull()).count() > 0

    def test_stream_batch_mixed_sides(self, spark, tmp_path):
        """One streaming side + one batch side: the streaming side must
        get its watermark (and only it), each side cast by its own
        dtype, and the emitted pairs must match the all-batch twin."""
        from dataworks_aws_corporate_data_ingestion_spark.sources.tables import load_table
        from dataworks_aws_corporate_data_ingestion_spark.streaming.joins import (
            interval_join_attribution,
        )

        events = load_table(spark, "events", "/root/testdata/sf0.001")
        path = str(tmp_path / "ev_mixed")
        events.write.parquet(path)
        views_b = events.filter(F.col("event_type") == "view")
        purch_b = events.filter(F.col("event_type") == "purchase")
        batch = {
            (r["view_id"], r["purchase_id"])
            for r in interval_join_attribution(views_b, purch_b).collect()
        }

        stream = spark.readStream.schema(
            spark.read.parquet(path).schema
        ).parquet(path)
        joined = interval_join_attribution(
            stream.filter(F.col("event_type") == "view"),
            purch_b,  # batch side
        )
        plan = joined._jdf.queryExecution().analyzed().toString()
        assert plan.count("EventTimeWatermark") == 1
        sq = (
            joined.writeStream.format("memory")
            .queryName("attrib_mixed")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination(120)
        got = {
            (r["view_id"], r["purchase_id"])
            for r in spark.sql("select * from attrib_mixed").collect()
        }
        assert got == batch


class TestStatefulSequenceMatch:
    def test_stream_matches_batch_fold_across_restarts(self, spark, tmp_path):
        """Two time-ordered micro-batches through the automaton state
        store (with a checkpoint restart between them) must land on the
        same (n_matches, pending_stage) as the batch Catalyst fold over
        the full history (user_sequence_match_counts semantics)."""
        from dataworks_aws_corporate_data_ingestion_spark.sources.tables import load_table
        from dataworks_aws_corporate_data_ingestion_spark.streaming.stateful import (
            sequence_match_query,
        )
        from dataworks_aws_corporate_data_ingestion_spark.workload import QUERIES

        events = load_table(spark, "events", "/root/testdata/sf0.001").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        cutoff = events.selectExpr(
            "timestampadd(MICROSECOND,"
            " CAST(percentile(timestampdiff(MICROSECOND,"
            "   TIMESTAMP_NTZ '1970-01-01 00:00:00', ts), 0.5) AS BIGINT),"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00') as m"
        ).first()["m"]

        delta_dir = tmp_path / "seq_events"
        delta_dir.mkdir()
        out_dir = str(tmp_path / "seq_out")
        ckpt = str(tmp_path / "seq_ckpt")
        # batch 1: early half; batch 2: late half (cross-batch arrival
        # order == event-time order, the streaming contract)
        events.filter(F.col("ts") <= F.lit(cutoff)).write.mode("append").parquet(
            str(delta_dir)
        )
        q = sequence_match_query(spark, str(delta_dir), out_dir, ckpt)
        q.awaitTermination(120)
        events.filter(F.col("ts") > F.lit(cutoff)).write.mode("append").parquet(
            str(delta_dir)
        )
        q = sequence_match_query(spark, str(delta_dir), out_dir, ckpt)
        q.awaitTermination(120)

        out = spark.read.parquet(out_dir)
        # the current total per user is the max (n_matches, pending_stage)
        # struct: n_matches is monotone across batches, and at equal
        # n_matches the stage only advances, so the max IS the latest
        latest = (
            out.groupBy("user_id")
            .agg(F.max(F.struct("n_matches", "pending_stage")).alias("s"))
            .select("user_id", "s.n_matches", "s.pending_stage")
        )
        expected = QUERIES["user_sequence_match_counts"].fn(
            spark, "/root/testdata/sf0.001"
        )
        got = {r["user_id"]: (r["n_matches"], r["pending_stage"]) for r in latest.collect()}
        want = {
            r["user_id"]: (r["n_matches"], r["pending_stage"])
            for r in expected.collect()
        }
        assert got == want


class TestBuiltinWatermarkDedup:
    def test_drop_duplicates_within_watermark(self, spark, tmp_path):
        """The built-in bounded-state streaming dedup: duplicate event
        ids arriving within the watermark are dropped, and state for
        expired keys is reclaimed (vs dropDuplicates, whose state grows
        forever).  Complements the custom applyInPandasWithState dedup
        (streaming/windows.py) for the plain exactly-one-per-key case."""
        import datetime as dt

        src = tmp_path / "dd_events"
        src.mkdir()
        out = "dd_wm_out"
        t0 = dt.datetime(2024, 1, 1, 10, 0)
        rows = [
            (1, t0, 10.0),
            (1, t0 + dt.timedelta(minutes=1), 11.0),   # dup id within wm
            (2, t0 + dt.timedelta(minutes=2), 20.0),
            (2, t0 + dt.timedelta(minutes=3), 21.0),   # dup id within wm
            (3, t0 + dt.timedelta(minutes=4), 30.0),
        ]
        spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, value double"
        ).write.parquet(str(src / "b1"))
        stream = spark.readStream.schema(
            "event_id bigint, ts timestamp, value double"
        ).parquet(str(src / "*"))
        deduped = (
            stream.withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        q = (
            deduped.writeStream.format("memory")
            .queryName(out)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql(f"select event_id, value from {out}").collect()
        # exactly one survivor per id.  Within a single micro-batch the
        # kept row is ARBITRARY (no cross-row order exists until rows
        # hit the state store), so assert membership, not which dup won
        # -- asserting first-arrival here is flaky under parallelism.
        by_id = {}
        for r in got:
            assert r["event_id"] not in by_id, "duplicate survived"
            by_id[r["event_id"]] = r["value"]
        assert set(by_id) == {1, 2, 3}
        allowed = {1: {10.0, 11.0}, 2: {20.0, 21.0}, 3: {30.0}}
        assert all(by_id[k] in allowed[k] for k in by_id)


class TestEventTimeTimeoutSessions:
    SCHEMA = (
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double"
    )

    def _batch(self, spark, delta_dir, rows):
        spark.createDataFrame(rows, self.SCHEMA).write.mode("append").parquet(
            str(delta_dir)
        )

    def test_gap_close_and_timeout_close(self, spark, tmp_path):
        """Sessions close two ways: an over-gap successor event (emitted
        in-batch) and EVENT-TIME TIMEOUT for keys that go silent (emitted
        when the watermark passes last+gap).  The timeout path is the one
        a NoTimeout operator can never take -- state for idle keys would
        live forever."""
        import datetime as dt

        from dataworks_aws_corporate_data_ingestion_spark.streaming.session_state import (
            session_finalizer_query,
        )

        delta = tmp_path / "events"
        out = str(tmp_path / "sessions")
        ckpt = str(tmp_path / "ckpt")
        delta.mkdir()
        t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731

        # batch 1: user 1 two close events; user 2 one event
        self._batch(
            spark,
            delta,
            [
                (1, t(10, 0), 1, "view", 1.0),
                (2, t(10, 10), 1, "view", 1.0),
                (3, t(10, 5), 2, "view", 1.0),
            ],
        )
        q = session_finalizer_query(spark, str(delta), out, ckpt)
        q.awaitTermination(120)

        # batch 2: user 1 again far past the gap -> closes user 1's first
        # session in-batch AND advances the watermark to 11:50
        self._batch(spark, delta, [(4, t(12, 0), 1, "view", 1.0)])
        q = session_finalizer_query(spark, str(delta), out, ckpt)
        q.awaitTermination(120)

        # batch 3: unrelated user keeps the stream moving; with the
        # watermark now at 11:50 > 10:05+30min, user 2's idle session
        # MUST be finalised by timeout in this batch
        self._batch(spark, delta, [(5, t(12, 30), 3, "view", 1.0)])
        q = session_finalizer_query(spark, str(delta), out, ckpt)
        q.awaitTermination(120)

        got = {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.read.parquet(out).collect()
        }
        assert (1, t(10, 0), t(10, 10), 2) in got  # gap-closed
        assert (2, t(10, 5), t(10, 5), 1) in got  # timeout-closed
        # user 1's 12:00 session and user 3's are still open: not emitted
        assert all(u != 3 for u, *_ in got)
        assert len(got) == 2


class TestSpanAdmission:
    SHARED = " ".join(f"s{i}" for i in range(12))

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def _cleanup(self, spark, prefix):
        for t in (f"{prefix}_grams", f"{prefix}_spandocs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_cross_batch_masking(self, spark):
        """Batch 2's copy of a batch-1 passage must be masked even
        though no single batch contains it twice."""
        from dataworks_aws_corporate_data_ingestion_spark.streaming.span_admission import (
            admit_span_batch,
            init_span_index,
        )

        try:
            init_span_index(spark, "t_span1", n_buckets=4)
            uniq1 = " ".join(f"a{i}" for i in range(20))
            b1 = self._docs(
                spark, [(1, self.SHARED + " " + uniq1)]
            )
            out1 = {r.doc_id: r for r in admit_span_batch(spark, b1, "t_span1").collect()}
            # nothing else seen: no masking yet
            assert out1[1].n_dup_spans == 0

            uniq2 = " ".join(f"b{i}" for i in range(20))
            b2 = self._docs(
                spark, [(2, self.SHARED + " " + uniq2)]
            )
            out2 = {r.doc_id: r for r in admit_span_batch(spark, b2, "t_span1").collect()}
            assert out2[2].n_dup_spans == 1
            assert out2[2].dup_tokens == 12
            assert out2[2].clean_text == uniq2
        finally:
            self._cleanup(spark, "t_span1")

    def test_replayed_batch_converges(self, spark):
        """Re-admitting an already-admitted batch (at-least-once replay)
        yields the SAME masked output and appends nothing."""
        from dataworks_aws_corporate_data_ingestion_spark.streaming.span_admission import (
            admit_span_batch,
            init_span_index,
        )

        try:
            init_span_index(spark, "t_span2", n_buckets=4)
            uniq = " ".join(f"c{i}" for i in range(20))
            b1 = self._docs(spark, [(1, self.SHARED + " " + uniq)])
            first = sorted(
                tuple(r) for r in admit_span_batch(spark, b1, "t_span2").collect()
            )
            n_gram_rows = spark.table("t_span2_grams").count()
            replay = sorted(
                tuple(r) for r in admit_span_batch(spark, b1, "t_span2").collect()
            )
            assert replay == first
            assert spark.table("t_span2_grams").count() == n_gram_rows
            assert spark.table("t_span2_spandocs").count() == 1
        finally:
            self._cleanup(spark, "t_span2")

    def test_within_batch_duplication_still_masks(self, spark):
        from dataworks_aws_corporate_data_ingestion_spark.streaming.span_admission import (
            admit_span_batch,
            init_span_index,
        )

        try:
            init_span_index(spark, "t_span3", n_buckets=4)
            b = self._docs(spark, [(1, self.SHARED), (2, self.SHARED)])
            out = {r.doc_id: r for r in admit_span_batch(spark, b, "t_span3").collect()}
            assert out[1].clean_text == "" and out[2].clean_text == ""
        finally:
            self._cleanup(spark, "t_span3")

    def test_foreachbatch_stream_writes_batch_dirs(self, spark, tmp_path):
        from dataworks_aws_corporate_data_ingestion_spark.streaming.span_admission import (
            init_span_index,
            span_admission_applier,
        )

        try:
            init_span_index(spark, "t_span4", n_buckets=4)
            src = tmp_path / "src"
            src.mkdir()
            out = tmp_path / "masked"
            ckpt = tmp_path / "ckpt"
            uniq = " ".join(f"d{i}" for i in range(20))
            self._docs(spark, [(1, self.SHARED + " " + uniq)]).write.mode(
                "overwrite"
            ).parquet(str(src / "day1"))
            stream = (
                spark.readStream.schema("doc_id bigint, text string")
                .parquet(str(src / "day1"))
            )
            q = (
                stream.writeStream.foreachBatch(
                    span_admission_applier(spark, "t_span4", str(out))
                )
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            got = spark.read.parquet(str(out / "batch_id=0"))
            assert got.count() == 1
            assert got.collect()[0].n_dup_spans == 0
        finally:
            self._cleanup(spark, "t_span4")

    def test_compaction_preserves_counts_and_tokens(self, spark):
        """compact_span_index folds partials to one row per gram but
        must keep the logical counts AND the batch_token commit markers
        -- a replayed batch after compaction still heals as a ledgered
        replay, and fresh admission continues normally."""
        from dataworks_aws_corporate_data_ingestion_spark.streaming.span_admission import (
            admit_span_batch,
            compact_span_index,
            init_span_index,
            read_gram_counts,
        )

        try:
            init_span_index(spark, "t_span6", n_buckets=4)
            uniq1 = " ".join(f"h{i}" for i in range(20))
            uniq2 = " ".join(f"i{i}" for i in range(20))
            b1 = self._docs(spark, [(1, self.SHARED + " " + uniq1)])
            b2 = self._docs(spark, [(2, self.SHARED + " " + uniq2)])
            admit_span_batch(spark, b1, "t_span6")
            admit_span_batch(spark, b2, "t_span6")
            replay_before = sorted(
                tuple(r)
                for r in admit_span_batch(spark, b1, "t_span6").collect()
            )
            counts_before = sorted(
                tuple(r)
                for r in read_gram_counts(spark, "t_span6").collect()
            )
            tokens_before = {
                r.batch_token
                for r in spark.table("t_span6_grams")
                .select("batch_token")
                .filter("batch_token is not null")
                .distinct()
                .collect()
            }

            stats = compact_span_index(spark, "t_span6")
            assert stats["rows_after"] < stats["rows_before"]
            counts_after = sorted(
                tuple(r)
                for r in read_gram_counts(spark, "t_span6").collect()
            )
            assert counts_after == counts_before
            tokens_after = {
                r.batch_token
                for r in spark.table("t_span6_grams")
                .select("batch_token")
                .filter("batch_token is not null")
                .distinct()
                .collect()
            }
            assert tokens_after == tokens_before

            # ledgered replay after compaction converges bit-for-bit
            replay_after = sorted(
                tuple(r)
                for r in admit_span_batch(spark, b1, "t_span6").collect()
            )
            assert replay_after == replay_before

            # fresh admission continues: batch 3's copy of SHARED masks
            uniq3 = " ".join(f"j{i}" for i in range(20))
            b3 = self._docs(spark, [(3, self.SHARED + " " + uniq3)])
            out3 = {
                r.doc_id: r
                for r in admit_span_batch(spark, b3, "t_span6").collect()
            }
            assert out3[3].n_dup_spans == 1
            assert out3[3].clean_text == uniq3
        finally:
            self._cleanup(spark, "t_span6")

    def test_foreachbatch_cross_batch_masking(self, spark, tmp_path):
        """Two micro-batches through the real foreachBatch surface: the
        second batch's copy of a batch-1 passage must be masked.
        Regression for the cloned-session staleness bug: foreachBatch
        hooks run under a cloned SparkSession, so without an explicit
        refresh the outer session serves batch 2 a stale (empty)
        pre-append FileIndex for the gram/ledger tables and batch 2
        masks against nothing."""
        from dataworks_aws_corporate_data_ingestion_spark.streaming.span_admission import (
            init_span_index,
            span_admission_applier,
        )

        try:
            init_span_index(spark, "t_span5", n_buckets=4)
            src = tmp_path / "src"
            src.mkdir()
            out = tmp_path / "masked"
            ckpt = tmp_path / "ckpt"
            uniq1 = " ".join(f"f{i}" for i in range(20))
            uniq2 = " ".join(f"g{i}" for i in range(20))
            # one file per day (coalesce) + maxFilesPerTrigger=1 forces
            # two separate micro-batches
            self._docs(spark, [(1, self.SHARED + " " + uniq1)]).coalesce(
                1
            ).write.mode("overwrite").parquet(str(src / "day0"))
            self._docs(spark, [(2, self.SHARED + " " + uniq2)]).coalesce(
                1
            ).write.mode("overwrite").parquet(str(src / "day1"))
            stream = (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(str(src / "day*"))
            )
            q = (
                stream.writeStream.foreachBatch(
                    span_admission_applier(spark, "t_span5", str(out))
                )
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            rows = {}
            for k in range(2):
                for r in spark.read.parquet(
                    str(out / f"batch_id={k}")
                ).collect():
                    rows[r.doc_id] = r
            assert set(rows) == {1, 2}
            first, second = (
                (1, 2) if rows[1].n_dup_spans == 0 else (2, 1)
            )
            assert rows[first].n_dup_spans == 0
            assert rows[second].n_dup_spans == 1
            assert rows[second].dup_tokens == 12
            assert spark.table("t_span5_spandocs").count() == 2
        finally:
            self._cleanup(spark, "t_span5")

    def test_crash_between_appends_cannot_double_count(self, spark):
        """Simulate the crash window: the gram append committed but the
        ledger append did not (the advisor's non-atomicity finding).
        The replay must see its own batch_token in the index, skip the
        gram re-append (no doc_freq inflation), subtract the full batch
        contribution when masking, and complete the ledger append --
        output identical to the uncrashed run."""
        from dataworks_aws_corporate_data_ingestion_spark.streaming.span_admission import (
            admit_span_batch,
            init_span_index,
        )
        from pyspark.sql import functions as F

        try:
            # reference run (no crash) on its own index
            init_span_index(spark, "t_span_ref", n_buckets=4)
            uniq = " ".join(f"e{i}" for i in range(20))
            b1 = self._docs(spark, [(1, self.SHARED + " " + uniq)])
            clean = sorted(
                tuple(r)
                for r in admit_span_batch(spark, b1, "t_span_ref").collect()
            )
            ref_grams = {
                (r.gram_key, r.doc_freq)
                for r in spark.table("t_span_ref_grams").collect()
            }

            # crashed run: replicate ONLY the gram append (with the
            # content token admit_span_batch would derive), no ledger row
            init_span_index(spark, "t_span_cr", n_buckets=4)
            from dataworks_aws_corporate_data_ingestion_spark.streaming.admission import (
                batch_content_token,
            )
            from dataworks_aws_corporate_data_ingestion_spark.operators.spandedup import (
                ngram_positions,
            )

            token = batch_content_token(b1)
            (
                ngram_positions(b1, "text", "doc_id", 8)
                .groupBy("gram_key")
                .agg(F.countDistinct("doc_id").alias("doc_freq"))
                .withColumn("batch_token", F.lit(token))
                .write.mode("append")
                .bucketBy(4, "gram_key")
                .sortBy("gram_key")
                .format("parquet")
                .saveAsTable("t_span_cr_grams")
            )
            assert spark.table("t_span_cr_spandocs").count() == 0

            # the replay after the crash
            healed = sorted(
                tuple(r)
                for r in admit_span_batch(spark, b1, "t_span_cr").collect()
            )
            assert healed == clean
            got_grams = {
                (r.gram_key, r.doc_freq)
                for r in spark.table("t_span_cr_grams").collect()
            }
            assert got_grams == ref_grams  # no double-counted doc_freq
            assert spark.table("t_span_cr_spandocs").count() == 1  # healed

            # and a SECOND replay (now a plain ledgered replay) converges
            again = sorted(
                tuple(r)
                for r in admit_span_batch(spark, b1, "t_span_cr").collect()
            )
            assert again == clean
        finally:
            self._cleanup(spark, "t_span_ref")
            self._cleanup(spark, "t_span_cr")


class TestWatermarkDedup:
    def test_replays_within_watermark_admitted_once(self, spark, tmp_path):
        from dataworks_aws_corporate_data_ingestion_spark.streaming.windows import (
            apply_watermark_dedup,
        )

        src = tmp_path / "stream"
        src.mkdir()
        base = "2025-03-01T10:{:02d}:00.000Z"
        rows1 = [
            {"user_id": 1, "event_id": i, "ts": base.format(i)}
            for i in range(5)
        ]
        rows2 = [
            {"user_id": 1, "event_id": i, "ts": base.format(i)}
            for i in range(3, 9)
        ]  # 3,4 replays inside the watermark
        (src / "b1.jsonl").write_text(
            "\n".join(json.dumps(r) for r in rows1)
        )
        time.sleep(1.1)
        (src / "b2.jsonl").write_text(
            "\n".join(json.dumps(r) for r in rows2)
        )
        stream = (
            spark.readStream.schema(
                "user_id bigint, event_id bigint, ts timestamp"
            )
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        sq = (
            apply_watermark_dedup(stream)
            .writeStream.format("memory")
            .queryName("wm_dedup_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination(120)
        ids = sorted(
            r["event_id"]
            for r in spark.sql("select * from wm_dedup_out").collect()
        )
        assert ids == list(range(9))


class TestLmAdmission:
    """Streaming bigram-LM admission (streaming/lm_admission.py): the
    streaming twin of append_to_bigram_lm -- per-batch count folds into
    the stored model, replay/crash convergent."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def _cleanup(self, spark, prefix):
        for t in (f"{prefix}_uni", f"{prefix}_bi", f"{prefix}_lmdocs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    BATCHES = [
        [(1, "the cat sat on the mat"), (2, "the dog sat on the rug")],
        [(3, "the cat ate the fish"), (4, "a bird flew over the mat")],
        [(5, "the cat sat on the mat"), (6, "fish swim and birds fly")],
    ]

    def test_each_batch_scores_as_prefix_retrain(self, spark):
        """After admitting batches 0..k, batch k's report must equal
        scoring it against a model retrained from scratch on the union
        of batches 0..k -- streaming admission == batch retrain at
        every prefix (the streaming extension of the
        `bigram_lm_incremental` append==retrain certificate)."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.ngram_lm import (
            score_documents_against_lm,
            train_bigram_lm,
        )
        from dataworks_aws_corporate_data_ingestion_spark.streaming.lm_admission import (
            admit_lm_batch,
            init_lm_index,
        )

        try:
            init_lm_index(spark, "t_lm1", n_buckets=4)
            seen = []
            for rows in self.BATCHES:
                seen.extend(rows)
                b = self._docs(spark, rows)
                got = sorted(
                    tuple(r)
                    for r in admit_lm_batch(spark, b, "t_lm1").collect()
                )
                uni, bi = train_bigram_lm(self._docs(spark, seen))
                want = sorted(
                    tuple(r)
                    for r in score_documents_against_lm(
                        b, uni, bi
                    ).collect()
                )
                assert got == want
        finally:
            self._cleanup(spark, "t_lm1")

    def test_replayed_batch_converges(self, spark):
        """Re-admitting an already-admitted batch (at-least-once
        replay) must append nothing and reproduce the report
        bit-for-bit."""
        from dataworks_aws_corporate_data_ingestion_spark.streaming.lm_admission import (
            admit_lm_batch,
            init_lm_index,
        )

        try:
            init_lm_index(spark, "t_lm2", n_buckets=4)
            b1 = self._docs(spark, self.BATCHES[0])
            b2 = self._docs(spark, self.BATCHES[1])
            admit_lm_batch(spark, b1, "t_lm2")
            first = sorted(
                tuple(r)
                for r in admit_lm_batch(spark, b2, "t_lm2").collect()
            )

            def _state():
                return (
                    sorted(
                        (r.w1, r.c1)
                        for r in spark.sql(
                            "select w1, sum(c1) c1 from t_lm2_uni"
                            " group by w1"
                        ).collect()
                    ),
                    sorted(
                        (r.w1, r.w2, r.c12)
                        for r in spark.sql(
                            "select w1, w2, sum(c12) c12 from t_lm2_bi"
                            " group by w1, w2"
                        ).collect()
                    ),
                    spark.table("t_lm2_lmdocs").count(),
                )

            before = _state()
            replay = sorted(
                tuple(r)
                for r in admit_lm_batch(spark, b2, "t_lm2").collect()
            )
            assert replay == first
            assert _state() == before  # model state unchanged
        finally:
            self._cleanup(spark, "t_lm2")

    def test_crash_between_appends_heals(self, spark):
        """Crash window: the unigram append committed but the bigram
        and ledger appends did not.  The replay must see its token in
        _uni (skip the re-append -- no c1 inflation), complete _bi and
        the ledger, and produce the uncrashed run's exact output."""
        from pyspark.sql import functions as F

        from dataworks_aws_corporate_data_ingestion_spark.operators.ngram_lm import (
            train_bigram_lm,
        )
        from dataworks_aws_corporate_data_ingestion_spark.streaming.lm_admission import (
            admit_lm_batch,
            init_lm_index,
        )
        from dataworks_aws_corporate_data_ingestion_spark.streaming.admission import (
            batch_content_token,
        )

        try:
            b1 = self._docs(spark, self.BATCHES[0])

            # reference run (no crash) on its own model
            init_lm_index(spark, "t_lm_ref", n_buckets=4)
            clean = sorted(
                tuple(r)
                for r in admit_lm_batch(spark, b1, "t_lm_ref").collect()
            )
            ref_uni = sorted(
                (r.w1, r.c1)
                for r in spark.sql(
                    "select w1, sum(c1) c1 from t_lm_ref_uni group by w1"
                ).collect()
            )

            # crashed run: replicate ONLY the unigram append (with the
            # content token admit_lm_batch would derive), no _bi rows,
            # no ledger row
            init_lm_index(spark, "t_lm_cr", n_buckets=4)
            token = batch_content_token(b1)
            d_uni, _ = train_bigram_lm(b1)
            (
                d_uni.withColumn("batch_token", F.lit(token))
                .write.mode("append")
                .bucketBy(4, "w1")
                .sortBy("w1")
                .format("parquet")
                .saveAsTable("t_lm_cr_uni")
            )
            assert spark.table("t_lm_cr_bi").count() == 0
            assert spark.table("t_lm_cr_lmdocs").count() == 0

            healed = sorted(
                tuple(r)
                for r in admit_lm_batch(spark, b1, "t_lm_cr").collect()
            )
            assert healed == clean
            got_uni = sorted(
                (r.w1, r.c1)
                for r in spark.sql(
                    "select w1, sum(c1) c1 from t_lm_cr_uni group by w1"
                ).collect()
            )
            assert got_uni == ref_uni  # no double-counted c1
            assert spark.table("t_lm_cr_lmdocs").count() == 2  # healed

            # and a SECOND replay (now a plain ledgered replay) converges
            again = sorted(
                tuple(r)
                for r in admit_lm_batch(spark, b1, "t_lm_cr").collect()
            )
            assert again == clean
        finally:
            self._cleanup(spark, "t_lm_ref")
            self._cleanup(spark, "t_lm_cr")

    def test_compaction_preserves_counts_and_tokens(self, spark):
        """compact_lm_index folds count partials but must keep logical
        counts AND each table's batch_token markers -- replay after
        compaction is still a no-op, fresh admission still equals the
        prefix retrain."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.ngram_lm import (
            score_documents_against_lm,
            train_bigram_lm,
        )
        from dataworks_aws_corporate_data_ingestion_spark.streaming.lm_admission import (
            admit_lm_batch,
            compact_lm_index,
            init_lm_index,
            read_lm_counts,
        )

        try:
            init_lm_index(spark, "t_lm6", n_buckets=4)
            b1 = self._docs(spark, self.BATCHES[0])
            b2 = self._docs(spark, self.BATCHES[1])
            admit_lm_batch(spark, b1, "t_lm6")
            admit_lm_batch(spark, b2, "t_lm6")
            replay_before = sorted(
                tuple(r)
                for r in admit_lm_batch(spark, b1, "t_lm6").collect()
            )
            u, b = read_lm_counts(spark, "t_lm6")
            counts_before = (
                sorted(tuple(r) for r in u.collect()),
                sorted(tuple(r) for r in b.collect()),
            )

            stats = compact_lm_index(spark, "t_lm6")
            assert stats["rows_after"] < stats["rows_before"]
            u, b = read_lm_counts(spark, "t_lm6")
            assert (
                sorted(tuple(r) for r in u.collect()),
                sorted(tuple(r) for r in b.collect()),
            ) == counts_before

            replay_after = sorted(
                tuple(r)
                for r in admit_lm_batch(spark, b1, "t_lm6").collect()
            )
            assert replay_after == replay_before

            # fresh admission after compaction == prefix retrain
            b3 = self._docs(spark, self.BATCHES[2])
            got = sorted(
                tuple(r)
                for r in admit_lm_batch(spark, b3, "t_lm6").collect()
            )
            uni, bi = train_bigram_lm(
                self._docs(
                    spark,
                    self.BATCHES[0] + self.BATCHES[1] + self.BATCHES[2],
                )
            )
            want = sorted(
                tuple(r)
                for r in score_documents_against_lm(b3, uni, bi).collect()
            )
            assert got == want
        finally:
            self._cleanup(spark, "t_lm6")

    def test_foreachbatch_two_batches_score_as_prefix_retrain(
        self, spark, tmp_path
    ):
        """Two micro-batches through the real foreachBatch surface:
        each batch's persisted report must equal scoring it against a
        from-scratch model over all batches so far.  Regression for the
        cloned-session staleness bug: foreachBatch hooks run under a
        cloned SparkSession, so without an explicit refresh the outer
        session serves batch 2 a stale (empty) pre-append FileIndex for
        the state tables and batch 2 scores against nothing."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.ngram_lm import (
            score_documents_against_lm,
            train_bigram_lm,
        )
        from dataworks_aws_corporate_data_ingestion_spark.streaming.lm_admission import (
            init_lm_index,
            lm_admission_applier,
        )

        try:
            init_lm_index(spark, "t_lm4", n_buckets=4)
            src = tmp_path / "src"
            src.mkdir()
            out = tmp_path / "scored"
            ckpt = tmp_path / "ckpt"
            for i, rows in enumerate(self.BATCHES[:2]):
                self._docs(spark, rows).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(str(src / f"day{i}"))
            stream = (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(str(src / "day*"))
            )
            q = (
                stream.writeStream.foreachBatch(
                    lm_admission_applier(spark, "t_lm4", str(out))
                )
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

            # batch_id order IS admission order; which day each batch
            # carried depends on file pickup order, so recover the rows
            # from the persisted ids
            batch_rows = {}
            for k in range(2):
                got = spark.read.parquet(str(out / f"batch_id={k}"))
                batch_rows[k] = sorted(tuple(r) for r in got.collect())
            seen = []
            for k in range(2):
                ids = {t[0] for t in batch_rows[k]}
                rows = [
                    r
                    for b in self.BATCHES[:2]
                    for r in b
                    if r[0] in ids
                ]
                seen.extend(rows)
                uni, bi = train_bigram_lm(self._docs(spark, seen))
                want = sorted(
                    tuple(r)
                    for r in score_documents_against_lm(
                        self._docs(spark, rows), uni, bi
                    ).collect()
                )
                assert batch_rows[k] == want
        finally:
            self._cleanup(spark, "t_lm4")
