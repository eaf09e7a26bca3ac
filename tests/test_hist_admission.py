"""Streaming quantile-sketch admission (streaming/summary_admission.py,
HIST spec): append == rebuild at every prefix, replay idempotence, the crash
window, compaction invariants, ledger divergence detection, and the
real foreachBatch surface with two micro-batches (cloned-session
staleness regression)."""

from __future__ import annotations

from datetime import datetime
from functools import partial

import pytest
from pyspark.sql import functions as F

from dataworks_aws_corporate_data_ingestion_spark.operators.histsketch import (
    daily_histogram,
)
from dataworks_aws_corporate_data_ingestion_spark.streaming.summary_admission import (
    HIST,
    admit,
    compact,
    init,
    quantile_bins_from_state,
    read_state,
)
from tests.fixtures import jvm_rows

pytestmark = pytest.mark.slow

BINS, SPAN = 10, 10_000  # 10 bins over [0, 100.00)

# three batch-shaped slices spanning two days, values spread over bins
BATCHES = [
    [("2024-01-01 08:00:00", 5.0), ("2024-01-01 09:00:00", 15.0),
     ("2024-01-01 10:00:00", 15.5), ("2024-01-02 08:00:00", 95.0)],
    [("2024-01-01 11:00:00", 25.0), ("2024-01-02 09:00:00", 45.0),
     ("2024-01-02 10:00:00", 45.0), ("2024-01-02 11:00:00", 999.0)],
    [("2024-01-01 12:00:00", 5.0), ("2024-01-01 13:00:00", 75.0),
     ("2024-01-02 12:00:00", 85.0)],
]


def _batch_df(spark, rows, start_id=0):
    return jvm_rows(
        spark,
        [
            (start_id + i, datetime.fromisoformat(ts), v)
            for i, (ts, v) in enumerate(rows)
        ],
        "event_id bigint, ts timestamp_ntz, value double",
    ).repartition(2)


def _summary(df):
    """The builder of the batch's lazy daily-histogram partial, as admit
    expects it."""
    return partial(daily_histogram, df, "ts", "value", BINS, SPAN)


def _cleanup(spark, prefix):
    for t in (f"{prefix}_hist", f"{prefix}_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _state_rows(spark, prefix):
    daily, n = read_state(spark, HIST, prefix)
    return sorted(tuple(r) for r in daily.collect()), n


class TestAdmission:
    def test_prefix_equals_rebuild(self, spark):
        """After admitting batches 0..j, the logical state must be
        bit-identical to a one-shot daily histogram of their union --
        the addition-algebra append==rebuild claim at every prefix."""
        try:
            init(spark, HIST, "t_qh1")
            seen = []
            sid = 0
            for b in BATCHES:
                df = _batch_df(spark, b, sid)
                seen.extend(
                    (sid + i, datetime.fromisoformat(ts), v)
                    for i, (ts, v) in enumerate(b)
                )
                sid += 10000
                admit(
                    spark, HIST, df, "t_qh1", _summary(df),
                    id_col="event_id",
                )
                corpus = jvm_rows(
                    spark,
                    seen, "event_id bigint, ts timestamp_ntz, value double"
                )
                got, n = _state_rows(spark, "t_qh1")
                want = sorted(
                    tuple(r)
                    for r in daily_histogram(
                        corpus, "ts", "value", BINS, SPAN
                    ).collect()
                )
                assert got == want and got
                assert n == len(seen)
        finally:
            _cleanup(spark, "t_qh1")

    def test_replay_is_noop(self, spark):
        try:
            init(spark, HIST, "t_qh2")
            df = _batch_df(spark, BATCHES[0])
            admit(
                spark, HIST, df, "t_qh2", _summary(df),
                id_col="event_id",
            )
            state1, n1 = _state_rows(spark, "t_qh2")
            admit(
                spark, HIST, df, "t_qh2", _summary(df),
                id_col="event_id",
            )
            state2, n2 = _state_rows(spark, "t_qh2")
            assert state2 == state1
            assert n1 == n2 == len(BATCHES[0])
        finally:
            _cleanup(spark, "t_qh2")

    def test_crash_after_hist_heals_meta(self, spark):
        """Crash window: _hist appended, _meta not.  The replay must
        append only the ledger row and converge with no double-count."""
        from dataworks_aws_corporate_data_ingestion_spark.streaming.admission import (
            batch_content_token,
        )

        try:
            init(spark, HIST, "t_qh3")
            df = _batch_df(spark, BATCHES[0])
            token = batch_content_token(df, "event_id")
            # simulate the crash: run only the _hist half by hand
            part = daily_histogram(df, "ts", "value", BINS, SPAN).collect()
            rows = [
                (r["day"], int(r["bin"]), int(r["n"]), token) for r in part
            ]
            rows.append((None, None, 0, token))
            jvm_rows(
                spark,
                rows, "day date, bin long, n long, batch_token long"
            ).write.mode("append").format("parquet").saveAsTable(
                "t_qh3_hist"
            )
            _, n_before = read_state(spark, HIST, "t_qh3")
            assert n_before == 0  # ledger missing: the crash window
            admit(
                spark, HIST, df, "t_qh3", _summary(df),
                id_col="event_id",
            )
            got, n = _state_rows(spark, "t_qh3")
            want = sorted(
                tuple(r)
                for r in daily_histogram(
                    df, "ts", "value", BINS, SPAN
                ).collect()
            )
            assert got == want  # a double-append would inflate bin counts
            assert n == len(BATCHES[0])
        finally:
            _cleanup(spark, "t_qh3")

    def test_compaction_preserves_bins_tokens_and_replay(self, spark):
        try:
            init(spark, HIST, "t_qh4")
            sid = 0
            for b in BATCHES[:2]:
                df = _batch_df(spark, b, sid)
                admit(
                    spark, HIST, df, "t_qh4", _summary(df),
                    id_col="event_id",
                )
                sid += 10000
            before, n_before = _state_rows(spark, "t_qh4")
            tokens_before = {
                r["batch_token"]
                for r in spark.table("t_qh4_hist")
                .select("batch_token")
                .filter(F.col("batch_token").isNotNull())
                .distinct()
                .collect()
            }
            stats = compact(spark, HIST, "t_qh4")
            assert stats["rows_after"] < stats["rows_before"]
            after, n_after = _state_rows(spark, "t_qh4")
            assert after == before and n_after == n_before
            tokens_after = {
                r["batch_token"]
                for r in spark.table("t_qh4_hist")
                .select("batch_token")
                .filter(F.col("batch_token").isNotNull())
                .distinct()
                .collect()
            }
            assert tokens_after == tokens_before
            # replay after compaction: still a no-op
            df = _batch_df(spark, BATCHES[1], 10000)
            admit(
                spark, HIST, df, "t_qh4", _summary(df),
                id_col="event_id",
            )
            final, n_final = _state_rows(spark, "t_qh4")
            assert final == before and n_final == n_before
        finally:
            _cleanup(spark, "t_qh4")

    def test_quantile_read_path_and_divergence_guard(self, spark):
        try:
            init(spark, HIST, "t_qh5")
            sid = 0
            for b in BATCHES:
                df = _batch_df(spark, b, sid)
                admit(
                    spark, HIST, df, "t_qh5", _summary(df),
                    id_col="event_id",
                )
                sid += 10000
            bins, mass, picks = quantile_bins_from_state(
                spark, "t_qh5", [0.5, 1.0]
            )
            n_rows = sum(len(b) for b in BATCHES)
            assert mass == n_rows
            # 11 values: rank ceil(0.5*11)=6 -> sorted values
            # [5,5,15,15.5,25,45,45,75,85,95,999]; the 6th is 45 -> bin 4
            assert picks[0.5] == 4
            # the max (999, clamped) lands in the top bin
            assert picks[1.0] == BINS - 1
            # ledger divergence: poison the meta table, the read raises
            jvm_rows(
                spark,
                [(7, 999999)], "n_rows long, batch_token long"
            ).write.mode("append").format("parquet").saveAsTable(
                "t_qh5_meta"
            )
            with pytest.raises(AssertionError, match="divergence"):
                quantile_bins_from_state(spark, "t_qh5", [0.5])
        finally:
            _cleanup(spark, "t_qh5")


class TestForeachBatch:
    def test_two_micro_batches_end_to_end(self, spark, tmp_path):
        """Two micro-batches through the real foreachBatch surface
        (coalesce(1) per source file + maxFilesPerTrigger=1 +
        availableNow), then append==rebuild off the final state -- the
        cloned-session staleness regression shape."""
        src = tmp_path / "src"
        try:
            init(spark, HIST, "t_qh6")
            sid = 0
            for b in BATCHES[:2]:
                _batch_df(spark, b, sid).coalesce(1).write.parquet(
                    str(src), mode="append"
                )
                sid += 10000
            stream = (
                spark.readStream.schema(
                    "event_id bigint, ts timestamp_ntz, value double"
                )
                .option("maxFilesPerTrigger", "1")
                .parquet(str(src))
            )

            def _admit(batch_df, batch_id):
                admit(
                    spark, HIST, batch_df, "t_qh6", _summary(batch_df),
                    id_col="event_id",
                )

            q = (
                stream.writeStream.foreachBatch(_admit)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            corpus = spark.read.parquet(str(src))
            got, n = _state_rows(spark, "t_qh6")
            want = sorted(
                tuple(r)
                for r in daily_histogram(
                    corpus, "ts", "value", BINS, SPAN
                ).collect()
            )
            assert got == want and got
            assert n == corpus.count()
        finally:
            _cleanup(spark, "t_qh6")
