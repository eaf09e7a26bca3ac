"""Streaming CMS admission (streaming/summary_admission.py, CMS spec):
append == rebuild at every prefix, replay idempotence, the crash window,
compaction invariants, and the real foreachBatch surface with two
micro-batches (cloned-session staleness regression)."""

from __future__ import annotations

from functools import partial

import pytest
from pyspark.sql import functions as F

from dataworks_aws_corporate_data_ingestion_spark.operators.cms import (
    cms_sketch,
)
from dataworks_aws_corporate_data_ingestion_spark.streaming.summary_admission import (
    CMS,
    admit,
    compact,
    init,
    read_state,
)
from tests.fixtures import jvm_rows

pytestmark = pytest.mark.slow

W, D = 8, 3

BATCHES = [
    ["hot"] * 6 + [f"u{i}" for i in range(5)],
    ["hot"] * 4 + ["warm"] * 5 + [f"v{i}" for i in range(4)],
    ["hot"] * 7 + [f"w{i}" for i in range(6)],
]


def _batch_df(spark, keys, start_id=0):
    return jvm_rows(
        spark,
        [(start_id + i, k) for i, k in enumerate(keys)],
        "event_id bigint, key string",
    ).repartition(2)


def _summary(df, weight_col=None):
    """The builder of the batch's lazy CMS partial, as admit expects it."""
    return partial(cms_sketch, df, "key", W, D, weight_col=weight_col)


def _cleanup(spark, prefix):
    for t in (f"{prefix}_cms", f"{prefix}_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _state_rows(spark, prefix):
    sketch, n = read_state(spark, CMS, prefix)
    return sorted(tuple(r) for r in sketch.collect()), n


class TestAdmission:
    def test_prefix_equals_rebuild(self, spark):
        try:
            init(spark, CMS, "t_ca1")
            seen = []
            sid = 0
            for b in BATCHES:
                df = _batch_df(spark, b, sid)
                seen.extend((sid + i, k) for i, k in enumerate(b))
                sid += 10000
                admit(
                    spark, CMS, df, "t_ca1", _summary(df),
                    id_col="event_id",
                )
                corpus = jvm_rows(
                    spark,
                    seen, "event_id bigint, key string"
                )
                got, n = _state_rows(spark, "t_ca1")
                want = sorted(
                    tuple(r)
                    for r in cms_sketch(
                        corpus.select("key"), "key", W, D
                    ).collect()
                )
                assert got == want and got
                assert n == len(seen)
        finally:
            _cleanup(spark, "t_ca1")

    def test_replay_is_noop(self, spark):
        try:
            init(spark, CMS, "t_ca2")
            df = _batch_df(spark, BATCHES[0])
            admit(spark, CMS, df, "t_ca2", _summary(df),
                  id_col="event_id")
            s1, n1 = _state_rows(spark, "t_ca2")
            admit(spark, CMS, df, "t_ca2", _summary(df),
                  id_col="event_id")
            s2, n2 = _state_rows(spark, "t_ca2")
            assert s2 == s1 and n1 == n2 == len(BATCHES[0])
        finally:
            _cleanup(spark, "t_ca2")

    def test_crash_after_cms_heals_meta(self, spark):
        from dataworks_aws_corporate_data_ingestion_spark.streaming.admission import (
            batch_content_token,
        )

        try:
            init(spark, CMS, "t_ca3")
            df = _batch_df(spark, BATCHES[0])
            token = batch_content_token(df, "event_id")
            part = cms_sketch(df, "key", W, D).collect()
            rows = [
                (int(r["row"]), int(r["col"]), int(r["c"]), token)
                for r in part
            ]
            rows.append((None, None, 0, token))
            jvm_rows(
                spark,
                rows, "row int, col long, c long, batch_token long"
            ).write.mode("append").format("parquet").saveAsTable(
                "t_ca3_cms"
            )
            _, n_before = read_state(spark, CMS, "t_ca3")
            assert n_before == 0  # the crash window
            admit(spark, CMS, df, "t_ca3", _summary(df),
                  id_col="event_id")
            got, n = _state_rows(spark, "t_ca3")
            want = sorted(
                tuple(r) for r in cms_sketch(df, "key", W, D).collect()
            )
            assert got == want  # a double-append would inflate cells
            assert n == len(BATCHES[0])
        finally:
            _cleanup(spark, "t_ca3")

    def test_compaction_preserves_cells_tokens_and_replay(self, spark):
        try:
            init(spark, CMS, "t_ca4")
            sid = 0
            for b in BATCHES[:2]:
                df = _batch_df(spark, b, sid)
                admit(
                    spark, CMS, df, "t_ca4", _summary(df),
                    id_col="event_id",
                )
                sid += 10000
            before, n_before = _state_rows(spark, "t_ca4")
            tokens_before = {
                r["batch_token"]
                for r in spark.table("t_ca4_cms")
                .select("batch_token")
                .filter(F.col("batch_token").isNotNull())
                .distinct()
                .collect()
            }
            compact(spark, CMS, "t_ca4")
            after, n_after = _state_rows(spark, "t_ca4")
            assert after == before and n_after == n_before
            tokens_after = {
                r["batch_token"]
                for r in spark.table("t_ca4_cms")
                .select("batch_token")
                .filter(F.col("batch_token").isNotNull())
                .distinct()
                .collect()
            }
            assert tokens_after == tokens_before
            df = _batch_df(spark, BATCHES[1], 10000)
            admit(  # replay after compaction: still a no-op
                spark, CMS, df, "t_ca4", _summary(df),
                id_col="event_id",
            )
            final, n_final = _state_rows(spark, "t_ca4")
            assert final == before and n_final == n_before
        finally:
            _cleanup(spark, "t_ca4")


class TestForeachBatch:
    def test_two_micro_batches_end_to_end(self, spark, tmp_path):
        src = tmp_path / "src"
        try:
            init(spark, CMS, "t_ca6")
            sid = 0
            for b in BATCHES[:2]:
                _batch_df(spark, b, sid).coalesce(1).write.parquet(
                    str(src), mode="append"
                )
                sid += 10000
            stream = (
                spark.readStream.schema("event_id bigint, key string")
                .option("maxFilesPerTrigger", "1")
                .parquet(str(src))
            )

            def _admit(batch_df, batch_id):
                admit(
                    spark, CMS, batch_df, "t_ca6",
                    _summary(batch_df), id_col="event_id",
                )

            q = (
                stream.writeStream.foreachBatch(_admit)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            corpus = spark.read.parquet(str(src))
            got, n = _state_rows(spark, "t_ca6")
            want = sorted(
                tuple(r)
                for r in cms_sketch(
                    corpus.select("key"), "key", W, D
                ).collect()
            )
            assert got == want and got
            assert n == corpus.count()
        finally:
            _cleanup(spark, "t_ca6")


class TestWeightedAdmission:
    def test_weighted_prefix_equals_rebuild(self, spark):
        """Weighted streaming admission must equal the one-shot
        weighted sketch at every prefix, including a rare-by-rows but
        heavy-by-weight whale key; the ledger tracks weight mass."""
        wbatches = [
            [("whale", 5000)] + [(f"u{i}", 3) for i in range(10)],
            [("warm", 2000), ("whale", 1000)]
            + [(f"v{i}", 5) for i in range(8)],
            [("warm", 3000)] + [(f"w{i}", 2) for i in range(9)],
        ]
        try:
            init(spark, CMS, "t_caw1")
            seen = []
            sid = 0
            for b in wbatches:
                rows = [(sid + i, k, w) for i, (k, w) in enumerate(b)]
                sid += 10000
                seen.extend(rows)
                df = jvm_rows(
                    spark,
                    rows, "event_id bigint, key string, w long"
                ).repartition(2)
                admit(
                    spark, CMS, df, "t_caw1",
                    _summary(df, "w"),
                    id_col="event_id", weight_col="w",
                )
                corpus = jvm_rows(
                    spark,
                    seen, "event_id bigint, key string, w long"
                )
                got, mass = _state_rows(spark, "t_caw1")
                want = sorted(
                    tuple(r)
                    for r in cms_sketch(
                        corpus.select("key", "w"), "key", W, D,
                        weight_col="w",
                    ).collect()
                )
                assert got == want and got
                assert mass == sum(w for _, _, w in seen)
        finally:
            _cleanup(spark, "t_caw1")
