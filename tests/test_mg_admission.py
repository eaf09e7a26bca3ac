"""Streaming Misra-Gries heavy-hitter admission
(streaming/summary_admission.py, MG spec): prefix equality with the batch operator,
replay idempotence, every crash window, compaction invariants, ledger
divergence detection, and the real foreachBatch surface with two
micro-batches (cloned-session staleness regression)."""

from __future__ import annotations

from functools import partial

import pytest
from pyspark.sql import functions as F

from dataworks_aws_corporate_data_ingestion_spark.operators.heavyhitters import (
    heavy_hitters_exact,
    mg_summary,
)
from dataworks_aws_corporate_data_ingestion_spark.streaming.summary_admission import (
    MG,
    admit,
    compact,
    heavy_hitters_from_state,
    init,
    read_state,
)
from tests.fixtures import jvm_rows

pytestmark = pytest.mark.slow

K = 7

# three batch-shaped slices: 'hot' is heavy overall, 'warm' only heavy
# inside batch 2, long tail of uniques everywhere
BATCHES = [
    [("hot",)] * 30 + [(f"u{i}",) for i in range(20)],
    [("hot",)] * 25 + [("warm",)] * 30 + [(f"v{i}",) for i in range(15)],
    [("hot",)] * 35 + [(f"w{i}",) for i in range(25)],
]


def _batch_df(spark, rows, start_id=0):
    return jvm_rows(
        spark,
        [(start_id + i, r[0]) for i, r in enumerate(rows)],
        "event_id bigint, key string",
    ).repartition(3)


def _summary(df, weight_col=None):
    """The builder of the batch's lazy MG partial, as admit expects it."""
    cols = ["key"] + ([weight_col] if weight_col else [])
    return partial(
        mg_summary, df.select(*cols), ["key"], K, weight_col=weight_col
    )


def _cleanup(spark, prefix):
    for t in (f"{prefix}_mg", f"{prefix}_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestAdmission:
    def test_prefix_equals_batch_operator(self, spark):
        """After admitting batches 0..j, exact-verified heavy hitters
        off the state must equal heavy_hitters_exact over the union of
        batches 0..j, at every prefix."""
        try:
            init(spark, MG, "t_mg1")
            seen = []
            sid = 0
            for b in BATCHES:
                df = _batch_df(spark, b, sid)
                seen.extend(
                    (sid + i, r[0]) for i, r in enumerate(b)
                )
                sid += 10000
                admit(
                    spark, MG, df, "t_mg1", _summary(df),
                    id_col="event_id", k=K,
                )
                corpus = jvm_rows(
                    spark,
                    seen, "event_id bigint, key string"
                )
                got = sorted(
                    (r["key"], r["n_rows"])
                    for r in heavy_hitters_from_state(
                        spark, corpus, "t_mg1", F.col("key"), K
                    ).collect()
                )
                want = sorted(
                    (r["key"], r["n_rows"])
                    for r in heavy_hitters_exact(
                        corpus.select("key"), ["key"], K
                    ).collect()
                )
                assert got == want and got  # non-trivial at every prefix
        finally:
            _cleanup(spark, "t_mg1")

    def test_replay_is_noop(self, spark):
        try:
            init(spark, MG, "t_mg2")
            df = _batch_df(spark, BATCHES[0])
            admit(spark, MG, df, "t_mg2", _summary(df),
                  id_col="event_id", k=K)
            cands1, n1 = read_state(spark, MG, "t_mg2")
            state1 = sorted(tuple(r) for r in cands1.collect())
            admit(spark, MG, df, "t_mg2", _summary(df),
                  id_col="event_id", k=K)
            cands2, n2 = read_state(spark, MG, "t_mg2")
            assert sorted(tuple(r) for r in cands2.collect()) == state1
            assert n1 == n2 == len(BATCHES[0])
        finally:
            _cleanup(spark, "t_mg2")

    def test_crash_after_mg_heals_meta(self, spark):
        """Crash window: _mg appended, _meta not.  The replay must
        append only the ledger row and converge."""
        from dataworks_aws_corporate_data_ingestion_spark.streaming.admission import (
            batch_content_token,
        )

        try:
            init(spark, MG, "t_mg3")
            df = _batch_df(spark, BATCHES[0])
            token = batch_content_token(df, "event_id")
            # simulate the crash: run only the _mg half by hand
            from dataworks_aws_corporate_data_ingestion_spark.operators.heavyhitters import (
                _mg_reduce,
            )

            parts = mg_summary(df.select("key"), ["key"], K).collect()
            state = {}
            for r in parts:
                state[(r["key"],)] = state.get((r["key"],), 0) + int(r["c"])
            state = _mg_reduce(state, K)
            rows = [(key[0], c, token) for key, c in state.items()]
            rows.append((None, 0, token))
            jvm_rows(
                spark,
                rows, "key string, c long, batch_token long"
            ).write.mode("append").format("parquet").saveAsTable("t_mg3_mg")
            _, n_before = read_state(spark, MG, "t_mg3")
            assert n_before == 0  # ledger missing: the crash window
            # replay the full admission: must not double-count _mg
            admit(spark, MG, df, "t_mg3", _summary(df),
                  id_col="event_id", k=K)
            cands, n = read_state(spark, MG, "t_mg3")
            assert n == len(BATCHES[0])
            hot = {r["key"]: r["c_lower"] for r in cands.collect()}["hot"]
            assert hot <= 30  # a double-append would exceed the true count
        finally:
            _cleanup(spark, "t_mg3")

    def test_compaction_preserves_counts_tokens_and_guarantee(self, spark):
        try:
            init(spark, MG, "t_mg4")
            sid = 0
            for b in BATCHES[:2]:
                df = _batch_df(spark, b, sid)
                admit(
                    spark, MG, df, "t_mg4", _summary(df),
                    id_col="event_id", k=K,
                )
                sid += 10000
            before, n_before = read_state(spark, MG, "t_mg4")
            tokens_before = {
                r["batch_token"]
                for r in spark.table("t_mg4_mg")
                .select("batch_token")
                .filter(F.col("batch_token").isNotNull())
                .distinct()
                .collect()
            }
            stats = compact(spark, MG, "t_mg4", k=K)
            assert stats["rows_after"] <= K + len(tokens_before)
            tokens_after = {
                r["batch_token"]
                for r in spark.table("t_mg4_mg")
                .select("batch_token")
                .filter(F.col("batch_token").isNotNull())
                .distinct()
                .collect()
            }
            assert tokens_after == tokens_before
            # replay after compaction: still a no-op
            df = _batch_df(spark, BATCHES[1], 10000)
            admit(
                spark, MG, df, "t_mg4", _summary(df),
                id_col="event_id", k=K,
            )
            _, n = read_state(spark, MG, "t_mg4")
            assert n == n_before
            # the heavy keys of batches 0-1 must survive the trim
            cands, _ = read_state(spark, MG, "t_mg4")
            keys = {r["key"] for r in cands.collect()}
            assert {"hot", "warm"} <= keys
        finally:
            _cleanup(spark, "t_mg4")

    def test_ledger_divergence_raises(self, spark):
        try:
            init(spark, MG, "t_mg5")
            df = _batch_df(spark, BATCHES[0])
            admit(spark, MG, df, "t_mg5", _summary(df),
                  id_col="event_id", k=K)
            short = df.limit(10)
            with pytest.raises(AssertionError, match="divergence"):
                heavy_hitters_from_state(
                    spark, short, "t_mg5", F.col("key"), K
                )
        finally:
            _cleanup(spark, "t_mg5")


class TestForeachBatch:
    def test_two_micro_batches_end_to_end(self, spark, tmp_path):
        """Two micro-batches through the real foreachBatch surface
        (coalesce(1) per source file + maxFilesPerTrigger=1 +
        availableNow), then exact verification off the final state --
        the cloned-session staleness regression shape: without
        refresh_state_tables, batch 2 would fold into a stale view of
        batch 1's appends."""
        src = tmp_path / "src"
        try:
            init(spark, MG, "t_mg6")
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
                    spark, MG, batch_df, "t_mg6", _summary(batch_df),
                    id_col="event_id", batch_token=None, k=K,
                )

            q = (
                stream.writeStream.foreachBatch(_admit)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            corpus = spark.read.parquet(str(src))
            got = sorted(
                (r["key"], r["n_rows"])
                for r in heavy_hitters_from_state(
                    spark, corpus, "t_mg6", F.col("key"), K
                ).collect()
            )
            want = sorted(
                (r["key"], r["n_rows"])
                for r in heavy_hitters_exact(
                    corpus.select("key"), ["key"], K
                ).collect()
            )
            assert got == want and got
        finally:
            _cleanup(spark, "t_mg6")


class TestWeightedAdmission:
    def test_weighted_prefix_equals_batch_operator(self, spark):
        """Weighted streaming admission must equal the weighted batch
        operator at every prefix -- including a key that is rare by
        rows but heavy by weight."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.heavyhitters import (
            heavy_hitters_exact,
        )

        wbatches = [
            [("whale", 5000)] + [(f"u{i}", 3) for i in range(30)],
            [("warm", 2000), ("whale", 1000)]
            + [(f"v{i}", 5) for i in range(20)],
            [("warm", 3000)] + [(f"w{i}", 2) for i in range(25)],
        ]
        try:
            init(spark, MG, "t_mgw1")
            seen = []
            sid = 0
            for b in wbatches:
                rows = [(sid + i, k, w) for i, (k, w) in enumerate(b)]
                sid += 10000
                seen.extend(rows)
                df = jvm_rows(
                    spark,
                    rows, "event_id bigint, key string, w long"
                ).repartition(3)
                admit(
                    spark, MG, df, "t_mgw1", _summary(df, "w"),
                    id_col="event_id", weight_col="w", k=K,
                )
                corpus = jvm_rows(
                    spark,
                    seen, "event_id bigint, key string, w long"
                )
                got = sorted(
                    (r["key"], r["n_rows"])
                    for r in heavy_hitters_from_state(
                        spark, corpus, "t_mgw1", F.col("key"), K,
                        weight_expr=F.col("w"),
                    ).collect()
                )
                want = sorted(
                    (r["key"], r["n_rows"])
                    for r in heavy_hitters_exact(
                        corpus.select("key", "w"), ["key"], K,
                        weight_col="w",
                    ).collect()
                )
                assert got == want and got
        finally:
            _cleanup(spark, "t_mgw1")
