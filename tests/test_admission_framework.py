"""Pins for the r10 pass-2 admission-framework optimizations
(streaming/admission.py): the fused single-job round read
(batch_admission_state) must produce the SAME token the historical
per-scan form produced and correct marker membership; the batched
marker probe (tokens_committed) must agree with per-table probes; and
state appends/compaction overwrites must land as ONE file per write
(the single-slice parallelize discipline -- a regression back to
defaultParallelism slicing silently re-inflates every admitted batch
to a 32-task commit)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from dataworks_aws_corporate_data_ingestion_spark.streaming.admission import (
    append_once,
    batch_admission_state,
    batch_content_token,
    compact_index,
    init_state_tables,
    token_committed,
    tokens_committed,
)
from tests.fixtures import jvm_rows

pytestmark = pytest.mark.slow


def _batch(spark, n=40, start=0):
    return jvm_rows(
        spark,
        [(start + i, f"k{i % 5}", i % 3) for i in range(n)],
        "doc_id bigint, key string, w bigint",
    ).repartition(3)


def _reference_token(batch_rows_df, id_col="doc_id"):
    """The historical token recipe, recomputed independently:
    sum/xor/count of xxhash64(id string) through blake2b."""
    import hashlib
    import struct

    row = (
        batch_rows_df.select(
            F.xxhash64(F.col(id_col).cast("string")).alias("h")
        )
        .agg(
            F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
            F.expr("bit_xor(h)").alias("x"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    s = int(row.s or 0) % (1 << 64)
    x = int(row.x or 0) & ((1 << 64) - 1)
    n = int(row.n or 0)
    digest = hashlib.blake2b(
        struct.pack("<QQQ", s, x, n), digest_size=8
    ).digest()
    return struct.unpack("<Q", digest)[0] % (1 << 62)


def _table_files(spark, name):
    loc = (
        spark.sql(f"DESCRIBE FORMATTED {name}")
        .filter(F.col("col_name") == "Location")
        .collect()[0]["data_type"]
    )
    path = loc.replace("file:", "")
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def _cleanup(spark, *tables):
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestFusedRoundRead:
    def test_token_matches_historical_recipe(self, spark):
        b = _batch(spark)
        tok, measure, done = batch_admission_state(spark, b, "doc_id", None)
        assert tok == _reference_token(b)
        assert measure == b.count()
        assert done == set()
        # the one-arg form agrees
        assert batch_content_token(b, "doc_id") == tok

    def test_weighted_measure(self, spark):
        b = _batch(spark)
        tok, measure, _ = batch_admission_state(spark, b, "doc_id", "w")
        assert tok == _reference_token(b)  # weight does not enter the token
        assert measure == b.agg(F.sum("w")).collect()[0][0]

    def test_marker_membership_per_table(self, spark):
        try:
            init_state_tables(
                spark,
                {
                    "t_fw_a": "key string, c long, batch_token long",
                    "t_fw_b": "n_rows long, batch_token long",
                },
            )
            b = _batch(spark)
            tok, _, done = batch_admission_state(
                spark, b, "doc_id", None, "t_fw_a", "t_fw_b"
            )
            assert done == set()
            # commit the marker in ONE table only -> membership reflects it
            append_once(
                spark,
                "t_fw_a",
                "key string, c long, batch_token long",
                tok,
                lambda: [(None, 0, tok)],
            )
            _, _, done2 = batch_admission_state(
                spark, b, "doc_id", None, "t_fw_a", "t_fw_b"
            )
            assert done2 == {"t_fw_a"}
            # batched probe agrees with the per-table probe
            assert tokens_committed(spark, tok, "t_fw_a", "t_fw_b") == {
                "t_fw_a"
            }
            assert token_committed(spark, "t_fw_a", tok)
            assert not token_committed(spark, "t_fw_b", tok)
        finally:
            _cleanup(spark, "t_fw_a", "t_fw_b")


class TestSingleFileStateWrites:
    def test_append_once_writes_one_file(self, spark):
        try:
            init_state_tables(
                spark, {"t_fw_one": "key string, c long, batch_token long"}
            )
            rows = [(f"k{i}", i, 99) for i in range(100)] + [(None, 0, 99)]
            assert append_once(
                spark,
                "t_fw_one",
                "key string, c long, batch_token long",
                99,
                lambda: rows,
            )
            files = _table_files(spark, "t_fw_one")
            assert len(files) == 1, files
            # replay: no second file, rows_fn not consulted
            assert not append_once(
                spark,
                "t_fw_one",
                "key string, c long, batch_token long",
                99,
                lambda: (_ for _ in ()).throw(AssertionError("evaluated")),
            )
            assert len(_table_files(spark, "t_fw_one")) == 1
        finally:
            _cleanup(spark, "t_fw_one")

    def test_compact_overwrite_one_file_sorted_markers(self, spark):
        try:
            init_state_tables(
                spark, {"t_fw_c": "key string, c long, batch_token long"}
            )
            schema = "key string, c long, batch_token long"
            for tok in (7, 3, 5):
                append_once(
                    spark,
                    "t_fw_c",
                    schema,
                    tok,
                    lambda tok=tok: [("a", 1, tok), (None, 0, tok)],
                )

            def fold(data):
                return [
                    (r["key"], int(r["c"]), None)
                    for r in data.groupBy("key")
                    .agg(F.sum("c").cast("bigint").alias("c"))
                    .collect()
                ]

            stats = compact_index(
                spark, "t_fw_c", schema, "key", fold, lambda t: (None, 0, t)
            )
            assert stats["rows_before"] == 6
            assert stats["rows_after"] == 4  # 1 folded row + 3 markers
            assert len(_table_files(spark, "t_fw_c")) == 1
            toks = [
                int(r["batch_token"])
                for r in spark.table("t_fw_c")
                .filter(F.col("key").isNull())
                .select("batch_token")
                .collect()
            ]
            assert sorted(toks) == [3, 5, 7]
            # all three batches still read as committed after compaction
            assert tokens_committed(spark, 3, "t_fw_c") == {"t_fw_c"}
            assert tokens_committed(spark, 5, "t_fw_c") == {"t_fw_c"}
            assert tokens_committed(spark, 7, "t_fw_c") == {"t_fw_c"}
        finally:
            _cleanup(spark, "t_fw_c")


class TestProbeWithSummary:
    """r11: the probe and the batch's bounded-summary job run
    concurrently (probe_with_summary) -- same (token, measure, done)
    as the sequential fused probe, same summary rows as calling the
    thunk directly, and a summary failure propagates BEFORE any state
    append could run."""

    def test_agrees_with_sequential_form(self, spark):
        from dataworks_aws_corporate_data_ingestion_spark.streaming.admission import (  # noqa: E501
            probe_with_summary,
        )

        try:
            init_state_tables(
                spark,
                {
                    "t_pws_a": "key string, c long, batch_token long",
                    "t_pws_b": "n_rows long, batch_token long",
                },
            )
            b = _batch(spark)
            calls = []

            def summary():
                calls.append(1)
                return b.groupBy("key").count().collect()

            tok, measure, done, parts = probe_with_summary(
                spark, b, "doc_id", None, ("t_pws_a", "t_pws_b"), summary
            )
            seq = batch_admission_state(
                spark, b, "doc_id", None, "t_pws_a", "t_pws_b"
            )
            assert (tok, measure, done) == seq
            assert calls == [1]
            assert sorted((r["key"], r["count"]) for r in parts) == sorted(
                (r["key"], r["count"])
                for r in b.groupBy("key").count().collect()
            )
            # explicit-token (replay/stream) path: marker probe only
            tok2, measure2, done2, parts2 = probe_with_summary(
                spark, b, "doc_id", None, ("t_pws_a", "t_pws_b"),
                summary, batch_token=tok,
            )
            assert (tok2, measure2, done2) == (tok, None, set())
            assert len(parts2) == len(parts)
            # once one table holds the marker, done reflects it
            append_once(
                spark,
                "t_pws_a",
                "key string, c long, batch_token long",
                tok,
                lambda: [(None, 0, tok)],
            )
            _, _, done3, _ = probe_with_summary(
                spark, b, "doc_id", None, ("t_pws_a", "t_pws_b"), summary
            )
            assert done3 == {"t_pws_a"}
        finally:
            _cleanup(spark, "t_pws_a", "t_pws_b")

    def test_summary_failure_propagates(self, spark):
        from dataworks_aws_corporate_data_ingestion_spark.streaming.admission import (  # noqa: E501
            probe_with_summary,
        )

        try:
            init_state_tables(
                spark, {"t_pws_f": "n_rows long, batch_token long"}
            )
            b = _batch(spark)

            def boom():
                raise RuntimeError("summary failed")

            with pytest.raises(RuntimeError, match="summary failed"):
                probe_with_summary(
                    spark, b, "doc_id", None, ("t_pws_f",), boom
                )
            # nothing was appended: the table is still empty
            assert spark.table("t_pws_f").count() == 0
        finally:
            _cleanup(spark, "t_pws_f")
