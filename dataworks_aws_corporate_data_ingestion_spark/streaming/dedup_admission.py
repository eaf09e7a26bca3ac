"""Streaming dedup admission: each micro-batch is checked against the
materialised minhash index, survivors are admitted AND indexed, so later
batches dedup against everything admitted before them.

This is the streaming twin of the batch incremental dedup
(operators/dedup.py::near_dup_pairs_against_index): the index tables are
the cross-batch state, living in the catalog rather than in stream
state -- they survive restarts, are queryable mid-stream, and grow by
append (bucketed layout preserved), which is exactly how a production
corpus admission gate runs (the reference's daily cadence, tightened to
micro-batches).

Admission policy per batch:
  * docs already IN the index (an at-least-once replay of an admitted
    doc) pass straight through -- they were admitted before, and are
    neither re-checked nor re-appended;
  * a fresh doc near-dup of an already-indexed doc is rejected;
  * within a batch, near-dup groups keep the smallest id (the same
    representative rule as the batch curation collapse);
  * survivors append to the index inside the same foreachBatch call, so
    the check-then-append pair is ordered per batch (foreachBatch runs
    batches sequentially).

Replay idempotence (at-least-once delivery): the admitted set is a pure,
replay-stable function of (batch, index) -- already-indexed batch docs
are exactly the survivors of the previous attempt, fresh docs re-derive
the same verdicts -- and the admitted sink writes each batch to its own
`batch_id=N` subdirectory with overwrite, so a replay converges to the
same files instead of appending duplicates.  The index append only ever
receives fresh survivors, so index rows never duplicate either.  A doc
counts as indexed once its shingles row exists, which the index append
writes after the bucket rows: a crash between the two leaves the doc
fresh for the replay, whose self-matches the candidate join drops and
whose bucket append skips the rows already written
(operators/dedup.py::append_to_minhash_index).

Scale notes: per batch the cost is the incremental shape -- candidates
scale with the batch, never the corpus; the index append is a bucketed
write of batch-sized data.  Two batch-sized localCheckpoints pin the
fresh split and the survivor set BEFORE the index append mutates the
tables their lineage reads (lazy re-evaluation after the append would
otherwise see the batch's own rows in the corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    append_to_minhash_index,
    near_dup_pairs_against_index,
)
from .admission import batch_writer, refresh_state_tables


def admit_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
) -> DataFrame:
    """One admission round: returns the admitted rows (all batch columns)
    and appends the fresh survivors to the index.  Replay-stable: see
    module docstring.  Used directly by tests and wrapped by the
    foreachBatch applier."""
    # foreachBatch runs under a cloned session: earlier batches'
    # saveAsTable appends refreshed the clone's relation cache, not the
    # outer session's -- re-list the state tables or this batch would
    # dedup against a stale (possibly empty) index (see
    # admission.refresh_state_tables)
    refresh_state_tables(spark, f"{prefix}_shingles", f"{prefix}_buckets")
    indexed_ids = spark.table(f"{prefix}_shingles").select(F.col(id_col))
    # pin the fresh/replayed split before the index append below changes
    # what "indexed" means for this batch's rows
    fresh = batch_df.join(indexed_ids, id_col, "left_anti").localCheckpoint(eager=True)
    previously_admitted = batch_df.join(
        fresh.select(F.col(id_col)), id_col, "left_anti"
    )

    pairs = near_dup_pairs_against_index(
        spark, fresh, prefix, id_col=id_col, text_col=text_col,
        threshold=threshold,
    )
    fresh_ids = fresh.select(F.col(id_col).alias("x"))
    links = pairs.select(F.col("a").alias("x"), F.col("b").alias("partner")).unionByName(
        pairs.select(F.col("b").alias("x"), F.col("a").alias("partner"))
    )
    in_batch = links.join(fresh_ids, "x")
    partner_is_fresh = in_batch.join(
        fresh.select(F.col(id_col).alias("partner")), "partner", "left_semi"
    )
    partner_is_corpus = in_batch.join(
        fresh.select(F.col(id_col).alias("partner")), "partner", "left_anti"
    )
    # reject: duplicate of anything indexed, or of a smaller-id fresh
    # batchmate
    rejected = partner_is_corpus.select("x").unionByName(
        partner_is_fresh.filter(F.col("partner") < F.col("x")).select("x")
    ).distinct()
    survivors = fresh.join(
        rejected.select(F.col("x").alias(id_col)), id_col, "left_anti"
    ).localCheckpoint(eager=True)
    append_to_minhash_index(
        spark, survivors, prefix, id_col=id_col, text_col=text_col
    )
    # leave the OUTER session's view fresh too: under foreachBatch the
    # appends above implicitly refreshed only the cloned session
    refresh_state_tables(spark, f"{prefix}_shingles", f"{prefix}_buckets")
    return survivors.unionByName(previously_admitted)


def dedup_admission_applier(
    spark: SparkSession,
    prefix: str,
    admitted_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
):
    """foreachBatch hook: admit the micro-batch against the index and
    write survivors to `{admitted_dir}/batch_id=N` (parquet, overwrite --
    a replayed batch converges instead of appending duplicates).  Each
    batch drains the tracked-persist registry it registered (delta
    shingles/buckets inside near_dup_pairs_against_index), see
    admission.batch_writer."""
    return batch_writer(
        lambda batch_df, _: admit_batch(
            spark, batch_df, prefix, id_col=id_col, text_col=text_col,
            threshold=threshold,
        ),
        admitted_dir,
    )
