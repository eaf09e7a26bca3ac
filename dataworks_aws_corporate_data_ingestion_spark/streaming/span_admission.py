"""Streaming span-dedup admission: each micro-batch is masked against
every document seen before it, then folds its own grams into the index.

The streaming twin of the batch incremental span dedup
(operators/spandedup.py::mask_duplicated_spans_incremental), with the
same catalog-as-state design as dedup_admission.py: cross-batch state
is two append-only tables --

  {prefix}_grams     (gram_key, doc_freq, batch_token) partial counts,
                     bucketed by gram_key; the LOGICAL count is
                     SUM(doc_freq) per key (read_gram_counts), so a
                     batch admission is a cheap bucketed APPEND of
                     batch-sized rows, never an index rewrite.
                     Periodic compaction = the batch
                     materialize_gram_index over the same layout (only
                     safe when no batches are in flight, or it must
                     preserve the distinct batch_token set -- tokens
                     are the crash-recovery markers below).
  {prefix}_spandocs  (doc_id) admitted ids -- the replay ledger.

Replay idempotence (at-least-once delivery): a replayed batch's docs
are already in {prefix}_spandocs, so their grams are NOT re-appended --
and because their first attempt already pushed their counts into the
index, the masking pass SUBTRACTS the replayed docs' own per-gram
contribution before testing the >= min_docs rule.  Batch content is
identical on replay (same source offsets), so the subtraction exactly
recovers the pre-append corpus and the masked output converges
bit-for-bit; the per-batch output directory is written with overwrite,
so a replay replaces rather than duplicates.

Crash atomicity (the two appends cannot be one transaction): each
batch derives a deterministic ``batch_token`` (foreachBatch's batch_id,
else a content hash of the batch's doc ids -- identical on replay) and
the gram rows CARRY it.  A parquet saveAsTable append is job-atomic
(the committer publishes all files or none), so the token's presence in
{prefix}_grams is a commit marker for the gram append itself.  The
recovery rule in admit_span_batch: docs whose counts are already in the
index = (docs in the ledger) UNION (this batch's fresh docs IF the
batch token is already in the index).  A crash after the gram append
but before the ledger append therefore cannot double-count -- the
replay sees its own token, skips the gram re-append, subtracts the
full batch contribution for masking, and completes the missing ledger
append; a crash before the gram append replays as a plain fresh batch.

Scale notes: per batch the exchanges are batch-sized (the batch's gram
keys + one join against the bucketed index layout); the span merge and
masking touch only batch documents.  The index grows by
O(batch distinct grams) rows per batch -- compaction folds them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import release_tracked
from ..operators.spandedup import (
    MIN_DOCS,
    N_GRAM,
    mask_duplicated_spans_incremental,
    ngram_positions,
)
from .admission import batch_content_token, refresh_state_tables


def init_span_index(
    spark: SparkSession, prefix: str, n_buckets: int = 32
) -> None:
    """Create the (empty) gram-count and admitted-doc tables.
    Idempotent across sessions sharing a warehouse dir (orphaned
    leftover locations are cleared like write_bucketed does)."""
    from ..sinks.bucketing import _clear_orphan_location

    for name in (f"{prefix}_grams", f"{prefix}_spandocs"):
        _clear_orphan_location(spark, name)
    empty_grams = spark.createDataFrame(
        [], "gram_key long, doc_freq long, batch_token long"
    )
    (
        empty_grams.write.bucketBy(n_buckets, "gram_key")
        .sortBy("gram_key")
        .format("parquet")
        .saveAsTable(f"{prefix}_grams")
    )
    spark.createDataFrame([], "doc_id long").write.format(
        "parquet"
    ).saveAsTable(f"{prefix}_spandocs")


def _n_buckets(spark: SparkSession, prefix: str) -> int:
    """Bucket count of the existing index table (appends must match)."""
    for row in spark.sql(
        f"DESCRIBE EXTENDED {prefix}_grams"
    ).collect():
        if row.col_name == "Num Buckets":
            return int(row.data_type)
    return 32


def read_gram_counts(spark: SparkSession, prefix: str) -> DataFrame:
    """Logical (gram_key, doc_freq) view over the append-only partial
    counts.  NULL gram_keys are compaction's token-marker rows (zero
    count, no gram) -- excluded here."""
    return (
        spark.table(f"{prefix}_grams")
        .filter(F.col("gram_key").isNotNull())
        .groupBy("gram_key")
        .agg(F.sum("doc_freq").alias("doc_freq"))
    )


def compact_span_index(spark: SparkSession, prefix: str) -> dict:
    """Fold the append-only gram partials into one row per gram_key.
    The distinct batch_token set MUST survive compaction -- tokens are
    the commit markers that make replayed/crashed batches heal instead
    of double-counting -- so each token is retained as a marker row
    (gram_key NULL, doc_freq 0; NULL can never collide with a real
    xxhash64 gram key, and read_gram_counts filters it out).  Only safe
    when no batches are in flight (caller contract, same as the search
    index's compact).  Returns {'rows_before', 'rows_after'}."""
    grams = spark.table(f"{prefix}_grams")
    rows_before = grams.count()
    folded = (
        grams.filter(F.col("gram_key").isNotNull())
        .groupBy("gram_key")
        .agg(F.sum("doc_freq").alias("doc_freq"))
        .withColumn("batch_token", F.lit(None).cast("long"))
    )
    markers = (
        grams.select("batch_token")
        .filter(F.col("batch_token").isNotNull())
        .distinct()
        .select(
            F.lit(None).cast("long").alias("gram_key"),
            F.lit(0).cast("long").alias("doc_freq"),
            "batch_token",
        )
    )
    compacted = folded.unionByName(markers).localCheckpoint(eager=True)
    n_buckets = _n_buckets(spark, prefix)
    (
        compacted.write.mode("overwrite")
        .bucketBy(n_buckets, "gram_key")
        .sortBy("gram_key")
        .format("parquet")
        .saveAsTable(f"{prefix}_grams")
    )
    refresh_state_tables(spark, f"{prefix}_grams")
    return {"rows_before": rows_before, "rows_after": compacted.count()}


def admit_span_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = N_GRAM,
    min_docs: int = MIN_DOCS,
    batch_token: int | None = None,
) -> DataFrame:
    """One admission round: mask the batch against (corpus + batch)
    duplication, append the FRESH docs' gram counts and ids, return the
    masked report for the whole batch.  Replay-stable AND crash-stable:
    the gram append carries `batch_token` as its own commit marker, so
    a crash between the gram append and the ledger append cannot
    double-count on replay (see module docstring)."""
    refresh_state_tables(spark, f"{prefix}_grams", f"{prefix}_spandocs")
    if batch_token is None:
        batch_token = batch_content_token(batch_df, id_col=id_col)
    # has this batch's gram contribution already been committed?  The
    # token scan is column-pruned + footer-min/max-pruned parquet; the
    # table holds one distinct token per admitted batch.
    grams_committed = (
        spark.table(f"{prefix}_grams")
        .filter(F.col("batch_token") == F.lit(batch_token))
        .limit(1)
        .count()
        > 0
    )
    admitted_ids = spark.table(f"{prefix}_spandocs").select(
        F.col("doc_id")
    )
    fresh = batch_df.join(
        admitted_ids,
        batch_df[id_col] == admitted_ids["doc_id"],
        "left_anti",
    ).localCheckpoint(eager=True)
    replayed = batch_df.join(
        fresh.select(F.col(id_col).alias("__f")),
        batch_df[id_col] == F.col("__f"),
        "left_anti",
    )
    # docs whose counts are already IN the stored index: ledgered docs,
    # plus -- when this batch's token is already committed -- its fresh
    # docs too (the crash-between-appends window: grams landed, ledger
    # did not).  Subtracting exactly these recovers the pre-batch corpus.
    contributed = (
        batch_df if grams_committed else replayed
    )

    # stored counts minus the already-contributed docs' own counts:
    # exactly the corpus as it stood before this batch's first attempt
    replayed_contrib = (
        ngram_positions(contributed, text_col, id_col, n)
        .groupBy("gram_key")
        .agg(F.countDistinct("doc_id").alias("__replayed"))
    )
    corpus_counts = (
        read_gram_counts(spark, prefix)
        .join(replayed_contrib, "gram_key", "left")
        .select(
            "gram_key",
            (
                F.col("doc_freq")
                - F.coalesce(F.col("__replayed"), F.lit(0))
            ).alias("doc_freq"),
        )
    )
    masked = mask_duplicated_spans_incremental(
        corpus=None,
        delta=batch_df,
        text_col=text_col,
        id_col=id_col,
        n=n,
        min_docs=min_docs,
        corpus_gram_counts=corpus_counts,
    ).localCheckpoint(eager=True)

    if not grams_committed:
        fresh_counts = (
            ngram_positions(fresh, text_col, id_col, n)
            .groupBy("gram_key")
            .agg(F.countDistinct("doc_id").alias("doc_freq"))
            .withColumn("batch_token", F.lit(batch_token))
        )
        (
            fresh_counts.write.mode("append")
            .bucketBy(_n_buckets(spark, prefix), "gram_key")
            .sortBy("gram_key")
            .format("parquet")
            .saveAsTable(f"{prefix}_grams")
        )
    fresh.select(F.col(id_col).alias("doc_id")).write.mode(
        "append"
    ).format("parquet").saveAsTable(f"{prefix}_spandocs")
    # leave the OUTER session's view fresh too: under foreachBatch the
    # appends above implicitly refreshed only the cloned session
    refresh_state_tables(spark, f"{prefix}_grams", f"{prefix}_spandocs")
    return masked


def span_admission_applier(
    spark: SparkSession,
    prefix: str,
    masked_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """foreachBatch hook: mask the micro-batch against everything seen
    so far and write the report to `{masked_dir}/batch_id=N` (overwrite
    -- replays converge)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        try:
            # stream batch ids are stable across replays of the same
            # offsets; offset them past the 62-bit content-token range
            # so mixed direct/stream use of one index cannot collide
            masked = admit_span_batch(
                spark,
                batch_df,
                prefix,
                id_col=id_col,
                text_col=text_col,
                batch_token=(1 << 62) + batch_id,
            )
            masked.write.mode("overwrite").parquet(
                f"{masked_dir}/batch_id={batch_id}"
            )
        finally:
            release_tracked()

    return _apply
