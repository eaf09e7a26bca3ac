"""Streaming span-dedup admission: each micro-batch is masked against
every document seen before it, then folds its own grams into the index.

The streaming twin of the batch incremental span dedup
(operators/spandedup.py::mask_duplicated_spans_incremental).  The
cross-batch state is two append-only tables on admission.py's table
layer --

  {prefix}_grams     (gram_key, doc_freq, batch_token) partial counts,
                     bucketed by gram_key; the LOGICAL count is
                     SUM(doc_freq) per key (read_gram_counts), so a
                     batch admission is a cheap bucketed APPEND of
                     batch-sized rows, never an index rewrite.
                     compact_span_index folds the partials and keeps
                     the distinct batch_token set (tokens are the
                     crash-recovery markers below).
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
the gram rows CARRY it.  A parquet insertInto append is job-atomic
(the committer publishes all files or none), so the token's presence in
{prefix}_grams is a commit marker for the gram append itself.  The
recovery rule in admit_span_batch: docs whose counts are already in the
index = (docs in the ledger) UNION (this batch's fresh docs IF the
batch token is already in the index).  A crash after the gram append
but before the ledger append therefore cannot double-count -- the
replay sees its own token, skips the gram re-append, subtracts the
full batch contribution for masking, and completes the missing ledger
append; a crash before the gram append replays as a plain fresh batch.
A fully replayed batch (no fresh docs) appends nothing at all.

Scale notes: per batch the exchanges are batch-sized (the batch's gram
keys + one join against the bucketed index layout); the span merge and
masking touch only batch documents.  The index grows by
O(batch distinct grams) rows per batch -- compaction folds them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.spandedup import (
    MIN_DOCS,
    N_GRAM,
    mask_duplicated_spans_incremental,
    ngram_positions,
)
from .admission import (
    append_state,
    batch_writer,
    compact_counts,
    init_state_tables,
    probe_tokens,
    read_counts,
    refresh_state_tables,
    stream_token,
    unledgered,
)


def init_span_index(
    spark: SparkSession, prefix: str, n_buckets: int = 32
) -> None:
    """Create the (empty) gram-count and admitted-doc tables.
    Idempotent across sessions sharing a warehouse dir (orphaned
    leftover locations are cleared like write_bucketed does)."""
    init_state_tables(
        spark,
        {
            f"{prefix}_grams": "gram_key long, doc_freq long, batch_token long",
            f"{prefix}_spandocs": "doc_id long",
        },
        {f"{prefix}_grams": ("gram_key", n_buckets)},
    )


def read_gram_counts(spark: SparkSession, prefix: str) -> DataFrame:
    """Logical (gram_key, doc_freq) view over the append-only partial
    counts.  NULL gram_keys are compaction's token-marker rows (zero
    count, no gram) -- excluded here."""
    return read_counts(
        spark, f"{prefix}_grams", ("gram_key",), "doc_freq", "gram_key"
    )


def compact_span_index(spark: SparkSession, prefix: str) -> dict:
    """Fold the append-only gram partials into one row per gram_key,
    keeping each batch_token as a marker row (gram_key NULL, doc_freq 0;
    NULL can never collide with a real xxhash64 gram key).  Only safe
    when no batches are in flight (caller contract, same as the search
    index's compact).  Returns {'rows_before', 'rows_after'}."""
    before, after = compact_counts(
        spark, f"{prefix}_grams", ("gram_key",), "doc_freq", "gram_key"
    )
    return {"rows_before": before, "rows_after": after}


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
    grams, ledger = f"{prefix}_grams", f"{prefix}_spandocs"
    refresh_state_tables(spark, grams, ledger)
    # has this batch's gram contribution already been committed?  One
    # job derives the token and probes the gram table's markers.
    batch_token, _, done = probe_tokens(
        spark, batch_df, id_col, (grams,), batch_token
    )
    grams_committed = grams in done
    fresh = unledgered(spark, batch_df, ledger, id_col)
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

    if not fresh.isEmpty():
        if not grams_committed:
            append_state(
                grams,
                ngram_positions(fresh, text_col, id_col, n)
                .groupBy("gram_key")
                .agg(F.countDistinct("doc_id").alias("doc_freq")),
                batch_token,
            )
        append_state(ledger, fresh.select(F.col(id_col).alias("doc_id")))
        # leave the OUTER session's view fresh too: under foreachBatch
        # the appends above implicitly refreshed only the cloned session
        refresh_state_tables(spark, grams, ledger)
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
    return batch_writer(
        lambda batch_df, batch_id: admit_span_batch(
            spark,
            batch_df,
            prefix,
            id_col=id_col,
            text_col=text_col,
            batch_token=stream_token(batch_id),
        ),
        masked_dir,
    )
