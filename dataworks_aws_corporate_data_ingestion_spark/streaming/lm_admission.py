"""Streaming bigram-LM admission: each micro-batch's token counts are
folded into the stored language model, then the batch is scored against
the post-admission model.

The streaming twin of the batch incremental LM maintenance
(operators/ngram_lm.py::append_to_bigram_lm, certified append==retrain
by the `bigram_lm_incremental` oracle), on admission.py's table layer
like span_admission.py: cross-batch state is three tables --

  {prefix}_uni     (w1, c1, batch_token) partial unigram counts,
                   bucketed by w1; the LOGICAL count is SUM(c1) per
                   word (read_lm_counts), so a batch admission is a
                   cheap bucketed APPEND of batch-vocabulary-sized
                   rows, never a model rewrite.
  {prefix}_bi      (w1, w2, c12, batch_token) partial bigram counts,
                   same discipline, bucketed by w1 (the scoring join
                   key).
  {prefix}_lmdocs  (doc_id) admitted ids -- the replay ledger.

Replay idempotence (at-least-once delivery): a replayed batch's docs
are already in {prefix}_lmdocs, so their counts are NOT re-appended;
the model state after a replay is bit-identical to the state after the
first attempt, so the (deterministic) scoring pass converges too.

Crash atomicity (three appends cannot be one transaction): each batch
derives a deterministic ``batch_token`` (foreachBatch's batch_id, else
a content hash of the batch's doc-id set -- identical on replay) and
BOTH count tables carry it.  A parquet insertInto append is job-atomic
(the committer publishes all files or none), so a token's presence in a
count table is a per-table commit marker.  Appends run uni -> bi ->
ledger; on replay each count table is appended ONLY if it lacks the
token, and the ledger (written last) is completed.  Every crash window
therefore heals without double-counting:

  crash before any append   -> replays as a plain fresh batch
  crash after uni only      -> replay appends bi + ledger
  crash after uni + bi      -> replay appends only the ledger

A fully replayed batch (no fresh docs) appends nothing at all.

Unlike span admission there is no subtraction step: scoring is defined
against the post-admission model (the batch's own counts ALWAYS
participate, exactly like the self-trained `bigram_lm_familiarity`
form), so the target state is the same whether the counts landed on
this attempt or a previous one.

Scale notes: per batch the exchanges are batch-sized (the batch's
token/bigram keys grouped, then joined against the w1-bucketed model
layout); the model grows by O(batch new vocabulary) rows per batch and
stays vocabulary-sized -- megabytes against a 100 TB corpus -- while
the corpus itself is never re-read.  Periodic compaction
(compact_lm_index) re-groups the partials over the same bucketed
layout and keeps the distinct batch_token set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ngram_lm import (
    score_documents_against_lm,
    train_bigram_lm,
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

# (table suffix, count keys, counter) of the two count tables; the
# first key is NULL exactly on compaction's marker rows
_COUNTS = (("uni", ("w1",), "c1"), ("bi", ("w1", "w2"), "c12"))


def init_lm_index(
    spark: SparkSession, prefix: str, n_buckets: int = 16
) -> None:
    """Create the (empty) count tables and admitted-doc ledger.
    Idempotent across sessions sharing a warehouse dir (orphaned
    leftover locations are cleared like write_bucketed does)."""
    init_state_tables(
        spark,
        {
            f"{prefix}_uni": "w1 string, c1 long, batch_token long",
            f"{prefix}_bi": "w1 string, w2 string, c12 long, batch_token long",
            f"{prefix}_lmdocs": "doc_id long",
        },
        {f"{prefix}_uni": ("w1", n_buckets), f"{prefix}_bi": ("w1", n_buckets)},
    )


def read_lm_counts(
    spark: SparkSession, prefix: str
) -> tuple[DataFrame, DataFrame]:
    """Logical (unigrams(w1, c1), bigram_counts(w1, w2, c12)) views
    over the append-only partial counts."""
    uni, bi = (
        read_counts(spark, f"{prefix}_{suffix}", keys, cnt, "w1")
        for suffix, keys, cnt in _COUNTS
    )
    return uni, bi


def compact_lm_index(spark: SparkSession, prefix: str) -> dict:
    """Fold the append-only count partials into one row per key,
    keeping EACH table's batch_token markers as marker rows (w1 NULL,
    zero count; a split() token is never NULL).  Only safe when no
    batches are in flight (caller contract).  Returns
    {'rows_before', 'rows_after'} summed over both tables."""
    before = after = 0
    for suffix, keys, cnt in _COUNTS:
        b, a = compact_counts(spark, f"{prefix}_{suffix}", keys, cnt, "w1")
        before, after = before + b, after + a
    return {"rows_before": before, "rows_after": after}


def admit_lm_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_token: int | None = None,
) -> DataFrame:
    """One admission round: fold the FRESH docs' counts into the model
    (per-table commit markers make the three appends crash-safe, see
    module docstring), then score the whole batch against the
    post-admission model.  Replay-stable: a replayed batch appends
    nothing and rescoring the unchanged model reproduces the output
    bit-for-bit."""
    uni, bi, ledger = (
        f"{prefix}_uni", f"{prefix}_bi", f"{prefix}_lmdocs"
    )
    refresh_state_tables(spark, uni, bi, ledger)
    fresh = unledgered(spark, batch_df, ledger, id_col)
    if not fresh.isEmpty():
        batch_token, _, done = probe_tokens(
            spark, batch_df, id_col, (uni, bi), batch_token
        )
        for table, part in zip((uni, bi), train_bigram_lm(fresh, text_col)):
            if table not in done:
                append_state(table, part, batch_token)
        append_state(ledger, fresh.select(F.col(id_col).alias("doc_id")))
        # scoring below re-reads the count tables this batch just
        # appended to -- under foreachBatch the implicit refresh landed
        # on the cloned session, so refresh the outer one explicitly
        refresh_state_tables(spark, uni, bi, ledger)

    model_uni, model_bi = read_lm_counts(spark, prefix)
    return score_documents_against_lm(
        batch_df, model_uni, model_bi, text_col=text_col, id_col=id_col
    )


def lm_admission_applier(
    spark: SparkSession,
    prefix: str,
    scored_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """foreachBatch hook: admit the micro-batch's counts and write its
    familiarity report to `{scored_dir}/batch_id=N` (overwrite --
    replays converge)."""
    return batch_writer(
        lambda batch_df, batch_id: admit_lm_batch(
            spark,
            batch_df,
            prefix,
            id_col=id_col,
            text_col=text_col,
            batch_token=stream_token(batch_id),
        ),
        scored_dir,
    )
