"""Streaming exact-dedup admission through a stored bloom index: each
micro-batch admits only documents whose content fingerprint has never
been seen, with the bloom filter pruning the (dominant) provably-new
sliver away from the exact check.

The production crawl-ingestion shape: most of a fresh batch is new, so
an exact seen-fingerprint lookup per row is mostly wasted work.  Here a
bloom-NEGATIVE is a proof of novelty (no false negatives) and is
admitted with no join at all; only bloom-positives are verified against
the exact fingerprint ledger.  Exactness is never sacrificed -- the
certificate proves N-batch admission == one-shot first-occurrence dedup
bit-for-bit.

Catalog-as-state, two tables (cf. lm/span/mg admission):

  {prefix}_bloom / {prefix}_bloommeta   the stored bloom index
                  (operators/bloomjoin.py): OR-append partials.
                  Idempotent by algebra -- no commit markers needed.
  {prefix}_fps    (fp string, batch_token long) the EXACT fingerprint
                  ledger; bloom-positive rows verify against it.  The
                  batch_token column is the per-table commit marker
                  (the append is not idempotent by algebra, so it gets
                  the marker treatment).

Append order and crash windows: bloom FIRST (idempotent by OR), fps
second (marked).  The order is load-bearing: a bloom-NEGATIVE row is
admitted with NO ledger check, which is only sound while the bloom is
a SUPERSET of the ledger -- so the ledger must never run ahead of the
bloom.  Appending the bloom first preserves that invariant through
every crash window:

  crash before any append     -> replay is a fresh batch
  crash after bloom, pre-fps  -> replayed rows probe bloom-POSITIVE,
                                 fall into the exact verify join (the
                                 ledger lacks them -> still admitted),
                                 bloom re-OR is a no-op, fps append
                                 completes.  A bloom AHEAD of the
                                 ledger only costs verify work, never
                                 correctness.
  crash after both            -> replay admits nothing new; both
                                 appends are no-ops (token + OR).

Within-batch duplicates keep the lowest id (deterministic window), so
the admitted stream equals the batch first-occurrence dedup under the
(batch order, id) total order -- exactly what the
`dedup_admission_bloom_certificate` oracle computes in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.bloomjoin import (
    append_to_bloom_index,
    bloom_might_contain,
    load_bloom_index,
    materialize_bloom_index,
)
from .admission import (
    append_state,
    batch_content_token,
    init_state_tables,
    refresh_state_tables,
    token_committed,
)


def init_bloom_dedup_index(
    spark: SparkSession, prefix: str, m_bits: int = 1 << 20, n_hashes: int = 5
) -> None:
    """Create the empty bloom index + fingerprint ledger."""
    materialize_bloom_index(
        spark,
        spark.createDataFrame([], "fp string"),
        "fp",
        prefix,
        m_bits=m_bits,
        n_hashes=n_hashes,
    )
    init_state_tables(spark, {f"{prefix}_fps": "fp string, batch_token long"})


def admit_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    prefix: str,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    batch_token: int | None = None,
) -> DataFrame:
    """One admission round: returns the batch rows whose fingerprint is
    globally fresh (first occurrence wins; within the batch the lowest
    id wins), and folds the admitted fingerprints into the state.

    Plan shape per batch: one window over the batch (within-batch
    dedup), one bloom probe (map-side; negatives are admitted with no
    join), one exact semi-join of the positive sliver against the
    ledger, two state appends."""
    token = (
        batch_token
        if batch_token is not None
        else batch_content_token(batch_df, id_col)
    )
    refresh_state_tables(spark, f"{prefix}_fps", f"{prefix}_bloom")
    w = Window.partitionBy(fp_col).orderBy(F.col(id_col).asc())
    in_batch_first = (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    bloom = load_bloom_index(spark, prefix)
    flagged = bloom_might_contain(in_batch_first, fp_col, bloom, "__hit")
    sure_new = flagged.filter(~F.col("__hit")).drop("__hit")
    cand = flagged.filter(F.col("__hit")).drop("__hit")
    seen = spark.table(f"{prefix}_fps").select(fp_col)
    verified_new = cand.join(seen, fp_col, "left_anti")
    admitted = sure_new.unionByName(verified_new).localCheckpoint(
        eager=True
    )
    # bloom FIRST (OR is idempotent; keeps bloom >= ledger through any
    # crash), ledger second under its commit marker
    append_to_bloom_index(
        spark, admitted.select(F.col(fp_col).alias("fp")), "fp", prefix
    )
    if not token_committed(spark, f"{prefix}_fps", token):
        append_state(
            f"{prefix}_fps", admitted.select(F.col(fp_col).alias("fp")), token
        )
    refresh_state_tables(spark, f"{prefix}_fps", f"{prefix}_bloom")
    return admitted


def read_admitted_fps(spark: SparkSession, prefix: str) -> DataFrame:
    """The exact ledger of admitted fingerprints (fp column)."""
    refresh_state_tables(spark, f"{prefix}_fps")
    return spark.table(f"{prefix}_fps").select("fp")
