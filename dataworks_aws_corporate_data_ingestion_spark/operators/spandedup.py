"""Span-level exact substring deduplication (duplicate n-gram masking).

Doc-level dedup (operators/dedup.py) drops whole documents; training
corpora also need SPAN-level dedup: boilerplate passages, licence
headers, and templated paragraphs repeat VERBATIM across otherwise
distinct documents, and repeated training text measurably hurts models
(Lee et al., "Deduplicating Training Data Makes Language Models
Better", ACL 2022 -- their suffix-array ExactSubstr pass).  This module
is the distributed, shuffle-linear analogue of that pass:

  1. every n-token window of every document becomes (doc_id, pos, key)
     where key is a 60-bit md5-derived gram hash (8 B on the shuffle
     wire, never the gram text);
  2. one groupBy(key) finds grams appearing in >= min_docs distinct
     documents -- the global duplicated-gram set;
  3. duplicated positions join back (AQE broadcasts the dup-key table
     when small) and per-document overlapping windows merge into
     maximal spans with a gaps-and-islands window -- no pairwise
     comparison anywhere;
  4. masking removes the covered tokens with a positional-lambda
     `filter` over the token array, entirely inside codegen.

100 TB scale notes: the only wide exchanges are the gram-key groupBy
(8 B keys + 12 B positions per token -- linear in corpus tokens, same
order as the minhash signature shuffle) and the doc_id-keyed span merge
(rows = duplicated positions only).  A pathological gram repeated in f
documents costs f rows on one key -- f rows, NOT f^2 pairs, because
spans never join against each other.  The 60-bit key space gives a
~2e-18 per-pair collision rate; a collision can only mask one extra
n-token window, never corrupt output text ordering.

Cross-engine determinism (oracle parity): tokenisation is the repo
convention split(lower(text), ' '); the gram key is
conv(substr(md5(gram), 1, 15), 16, 10) -- bit-identical to DuckDB's
('0x' || substr(md5(gram), 1, 15))::BIGINT; span merge is integer
window arithmetic; the rebuilt clean text is array_join over the
surviving tokens, so every output column is integer/string exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import tracked_persist
from ..partitioning import fan_out
from ..sinks.bucketing import insert_into, write_bucketed

N_GRAM = 8
MIN_DOCS = 2


def _gram_key(gram: Column) -> Column:
    """60-bit portable gram hash (md5 hex prefix), matching the simhash
    convention in operators/dedup.py so an independent SQL engine can
    reproduce it exactly."""
    return F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long")


def ngram_positions(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = N_GRAM,
) -> DataFrame:
    """(doc_id, pos, gram_key) for every n-token window.

    The window enumeration is pure codegen: transform over
    sequence(0, size-n) slicing the token array -- no explode of raw
    token rows, one output row per window via posexplode.  Documents
    shorter than n contribute nothing (guarded: Spark's sequence()
    counts DOWN when stop < start, which would fabricate windows).

    The input fans out to session parallelism BEFORE the window
    amplification when it arrives under-partitioned (partitioning.py)
    -- a no-op on an already-parallel scan.
    """
    docs = fan_out(docs)
    toks = F.split(F.lower(F.col(text_col)), " ")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(grams).alias("pos", "gram"),
    ).select("doc_id", "pos", _gram_key(F.col("gram")).alias("gram_key"))


def duplicated_gram_keys(
    positions: DataFrame, min_docs: int = MIN_DOCS
) -> DataFrame:
    """Gram keys present in >= min_docs DISTINCT documents.  One
    hash-partitioned groupBy on the 8-byte key; partial aggregation
    collapses within-document repeats map-side."""
    return (
        positions.groupBy("gram_key")
        .agg(F.countDistinct("doc_id").alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_docs)
    )


def duplicated_spans(
    positions: DataFrame, min_docs: int = MIN_DOCS, n: int = N_GRAM
) -> DataFrame:
    """Maximal merged spans [span_start, span_end) of duplicated
    windows per document.

    Gaps-and-islands: a window opens a new span iff its start exceeds
    the running max end of all earlier windows (overlapping OR
    touching windows merge).  Both windows share the doc_id hash
    partitioning, so the merge is one exchange + one local sort.
    """
    dup_keys = duplicated_gram_keys(positions, min_docs).select("gram_key")
    dpos = positions.join(dup_keys, "gram_key").select("doc_id", "pos")

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_break = dpos.withColumn(
        "brk",
        F.when(
            F.col("pos")
            > F.coalesce(F.max(F.col("pos") + n).over(w_prev), F.lit(-1)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return (
        with_break.withColumn("island", F.sum("brk").over(w_run))
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n).alias("span_end"),
        )
        .drop("island")
    )


def mask_duplicated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = N_GRAM,
    min_docs: int = MIN_DOCS,
) -> DataFrame:
    """Per-document span-dedup report + masked text.

    Output: doc_id, total_tokens, n_dup_spans, dup_tokens, dup_ratio,
    clean_text (tokens outside every duplicated span, space-joined;
    empty string when the whole document is duplicated boilerplate).

    The token-drop step is a positional-lambda filter over the token
    array against the document's (few) merged spans -- codegen, no
    second explode, no per-token join.
    """
    # persist the window-position stream: duplicated_spans consumes it
    # twice (the gram-frequency aggregate and the dup-position join),
    # and the two consumers shuffle DIFFERENT shapes (partial distinct
    # aggregates vs raw rows / broadcast-join map side), so runtime
    # exchange reuse cannot deduplicate the n-gram enumeration + md5
    # gram hashing -- the operator's dominant CPU (r10 optimization;
    # same class as the minhash signature persist).  Rows are
    # (doc_id, pos, 8-byte gram_key), never the gram text.
    positions = tracked_persist(ngram_positions(docs, text_col, id_col, n))
    spans = duplicated_spans(positions, min_docs, n).groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("spans")
    )
    toks = F.split(F.lower(F.col(text_col)), " ")
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("toks")
    ).join(spans, "doc_id", "left")
    spans_arr = F.coalesce(
        F.col("spans"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"),
    )
    covered = lambda i: F.exists(  # noqa: E731
        spans_arr,
        lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
    )
    kept = F.filter("toks", lambda t, i: ~covered(i))
    return base.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("total_tokens"),
        F.coalesce(F.size("spans"), F.lit(0)).cast("bigint").alias(
            "n_dup_spans"
        ),
        F.coalesce(
            F.aggregate(
                spans_arr,
                F.lit(0),
                lambda acc, s: acc + (s["span_end"] - s["span_start"]),
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("dup_tokens"),
        F.array_join(kept, " ").alias("clean_text"),
    ).withColumn(
        "dup_ratio",
        F.col("dup_tokens").cast("double") / F.col("total_tokens"),
    )


def top_repeated_grams(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = N_GRAM,
    min_docs: int = MIN_DOCS,
    k: int = 20,
) -> DataFrame:
    """Top-k verbatim-repeated n-grams by distinct-document frequency
    (the human-readable audit view of the duplicated-gram universe).
    Carries the gram TEXT through the groupBy -- acceptable because
    this is a bounded top-k report, and TakeOrderedAndProject keeps the
    driver-side result at k rows."""
    docs = fan_out(docs)
    toks = F.split(F.lower(F.col(text_col)), " ")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("gram")
    )
    return (
        exploded.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.count(F.lit(1)).alias("occurrences"),
        )
        .filter(F.col("doc_freq") >= min_docs)
        .orderBy(
            F.desc("doc_freq"), F.desc("occurrences"), F.asc("gram")
        )
        .limit(k)
    )


def mask_duplicated_spans_incremental(
    corpus: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = N_GRAM,
    min_docs: int = MIN_DOCS,
    corpus_gram_counts: DataFrame | None = None,
) -> DataFrame:
    """Span-dedup a NEW batch against corpus+delta duplication without
    re-masking the corpus: output is mask_duplicated_spans() restricted
    to delta documents, where a gram counts as duplicated iff its
    distinct-doc frequency across corpus AND delta reaches min_docs.

    The daily-cadence shape (same contract as
    near_dup_pairs_minhash_incremental): only DELTA positions flow into
    the span merge and the masking rebuild, so the per-day cost scales
    with |delta|.  The corpus contributes one gram-count aggregation --
    or ZERO recomputation when `corpus_gram_counts` is a materialised
    (gram_key, doc_freq) index (materialize_gram_index): then the only
    corpus-side work is the join against the stored counts.
    """
    if corpus_gram_counts is None:
        corpus_gram_counts = (
            ngram_positions(corpus, text_col, id_col, n)
            .groupBy("gram_key")
            .agg(F.countDistinct("doc_id").alias("doc_freq"))
        )
    delta_pos = ngram_positions(delta, text_col, id_col, n)
    delta_counts = delta_pos.groupBy("gram_key").agg(
        F.countDistinct("doc_id").alias("delta_freq")
    )
    dup_keys = (
        delta_counts.join(
            corpus_gram_counts.withColumnRenamed("doc_freq", "corpus_freq"),
            "gram_key",
            "left",
        )
        .filter(
            F.coalesce(F.col("corpus_freq"), F.lit(0))
            + F.col("delta_freq")
            >= min_docs
        )
        .select("gram_key")
    )
    dpos = delta_pos.join(dup_keys, "gram_key").select("doc_id", "pos")

    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        dpos.withColumn(
            "brk",
            F.when(
                F.col("pos")
                > F.coalesce(
                    F.max(F.col("pos") + n).over(w_prev), F.lit(-1)
                ),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("brk").over(w_run))
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n).alias("span_end"),
        )
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("span_start", "span_end"))
            ).alias("spans")
        )
    )
    toks = F.split(F.lower(F.col(text_col)), " ")
    base = delta.select(
        F.col(id_col).alias("doc_id"), toks.alias("toks")
    ).join(spans, "doc_id", "left")
    spans_arr = F.coalesce(
        F.col("spans"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"),
    )
    covered = lambda i: F.exists(  # noqa: E731
        spans_arr,
        lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
    )
    kept = F.filter("toks", lambda t, i: ~covered(i))
    return base.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("total_tokens"),
        F.coalesce(F.size("spans"), F.lit(0)).cast("bigint").alias(
            "n_dup_spans"
        ),
        F.coalesce(
            F.aggregate(
                spans_arr,
                F.lit(0),
                lambda acc, s: acc + (s["span_end"] - s["span_start"]),
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("dup_tokens"),
        F.array_join(kept, " ").alias("clean_text"),
    ).withColumn(
        "dup_ratio",
        F.col("dup_tokens").cast("double") / F.col("total_tokens"),
    )


def materialize_gram_index(
    spark,
    docs: DataFrame,
    prefix: str,
    n_buckets: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = N_GRAM,
) -> DataFrame:
    """Persist the corpus gram universe as a catalog table
    `{prefix}_grams` (gram_key, doc_freq) BUCKETED BY gram_key: daily
    span-dedup admission then joins delta counts against a
    pre-shuffled layout and pays zero corpus recomputation (the
    materialize_minhash_index trade applied to span dedup)."""
    counts = (
        ngram_positions(docs, text_col, id_col, n)
        .groupBy("gram_key")
        .agg(F.countDistinct("doc_id").alias("doc_freq"))
    )
    write_bucketed(counts, f"{prefix}_grams", ["gram_key"], n_buckets)
    return spark.table(f"{prefix}_grams")


def append_to_gram_index(
    spark,
    delta: DataFrame,
    prefix: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = N_GRAM,
) -> DataFrame:
    """Fold a new batch into the materialised gram index: doc_freqs are
    distinct-doc counts over DISJOINT doc sets, so the merge is a
    bucket-local sum -- append-then-merge is bit-identical to a full
    rebuild over corpus+delta (asserted in tests, the bm25 append
    contract).  The merged frame is pinned and overwrites the index in
    place, keeping the catalog's bucket spec (insert_into): the index
    table exists throughout."""
    name = f"{prefix}_grams"
    existing = spark.table(name)
    delta_counts = (
        ngram_positions(delta, text_col, id_col, n)
        .groupBy("gram_key")
        .agg(F.countDistinct("doc_id").alias("doc_freq"))
    )
    merged = (
        existing.unionByName(delta_counts)
        .groupBy("gram_key")
        .agg(F.sum("doc_freq").alias("doc_freq"))
        .localCheckpoint(eager=True)
    )
    insert_into(merged, name, overwrite=True)
    return spark.table(name)
