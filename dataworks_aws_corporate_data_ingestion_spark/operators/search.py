"""Multi-term BM25 search layer over a precomputed postings index.

`bm25_top_docs` (workloads/text_analysis.py) scores a FIXED term set as
per-row column expressions -- optimal for <= a handful of literals, but
every new query re-scans the corpus.  A search layer inverts that cost:
build the postings index (doc_id, term, tf, dl) and the per-term
document-frequency dimension ONCE, then answer any query term set with a
broadcast join against the postings -- the classic inverted-index shape
(Lucene/ES do the same thing; here it is a DataFrame).

Scale notes (100 TB corpus):

* ``build_postings``: one explode + one hash aggregate keyed on
  (doc_id, term).  Map-side combine collapses repeated tokens before the
  exchange, so the shuffle carries one row per DISTINCT (doc, term) --
  for natural text that is ~40% of raw token volume.  Write it out
  bucketed by term (sinks/bucketing.py) and every later search is
  exchange-free on the postings side.
* ``term_stats``: a second tiny aggregate over postings (one row per
  vocab term); this is the dimension table a query planner broadcasts.
* ``bm25_search``: `term IN (...)` prunes the postings scan (pushed to
  parquet when the index is materialised), the df/stats sides are
  broadcast, and the only shuffle is the per-doc score sum over matched
  postings -- rows proportional to matched postings, not corpus size.
  Top-k plans as TakeOrderedAndProject.

Cross-engine determinism: per-term scores are IEEE-exact (rational idf,
no log -- see bm25_top_docs), and the per-doc SUM over a VARIABLE number
of matched terms is order-sensitive in floating point, so the sum is an
explicit left-to-right fold over the term-sorted score list
(sort_array(collect_list(...)) + F.aggregate) mirrored by
list(... ORDER BY term) + list_reduce in the oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import fan_out
from ..sinks.bucketing import insert_into

K1 = 1.2
B = 0.75


def tokens(text_col: F.Column) -> F.Column:
    return F.split(F.lower(text_col), " ")


def build_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The inverted index: one row per distinct (doc, term) with the
    term frequency and the document length.

    (doc_id, dl) ride the aggregate key -- dl is functionally dependent
    on doc_id, so this adds no groups, and it keeps the plan one
    aggregate instead of an aggregate plus a self-join.

    The token explode amplifies rows ~dl x before the first exchange, so
    a corpus that arrived as few splits would serialise the whole
    amplification onto few cores (the one-file-one-partition trap);
    fan_out spreads the un-amplified docs across the session parallelism
    first and is a no-op when the scan is already parallel."""
    docs = fan_out(docs)
    toks = tokens(F.col(text_col))
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(toks).cast("bigint").alias("dl"),
            F.explode(toks).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def term_stats(postings: DataFrame) -> DataFrame:
    """Per-term document frequency -- the broadcastable dimension table
    (one row per vocabulary term; postings are already distinct per
    (doc, term) so a plain count is df)."""
    return postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def corpus_stats(postings: DataFrame) -> DataFrame:
    """Single-row (n_docs, sum_dl): derived from the index itself so a
    search needs no second corpus scan.  max(dl) per doc collapses the
    per-term duplication exactly."""
    per_doc = postings.groupBy("doc_id").agg(F.max("dl").alias("dl"))
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    )


def materialize_search_index(
    spark,
    docs: DataFrame,
    prefix: str,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Persist the full search index as catalog tables, postings bucketed
    by term: `{prefix}_postings` (bucketBy term -- the corpus-sized side),
    `{prefix}_dfs` (per-term df dimension), `{prefix}_stats` (single-row
    corpus stats).  Returns the three frames read back from the catalog.

    This is the Lucene trade re-expressed in Spark's layout system: pay
    the postings shuffle ONCE at write time; every later search plans as
    a bucketed scan with the `term IN (...)` predicate pushed to parquet,
    broadcast dims, and exactly one exchange (the per-doc score fold) --
    asserted by tests/test_bucketing.py.  Bucket counts should put one
    bucket ~ one task (128-512 MB) at the target corpus size."""
    from ..sinks.bucketing import _clear_orphan_location, write_bucketed

    postings = build_postings(docs, id_col=id_col, text_col=text_col)
    write_bucketed(postings, f"{prefix}_postings", ["term"], n_buckets)
    indexed = spark.table(f"{prefix}_postings")
    # dims derive from the materialised postings (not the source corpus):
    # one bucketed-scan pass, and bit-identical to what searches will read
    for suffix, frame in (("dfs", term_stats(indexed)), ("stats", corpus_stats(indexed))):
        _clear_orphan_location(spark, f"{prefix}_{suffix}")
        frame.write.mode("overwrite").saveAsTable(f"{prefix}_{suffix}")
    return (
        indexed,
        spark.table(f"{prefix}_dfs"),
        spark.table(f"{prefix}_stats"),
    )


def append_to_search_index(
    spark,
    docs: DataFrame,
    prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Admit new documents into a materialised search index WITHOUT a
    corpus rebuild -- the BM25 twin of the minhash index's append path
    (operators/dedup.py::append_to_minhash_index):

      * delta postings append to `{prefix}_postings` under the table's
        own bucket spec (insert_into takes it from the catalog), so new
        files land bucketed and repeat searches keep the exchange-free
        postings side; a missing index raises before anything is
        written;
      * `{prefix}_dfs` becomes old + delta document frequencies -- a
        vocabulary-sized merge, never a corpus scan;
      * `{prefix}_stats` adds the delta's (n_docs, sum_dl) to the stored
        single row.

    Every frame that reads a table being overwritten is pinned with an
    eager localCheckpoint first (self-referencing overwrite is an
    analysis error, and lazy re-reads after the write would double
    count).  Caller contract: `docs` must be NEW doc_ids (dedup first --
    appending an existing doc double-counts its df/tf).  Cost scales
    with the delta: the corpus-sized postings table is written to, never
    read."""
    delta = build_postings(docs, id_col=id_col, text_col=text_col).localCheckpoint(
        eager=True
    )
    insert_into(delta, f"{prefix}_postings")
    merged_dfs = (
        spark.table(f"{prefix}_dfs")
        .unionByName(term_stats(delta))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .localCheckpoint(eager=True)
    )
    merged_dfs.write.mode("overwrite").saveAsTable(f"{prefix}_dfs")
    stored_stats = spark.table(f"{prefix}_stats")
    applied = _stats_del_applied(stored_stats)
    merged_stats = (
        stored_stats.select("n_docs", "sum_dl")
        .unionByName(corpus_stats(delta))
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("sum_dl").cast("bigint").alias("sum_dl"),
        )
        # carry the deletion watermark through (see delete_from_search_index)
        .withColumn("n_del_applied", F.lit(applied).cast("bigint"))
        .localCheckpoint(eager=True)
    )
    merged_stats.write.mode("overwrite").saveAsTable(f"{prefix}_stats")


def bm25_search(
    postings: DataFrame,
    dfs: DataFrame,
    stats: DataFrame,
    terms: Sequence[str],
    k: int = 20,
) -> DataFrame:
    """Top-k documents for an arbitrary term set against a prebuilt
    index.  Returns (doc_id, bm25), score-descending, doc_id tiebreak.

    Only documents matching >= 1 query term are ranked (inverted-index
    semantics; a zero-match doc scores 0 and is never competitive)."""
    matched = postings.filter(F.col("term").isin(*terms))
    dbl = lambda c: F.col(c).cast("double")
    avgdl = dbl("sum_dl") / dbl("n_docs")
    idf = (dbl("n_docs") - dbl("df") + F.lit(0.5)) / (dbl("df") + F.lit(0.5))
    # literal 2.2 / 0.25 (k1+1, 1-b) rather than Python-computed sums so
    # the constant bits provably match the oracle's SQL literals
    score = idf * (dbl("tf") * F.lit(2.2)) / (
        dbl("tf") + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (dbl("dl") / avgdl))
    )
    scored = (
        matched.join(F.broadcast(dfs.filter(F.col("term").isin(*terms))), "term")
        .join(F.broadcast(stats))
        .select("doc_id", "term", score.alias("score"))
    )
    # deterministic fold: sort matched term scores per doc, sum left to
    # right (see module docstring)
    folded = scored.groupBy("doc_id").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "score"))),
            F.lit(0.0),
            lambda acc, x: acc + x["score"],
        ).alias("bm25")
    )
    return folded.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()).limit(k)


def _tombstone_table(prefix: str) -> str:
    return f"{prefix}_deleted"


def _stats_del_applied(stats: DataFrame) -> int:
    """Deletion watermark stored on the stats row: how many tombstone
    rows the dims currently reflect (0 when the column predates the
    watermark or the row is missing)."""
    if "n_del_applied" not in stats.columns:
        return 0
    rows = stats.select("n_del_applied").collect()
    return int(rows[0][0] or 0) if rows else 0


def delete_from_search_index(
    spark, doc_ids: DataFrame, prefix: str, id_col: str = "doc_id"
) -> None:
    """Targeted document deletion from a materialised search index
    WITHOUT rewriting the corpus-sized postings table -- the search
    twin of operators/purge.py (an RTBF request must disappear from
    search results too, and a 100 TB postings rewrite per erasure batch
    is not viable).

    Protocol (idempotent per id AND per crash window):

      1. incoming ids are anti-joined against the existing tombstone
         set, so re-deleting an id cannot double-subtract dimensions;
      2. the FRESH ids append to `{prefix}_deleted` (the tombstone
         table searches anti-join against) -- compliance-first order:
         from this point the docs are gone from results even if a
         crash interrupts step 3;
      3. `{prefix}_dfs` / `{prefix}_stats` subtract exactly the
         deleted docs' contribution (one postings scan filtered by the
         broadcast id set -- erasure batches are small by nature), so
         rankings equal a from-scratch rebuild on the surviving corpus
         (terms whose df reaches 0 are dropped, as a rebuild omits
         them).  The stats rewrite carries `n_del_applied` -- the
         tombstone count the dims now reflect -- as the COMMIT MARKER
         for the whole step (dfs is written before stats, so a stats
         row whose watermark matches the tombstone count proves both
         dims landed).

    Crash recovery (r7 advisor finding: a replayed delete used to be a
    no-op -- ids already tombstoned -> nothing subtracted -> stale dims
    persisted until a full compaction): any entry detects
    `n_del_applied` < tombstone count and runs
    `heal_search_index_dims`, which RECOMPUTES the affected terms' df
    and the global stats from (postings minus the full tombstone set)
    -- a pure function of ground truth, so it converges no matter where
    the previous attempt died (even between the dfs and stats writes).
    The heal pays extra postings scans; the crash-free path keeps the
    original one-scan incremental subtraction."""
    ids = (
        doc_ids.select(F.col(id_col).alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    tomb = _tombstone_table(prefix)
    n_tomb_before = 0
    if spark.catalog.tableExists(tomb):
        ids = ids.join(
            spark.table(tomb), "doc_id", "left_anti"
        ).localCheckpoint(eager=True)
        n_tomb_before = spark.table(tomb).count()
    else:
        # a fresh session may still see the last session's warehouse dir
        from ..sinks.bucketing import _clear_orphan_location

        _clear_orphan_location(spark, tomb)
    applied = _stats_del_applied(spark.table(f"{prefix}_stats"))
    ids.write.mode("append").format("parquet").saveAsTable(tomb)
    if applied < n_tomb_before:
        # a previous delete died between its tombstone append and its
        # dim commit: recompute from ground truth (handles this batch's
        # fresh ids in the same pass)
        heal_search_index_dims(spark, prefix)
        return

    n_fresh = ids.count()
    if n_fresh == 0:
        return
    removed = (
        spark.table(f"{prefix}_postings")
        .join(F.broadcast(ids), "doc_id")
        .localCheckpoint(eager=True)
    )
    merged_dfs = (
        spark.table(f"{prefix}_dfs")
        .join(
            term_stats(removed).withColumnRenamed("df", "__rm"),
            "term",
            "left",
        )
        .select(
            "term",
            (F.col("df") - F.coalesce(F.col("__rm"), F.lit(0))).alias("df"),
        )
        .filter(F.col("df") > 0)
        .localCheckpoint(eager=True)
    )
    merged_dfs.write.mode("overwrite").saveAsTable(f"{prefix}_dfs")
    merged_stats = (
        spark.table(f"{prefix}_stats")
        .select("n_docs", "sum_dl")
        .unionByName(
            corpus_stats(removed).select(
                (-F.col("n_docs")).alias("n_docs"),
                (-F.col("sum_dl")).alias("sum_dl"),
            )
        )
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("sum_dl").cast("bigint").alias("sum_dl"),
        )
        .withColumn(
            "n_del_applied",
            F.lit(n_tomb_before + n_fresh).cast("bigint"),
        )
        .localCheckpoint(eager=True)
    )
    merged_stats.write.mode("overwrite").saveAsTable(f"{prefix}_stats")


def heal_search_index_dims(spark, prefix: str) -> None:
    """Idempotent dim reconstruction after an interrupted delete:
    recompute the df of every term any tombstoned doc touches, and the
    global (n_docs, sum_dl), from (postings minus the FULL tombstone
    set).  Pure function of the stored postings + tombstones, so it
    gives the same answer no matter which subset of a previous delete's
    writes landed; stamps the stats watermark to the tombstone count it
    now reflects.  Cost: two postings scans (affected-term discovery +
    live recount) and one full-postings aggregate -- heavier than the
    incremental path, run only on detected inconsistency (or directly,
    as a cheap alternative to full compaction)."""
    tomb = _tombstone_table(prefix)
    if not spark.catalog.tableExists(tomb):
        return
    tomb_ids = (
        spark.table(tomb).select("doc_id").distinct().localCheckpoint(eager=True)
    )
    n_tomb = tomb_ids.count()
    postings = spark.table(f"{prefix}_postings")
    # terms whose df may be wrong: every term of every tombstoned doc
    # (tombstoned postings stay physical until compaction, so this
    # covers all earlier crashed batches too)
    affected = (
        postings.join(F.broadcast(tomb_ids), "doc_id")
        .select("term")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # true df over the surviving corpus, affected terms only; the join
    # on term hits the bucketed postings layout exchange-free
    recount = (
        postings.join(affected, "term")
        .join(F.broadcast(tomb_ids), "doc_id", "left_anti")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("__new"))
    )
    merged_dfs = (
        spark.table(f"{prefix}_dfs")
        .join(affected.withColumn("__aff", F.lit(1)), "term", "left")
        .join(recount, "term", "left")
        .select(
            "term",
            F.when(
                F.col("__aff") == 1, F.coalesce(F.col("__new"), F.lit(0))
            )
            .otherwise(F.col("df"))
            .cast("bigint")
            .alias("df"),
        )
        .filter(F.col("df") > 0)
        .localCheckpoint(eager=True)
    )
    merged_dfs.write.mode("overwrite").saveAsTable(f"{prefix}_dfs")
    live_stats = (
        corpus_stats(postings.join(F.broadcast(tomb_ids), "doc_id", "left_anti"))
        .select(
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("sum_dl").cast("bigint").alias("sum_dl"),
        )
        .withColumn("n_del_applied", F.lit(n_tomb).cast("bigint"))
        .localCheckpoint(eager=True)
    )
    live_stats.write.mode("overwrite").saveAsTable(f"{prefix}_stats")


def live_index_frames(spark, prefix: str):
    """(postings, dfs, stats) with tombstoned documents excluded:
    postings anti-join the broadcast tombstone set (erasure batches are
    small; the join is exchange-free on the postings side), dims come
    off the stored tables (already corrected at delete time).  With no
    tombstone table this is exactly the stored index."""
    postings = spark.table(f"{prefix}_postings")
    tomb = _tombstone_table(prefix)
    if spark.catalog.tableExists(tomb):
        ids = spark.table(tomb).select("doc_id").distinct()
        postings = postings.join(F.broadcast(ids), "doc_id", "left_anti")
    return (
        postings,
        spark.table(f"{prefix}_dfs"),
        spark.table(f"{prefix}_stats"),
    )


def compact_search_index(spark, prefix: str) -> None:
    """Physically remove tombstoned documents: rewrite the postings
    table (same bucket spec) minus tombstones, recompute the dims from
    the surviving postings (restoring exactness if a deletion crash
    left them stale), and clear the tombstone set.  This is the RTBF
    completion step -- after it, the deleted docs' bytes are gone from
    disk, not just masked.  Run at compaction cadence, not per
    deletion."""
    tomb = _tombstone_table(prefix)
    if not spark.catalog.tableExists(tomb):
        return
    ids = spark.table(tomb).select("doc_id").distinct()
    live = (
        spark.table(f"{prefix}_postings")
        .join(F.broadcast(ids), "doc_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    insert_into(live, f"{prefix}_postings", overwrite=True)
    stored = spark.table(f"{prefix}_postings")
    for suffix, frame in (
        ("dfs", term_stats(stored)),
        (
            "stats",
            corpus_stats(stored).withColumn(
                # tombstones are physically gone: the watermark resets
                "n_del_applied",
                F.lit(0).cast("bigint"),
            ),
        ),
    ):
        frame.localCheckpoint(eager=True).write.mode("overwrite").saveAsTable(
            f"{prefix}_{suffix}"
        )
    spark.sql(f"DROP TABLE {tomb}")
