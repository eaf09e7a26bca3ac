"""Bucketed tables must deliver what they exist for: the join on the
bucket key plans WITHOUT an Exchange on either side."""

from __future__ import annotations

import pytest

from dataworks_aws_corporate_data_ingestion_spark.sinks.bucketing import (
    bucketed_join,
    insert_into,
    write_bucketed,
)


def bucket_spec(spark, table) -> tuple[str, str, str]:
    """(Num Buckets, Bucket Columns, Sort Columns) as the catalog
    records them."""
    rows = {
        r.col_name.strip(): r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    return rows["Num Buckets"], rows["Bucket Columns"], rows["Sort Columns"]


@pytest.fixture()
def bucketed_tables(spark):
    orders = spark.createDataFrame(
        [(i, i % 50, float(i)) for i in range(1000)],
        "o_orderkey bigint, o_custkey bigint, o_totalprice double",
    )
    lines = spark.createDataFrame(
        [(i % 1000, i, float(i) / 2) for i in range(3000)],
        "l_orderkey bigint, l_linenumber bigint, l_extendedprice double",
    )
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8)
    write_bucketed(
        lines.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lines",
        ["o_orderkey"],
        8,
    )
    yield "b_orders", "b_lines"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lines")


class TestBucketedJoin:
    def test_no_exchange_in_bucketed_join(self, spark, bucketed_tables):
        left, right = bucketed_tables
        # disable auto-broadcast so the test proves bucketing (not a
        # broadcast) removed the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = bucketed_join(spark, left, right, ["o_orderkey"])
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    def test_join_result_correct(self, spark, bucketed_tables):
        left, right = bucketed_tables
        df = bucketed_join(spark, left, right, ["o_orderkey"])
        assert df.count() == 3000  # every line matches exactly one order

    def test_bucketed_aggregate_skips_exchange(self, spark, bucketed_tables):
        left, _ = bucketed_tables
        agg = (
            spark.table(left)
            .groupBy("o_orderkey")
            .sum("o_totalprice")
        )
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


class TestInsertInto:
    """insert_into, the one write path for an existing bucketed table:
    the catalog's bucket spec survives appends and overwrites, and
    columns land by name although insertInto itself matches them by
    position."""

    @pytest.fixture()
    def table(self, spark):
        from pyspark.sql import functions as F

        write_bucketed(
            spark.range(10).select(
                F.col("id").alias("k"),
                (F.col("id") + 100).alias("a"),
                (F.col("id") * 10).alias("b"),
            ),
            "t_ins",
            ["k"],
            4,
        )
        yield "t_ins"
        spark.sql("DROP TABLE IF EXISTS t_ins")

    def test_reordered_same_typed_columns_land_by_name(self, spark, table):
        from pyspark.sql import functions as F

        # all three columns are bigint: a positional insert would swap
        # them silently
        insert_into(
            spark.range(10, 20).select(
                (F.col("id") * 10).alias("b"),
                F.col("id").alias("k"),
                (F.col("id") + 100).alias("a"),
            ),
            table,
        )
        rows = spark.table(table).collect()
        assert sorted(r.k for r in rows) == list(range(20))
        assert all(r.a == r.k + 100 and r.b == r.k * 10 for r in rows)

    def test_append_and_overwrite_keep_bucket_spec(self, spark, table):
        from pyspark.sql import functions as F

        spec = bucket_spec(spark, table)
        assert spec == ("4", "[`k`]", "[`k`]")
        insert_into(
            spark.range(10, 20).select(
                F.col("id").alias("k"), F.col("id").alias("a"), F.col("id").alias("b")
            ),
            table,
        )
        assert bucket_spec(spark, table) == spec
        pinned = spark.table(table).filter("k % 2 = 0").localCheckpoint(eager=True)
        insert_into(pinned, table, overwrite=True)
        assert bucket_spec(spark, table) == spec
        assert sorted(r.k for r in spark.table(table).collect()) == list(
            range(0, 20, 2)
        )
        # the rewritten files are read as buckets: no exchange on k
        plan = (
            spark.table(table).groupBy("k").count()
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan


class TestBucketedSearchIndex:
    @pytest.fixture()
    def index(self, spark):
        from dataworks_aws_corporate_data_ingestion_spark.operators.search import (
            materialize_search_index,
        )
        from dataworks_aws_corporate_data_ingestion_spark.sources.tables import (
            load_table,
        )

        docs = load_table(spark, "documents", "/root/testdata/sf0.001")
        yield materialize_search_index(spark, docs, "t_bm25", n_buckets=4)
        for t in ("t_bm25_postings", "t_bm25_dfs", "t_bm25_stats"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_search_plan_single_exchange_and_pushed_terms(self, spark, index):
        """The whole point of the bucketed index: a repeat search must
        plan as bucketed-scan + broadcast dims + ONE exchange (the
        per-doc score fold) -- nothing on the postings-join side -- with
        the term filter pushed into the parquet scan."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.search import (
            bm25_search,
        )

        postings, dfs, stats = index
        plan = (
            bm25_search(postings, dfs, stats, ["filter", "merge"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n_exchanges = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert n_exchanges == 1, plan
        assert "hashpartitioning(doc_id" in plan, plan
        assert "PushedFilters: [In(term" in plan, plan
        assert "TakeOrderedAndProject" in plan, plan

    def test_term_stats_from_bucketed_postings_skips_exchange(self, spark, index):
        from dataworks_aws_corporate_data_ingestion_spark.operators.search import (
            term_stats,
        )

        postings, _, _ = index
        plan = (
            term_stats(postings)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan

    def test_bucketed_search_matches_adhoc_search(self, spark, index):
        """Layout must not change semantics: the bucketed-index search
        returns exactly the ad-hoc (in-memory index) search's ranking."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.search import (
            bm25_search,
            build_postings,
            corpus_stats,
            term_stats,
        )
        from dataworks_aws_corporate_data_ingestion_spark.sources.tables import (
            load_table,
        )

        postings, dfs, stats = index
        terms = ["filter", "merge", "sort", "query"]
        got = bm25_search(postings, dfs, stats, terms).collect()
        docs = load_table(spark, "documents", "/root/testdata/sf0.001")
        adhoc_p = build_postings(docs)
        want = bm25_search(
            adhoc_p, term_stats(adhoc_p), corpus_stats(adhoc_p), terms
        ).collect()
        assert [(r.doc_id, r.bm25) for r in got] == [
            (r.doc_id, r.bm25) for r in want
        ]


class TestSearchIndexAppend:
    @pytest.fixture()
    def split_index(self, spark):
        from dataworks_aws_corporate_data_ingestion_spark.operators.search import (
            materialize_search_index,
        )
        from dataworks_aws_corporate_data_ingestion_spark.sources.tables import (
            load_table,
        )

        docs = load_table(spark, "documents", "/root/testdata/sf0.001")
        corpus = docs.filter("doc_id % 10 != 0")
        delta = docs.filter("doc_id % 10 = 0")
        materialize_search_index(spark, corpus, "t_bm25a", n_buckets=4)
        yield docs, delta
        for t in ("t_bm25a_postings", "t_bm25a_dfs", "t_bm25a_stats"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_append_matches_full_rebuild(self, spark, split_index):
        """Appending a delta must leave the index bit-identical (search
        results AND stats) to rebuilding from the full corpus -- df/tf
        accounting, dl sums, and layout all preserved."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.search import (
            append_to_search_index,
            bm25_search,
            build_postings,
            corpus_stats,
            term_stats,
        )

        docs, delta = split_index
        append_to_search_index(spark, delta, "t_bm25a")

        terms = ["filter", "merge", "sort", "query"]
        got = bm25_search(
            spark.table("t_bm25a_postings"),
            spark.table("t_bm25a_dfs"),
            spark.table("t_bm25a_stats"),
            terms,
        ).collect()
        full_p = build_postings(docs)
        want = bm25_search(
            full_p, term_stats(full_p), corpus_stats(full_p), terms
        ).collect()
        assert [(r.doc_id, r.bm25) for r in got] == [
            (r.doc_id, r.bm25) for r in want
        ]
        # stats row matches the full corpus exactly
        stored = spark.table("t_bm25a_stats").collect()[0]
        rebuilt = corpus_stats(full_p).collect()[0]
        assert (stored.n_docs, stored.sum_dl) == (rebuilt.n_docs, rebuilt.sum_dl)

    def test_append_preserves_bucketed_search_plan(self, spark, split_index):
        """The reason append re-declares the bucket spec: post-append
        searches must still plan bucketed -- one exchange total (the
        per-doc fold), term filter pushed to parquet."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.search import (
            append_to_search_index,
            bm25_search,
        )

        _, delta = split_index
        append_to_search_index(spark, delta, "t_bm25a")
        plan = (
            bm25_search(
                spark.table("t_bm25a_postings"),
                spark.table("t_bm25a_dfs"),
                spark.table("t_bm25a_stats"),
                ["filter", "merge"],
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n_exchanges = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert n_exchanges == 1, plan
        assert "PushedFilters: [In(term" in plan, plan
        # layout metadata intact
        assert bucket_spec(spark, "t_bm25a_postings")[0] == "4"

    def test_append_to_missing_index_fails_loudly(self, spark):
        from pyspark.errors import AnalysisException

        from dataworks_aws_corporate_data_ingestion_spark.operators.search import (
            append_to_search_index,
        )

        docs = spark.createDataFrame(
            [(1, "hello world")], "doc_id bigint, text string"
        )
        with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
            append_to_search_index(spark, docs, "t_bm25_missing")
        assert not any(
            t.name.startswith("t_bm25_missing")
            for t in spark.catalog.listTables()
        )


class TestMinhashIndex:
    @pytest.fixture()
    def index(self, spark):
        from dataworks_aws_corporate_data_ingestion_spark.operators.dedup import (
            materialize_minhash_index,
        )
        from dataworks_aws_corporate_data_ingestion_spark.sources.tables import (
            load_table,
        )

        docs = load_table(spark, "documents", "/root/testdata/sf0.001")
        corpus = docs.filter("doc_id % 10 != 0")
        materialize_minhash_index(spark, corpus, "t_mh", n_buckets=4)
        yield docs
        for t in ("t_mh_shingles", "t_mh_buckets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_indexed_matches_inflight_incremental(self, spark, index):
        from dataworks_aws_corporate_data_ingestion_spark.operators.dedup import (
            near_dup_pairs_against_index,
            near_dup_pairs_minhash_incremental,
        )

        docs = index
        got = sorted(
            (r.a, r.b, round(r.jaccard_sim, 12))
            for r in near_dup_pairs_against_index(
                spark, docs.filter("doc_id % 10 = 0"), "t_mh"
            ).collect()
        )
        want = sorted(
            (r.a, r.b, round(r.jaccard_sim, 12))
            for r in near_dup_pairs_minhash_incremental(
                corpus=docs.filter("doc_id % 10 != 0"),
                delta=docs.filter("doc_id % 10 = 0"),
            ).collect()
        )
        assert got == want

    def test_mismatched_minhash_params_fail_loudly(self, spark, index):
        """The index pins (k, bands, rows) as table properties at
        materialize time and its bucket spec in the catalog; query/append
        paths that pass different explicit values must raise, not
        silently destroy recall."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.dedup import (
            append_to_minhash_index,
            index_params,
            near_dup_pairs_against_index,
        )

        docs = index
        assert index_params(spark, "t_mh", None, None, None) == (3, 16, 4)
        assert bucket_spec(spark, "t_mh_buckets")[0] == "4"
        delta = docs.filter("doc_id % 10 = 0")
        with pytest.raises(ValueError, match="bands=16, caller passed bands=8"):
            near_dup_pairs_against_index(spark, delta, "t_mh", bands=8)
        with pytest.raises(ValueError, match="k=3, caller passed k=5"):
            append_to_minhash_index(spark, delta, "t_mh", k=5)

    def test_corpus_bucket_side_has_no_exchange(self, spark, index):
        """The point of the bucketed layout: with broadcast disabled, the
        candidate join must exchange ONLY the delta side -- the stored
        corpus buckets are already partitioned on the band keys."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.dedup import (
            lsh_band_buckets,
            minhash_signatures,
        )
        from dataworks_aws_corporate_data_ingestion_spark.functions.text import (
            word_shingles,
        )
        from pyspark.sql import functions as F

        docs = index
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            delta_sh = docs.filter("doc_id % 10 = 0").select(
                "doc_id", word_shingles(F.col("text"), 3).alias("shingles")
            )
            delta_buckets = lsh_band_buckets(minhash_signatures(delta_sh))
            joined = spark.table("t_mh_buckets").join(
                delta_buckets.select(
                    F.col("doc_id").alias("d"), "band_id", "band_hash"
                ),
                ["band_id", "band_hash"],
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            n_band_exchanges = plan.count("Exchange hashpartitioning(band_id")
            assert n_band_exchanges == 1, plan  # delta side only
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


class TestSearchIndexDeletion:
    @pytest.fixture()
    def full_index(self, spark):
        from dataworks_aws_corporate_data_ingestion_spark.operators.search import (
            materialize_search_index,
        )
        from dataworks_aws_corporate_data_ingestion_spark.sources.tables import (
            load_table,
        )

        docs = load_table(spark, "documents", "/root/testdata/sf0.001")
        materialize_search_index(spark, docs, "t_bm25d", n_buckets=4)
        yield docs
        for t in (
            "t_bm25d_postings",
            "t_bm25d_dfs",
            "t_bm25d_stats",
            "t_bm25d_deleted",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    def _search(self, spark, frames, terms=("filter", "merge", "sort", "query")):
        from dataworks_aws_corporate_data_ingestion_spark.operators.search import bm25_search

        return sorted(
            tuple(r) for r in bm25_search(*frames, terms).collect()
        )

    def _rebuild_frames(self, docs):
        from dataworks_aws_corporate_data_ingestion_spark.operators.search import (
            build_postings,
            corpus_stats,
            term_stats,
        )

        p = build_postings(docs)
        return p, term_stats(p), corpus_stats(p)

    def test_tombstone_delete_matches_rebuild(self, spark, full_index):
        """delete_from_search_index + live_index_frames must equal a
        from-scratch index over the surviving corpus: results, df, and
        corpus stats all exact."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.search import (
            delete_from_search_index,
            live_index_frames,
        )

        docs = full_index
        erased = docs.filter("doc_id % 7 = 1").select("doc_id")
        delete_from_search_index(spark, erased, "t_bm25d")
        got = self._search(spark, live_index_frames(spark, "t_bm25d"))
        want = self._search(
            spark, self._rebuild_frames(docs.filter("doc_id % 7 != 1"))
        )
        assert got == want
        # dims exact, not just rankings
        s = spark.table("t_bm25d_stats").collect()[0]
        w = self._rebuild_frames(docs.filter("doc_id % 7 != 1"))[2].collect()[0]
        assert (s.n_docs, s.sum_dl) == (w.n_docs, w.sum_dl)

    def test_double_delete_is_idempotent(self, spark, full_index):
        """Re-deleting the same ids must not double-subtract df/stats."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.search import (
            delete_from_search_index,
            live_index_frames,
        )

        docs = full_index
        erased = docs.filter("doc_id % 7 = 1").select("doc_id")
        delete_from_search_index(spark, erased, "t_bm25d")
        first = self._search(spark, live_index_frames(spark, "t_bm25d"))
        stats1 = spark.table("t_bm25d_stats").collect()[0]
        delete_from_search_index(spark, erased, "t_bm25d")
        again = self._search(spark, live_index_frames(spark, "t_bm25d"))
        stats2 = spark.table("t_bm25d_stats").collect()[0]
        assert again == first
        assert (stats1.n_docs, stats1.sum_dl) == (stats2.n_docs, stats2.sum_dl)

    def test_replay_after_crashed_dims_heals(self, spark, full_index):
        """Crash window (r7 advisor): tombstones appended but the dims
        correction never ran.  A REPLAY of the same delete used to be a
        no-op (ids already tombstoned -> nothing subtracted) leaving
        df/idf/avgdl stale until full compaction.  The stats watermark
        (n_del_applied) must now detect the gap and the replay must heal
        dims to rebuild-exact values."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.search import (
            delete_from_search_index,
            live_index_frames,
        )

        docs = full_index
        erased = docs.filter("doc_id % 7 = 1").select("doc_id").distinct()
        # simulate the crash: tombstone append landed, dims untouched
        erased.write.mode("append").format("parquet").saveAsTable(
            "t_bm25d_deleted"
        )
        # replay of the same delete: every id is already tombstoned
        delete_from_search_index(spark, erased, "t_bm25d")
        s = spark.table("t_bm25d_stats").collect()[0]
        w = self._rebuild_frames(docs.filter("doc_id % 7 != 1"))[2].collect()[0]
        assert (s.n_docs, s.sum_dl) == (w.n_docs, w.sum_dl)
        got = self._search(spark, live_index_frames(spark, "t_bm25d"))
        want = self._search(
            spark, self._rebuild_frames(docs.filter("doc_id % 7 != 1"))
        )
        assert got == want
        # dfs exact too, term by term
        from dataworks_aws_corporate_data_ingestion_spark.operators.search import (
            term_stats,
            build_postings,
        )

        got_dfs = {
            (r.term, r.df) for r in spark.table("t_bm25d_dfs").collect()
        }
        want_dfs = {
            (r.term, r.df)
            for r in term_stats(
                build_postings(docs.filter("doc_id % 7 != 1"))
            ).collect()
        }
        assert got_dfs == want_dfs

    def test_heal_is_idempotent(self, spark, full_index):
        """heal_search_index_dims is a pure function of postings +
        tombstones: running it twice (replay after ANY partial progress)
        must converge to the same rebuild-exact state."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.search import (
            heal_search_index_dims,
        )

        docs = full_index
        erased = docs.filter("doc_id % 5 = 2").select("doc_id").distinct()
        erased.write.mode("append").format("parquet").saveAsTable(
            "t_bm25d_deleted"
        )
        heal_search_index_dims(spark, "t_bm25d")
        first = (
            sorted(tuple(r) for r in spark.table("t_bm25d_dfs").collect()),
            spark.table("t_bm25d_stats").collect()[0],
        )
        heal_search_index_dims(spark, "t_bm25d")
        second = (
            sorted(tuple(r) for r in spark.table("t_bm25d_dfs").collect()),
            spark.table("t_bm25d_stats").collect()[0],
        )
        assert first == second
        w = self._rebuild_frames(docs.filter("doc_id % 5 != 2"))[2].collect()[0]
        assert (first[1].n_docs, first[1].sum_dl) == (w.n_docs, w.sum_dl)

    def test_compact_matches_rebuild_and_clears_tombstones(
        self, spark, full_index
    ):
        """compact_search_index must physically equal the rebuild (same
        searches from the stored tables alone), drop the tombstone
        table, and preserve the bucket spec for later appends."""
        from dataworks_aws_corporate_data_ingestion_spark.operators.search import (
            compact_search_index,
            delete_from_search_index,
            live_index_frames,
        )

        docs = full_index
        erased = docs.filter("doc_id % 7 = 1").select("doc_id")
        delete_from_search_index(spark, erased, "t_bm25d")
        compact_search_index(spark, "t_bm25d")
        assert not spark.catalog.tableExists("t_bm25d_deleted")
        got = self._search(
            spark,
            (
                spark.table("t_bm25d_postings"),
                spark.table("t_bm25d_dfs"),
                spark.table("t_bm25d_stats"),
            ),
        )
        want = self._search(
            spark, self._rebuild_frames(docs.filter("doc_id % 7 != 1"))
        )
        assert got == want
        # live_index_frames with no tombstone table = the stored index
        assert self._search(spark, live_index_frames(spark, "t_bm25d")) == got
        assert bucket_spec(spark, "t_bm25d_postings")[0] == "4"
