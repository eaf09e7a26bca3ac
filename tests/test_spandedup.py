"""Span-level substring dedup (operators/spandedup.py).

Synthetic fixtures with hand-computable duplicated windows pin the
semantics: window enumeration, the >=2-distinct-docs duplication rule,
overlapping/touching span merge, masking, and the short-document guard
against Spark's descending-sequence quirk.
"""

from __future__ import annotations

import pytest

from dataworks_aws_corporate_data_ingestion_spark.operators.spandedup import (
    duplicated_spans,
    mask_duplicated_spans,
    ngram_positions,
    top_repeated_grams,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


WORDS = "w{}"


def _text(*idx):
    return " ".join(WORDS.format(i) for i in idx)


class TestNgramPositions:
    def test_window_count_and_positions(self, spark):
        df = _docs(spark, [(1, _text(*range(10)))])
        rows = ngram_positions(df, n=8).collect()
        # 10 tokens -> windows at pos 0, 1, 2
        assert sorted(r.pos for r in rows) == [0, 1, 2]

    def test_short_doc_contributes_nothing(self, spark):
        # 7 tokens < n=8: sequence(0, -1) would count DOWN without the
        # guard and fabricate windows
        df = _docs(spark, [(1, _text(*range(7)))])
        assert ngram_positions(df, n=8).count() == 0

    def test_exact_length_doc_one_window(self, spark):
        df = _docs(spark, [(1, _text(*range(8)))])
        rows = ngram_positions(df, n=8).collect()
        assert [r.pos for r in rows] == [0]


class TestDuplicatedSpans:
    def test_within_doc_repeat_is_not_duplication(self, spark):
        # same 8-gram twice in ONE doc: doc_freq=1, below min_docs=2
        t = _text(*range(8)) + " x " + _text(*range(8))
        df = _docs(spark, [(1, t)])
        pos = ngram_positions(df, n=8)
        assert duplicated_spans(pos, min_docs=2, n=8).count() == 0

    def test_cross_doc_window_merges_overlaps(self, spark):
        # docs 1 and 2 share tokens 0..9 (3 overlapping windows at
        # pos 0,1,2 in doc 1) -> ONE merged span [0, 10)
        shared = _text(*range(10))
        df = _docs(
            spark,
            [(1, shared + " " + _text(100, 101)), (2, shared)],
        )
        pos = ngram_positions(df, n=8)
        spans = {
            r.doc_id: (r.span_start, r.span_end)
            for r in duplicated_spans(pos, min_docs=2, n=8).collect()
        }
        assert spans[1] == (0, 10)
        assert spans[2] == (0, 10)

    def test_disjoint_shared_passages_stay_separate(self, spark):
        # two shared 8-gram passages separated by >8 unique tokens ->
        # two spans
        a = _text(*range(8))
        b = _text(*range(50, 58))
        gap1 = _text(*range(200, 212))
        gap2 = _text(*range(300, 312))
        df = _docs(
            spark,
            [(1, a + " " + gap1 + " " + b), (2, a + " " + gap2 + " " + b)],
        )
        pos = ngram_positions(df, n=8)
        d1 = sorted(
            (r.span_start, r.span_end)
            for r in duplicated_spans(pos, min_docs=2, n=8)
            .filter("doc_id = 1")
            .collect()
        )
        assert d1 == [(0, 8), (20, 28)]


class TestMasking:
    def test_mask_removes_exactly_the_span(self, spark):
        shared = _text(*range(10))
        tail = _text(500, 501, 502)
        df = _docs(spark, [(1, shared + " " + tail), (2, shared)])
        out = {
            r.doc_id: r for r in mask_duplicated_spans(df, n=8).collect()
        }
        assert out[1].clean_text == tail
        assert out[1].n_dup_spans == 1
        assert out[1].dup_tokens == 10
        assert out[1].total_tokens == 13
        assert out[2].clean_text == ""
        assert out[2].dup_ratio == pytest.approx(1.0)

    def test_unduplicated_doc_passes_through(self, spark):
        df = _docs(
            spark,
            [(1, _text(*range(20))), (2, _text(*range(100, 120)))],
        )
        out = {r.doc_id: r for r in mask_duplicated_spans(df, n=8).collect()}
        for r in out.values():
            assert r.n_dup_spans == 0
            assert r.dup_tokens == 0
            assert r.clean_text == r.clean_text.lower()
            assert len(r.clean_text.split(" ")) == 20

    def test_every_input_doc_appears_once(self, spark):
        df = _docs(
            spark,
            [(i, _text(*range(i, i + 12))) for i in range(1, 6)],
        )
        out = mask_duplicated_spans(df, n=8)
        assert out.count() == 5
        assert out.select("doc_id").distinct().count() == 5


class TestTopRepeated:
    def test_orders_by_doc_freq_then_gram(self, spark):
        shared = _text(*range(8))
        df = _docs(
            spark,
            [
                (1, shared),
                (2, shared),
                (3, shared),
                (4, _text(*range(50, 58))),
                (5, _text(*range(50, 58))),
            ],
        )
        rows = top_repeated_grams(df, n=8, k=10).collect()
        assert rows[0].gram == shared.lower()
        assert rows[0].doc_freq == 3
        assert rows[1].doc_freq == 2

    def test_plan_is_take_ordered(self, spark):
        df = _docs(spark, [(1, _text(*range(9))), (2, _text(*range(9)))])
        plan = (
            top_repeated_grams(df, n=8, k=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in plan


def _mask_py(docs: dict[int, list[str]], n: int = 8, min_docs: int = 2):
    """Pure-Python reference for mask_duplicated_spans."""
    gram_docs: dict[tuple, set[int]] = {}
    gram_pos: dict[int, list[tuple[int, tuple]]] = {}
    for did, toks in docs.items():
        gram_pos[did] = []
        for p in range(len(toks) - n + 1):
            g = tuple(toks[p : p + n])
            gram_docs.setdefault(g, set()).add(did)
            gram_pos[did].append((p, g))
    out = {}
    for did, toks in docs.items():
        dup_pos = sorted(
            p for p, g in gram_pos[did] if len(gram_docs[g]) >= min_docs
        )
        spans = []
        for p in dup_pos:
            if spans and p <= spans[-1][1]:
                spans[-1] = (spans[-1][0], max(spans[-1][1], p + n))
            else:
                spans.append((p, p + n))
        covered = set()
        for s, e in spans:
            covered.update(range(s, e))
        kept = [t for i, t in enumerate(toks) if i not in covered]
        out[did] = {
            "total_tokens": len(toks),
            "n_dup_spans": len(spans),
            "dup_tokens": sum(e - s for s, e in spans),
            "clean_text": " ".join(kept),
        }
    return out


class TestMaskingProperties:
    """Hypothesis: the distributed masking equals the sequential
    reference on random corpora drawn from a tiny vocabulary (high
    collision pressure)."""

    def test_random_corpora_match_reference(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        vocab = ["a", "b", "c", "d"]
        corpus_strategy = st.lists(
            st.lists(st.sampled_from(vocab), min_size=1, max_size=30),
            min_size=1,
            max_size=8,
        )

        @settings(
            max_examples=25,
            deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        @given(corpus_strategy)
        def check(corpus):
            docs = {i: toks for i, toks in enumerate(corpus)}
            df = spark.createDataFrame(
                [(i, " ".join(t)) for i, t in docs.items()],
                "doc_id bigint, text string",
            )
            got = {
                r.doc_id: r for r in mask_duplicated_spans(df, n=8).collect()
            }
            want = _mask_py(docs, n=8)
            assert set(got) == set(want)
            for did, w in want.items():
                g = got[did]
                assert g.total_tokens == w["total_tokens"], did
                assert g.n_dup_spans == w["n_dup_spans"], did
                assert g.dup_tokens == w["dup_tokens"], did
                assert g.clean_text == w["clean_text"], did

        check()


class TestIncrementalSpans:
    def _split(self, spark):
        shared = _text(*range(10))
        rows = [
            (10, shared + " " + _text(500, 501)),   # delta, dup vs corpus
            (20, _text(*range(900, 930))),          # delta, clean
            (30, shared),                           # delta, fully dup
            (1, shared + " " + _text(600, 601)),    # corpus
            (2, _text(*range(700, 712))),           # corpus
        ]
        df = _docs(spark, rows)
        delta = df.filter("doc_id >= 10")
        corpus = df.filter("doc_id < 10")
        return df, corpus, delta

    def test_matches_batch_restricted_to_delta(self, spark):
        from dataworks_aws_corporate_data_ingestion_spark.operators.spandedup import (
            mask_duplicated_spans_incremental,
        )

        full, corpus, delta = self._split(spark)
        want = {
            r.doc_id: r
            for r in mask_duplicated_spans(full, n=8).collect()
            if r.doc_id >= 10
        }
        got = {
            r.doc_id: r
            for r in mask_duplicated_spans_incremental(
                corpus, delta, n=8
            ).collect()
        }
        assert set(got) == set(want)
        for did in want:
            for c in (
                "total_tokens",
                "n_dup_spans",
                "dup_tokens",
                "clean_text",
                "dup_ratio",
            ):
                assert getattr(got[did], c) == getattr(want[did], c), (
                    did,
                    c,
                )

    def test_delta_internal_duplication_counts(self, spark):
        from dataworks_aws_corporate_data_ingestion_spark.operators.spandedup import (
            mask_duplicated_spans_incremental,
        )

        # two delta docs share a passage absent from the corpus: both
        # must be masked (delta-vs-delta duplication)
        shared = _text(*range(50, 60))
        corpus = _docs(spark, [(1, _text(*range(100, 130)))])
        delta = _docs(spark, [(10, shared), (11, shared)])
        got = {
            r.doc_id: r
            for r in mask_duplicated_spans_incremental(
                corpus, delta, n=8
            ).collect()
        }
        assert got[10].clean_text == "" and got[11].clean_text == ""

    def test_materialized_index_path_is_identical(self, spark):
        from dataworks_aws_corporate_data_ingestion_spark.operators.spandedup import (
            mask_duplicated_spans_incremental,
            materialize_gram_index,
        )

        _, corpus, delta = self._split(spark)
        idx = materialize_gram_index(
            spark, corpus, "spandedup_t1", n_buckets=4
        )
        try:
            direct = mask_duplicated_spans_incremental(
                corpus, delta, n=8
            ).collect()
            via_index = mask_duplicated_spans_incremental(
                corpus, delta, n=8, corpus_gram_counts=idx
            ).collect()
            key = lambda rows: sorted(  # noqa: E731
                (r.doc_id, r.n_dup_spans, r.dup_tokens, r.clean_text)
                for r in rows
            )
            assert key(direct) == key(via_index)
        finally:
            spark.sql("DROP TABLE IF EXISTS spandedup_t1_grams")

    def test_append_equals_rebuild(self, spark):
        from dataworks_aws_corporate_data_ingestion_spark.operators.spandedup import (
            append_to_gram_index,
            materialize_gram_index,
        )

        full, corpus, delta = self._split(spark)
        try:
            materialize_gram_index(spark, corpus, "spandedup_t2", n_buckets=4)
            appended = append_to_gram_index(spark, delta, "spandedup_t2")
            rebuilt = materialize_gram_index(
                spark, full, "spandedup_t3", n_buckets=4
            )
            a = sorted(
                (r.gram_key, r.doc_freq) for r in appended.collect()
            )
            b = sorted(
                (r.gram_key, r.doc_freq) for r in rebuilt.collect()
            )
            assert a == b
        finally:
            spark.sql("DROP TABLE IF EXISTS spandedup_t2_grams")
            spark.sql("DROP TABLE IF EXISTS spandedup_t3_grams")
