"""Span and LM admission on admission.py's table layer, in the fast
tier: a fully replayed batch writes nothing, and a crash at every
append of the round heals on replay to the uncrashed state.  Minhash
dedup admission gets the same crash at each of its index appends.

The crash is injected by making the family's shared append
(admission.append_state, as the family module calls it) raise on its
k-th call.  Span appends grams then the ledger; LM appends uni, bi,
then the ledger.  Docs are built JVM-side from spark.range so every job
over them stays cheap.  The hand-built crash tests in
tests/test_streaming.py (slow tier) write the table layout by hand and
stay as they are."""

from __future__ import annotations

from collections.abc import Callable
from types import ModuleType
from typing import NamedTuple

import pytest
from pyspark.sql import functions as F

from dataworks_aws_corporate_data_ingestion_spark.operators.dedup import (
    materialize_minhash_index,
)
from dataworks_aws_corporate_data_ingestion_spark.sinks import bucketing
from dataworks_aws_corporate_data_ingestion_spark.streaming import (
    lm_admission,
    span_admission,
)
from dataworks_aws_corporate_data_ingestion_spark.streaming.dedup_admission import (
    admit_batch,
)

SHARED = " ".join(f"s{i}" for i in range(12))


def _span_docs(spark, lo, hi):
    """Docs lo..hi-1: even ids open with the shared 12-word passage,
    then every doc has 20 words of its own."""
    own = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(19)),
            lambda j: F.format_string("w%d_%d", F.col("id"), j),
        ),
        " ",
    )
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.when(F.col("id") % 2 == 0, F.lit(SHARED)), own
        ).alias("text"),
    )


def _lm_docs(spark, lo, hi):
    """Docs lo..hi-1 of 8 words each over an 11-word vocabulary, so
    unigram and bigram counts overlap across docs and batches."""
    words = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda j: F.format_string("t%d", (F.col("id") * 7 + j * 3) % 11),
    )
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )


class _Crash(RuntimeError):
    pass


class Family(NamedTuple):
    module: ModuleType
    suffixes: tuple[str, ...]  # state tables in append order, ledger last
    docs: Callable
    init: Callable
    admit: Callable
    counts: Callable  # the logical counts, as sorted rows


FAMILIES = {
    "span": Family(
        span_admission,
        ("grams", "spandocs"),
        _span_docs,
        lambda spark, p: span_admission.init_span_index(spark, p, n_buckets=4),
        span_admission.admit_span_batch,
        lambda spark, p: _rows(span_admission.read_gram_counts(spark, p)),
    ),
    "lm": Family(
        lm_admission,
        ("uni", "bi", "lmdocs"),
        _lm_docs,
        lambda spark, p: lm_admission.init_lm_index(spark, p, n_buckets=4),
        lm_admission.admit_lm_batch,
        lambda spark, p: tuple(
            _rows(f) for f in lm_admission.read_lm_counts(spark, p)
        ),
    ),
}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _tables(fam, prefix):
    return [f"{prefix}_{s}" for s in fam.suffixes]


def _state(spark, fam, prefix):
    """(logical counts, ledger doc ids with repeats)."""
    ledger = sorted(
        r.doc_id for r in spark.table(_tables(fam, prefix)[-1]).collect()
    )
    return fam.counts(spark, prefix), ledger


def _files(spark, fam, prefix):
    return {t: sorted(spark.table(t).inputFiles()) for t in _tables(fam, prefix)}


def _drop(spark, fam, prefix):
    for t in _tables(fam, prefix):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.fixture(scope="module")
def reference(spark):
    """Per family, an uncrashed run: batch 0 (docs 0-5), then batch 1
    (docs 6-11, sharing grams and words with batch 0), then batch 1
    replayed twice.  Built once per family on first use."""
    runs = {}

    def run(name):
        if name in runs:
            return runs[name]
        fam, prefix = FAMILIES[name], f"t_ca_{name}_ref"
        b0, b1 = fam.docs(spark, 0, 6), fam.docs(spark, 6, 12)
        fam.init(spark, prefix)
        fam.admit(spark, b0, prefix)
        out = _rows(fam.admit(spark, b1, prefix))
        state, files = _state(spark, fam, prefix), _files(spark, fam, prefix)
        replays = [
            (_rows(fam.admit(spark, b1, prefix)), _files(spark, fam, prefix))
            for _ in range(2)
        ]
        runs[name] = (b0, b1, out, state, files, replays)
        return runs[name]

    yield run
    for name in runs:
        _drop(spark, FAMILIES[name], f"t_ca_{name}_ref")


@pytest.mark.parametrize("name", sorted(FAMILIES))
def test_full_replay_writes_nothing(reference, name):
    """Replaying an admitted batch twice leaves every state table's
    data-file list unchanged and reproduces the output."""
    _, _, out, _, files, replays = reference(name)
    for replay_out, replay_files in replays:
        assert replay_out == out
        assert replay_files == files


@pytest.mark.parametrize("name", sorted(FAMILIES))
def test_uncrashed_run_uses_cross_batch_state(reference, name):
    """Batch 1 sees state batch 0 contributed, and the ledger holds
    each doc once."""
    _, _, out, (counts, ledger), _, _ = reference(name)
    assert ledger == list(range(12))
    if name == "span":
        # rows are (doc_id, total_tokens, n_dup_spans, ...): the even
        # docs of batch 1 repeat batch 0's shared passage
        assert {r[0] for r in out if r[2] > 0} == {6, 8, 10}
    else:
        assert all(counts)


@pytest.mark.parametrize(
    "name,k", [("span", 1), ("span", 2), ("lm", 1), ("lm", 2), ("lm", 3)]
)
def test_crash_at_each_append_heals(spark, reference, name, k):
    """Crash batch 1's round at its k-th append, then replay: the
    output and the logical counts equal the uncrashed run's, and the
    ledger holds each doc once."""
    fam, prefix = FAMILIES[name], f"t_ca_{name}_k{k}"
    b0, b1, out, state, _, _ = reference(name)
    real = fam.module.append_state
    calls = []

    def crashing(table, *args, **kwargs):
        calls.append(table)
        if len(calls) == k:
            raise _Crash(table)
        real(table, *args, **kwargs)

    try:
        fam.init(spark, prefix)
        fam.admit(spark, b0, prefix)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(fam.module, "append_state", crashing)
            with pytest.raises(_Crash):
                fam.admit(spark, b1, prefix)
        assert calls == _tables(fam, prefix)[:k]
        assert _rows(fam.admit(spark, b1, prefix)) == out
        assert _state(spark, fam, prefix) == state
    finally:
        _drop(spark, fam, prefix)


def _mh_docs(spark, lo, hi, edit_of=None):
    """Docs lo..hi-1 of 40 words each, no word shared between docs.
    With edit_of, every doc is that doc with its last word changed: one
    of 38 shingles differs, a jaccard of 37/39 against the original."""
    src = F.col("id") if edit_of is None else F.lit(edit_of)
    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda j: F.when(
            F.lit(edit_of is not None) & (j == 39), F.lit("edited")
        ).otherwise(F.format_string("w%d_%d", src, j)),
    )
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )


def _mh_index(spark, prefix):
    """(bucket rows, shingle rows) with repeats, sorted."""
    return (
        _rows(spark.table(f"{prefix}_buckets")),
        _rows(spark.table(f"{prefix}_shingles").select(
            "doc_id", F.sort_array("shingles")
        )),
    )


def _mh_run(spark, prefix, crash_at=None):
    """Index docs 0-3; admit batch 1 (docs 4-7), crashing its k-th index
    append and replaying when crash_at=k; then admit batch 2: doc 8, a
    one-word edit of doc 7, and the fresh doc 9.  Returns the two
    admitted id lists, the index after batch 1 and after batch 2, and
    the appended tables in call order."""
    calls = []
    real = bucketing.insert_into

    def crashing(df, table, *args, **kwargs):
        calls.append(table)
        if len(calls) == crash_at:
            raise _Crash(table)
        real(df, table, *args, **kwargs)

    def admitted(batch):
        return sorted(r.doc_id for r in admit_batch(spark, batch, prefix).collect())

    try:
        materialize_minhash_index(spark, _mh_docs(spark, 0, 4), prefix, n_buckets=4)
        b1 = _mh_docs(spark, 4, 8)
        if crash_at is not None:
            with pytest.MonkeyPatch.context() as mp:
                mp.setattr(bucketing, "insert_into", crashing)
                with pytest.raises(_Crash):
                    admit_batch(spark, b1, prefix)
        out1, index1 = admitted(b1), _mh_index(spark, prefix)
        b2 = _mh_docs(spark, 8, 9, edit_of=7).unionByName(_mh_docs(spark, 9, 10))
        return out1, admitted(b2), index1, _mh_index(spark, prefix), calls
    finally:
        for t in ("shingles", "buckets"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


@pytest.fixture(scope="module")
def mh_reference(spark):
    """The uncrashed minhash run: doc 8 rejected, each other doc
    indexed once (16 bands, one bucket row each)."""
    want = _mh_run(spark, "t_ca_mh_ref")
    assert want[:2] == ([4, 5, 6, 7], [9])
    buckets, shingles = want[3]
    assert len(buckets) == len(set(buckets)) == 9 * 16
    assert [r[0] for r in shingles] == [*range(8), 9]
    return want


@pytest.mark.parametrize("k", [1, 2])
def test_minhash_crash_at_each_index_append_heals(spark, mh_reference, k):
    """Crash batch 1's index append at its k-th table (buckets, then
    shingles), then replay: the admitted docs and every doc's bucket
    and shingle rows equal an uncrashed run's, with no duplicates, and
    a one-word edit of a crashed doc is rejected in the next batch."""
    want = mh_reference
    got = _mh_run(spark, f"t_ca_mh_k{k}", crash_at=k)
    assert got[4] == ["t_ca_mh_k%d_%s" % (k, t) for t in ("buckets", "shingles")][:k]
    assert got[:4] == want[:4]
