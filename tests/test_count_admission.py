"""Span and LM admission on admission.py's table layer, in the fast
tier: a fully replayed batch writes nothing, and a crash at every
append of the round heals on replay to the uncrashed state.

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

from dataworks_aws_corporate_data_ingestion_spark.streaming import (
    lm_admission,
    span_admission,
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
