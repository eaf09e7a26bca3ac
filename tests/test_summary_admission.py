"""Fast-tier coverage of the shared mergeable-summary admission round
(streaming/summary_admission.py), parametrised over the MG, CMS and
histogram specs on tens of rows: admit, replay (no-op), compact, the
data-before-ledger crash window (replay heals only the ledger), and
final state == a one-shot partial of the union with ledger == stream
measure.  The per-family suites (test_{mg,cms,hist}_admission.py) hold
the slow-tier depth: prefix oracles, foreachBatch, divergence guards."""

from __future__ import annotations

from functools import partial

import pytest
from pyspark.sql import functions as F

from dataworks_aws_corporate_data_ingestion_spark.operators.cms import (
    cms_sketch,
)
from dataworks_aws_corporate_data_ingestion_spark.operators.heavyhitters import (
    mg_summary,
)
from dataworks_aws_corporate_data_ingestion_spark.operators.histsketch import (
    daily_histogram,
)
from dataworks_aws_corporate_data_ingestion_spark.streaming import (
    summary_admission,
)
from dataworks_aws_corporate_data_ingestion_spark.streaming.admission import (
    tokens_committed,
)
from dataworks_aws_corporate_data_ingestion_spark.streaming.summary_admission import (
    CMS,
    HIST,
    MG,
    admit,
    compact,
    init,
    read_state,
)

K = 7  # > the 5 distinct MG keys, so the MG state is exact counts


def _key(n):
    return F.concat(F.lit("k"), n.cast("string")).alias("key")


# per spec: batch b's columns beside event_id (i = the row index in a
# 12-row batch, built JVM-side), the lazy partial of a batch, the weight
# column
CASES = {
    "mg": (
        MG,
        lambda i, b: [_key(i * (b + 1) % 5)],
        lambda df: mg_summary(df.select("key"), ["key"], K),
        None,
    ),
    "cms_weighted": (
        CMS,
        lambda i, b: [_key(i % 6), (i % 4 + b).alias("w")],
        lambda df: cms_sketch(df, "key", 8, 3, weight_col="w"),
        "w",
    ),
    "hist": (
        HIST,
        lambda i, b: [
            F.make_timestamp_ntz(
                F.lit(2024), F.lit(1), i % 2 + 1, i, F.lit(0), F.lit(0)
            ).alias("ts"),
            (i * 7.5 + b).alias("value"),
        ],
        lambda df: daily_histogram(df, "ts", "value", 10, 10_000),
        None,
    ),
}


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("case", sorted(CASES))
def test_round_replay_crash_and_compact(spark, monkeypatch, case):
    spec, columns, summary, weight_col = CASES[case]
    prefix = f"t_sa_{case}"
    data, meta = f"{prefix}_{spec.suffix}", f"{prefix}_meta"
    i = F.col("id")
    batches = [
        spark.range(12).select((i + b * 100).alias("event_id"), *columns(i, b))
        for b in range(3)
    ]

    def _admit(df):
        return admit(
            spark, spec, df, prefix, partial(summary, df),
            id_col="event_id", weight_col=weight_col, k=K,
        )

    def _sizes():  # (data-table rows, ledger total)
        return spark.table(data).count(), read_state(spark, spec, prefix)[1]

    try:
        init(spark, spec, prefix)
        _admit(batches[0])
        token1 = _admit(batches[1])
        sizes = _sizes()
        assert _admit(batches[1]) == token1  # replay: a no-op
        assert _sizes() == sizes

        compact(spark, spec, prefix, k=K)
        rows_before, n_before = _sizes()

        # crash window: the data table takes the batch, the ledger
        # append dies -- only a prefix of the fixed order committed
        def _crash(*args, **kwargs):
            raise RuntimeError("crash before the ledger append")

        with monkeypatch.context() as m:
            m.setattr(summary_admission, "admit_ledger_once", _crash)
            with pytest.raises(RuntimeError, match="crash"):
                _admit(batches[2])
        rows_crashed, n_crashed = _sizes()
        assert rows_crashed > rows_before and n_crashed == n_before

        # the replay heals the ledger alone: no second data append
        token2 = _admit(batches[2])
        rows_healed, n_healed = _sizes()
        assert rows_healed == rows_crashed and n_healed > n_before
        assert tokens_committed(spark, token2, data, meta) == {data, meta}

        union = batches[0].unionByName(batches[1]).unionByName(batches[2])
        final, n_total = read_state(spark, spec, prefix)
        one_shot = (
            summary(union)
            .groupBy(*spec.cells)
            .agg(F.sum(spec.counter).cast("bigint").alias(spec.alias))
        )
        final = _rows(final)
        assert final == _rows(one_shot) and final
        want = (
            union.agg(F.sum(weight_col)).collect()[0][0]
            if weight_col
            else union.count()
        )
        assert n_total == want
    finally:
        for t in (data, meta):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
