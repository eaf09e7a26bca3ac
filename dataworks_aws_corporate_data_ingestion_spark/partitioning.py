"""Input-parallelism guard for explode-heavy operators.

A single parquet file arrives as ONE input partition (one task), so an
operator that amplifies rows (n-gram windows, bigram pairs, token
explodes) before its first exchange serialises the whole amplification
onto one core.  On a real cluster reading thousands of files this never
fires; on a small input it is the difference between 32 cores and 1.

`fan_out` repartitions ONLY when the input has fewer partitions than
the session's parallelism -- a conditional, pre-explode exchange of the
small un-amplified rows.  When the scan is already parallel (the 100 TB
case) it is a no-op, so no operator pays a gratuitous full-corpus
shuffle at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition iff df has fewer partitions than the
    session's defaultParallelism."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
