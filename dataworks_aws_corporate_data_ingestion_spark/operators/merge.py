"""Snapshot merge: previous full snapshot + daily deltas -> new snapshot.

The reference's headline 10 TB operation (steps/ingesters.py:429-457):
UNION ALL both sides, range-partition on the clustering keys, rank within
each key, keep row 1.  No join -- the union+window formulation needs one
shuffle and naturally handles keys present on either side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sinks.writers import SNAPSHOT_COLUMNS


def latest_by_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence,
) -> DataFrame:
    """Grouped top-1 (reference steps/ingesters.py:448-455).  `order_by`
    columns/expressions decide the winner; pass a unique final tiebreaker
    for determinism (the reference tolerated ties on db_type)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_snapshot(
    snapshot: DataFrame,
    dailies: DataFrame,
    keys: Sequence[str] = ("id_part", "id"),
    order_by: Sequence = None,
) -> DataFrame:
    """Union + window-dedup merge (reference steps/ingesters.py:448-457).

    Default ordering preserves the reference's rule: DELETE sorts before
    INSERT lexically, so a day's DELETE wins over the snapshot's INSERT
    (docs/data-engineering-summary.md:110-115).

    Scale notes: the range exchange's width is left to AQE (the
    reference hard-coded 4096 with a TODO).  When both inputs were
    written range-clustered by (id_part, id) -- the engine's write
    discipline -- the range exchange resamples into nearly-sorted runs, and
    the per-partition sort is cheap.  Skewed ids are split by AQE.
    """
    cols = [F.col(c) for c in SNAPSHOT_COLUMNS]
    unioned = snapshot.select(*cols).unionAll(dailies.select(*cols))
    return latest_by_key(
        unioned.repartitionByRange(*keys), keys, order_by or [F.col("db_type").asc()]
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    value_cols: Sequence[str],
) -> DataFrame:
    """Keyed diff of two snapshots: one row per key present in either,
    classified added / removed / changed / unchanged -- the audit a
    data owner runs between two exports ("what did this week's merge
    actually do").  Change detection compares the value columns
    null-safely (<=> semantics), so NULL -> value and value -> NULL
    both classify as changed.

    Scale notes: one full outer join on the keys -- both sides shuffle
    once on the same key, and when the snapshots share a clustered
    write layout (sinks/writers.py) the exchange is cheap and
    co-located.  The classification is pure column logic in the join's
    output projection; no second pass."""
    o = old.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"old_{c}") for c in value_cols],
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"new_{c}") for c in value_cols],
        F.lit(True).alias("__in_new"),
    )
    joined = o.join(n, list(keys), "full_outer")
    same_vals = F.lit(True)
    for c in value_cols:
        same_vals = same_vals & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(same_vals, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        *keys,
        status.alias("status"),
        *[F.col(f"old_{c}") for c in value_cols],
        *[F.col(f"new_{c}") for c in value_cols],
    )
