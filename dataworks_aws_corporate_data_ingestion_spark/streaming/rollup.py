"""Continuous aggregate: an hourly rollup maintained incrementally.

Recomputing a windowed aggregate over all history each day is O(history);
maintaining it is O(delta): aggregate each micro-batch to partial rows,
then ADD them into the stored rollup (sum-merge on the group keys).
Works for any commutative-associative aggregate (counts, sums, min/max,
sketches); averages are stored as (sum, count) and finalised at read.

A foreachBatch sink that swaps the stored rollup atomically (write a
staging directory, then rename it into place); the merge operator is an
additive combine.  foreachBatch is AT-LEAST-once (a crash between the swap
and the checkpoint commit replays the micro-batch), and an additive merge
is not idempotent -- so the sink makes itself idempotent on batch_id: the
last-applied id is written into the rollup directory as part of the same
atomic swap (`_meta.json`, underscore-prefixed so Spark's parquet reader
ignores it), and a replayed batch with id <= stored is a no-op.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROLLUP_KEYS = ("window_start", "event_type")


def _batch_partials(batch_df: DataFrame, window: str) -> DataFrame:
    return (
        batch_df.groupBy(
            F.window("ts", window).start.alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value"),
        )
    )


def merge_rollup(current: DataFrame | None, partials: DataFrame) -> DataFrame:
    """Additive combine of stored rollup rows and new partials."""
    unioned = (
        current.unionByName(partials) if current is not None else partials
    )
    return unioned.groupBy(*ROLLUP_KEYS).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
    )


def last_applied_batch_id(rollup_dir: str) -> int:
    """The batch id recorded by the most recent atomic swap (-1 if none)."""
    meta = os.path.join(rollup_dir, "_meta.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            return int(json.load(fh).get("last_batch_id", -1))
    return -1


def rollup_batch_applier(spark: SparkSession, rollup_dir: str, window: str):
    """The foreachBatch body, exposed for direct replay testing.

    Idempotent on batch_id: replaying a batch whose id was already
    committed (crash after swap, before checkpoint commit) is a no-op,
    because the id travels inside the same atomic rename as the data."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if os.path.exists(rollup_dir) and batch_id <= last_applied_batch_id(
            rollup_dir
        ):
            return
        partials = _batch_partials(batch_df, window)
        current = (
            spark.read.parquet(rollup_dir)
            if os.path.exists(rollup_dir)
            else None
        )
        merged = merge_rollup(current, partials)
        staging = f"{rollup_dir}.staging-{uuid.uuid4().hex[:8]}"
        merged.write.mode("overwrite").parquet(staging)
        with open(os.path.join(staging, "_meta.json"), "w") as fh:
            json.dump({"last_batch_id": batch_id}, fh)
        old = f"{rollup_dir}.old-{uuid.uuid4().hex[:8]}"
        if os.path.exists(rollup_dir):
            os.rename(rollup_dir, old)
        os.rename(staging, rollup_dir)
        shutil.rmtree(old, ignore_errors=True)

    return _apply


def continuous_rollup_query(
    spark: SparkSession,
    delta_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    available_now: bool = True,
):
    """Maintain the (window, event_type) rollup from a stream of event
    parquet files.  Read side finalises averages as sum/count."""
    events = spark.readStream.schema(
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double"
    ).parquet(delta_dir)

    writer = (
        events.writeStream.foreachBatch(
            rollup_batch_applier(spark, rollup_dir, window)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
