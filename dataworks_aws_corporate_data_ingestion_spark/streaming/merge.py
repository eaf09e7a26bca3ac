"""Streaming snapshot maintenance: the weekly export step as a
foreachBatch handoff on the shared export lineage.

The reference rebuilds its 10 TB snapshot weekly (union + window dedup,
steps/ingesters.py:429-457).  The streaming twin applies the SAME export
step (`plans.runner.export_snapshot`) per micro-batch: each batch of
deltas merges onto the newest COMPLETED export in the state store and
records its own export prefix, so stream and weekly `run_update`
interleave on one lineage.  foreachBatch is the right primitive because
the merge needs a full-snapshot read per batch -- not expressible as a
stateful streaming aggregate without holding the snapshot in state store
memory.

Scale notes: per-batch cost is |snapshot| + |batch| through one range
exchange -- identical to the batch merge; trigger cadence therefore sets
the cost/freshness trade (the reference chose weekly; availableNow here
gives catch-up-then-stop semantics).  Each batch writes a new export
prefix and publishes it only by its COMPLETED record, so readers never
see a half-written snapshot.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..plans.runner import export_snapshot
from ..plans.state import LocalStateStore, data_product
from ..sinks.writers import SNAPSHOT_SCHEMA


def _batch_export_prefix(exports_root: str, as_of: str, batch_id: int) -> str:
    # disjoint from run_update's "{exports_root}/{as_of}" so a stream and
    # the weekly batch merge can share one exports_root without colliding
    return f"{exports_root}/{as_of}.b{batch_id:06d}"


def apply_handoff_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_path: str,
    collection: str,
    exports_root: str,
    as_of: str,
    fmt: str = "parquet",
    compression: str = "snappy",
    prune_superseded: bool = False,
) -> str | None:
    """Merge one micro-batch on top of the LATEST COMPLETED export in the
    shared state store and record the new export prefix -- the same
    contract `plans.runner.run_update` follows, so stream and weekly
    batch merge interleave freely on one lineage.

    Replay safety: the export prefix is a pure function of (as_of,
    batch_id); if the state store already points at this batch's prefix
    the batch committed before a crash-between-COMPLETED-and-checkpoint,
    and the replay is a no-op.  Returns the export prefix written (or
    already present), None for an empty batch.
    """
    if batch_df.isEmpty():
        return None
    store = LocalStateStore(state_path)
    product = data_product(collection)
    prefix = _batch_export_prefix(exports_root, as_of, batch_id)
    prev = store.latest_completed_export(product)
    if prev is not None and prev.export_prefix == prefix:
        return prefix  # replayed batch: already committed
    # every status of a batch lives on its OWN key: LocalStateStore is
    # latest-per-key, so an IN_PROGRESS or FAILED record on a key shared
    # across batches would overwrite the previous batch's COMPLETED
    # record, un-publish the last good export, and the retry would merge
    # onto a stale snapshot, silently dropping today's earlier batches
    export_snapshot(
        spark,
        store,
        prev,
        batch_df,
        status_key=f"stream-{collection}/b{batch_id:06d}",
        product=product,
        as_of=as_of,
        prefix=prefix,
        fmt=fmt,
        compression=compression,
    )
    if (
        prune_superseded
        and prev is not None
        and prev.date == as_of
        and prev.export_prefix
        and os.path.basename(prev.export_prefix).startswith(f"{as_of}.b")
        and os.path.isdir(prev.export_prefix)
    ):
        # only same-day STREAM exports are reclaimed; weekly batch exports
        # ("{exports_root}/{date}") are retention-managed like the
        # reference's (steps/ingesters.py:391-395 keeps every weekly prefix)
        shutil.rmtree(prev.export_prefix, ignore_errors=True)
    return prefix


def streaming_handoff_query(
    spark: SparkSession,
    delta_dir: str,
    checkpoint_dir: str,
    *,
    state_path: str,
    collection: str,
    exports_root: str,
    as_of: str,
    fmt: str = "parquet",
    compression: str = "snappy",
    prune_superseded: bool = False,
    available_now: bool = True,
):
    """Streaming twin of the weekly `run_update` lifecycle: readStream over
    delta files -> foreachBatch(apply_handoff_batch), every batch chained
    through the shared state store.  After the stream drains, the batch
    runner's `run_update`/`export_to_hive` see the stream's newest export
    exactly as they would a previous weekly export (and vice versa: a
    fresh stream bootstraps from the newest weekly snapshot).

    Scale notes: identical per-batch cost shape to the batch merge --
    |snapshot| + |batch| through one range exchange; trigger cadence sets
    cost/freshness.  The state store adds one driver-side lookup + two
    puts per batch, O(1) in data size.
    """
    deltas = spark.readStream.schema(SNAPSHOT_SCHEMA).parquet(delta_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_handoff_batch(
            spark,
            batch_df,
            batch_id,
            state_path=state_path,
            collection=collection,
            exports_root=exports_root,
            as_of=as_of,
            fmt=fmt,
            compression=compression,
            prune_superseded=prune_superseded,
        )

    writer = (
        deltas.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
