"""Merge-on-read snapshot layout: base + delta batches, deduplicated at
read time, compacted explicitly.

The reference rewrites its full 10 TB snapshot weekly to apply ~1% of
deltas (copy-on-write).  Merge-on-read defers that: daily deltas append
cheaply, readers union base + deltas through the same latest-per-key
window the batch merge uses, and compaction (the old full merge) runs
only when the delta fraction makes read amplification hurt.  Weekly
write cost drops ~10x; read cost grows with len(deltas) until compact.

Layout:

    table_dir/_manifest.json   committed view: base + ordered delta list
    table_dir/base/            range-clustered snapshot (id_part buckets)
    table_dir/deltas/<batch>/  append-only delta batches

The manifest is the committed table state -- object-store directory
listing is neither atomic nor consistent, so readers resolve the batch
set from `_manifest.json` (committed via a compare-and-swap keyed on the
carried version -- locally an O_EXCL lock + rename, on S3 one
conditional PUT) and fall back to sorted directory listing only for
pre-manifest tables.  Once a manifest exists, compaction is a single
manifest commit: base swaps and delta removal become garbage collection,
not correctness.  Delta appends are concurrent-writer safe (they commute
and auto-retry on conflict); compaction remains single-writer and
surfaces ManifestConflict if it loses a race.

Delete semantics follow the reference: DELETE rows win over INSERT for
the same key (db_type ascending), so deletions tombstone at read time
and physically vanish at compaction.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sinks.writers import SNAPSHOT_COLUMNS, daily_layout
from .mor_store import ManifestConflict


def _base_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "base")


def _deltas_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "deltas")


def _manifest_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_manifest.json")


def read_manifest(table_dir: str) -> dict | None:
    """The committed table view, or None for a pre-manifest table."""
    path = _manifest_path(table_dir)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def _listed_state(table_dir: str) -> dict:
    """Recovery view from directory listing (pre-manifest tables only;
    batch names sort in arrival order by construction)."""
    deltas = _deltas_dir(table_dir)
    return {
        "version": 0,
        "base": os.path.exists(_base_dir(table_dir)),
        "deltas": sorted(os.listdir(deltas)) if os.path.exists(deltas) else [],
    }


def _commit_manifest(table_dir: str, state: dict) -> None:
    """Compare-and-swap commit: the new state lands iff the stored
    manifest still carries ``state['version'] - 1``; otherwise
    ManifestConflict.  Locally the CAS is a short-lived O_EXCL lock file
    around verify+rename; on an object store the SAME protocol is one
    conditional PUT (S3 If-Match on the manifest ETag / If-None-Match
    for version 1) -- the carried ``version`` exists precisely so every
    backend can express the precondition.

    Each commit also lands an immutable `_manifest.v{N}.json` snapshot --
    the time-travel log.  Snapshots are bytes-sized; compaction's GC is
    the retention boundary."""
    expected = int(state["version"]) - 1
    lock = _manifest_path(table_dir) + ".lock"
    os.makedirs(table_dir, exist_ok=True)
    fd = None
    for _ in range(500):  # lock held only for a verify+rename: spin briefly
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            time.sleep(0.01)
    if fd is None:
        raise ManifestConflict(f"manifest lock stuck at {lock}")
    try:
        stored = read_manifest(table_dir)
        stored_v = int(stored["version"]) if stored else 0
        if stored_v != expected:
            raise ManifestConflict(
                f"{table_dir}: expected version {expected}, found {stored_v}"
            )
        tmp = _manifest_path(table_dir) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(state, fh)
        versioned = os.path.join(
            table_dir, f"_manifest.v{int(state['version'])}.json"
        )
        with open(versioned, "w") as fh:
            json.dump(state, fh)
        os.replace(tmp, _manifest_path(table_dir))
    finally:
        os.close(fd)
        os.remove(lock)


def read_manifest_version(table_dir: str, version: int) -> dict | None:
    path = os.path.join(table_dir, f"_manifest.v{int(version)}.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def current_state(table_dir: str) -> dict:
    return read_manifest(table_dir) or _listed_state(table_dir)


def write_delta(df: DataFrame, table_dir: str, max_retries: int = 5) -> str:
    """Append one delta batch; returns its directory.  Cheap: no read of
    existing state, no shuffle beyond the caller's.

    Concurrent-appender safe: delta appends COMMUTE (the list order only
    decides ties between writers that raced anyway), so on
    ManifestConflict the commit reloads the fresh state and re-appends --
    the parquet batch itself is already durable and never rewritten.
    Compaction does NOT commute and propagates its conflict instead.

    Batch names carry a monotonic nanosecond prefix so the pre-manifest
    fallback (sorted listing) still yields arrival order; the committed
    order is the manifest's list.  The batch is invisible to readers
    until the manifest commit -- a crash between the two leaves an
    orphan directory, not a torn table."""
    batch_name = f"batch-{time.time_ns():020d}-{uuid.uuid4().hex[:6]}"
    batch_dir = os.path.join(_deltas_dir(table_dir), batch_name)
    # row count piggybacks on the write job via observe -- zero extra
    # Spark jobs -- and rides in the manifest so compaction triggers
    # (delta_fraction) never have to re-scan data files
    obs = Observation()
    (
        df.select(*SNAPSHOT_COLUMNS)
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.mode("errorifexists")
        .parquet(batch_dir)
    )
    n_rows = int(obs.get["rows"])
    last: ManifestConflict | None = None
    for _ in range(max_retries):
        state = current_state(table_dir)
        # pre-manifest fallback lists the just-written batch already --
        # drop it so the append below stays idempotent across retries
        deltas = [b for b in state["deltas"] if b != batch_name]
        state["version"] = int(state.get("version", 0)) + 1
        state["deltas"] = deltas + [batch_name]
        state["delta_rows"] = {
            **{b: n for b, n in state.get("delta_rows", {}).items() if b in deltas},
            batch_name: n_rows,
        }
        try:
            _commit_manifest(table_dir, state)
            return batch_dir
        except ManifestConflict as exc:
            last = exc
    raise ManifestConflict(
        f"delta commit lost the race {max_retries} times: {last}"
    )


def _gc_version_manifests(table_dir: str, keep_version: int) -> None:
    """Drop time-travel snapshots older than keep_version -- they
    reference data directories the caller is about to delete."""
    for name in os.listdir(table_dir):
        if name.startswith("_manifest.v") and name.endswith(".json"):
            v = int(name[len("_manifest.v") : -len(".json")])
            if v < keep_version:
                os.remove(os.path.join(table_dir, name))


def read_merged(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The logical snapshot: base + deltas through the latest-per-key
    merge.  Later delta batches beat earlier ones and all deltas beat
    base; within a batch, DELETE beats INSERT (reference rule).

    `version` time-travels to an earlier committed view.  History is
    valid back to the most recent compaction -- compaction rewrites base
    and garbage-collects the delta dirs plus the manifests that
    referenced them (the VACUUM boundary)."""
    if version is not None:
        state = read_manifest_version(table_dir, version)
        if state is None:
            raise FileNotFoundError(
                f"version {version} of {table_dir} is unknown or was "
                f"garbage-collected by a compaction"
            )
    else:
        state = current_state(table_dir)
    frames = []
    if state["base"]:
        frames.append(
            spark.read.parquet(_base_dir(table_dir))
            .select(*SNAPSHOT_COLUMNS)
            .withColumn("__gen", F.lit(0))
        )
    deltas = _deltas_dir(table_dir)
    for gen, batch in enumerate(state["deltas"], start=1):
        frames.append(
            spark.read.parquet(os.path.join(deltas, batch))
            .select(*SNAPSHOT_COLUMNS)
            .withColumn("__gen", F.lit(gen))
        )
    if not frames:
        raise FileNotFoundError(f"no base or deltas under {table_dir}")
    unioned = frames[0]
    for f in frames[1:]:
        unioned = unioned.unionByName(f)
    from pyspark.sql import Window

    w = Window.partitionBy("id_part", "id").orderBy(
        F.col("__gen").desc(), F.col("db_type").asc(), F.col("val").desc()
    )
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .filter(F.col("db_type") != "DELETE")  # tombstones resolve at read
        .select(*SNAPSHOT_COLUMNS)
    )


def clear_deltas(table_dir: str) -> None:
    """Drop all delta batches from the committed view (manifest commit
    first, directory removal as GC) -- used after an external fold of the
    deltas, e.g. the bench's steady-state reset."""
    state = current_state(table_dir)
    state["version"] = int(state.get("version", 0)) + 1
    state["deltas"] = []
    state["delta_rows"] = {}
    _commit_manifest(table_dir, state)
    shutil.rmtree(_deltas_dir(table_dir), ignore_errors=True)
    _gc_version_manifests(table_dir, state["version"])


def delta_fraction(spark: SparkSession, table_dir: str) -> float:
    """Deltas-to-base row ratio -- the compaction trigger metric.

    Counts ride in the manifest (written by observe at append/compact
    time), so for any manifest-era table this is pure metadata
    arithmetic: zero Spark jobs, zero data-file reads.  Pre-manifest
    tables (or manifests written before counts existed) fall back to
    counting -- one union scan for all deltas, not a job per batch."""
    state = current_state(table_dir)
    delta_rows = state.get("delta_rows", {})
    if all(b in delta_rows for b in state["deltas"]):
        n_delta = sum(int(delta_rows[b]) for b in state["deltas"])
    else:
        deltas = _deltas_dir(table_dir)
        paths = [os.path.join(deltas, b) for b in state["deltas"]]
        n_delta = spark.read.parquet(*paths).count() if paths else 0
    if state.get("base_rows") is not None:
        n_base = int(state["base_rows"])
    else:
        n_base = (
            spark.read.parquet(_base_dir(table_dir)).count()
            if state["base"]
            else 0
        )
    return n_delta / max(n_base, 1)


def compact(spark: SparkSession, table_dir: str) -> None:
    """Fold all deltas into a new range-clustered base and clear them --
    the reference's weekly merge, now run on-demand.  Tombstoned keys
    physically disappear here."""
    state = current_state(table_dir)
    merged = read_merged(spark, table_dir)
    staging = os.path.join(table_dir, f"base.staging-{uuid.uuid4().hex[:8]}")
    obs = Observation()
    (
        # observe sits ABOVE the range exchange: repartitionByRange runs a
        # boundary-sampling pass over its child, which would double-count
        # an observation placed below it
        daily_layout(merged)
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.mode("overwrite")
        .parquet(staging)
    )
    base_rows = int(obs.get["rows"])
    base = _base_dir(table_dir)
    old = os.path.join(table_dir, f"base.old-{uuid.uuid4().hex[:8]}")
    if os.path.exists(base):
        os.rename(base, old)
    os.rename(staging, base)
    # the commit point: readers switch to the new base + empty delta list
    # here; everything after is garbage collection
    new_version = int(state.get("version", 0)) + 1
    _commit_manifest(
        table_dir,
        {
            "version": new_version,
            "base": True,
            "deltas": [],
            "base_rows": base_rows,
            "delta_rows": {},
        },
    )
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(_deltas_dir(table_dir), ignore_errors=True)
    _gc_version_manifests(table_dir, new_version)
