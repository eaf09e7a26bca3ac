"""Targeted record deletion (right-to-be-forgotten) over the keyed
snapshot store.

The reference pipeline can only delete via the daily-delta DELETE
db_type flowing through the weekly merge (steps/ingesters.py:448-457)
-- erasure requests then wait for the next merge cycle and leave the
old bytes in every earlier snapshot partition file.  A compliance
deletion needs to rewrite the CURRENT snapshot now, touching as little
of it as possible.

Partition-surgical purge:

  1. keys carry (or derive) their id_part, so the affected partition
     set is known up front -- at most 256 buckets by construction
     (operators/ingest.py:to_daily_rows), safe to collect();
  2. ONLY those partitions are read (partition-pruned scan) and
     anti-joined against the broadcast key set;
  3. the rewrite uses dynamic partition overwrite, so untouched
     id_part partitions keep their exact files;
  4. a partition whose every row is purged is removed explicitly --
     dynamic overwrite only replaces partitions PRESENT in the output,
     so an all-purged bucket would otherwise silently keep its stale
     file (the same truncate semantics as sinks/compaction.py handles
     for S8).

Cost at 10 TB / 256 buckets: a purge of keys spanning p buckets reads
and rewrites p/256 of the snapshot, independent of how many total rows
exist; the key set is broadcast (erasure batches are small by nature).
The returned audit frame carries per-partition before/after/purged
counts -- the evidence record a compliance workflow files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.writers import read_snapshot

_MAX_BUCKETS = 256


def _delete_dir_any_scheme(spark: SparkSession, path: str) -> bool:
    """Recursive directory delete through the Hadoop FileSystem API so
    every URI scheme the snapshot can live on (file:, hdfs:, s3a:, ...)
    is covered -- os.path/shutil only see the driver's local disk, which
    would silently leave stale bytes on a remote store (the compliance
    gap this step exists to close).  Returns True iff the path existed
    and was deleted."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(hpath):
        return bool(fs.delete(hpath, True))
    return False


def keys_with_parts(keys: DataFrame) -> DataFrame:
    """Attach id_part to a bare key frame using the ingest derivation
    (first 2 chars of the inner id, raw prefix for primitive ids)."""
    if "id_part" in keys.columns:
        return keys.select("id", "id_part").distinct()
    inner_id = F.get_json_object(F.col("id"), "$.id")
    return keys.select(
        "id",
        F.coalesce(
            F.substring(inner_id, 1, 2), F.substring(F.col("id"), 1, 2)
        ).alias("id_part"),
    ).distinct()


def purge_keys(
    spark: SparkSession,
    snapshot_path: str,
    keys: DataFrame,
    fmt: str = "orc",
    compression: str | None = None,
) -> DataFrame:
    """Erase every snapshot row whose id is in `keys`, rewriting only
    the id_part partitions the keys live in.  Returns the audit frame
    (id_part, rows_before, rows_after, purged), one row per affected
    partition.  Idempotent: re-running with the same keys purges 0.
    """
    kp = keys_with_parts(keys)
    parts = [r.id_part for r in kp.select("id_part").distinct().collect()]
    if len(parts) > _MAX_BUCKETS:
        raise ValueError(
            f"{len(parts)} affected buckets exceeds the {_MAX_BUCKETS} "
            "id_part universe; key derivation is broken"
        )
    if not parts:
        return spark.createDataFrame(
            [],
            "id_part string, rows_before bigint, rows_after bigint, "
            "purged bigint",
        )

    snap = read_snapshot(spark, snapshot_path, fmt).filter(
        F.col("id_part").isin(parts)
    )
    remaining = snap.join(
        F.broadcast(kp.select("id")), "id", "left_anti"
    ).persist()
    try:
        before = {
            r.id_part: r.cnt
            for r in snap.groupBy("id_part")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        after = {
            r.id_part: r.cnt
            for r in remaining.groupBy("id_part")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        survivors = [p for p in parts if after.get(p, 0) > 0]
        if survivors:
            writer = (
                remaining.filter(F.col("id_part").isin(survivors))
                .write.option("partitionOverwriteMode", "dynamic")
                .partitionBy("id_part")
                .format(fmt)
                .mode("overwrite")
            )
            if compression is not None:
                writer = writer.option("compression", compression)
            writer.save(snapshot_path)
        # all-purged buckets: dynamic overwrite never saw them -- drop
        # the stale partition directories outright, via the Hadoop
        # FileSystem API so non-local snapshot URIs are covered too
        for p in parts:
            if p in before and after.get(p, 0) == 0:
                _delete_dir_any_scheme(
                    spark, f"{snapshot_path.rstrip('/')}/id_part={p}"
                )
    finally:
        remaining.unpersist()

    audit = [
        (
            p,
            int(before.get(p, 0)),
            int(after.get(p, 0)),
            int(before.get(p, 0) - after.get(p, 0)),
        )
        for p in sorted(parts)
        if p in before
    ]
    return spark.createDataFrame(
        audit,
        "id_part string, rows_before bigint, rows_after bigint, "
        "purged bigint",
    )
