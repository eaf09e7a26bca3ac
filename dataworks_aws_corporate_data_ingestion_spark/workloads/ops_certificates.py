"""Driver-checkable certificates for the operational (write-path) ops:
targeted record deletion (operators/purge.py) and the record timeline
lookup (plans/timeline.py).

Both ops WRITE/READ snapshot layouts, so their primary pins are the
pytest round-trips (file-level invariance of untouched buckets,
pruning/pushdown plan asserts).  What the pytests cannot give is a
driver-hash row re-checked at every scale factor -- these certificates
close that (VERDICT r6 #6) with the recall-certificate pattern: run the
real operator against a snapshot DERIVED DETERMINISTICALLY from the
driver's events table, then emit integer-exact facts the DuckDB oracle
recomputes from the same derivation WITHOUT running the operator, plus
booleans (stated TRUE by the oracle) that only hold if the operator did
its job.

The snapshot lives under the system temp dir keyed by the sf_dir, so
reruns overwrite rather than accumulate; all counts are computed by
distributed jobs and only the final scalars are collected into the
certificate row.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..workload import _daily_rows_from_events, register

# oracle twin of workload._daily_rows_from_events's id derivation
_ID_SQL = "substr(md5(CAST(event_id AS VARCHAR)), 1, 12)"


def _cert_dir(kind: str, sf_dir: str) -> str:
    token = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(tempfile.gettempdir(), f"cdi_{kind}_cert_{token}")


@register(
    "rtbf_purge_certificate",
    tags=("compliance", "purge", "rtbf", "recall-certificate"),
    oracle=f"""
        WITH ids AS (
            SELECT {_ID_SQL} AS id FROM events
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_before,
               CAST(SUM(CASE WHEN substr(id, 1, 2) IN ('00', 'ab')
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
               CAST(COUNT(DISTINCT CASE WHEN substr(id, 1, 2)
                                             IN ('00', 'ab')
                                        THEN substr(id, 1, 2) END)
                    AS BIGINT) AS n_buckets_touched,
               TRUE AS audit_matches,
               TRUE AS none_remaining,
               TRUE AS survivors_intact
        FROM ids
    """,
)
def rtbf_purge_certificate_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Right-to-be-forgotten round-trip, driver-hash-checked: build the
    id_part-partitioned snapshot from the events-derived daily rows,
    purge every id in buckets '00' and 'ab' (an all-purged-partition
    case by construction), and certify

      n_before          snapshot rows before the purge (oracle: row
                        count of the same md5-id derivation);
      n_removed         rows the purge audit reports removed (oracle:
                        exact count of ids with those prefixes);
      n_buckets_touched distinct affected buckets per the audit;
      audit_matches     audit's before-after deltas sum to n_removed;
      none_remaining    zero rows with a purged prefix survive in the
                        re-read snapshot;
      survivors_intact  post-purge row count == n_before - n_removed.

    The oracle recomputes the counts independently and states the
    booleans TRUE, so a purge that under-deletes (stale partition file
    left behind -- the advisor's remote-URI gap), over-deletes, or
    mis-reports its audit flips the hash at every scale factor.

    Scale notes: the snapshot build is the clustered write discipline;
    the purge itself is partition-surgical (2 of 256 buckets read and
    rewritten); certificate counts are count-only scans."""
    from ..operators.purge import purge_keys
    from ..sinks.writers import SNAPSHOT_COLUMNS, read_snapshot, write_snapshot

    snap = _cert_dir("rtbf", sf_dir)
    rows = _daily_rows_from_events(spark, sf_dir).select(*SNAPSHOT_COLUMNS)
    write_snapshot(rows, snap, fmt="parquet", compression="snappy")

    n_before = read_snapshot(spark, snap, "parquet").count()
    keys = (
        read_snapshot(spark, snap, "parquet")
        .filter(F.col("id_part").isin("00", "ab"))
        .select("id", "id_part")
        .distinct()
    )
    audit = purge_keys(spark, snap, keys, fmt="parquet").collect()
    n_removed = sum(r.purged for r in audit)
    n_buckets = len([r for r in audit if r.purged > 0])
    audit_matches = all(
        r.rows_before - r.rows_after == r.purged for r in audit
    )

    after = read_snapshot(spark, snap, "parquet")
    n_after = after.count()
    n_leftover = after.filter(
        F.substring("id", 1, 2).isin("00", "ab")
    ).count()

    return spark.createDataFrame(
        [
            (
                int(n_before),
                int(n_removed),
                int(n_buckets),
                bool(audit_matches),
                n_leftover == 0,
                n_after == n_before - n_removed,
            )
        ],
        "n_before bigint, n_removed bigint, n_buckets_touched bigint, "
        "audit_matches boolean, none_remaining boolean, "
        "survivors_intact boolean",
    )


@register(
    "record_timeline_certificate",
    tags=("compliance", "timeline", "point-lookup", "recall-certificate"),
    oracle=f"""
        WITH ids AS (
            SELECT {_ID_SQL} AS id FROM events
        ),
        target AS (SELECT MIN(id) AS id FROM ids)
        SELECT t.id AS record_id,
               CAST((SELECT COUNT(*) FROM ids i WHERE i.id = t.id)
                    AS BIGINT) AS n_daily,
               CAST(1 AS BIGINT) AS n_snapshot,
               TRUE AS sources_ok
        FROM target t
    """,
)
def record_timeline_certificate_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Point-lookup round-trip for the record-timeline ops tool: write
    the daily layout and a latest-wins snapshot from the events-derived
    rows, look up the lexicographically-smallest record id through
    record_timeline (id_part prune + id pushdown), and certify the
    history it returns -- daily mutation count (oracle: exact count of
    events hashing to that id), exactly one snapshot row, and the
    source labels.  A timeline that prunes to the wrong bucket (the
    advisor's id_part_of divergence) or misses the snapshot join comes
    back empty/short and flips the hash."""
    from ..operators.merge import merge_snapshot
    from ..plans.timeline import record_timeline
    from ..sinks.writers import (
        SNAPSHOT_COLUMNS,
        read_daily,
        write_daily,
        write_snapshot,
    )

    root = _cert_dir("timeline", sf_dir)
    daily_root = os.path.join(root, "daily")
    snap_root = os.path.join(root, "snapshot")
    rows = _daily_rows_from_events(spark, sf_dir)
    write_daily(
        rows, daily_root, fmt="parquet", compression="snappy", stabilize=False
    )
    daily = read_daily(spark, daily_root, "parquet").select(*SNAPSHOT_COLUMNS)
    write_snapshot(
        merge_snapshot(daily, daily),
        snap_root,
        fmt="parquet",
        compression="snappy",
    )

    target = rows.agg(F.min("id").alias("id")).collect()[0].id
    tl = record_timeline(
        spark,
        daily_root,
        target,
        snapshot_root=snap_root,
        daily_fmt="parquet",
        snapshot_fmt="parquet",
    ).collect()
    n_daily = sum(1 for r in tl if r.source == "daily")
    n_snapshot = sum(1 for r in tl if r.source == "snapshot")
    sources_ok = all(r.source in ("daily", "snapshot") for r in tl)

    return spark.createDataFrame(
        [(target, int(n_daily), int(n_snapshot), bool(sources_ok))],
        "record_id string, n_daily bigint, n_snapshot bigint, "
        "sources_ok boolean",
    )
