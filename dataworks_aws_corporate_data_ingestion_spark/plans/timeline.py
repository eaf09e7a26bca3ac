"""Record timeline: the full history of ONE record across the daily
deltas and the current snapshot.

The ops question behind every ingestion incident ("what happened to
record X, and when?") -- the reference answers it with ad-hoc Athena
queries over the daily layout; here it is a first-class point lookup
that exploits the engine's own layout contracts:

- the snapshot is partitioned by id_part, so the record's bucket prunes
  to 1/256th of the snapshot BEFORE any file opens;
- the dailies are partitioned by export day with id-clustered files, so
  the id equality predicate pushes into the ORC/parquet reader
  (PushedFilters) and row groups outside the record's id range skip via
  min/max stats -- the same stats the range-clustered write discipline
  exists to sharpen;
- id_part is derived driver-side from the id (same rule as
  operators/ingest.py:to_daily_rows), so no scan is needed to find the
  bucket.

Output: one row per daily mutation plus (optionally) the current
snapshot state, ordered by event date with the snapshot row last.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.writers import read_daily, read_snapshot


def id_part_of(record_id: str) -> str:
    """Driver-side twin of the ingest id_part rule (operators/
    ingest.py:to_daily_rows): first 2 chars of the wrapped inner id,
    raw prefix for primitive ids.  Mirrors get_json_object semantics
    exactly -- that function STRINGIFIES non-string inner values
    (123 -> "123", true -> "true", objects/lists -> compact JSON
    text), so a wrapped numeric id '{"id": 123}' lives under id_part
    "12", not the raw-prefix fallback; only a missing/null inner id
    (or unparseable record_id) falls back to record_id[:2]."""
    try:
        parsed = json.loads(record_id)
        inner = parsed.get("id") if isinstance(parsed, dict) else None
    except ValueError:
        inner = None
    if inner is None:
        return record_id[:2]
    if isinstance(inner, str):
        return inner[:2]
    return json.dumps(inner, separators=(",", ":"))[:2]


def record_timeline(
    spark: SparkSession,
    daily_root: str,
    record_id: str,
    snapshot_root: str | None = None,
    daily_fmt: str = "orc",
    snapshot_fmt: str = "orc",
) -> DataFrame:
    """(source, event_date, db_type, val) history for record_id.

    `source` is 'daily' for delta mutations (event_date = export day)
    and 'snapshot' for the current merged state (event_date null, sorts
    last).  Empty result = the record never entered the store.
    """
    part = id_part_of(record_id)
    dailies = (
        read_daily(spark, daily_root, daily_fmt)
        .filter(
            (F.col("id_part") == part) & (F.col("id") == record_id)
        )
        .select(
            F.lit("daily").alias("source"),
            F.make_date("export_year", "export_month", "export_day").alias(
                "event_date"
            ),
            "db_type",
            "val",
        )
    )
    if snapshot_root is None:
        return dailies.orderBy("event_date")
    snap = (
        read_snapshot(spark, snapshot_root, snapshot_fmt)
        # id_part is the PARTITION column here: whole-bucket prune
        .filter((F.col("id_part") == part) & (F.col("id") == record_id))
        .select(
            F.lit("snapshot").alias("source"),
            F.lit(None).cast("date").alias("event_date"),
            "db_type",
            "val",
        )
    )
    return dailies.unionByName(snap).orderBy(
        F.col("event_date").asc_nulls_last()
    )
