"""Bucketed managed tables: pre-shuffled layouts for exchange-free joins.

A fact table joined repeatedly on the same key pays a full shuffle per
query.  Writing both sides `bucketBy(n, key)` (hash-partitioned files +
bucket metadata in the catalog) moves that shuffle to write time, once:
joins and aggregations on the bucket key then plan with NO Exchange on
the bucketed sides -- at 100 TB this turns the recurring dominant cost
of a co-located join into a one-time layout decision, the same trade the
reference makes with its range-clustered snapshot (but catalog-enforced,
so every reader benefits without knowing the layout).

Bucket counts should be sized so one bucket ~ one task's worth of data
at the target scale (128-512 MB); both join sides must use the SAME
count (or a multiple, letting Spark coalesce buckets).  sortBy within
buckets additionally removes the join's per-partition sort.

write_bucketed creates a bucketed table; every later write to it goes
through insert_into, which takes the bucket spec from the catalog.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


_SPARK_OUTPUT_PREFIXES = ("part-", "_SUCCESS", "_committed", "_started", "_temporary", ".")


def _looks_like_table_dir(loc: str) -> bool:
    """True iff `loc` is a directory containing only Spark table-output
    artifacts (part files, commit markers, crc files) or nothing -- the
    signature of a table a previous session left behind.  Anything else
    (user files, nested dirs that are partition values are fine too --
    they start with '<col>=' only; be conservative and recurse one level)
    is NOT removable."""
    try:
        entries = os.listdir(loc)
    except (FileNotFoundError, NotADirectoryError):
        return False
    for e in entries:
        if e.startswith(_SPARK_OUTPUT_PREFIXES):
            continue
        # partition subdirectory: <column>=<value>
        sub = os.path.join(loc, e)
        if "=" in e and os.path.isdir(sub) and _looks_like_table_dir(sub):
            continue
        return False
    return True


def _clear_orphan_location(spark: SparkSession, table: str) -> None:
    """A fresh session's catalog does not know tables a PREVIOUS session
    wrote into the same warehouse dir, so CREATE fails with
    LOCATION_ALREADY_EXISTS on the leftover directory.  Drop the catalog
    entry if present, then remove an orphaned file-scheme location.

    The managed-table layout is <warehouse>/<table> for the default
    database and <warehouse>/<db>.db/<table> otherwise; and the rmtree
    only fires when the directory actually looks like leftover Spark
    table output, so a name collision with unrelated files is surfaced
    by the subsequent CREATE instead of silently deleting them."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if warehouse.scheme not in ("", "file"):
        return
    parts = table.lower().split(".")
    db = parts[0] if len(parts) == 2 else spark.catalog.currentDatabase().lower()
    name = parts[-1]
    loc = (
        os.path.join(warehouse.path, name)
        if db == "default"
        else os.path.join(warehouse.path, f"{db}.db", name)
    )
    if _looks_like_table_dir(loc):
        shutil.rmtree(loc, ignore_errors=True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort: bool = True,
    fmt: str = "parquet",
) -> None:
    """Persist df as a bucketed (and optionally bucket-sorted) managed
    table.  mode=overwrite keeps re-runs idempotent, including across
    sessions sharing a warehouse dir (orphan locations are cleared)."""
    _clear_orphan_location(df.sparkSession, table)
    writer = (
        df.write.format(fmt)
        .mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort:
        writer = writer.sortBy(*bucket_cols)
    writer.saveAsTable(table)


def insert_into(df: DataFrame, table: str, overwrite: bool = False) -> None:
    """Append df to (or overwrite) the EXISTING table `table`.  The one
    write path for tables that already exist: insertInto takes the
    bucket and sort spec from the catalog, so no caller re-declares or
    looks up a bucket count (a saveAsTable append must repeat bucketBy
    exactly, and raises "Specified bucketing does not match" otherwise).

    insertInto matches columns by POSITION -- two same-typed columns
    in another order would land swapped without an error -- so the
    frame is selected by the table's column names first.  An overwrite
    whose frame reads the table itself must be pinned before the call
    (eager localCheckpoint)."""
    columns = df.sparkSession.table(table).columns
    df.select(*columns).write.insertInto(table, overwrite=overwrite)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str]
) -> DataFrame:
    """Join two bucketed tables on their bucket key.  With matching
    bucket counts the physical plan is a SortMergeJoin whose BOTH sides
    read bucketed scans -- no Exchange (asserted by
    tests/test_bucketing.py, which would catch a layout or key mismatch
    silently reintroducing the shuffle)."""
    return spark.table(left_table).join(spark.table(right_table), on)
