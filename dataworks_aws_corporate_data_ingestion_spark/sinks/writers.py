"""The stored layout of dailies and snapshots: range-clustered
partitioned writers and the explicit-schema readers that match them.

The write-layout contract is a first-class part of the engine (reference
docs/data-storage.md:101-103): daily deltas and snapshots are partitioned
by `id_part`, range-clustered and sorted by `(id_part, id)` so the NEXT
merge's range exchange and ORC/parquet stripe pruning stay cheap.  At 10 TB
this discipline is the difference between a planned merge and a blind
re-shuffle of the world.

Every read of a stored daily or snapshot goes through `read_daily` /
`read_snapshot`: with no schema, Spark infers an all-digit `id_part`
directory name as INT (`id_part=07` reads as 7), and every string
comparison against it then misses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DAILY_PARTITIONS = ("export_year", "export_month", "export_day", "id_part")
SNAPSHOT_COLUMNS = ("id", "db_type", "val", "id_part")
SNAPSHOT_SCHEMA = "id string, db_type string, val string, id_part string"
DAILY_SCHEMA = (
    "id string, db_type string, val string, export_year int,"
    " export_month int, export_day int, id_part string"
)


def daily_layout(df: DataFrame) -> DataFrame:
    """The daily clustering: range partitions on (id_part, id), each
    sorted by id."""
    return df.repartitionByRange("id_part", "id").sortWithinPartitions("id")


def read_daily(spark: SparkSession, root: str, fmt: str = "orc") -> DataFrame:
    """Every stored daily under `root`, partition columns typed by
    DAILY_SCHEMA."""
    return spark.read.schema(DAILY_SCHEMA).format(fmt).load(root)


def read_snapshot(spark: SparkSession, path: str | None, fmt: str = "orc") -> DataFrame:
    """The snapshot at `path` as SNAPSHOT_COLUMNS; an empty snapshot when
    `path` is None (no previous export)."""
    if path is None:
        return spark.createDataFrame([], SNAPSHOT_SCHEMA)
    return (
        spark.read.schema(SNAPSHOT_SCHEMA)
        .format(fmt)
        .load(path)
        .select(*SNAPSHOT_COLUMNS)
    )


def write_daily(
    df: DataFrame,
    path: str,
    fmt: str = "orc",
    compression: str = "zlib",
    stabilize: bool = False,
) -> None:
    """Daily-delta write (reference steps/ingesters.py:534-538):
    `daily_layout` + dynamic partition overwrite, so re-runs replace only
    the day they touch.

    ``stabilize``: the range partitioner runs a boundary-SAMPLING job
    over its child before the write job, i.e. the input chain executes
    TWICE.  For the real ingest pipeline that child contains the crypto
    pandas UDFs -- re-decrypting the whole day to learn range bounds is
    the single most expensive hidden cost of this write shape (it also
    double-counts any accumulators riding the UDFs).  True persists the
    input (memory-then-disk) across the two executions and unpersists
    after the write; pass it for ingest_daily output (plans.runner does).
    The default False suits pure-columnar inputs, which usually rescan
    cheaper than they spill."""
    handle = None
    if stabilize:
        from pyspark.storagelevel import StorageLevel

        handle = df.persist(StorageLevel.MEMORY_AND_DISK)
        df = handle
    try:
        (
            daily_layout(df)
            .write.option("partitionOverwriteMode", "dynamic")
            .partitionBy(*DAILY_PARTITIONS)
            .format(fmt)
            .option("compression", compression)
            .mode("overwrite")
            .save(path)
        )
    finally:
        if handle is not None:
            handle.unpersist()


def write_snapshot(
    df: DataFrame,
    path: str,
    fmt: str = "orc",
    compression: str = "zlib",
) -> None:
    """Snapshot write (reference steps/ingesters.py:456-457): partitioned by
    id_part only.  Callers pass an already range-clustered DataFrame (the
    merge repartitions by range as part of its window)."""
    (
        df.write.partitionBy("id_part")
        .format(fmt)
        .option("compression", compression)
        .mode("overwrite")
        .save(path)
    )


def write_jsonl(df: DataFrame, path: str, compression: str = "gzip") -> None:
    """Audit-collection text sink (reference steps/ingesters.py:116-119 used
    LZO, an EMR-ism; any splittable/standard codec keeps the semantics)."""
    df.write.mode("overwrite").option("compression", compression).text(path)
