"""Structured-streaming ingest: the daily batch pipeline as an incremental
stream.

The reference's closest analogue is its per-day re-run loop (reference
steps/corporate_data_ingestion.py:100-117); here the same transform chain
(operators/ingest.py::ingest_lines) runs as a file-source stream with
`availableNow` -- process everything that has landed, checkpoint, stop --
i.e. trigger-once incremental batches with exactly-once file tracking
instead of date arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.crypto import KeyService
from ..operators.ingest import ingest_lines

_LINE_SCHEMA = StructType([StructField("value", StringType())])


def to_stream_rows(rows: DataFrame) -> DataFrame:
    """The streaming sink's row shape over ingest_lines' rows."""
    return rows.select(
        "id",
        "db",
        "collection",
        "val",
        F.when(F.col("is_delete"), F.lit("DELETE"))
        .otherwise(F.lit("INSERT"))
        .alias("db_type"),
    )


def streaming_ingest_query(
    spark: SparkSession,
    source_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    collection: str,
    key_service: KeyService,
    audit: bool = False,
    available_now: bool = True,
):
    """Build and start the incremental ingest: readStream over a JSONL
    landing directory (new files become micro-batch input exactly once,
    checkpoint-tracked) -> ingest_lines, the batch path's chain -> parquet
    append sink.  Null-dbObject rows are dropped, as the batch path
    quarantines them.

    Returns the StreamingQuery; callers awaitTermination() (availableNow
    drains the backlog then stops -- the streaming replacement for the
    reference's date-range driver loop)."""
    lines = (
        spark.readStream.schema(_LINE_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .text(source_dir)
    )
    rows, _ = ingest_lines(lines, collection, key_service, audit=audit)
    writer = (
        to_stream_rows(rows)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
