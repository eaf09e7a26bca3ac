"""Daily ingest pipeline: JSONL envelopes -> decrypted, validated,
canonical records, as a DataFrame lineage.

DataFrame-native re-expression of the reference's RDD map chains
(reference steps/ingesters.py:108-120 audit, :526-539 calcParts).
``ingest_lines`` is the one place a landing line becomes a canonical
row: one fused Arrow UDF (envelope parse -> decrypt -> canonicalise) and
one split on its outcome marker.  One Arrow crossing total; everything
else is JVM columnar.  The batch day (``ingest_daily``), the registry
pipelines and the streaming ingest all compose it; callers differ only in
how lines arrive and how rows are shaped afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.crypto import KeyService
from ..functions.udfs import GOOD, QUARANTINED, UNDECRYPTABLE, ingest_udf

_ROW_FIELDS = ("id", "db", "collection", "last_modified", "val", "is_delete")
_ENVELOPE_FIELDS = (
    "id",
    "db",
    "collection",
    "last_modified",
    "db_object",
    "encrypted_encryption_key",
    "initialisation_vector",
    "key_encryption_key_id",
)


def ingest_lines(
    lines_df: DataFrame,
    collection: str | None,
    key_service: KeyService,
    *,
    audit: bool = False,
    permissive: bool = False,
    hit_acc=None,
    miss_acc=None,
    observation=None,
) -> tuple[DataFrame, DataFrame]:
    """Landing lines -> (rows, quarantined).  ``lines_df`` is any
    DataFrame whose ``value`` column holds one JSONL envelope per row,
    batch or streaming.

    ``rows`` carries ``id``, ``db``, ``collection``, ``last_modified``
    (the envelope stamp), ``val`` (canonical JSON) and ``is_delete``;
    ``quarantined`` carries the raw ``value`` line plus the 8 envelope
    fields of every row diverted instead of failing the job.

    The fused UDF (functions/udfs.py::ingest_udf) returns one struct per
    line, and both branches filter on its ``outcome`` attribute, so the
    UDF -- plus everything upstream of it -- evaluates exactly once.
    Filtering an expanded UDF column instead duplicates the UDF
    expression into the Filter node; the round-3 plan audit measured the
    whole Python chain running twice.

    Null dbObject rows go to ``quarantined`` instead of failing the whole
    job (the reference hard-raises per record, steps/dks.py:142-143; a
    100 TB run should not die on one bad row).

    ``observation``: a pyspark.sql.Observation attached BELOW the split,
    so the caller's single write action also yields ``n_envelopes``,
    ``n_quarantined`` (envelope-level: null dbObject or unparseable) and
    ``n_undecryptable`` -- no second scan of the day's input to count the
    (near-empty) quarantine branch.

    ``permissive``: unparseable lines join the quarantine branch with
    every envelope field null, and so do records that fail DECRYPT or
    transform (bad base64 ciphertext/key/IV, the key service refusing one
    record's key, non-UTF-8 or invalid payload), with their envelope
    fields.  Clean rows stay byte-identical to the strict run, which
    raises on any of these.  A truncated gzip MEMBER still fails at the
    Hadoop codec layer (file-level corruption is not a row-level concern).

    ``hit_acc``/``miss_acc``: key-cache accumulators (reference
    steps/ingesters.py:89-90,124-128), counted once per record decrypt."""
    udf = ingest_udf(
        collection,
        key_service,
        audit=audit,
        permissive=permissive,
        hit_acc=hit_acc,
        miss_acc=miss_acc,
    )
    ing = lines_df.withColumn("ing", udf(F.col("value")))
    outcome = F.col("ing.outcome")
    if observation is not None:
        ing = ing.observe(
            observation,
            F.count(F.lit(1)).alias("n_envelopes"),
            F.count(F.when(outcome == QUARANTINED, 1)).alias("n_quarantined"),
            F.count(F.when(outcome == UNDECRYPTABLE, 1)).alias("n_undecryptable"),
        )
    rows = ing.filter(outcome == GOOD).select(*(f"ing.{f}" for f in _ROW_FIELDS))
    quarantined = ing.filter(outcome != GOOD).select(
        "value", *(f"ing.{f}" for f in _ENVELOPE_FIELDS)
    )
    return rows, quarantined


def to_daily_rows(df: DataFrame, export_date: str) -> DataFrame:
    """Shape the calcParts daily-delta rows as pure column expressions
    (reference steps/ingesters.py:505-522 built these tuples in Python):

      id_part      first 2 chars of the inner id -> 256 buckets
      db_type      DELETE when the record carried _removedDateTime
      export_y/m/d partition columns from the run date
    """
    year, month, day = (int(p) for p in export_date.split("-"))
    inner_id = F.get_json_object(F.col("id"), "$.id")
    return df.select(
        F.col("id"),
        # primitive ids have no {"id": ...} wrapper; fall back to the raw
        # prefix rather than failing the row (the reference assumed the
        # wrapped form, steps/ingesters.py:505-508)
        F.coalesce(F.substring(inner_id, 1, 2), F.substring(F.col("id"), 1, 2)).alias(
            "id_part"
        ),
        F.lit(year).alias("export_year"),
        F.lit(month).alias("export_month"),
        F.lit(day).alias("export_day"),
        F.when(F.col("is_delete"), F.lit("DELETE"))
        .otherwise(F.lit("INSERT"))
        .alias("db_type"),
        F.col("val"),
    )


def observe_ingest(df: DataFrame, observation) -> DataFrame:
    """Attach observable metrics to an ingest output (the DataFrame-native
    evolution of the reference's accumulators, SURVEY.md A1): row count,
    delete count, distinct-bucket estimate.  `observation` is a
    pyspark.sql.Observation (read `.get` after the action) or a string
    name for listener-based collection; unlike accumulators these are
    computed exactly once per action (no task-retry double counting)."""
    return df.observe(
        observation,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("db_type") == "DELETE", 1).otherwise(0)).alias("n_deletes"),
        F.approx_count_distinct("id_part").alias("n_buckets"),
    )


def ingest_daily(
    spark: SparkSession,
    source_path: str,
    collection: str,
    key_service: KeyService,
    export_date: str,
    audit: bool = False,
    hit_acc=None,
    miss_acc=None,
    observation=None,
    permissive: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Full daily pipeline over a landing path (gz auto-decompressed by
    the Hadoop codec); returns (rows, quarantined_envelopes).  The keyword
    options are ingest_lines'.

    For audit collections the caller writes `val` as JSONL
    (reference steps/ingesters.py:116-119); for keyed collections the
    caller feeds the rows to sinks.writers.write_daily (reference
    steps/ingesters.py:526-539)."""
    rows, quarantined = ingest_lines(
        spark.read.text(source_path),
        collection,
        key_service,
        audit=audit,
        permissive=permissive,
        hit_acc=hit_acc,
        miss_acc=miss_acc,
        observation=observation,
    )
    return to_daily_rows(rows, export_date), quarantined
