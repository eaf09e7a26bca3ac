"""Multi-day soak certificate: the full collection lifecycle composed
into ONE oracle-hashed lineage (r7 verdict "Next round #7").

Every lifecycle phase is unit-certified elsewhere (run_day status
tracking in test_plans.py, the weekly merge in TestUpdateLifecycle,
partition-pruned incremental reads, RTBF purge in ops_certificates).
What none of those give is an end-to-end claim: that N daily ingests +
TWO chained weekly snapshot updates + a purge compose into exactly the
snapshot a one-shot latest-per-key over the whole event stream would
produce.  This module replays 7 synthetic landing days through the real
runner (`plans/runner.py::run_range` with force_collection_update --
reference steps/corporate_data_ingestion.py:100-117 +
steps/ingesters.py:273-281,341-460) and hashes the FINAL snapshot rows
against a DuckDB oracle that recomputes the winners by pure SQL --
no phase of the lineage runs in the oracle.

Fixture derivation (all oracle-reproducible by concatenation, the
cdi_pipeline pattern):

  sel      = event_id % 997          -- reduced id space, so the same
                                        logical record recurs across
                                        days (~10 times at sf0.01) and
                                        the cross-day merge semantics
                                        are actually exercised
  id_str   = substr(md5(sel), 1, 12) -- uniform over id_part buckets
  day      = event_id % 7 + 1        -- landing date 2024-03-0d
  DELETE   iff the event is a purchase (payload carries
             _removedDateTime; F10 delete-flag derivation)

Payload values are constant per (id, db_type) -- fixed timestamps,
amount = sel -- so the merge's db_type-ordered top-1 (DELETE beats
INSERT; the reference tolerated ties beyond that,
docs/data-engineering-summary.md:110-115) has a deterministic ROW
outcome even though which physical duplicate wins is arbitrary: all
candidates are byte-identical.  The oracle's winner rule is therefore
just `any purchase event for this sel across all 7 days -> DELETE`.

The lineage the certificate exercises, in order:

  1. 7 landing days of AES-CTR-encrypted envelope JSONL (crypto fixture
     shared with cdi_pipeline, encrypted once and checkpointed)
  2. run_range(2024-03-01..04, force_collection_update) -- 4 ingest
     days + bootstrap merge -> export 2024-03-04 + state-store record
  3. run_range(2024-03-05..07, force_collection_update) -- 3 more
     ingest days + INCREMENTAL merge (previous snapshot + dailies
     pruned to days > 03-04) -> export 2024-03-07
  4. RTBF purge of every id in bucket '00' from the final export
  5. hash the re-read snapshot vs the oracle's latest-per-key-minus-
     purged recomputation

Spark-side invariants raise (-> driver records err) instead of riding
the row output: the incremental read must touch only day-5..7 files,
and the purge audit must account for exactly the bucket-'00' ids.

Scale notes: one fixture pass (Arrow-batched crypto, checkpointed),
7 partition-pruned daily ingests, two single-exchange merges, a
2-of-256-bucket partition-surgical purge; nothing quadratic, nothing
collected beyond the purge audit (<=256 rows) and the prune file check
(one count).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..partitioning import fan_out
from ..sources.tables import load_table
from ..workload import register
from .cdi_pipeline import _encrypt_fixture_udf

N_IDS = 997  # prime, < the 1000 events at the smallest SF
N_DAYS = 7
LM = "2024-03-03T12:00:00.000+0000"  # canonicalises to ...000Z
LM_Z = "2024-03-03T12:00:00.000Z"
PURGED_BUCKET = "00"


def _soak_dir(sf_dir: str) -> str:
    token = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(tempfile.gettempdir(), f"cdi_soak_cert_{token}")


def _envelope_lines_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, value) encrypted envelope lines, one per event, with the
    reduced-id payload described in the module docstring."""
    e = fan_out(load_table(spark, "events", sf_dir))
    sel = (F.col("event_id") % N_IDS).cast("bigint")
    id_str = F.substring(F.md5(sel.cast("string").cast("binary")), 1, 12)
    is_del = F.col("event_type") == "purchase"
    payload = F.to_json(
        F.struct(
            F.struct(id_str.alias("id")).alias("_id"),
            F.lit(LM).alias("_lastModifiedDateTime"),
            # null for non-deletes -> to_json omits the field entirely
            F.when(is_del, F.lit(LM)).alias("_removedDateTime"),
            sel.alias("amount"),
        )
    )
    enc = e.select(
        F.col("event_id"),
        ((F.col("event_id") % N_DAYS) + 1).cast("int").alias("day"),
        id_str.alias("id_str"),
        payload.alias("payload"),
    ).withColumn("mat", _encrypt_fixture_udf()(F.col("payload"), F.col("event_id")))
    line = F.to_json(
        F.struct(
            F.struct(
                F.struct(F.col("id_str").alias("id")).alias("_id"),
                F.lit("calculator").alias("db"),
                F.lit("calculationParts").alias("collection"),
                F.struct(
                    F.lit("").alias("encryptionKeyId"),
                    F.col("mat.encrypted_encryption_key").alias(
                        "encryptedEncryptionKey"
                    ),
                    F.col("mat.initialisation_vector").alias("initialisationVector"),
                    F.col("mat.key_encryption_key_id").alias("keyEncryptionKeyId"),
                ).alias("encryption"),
                F.col("mat.db_object").alias("dbObject"),
                F.lit(LM).alias("_lastModifiedDateTime"),
            ).alias("message")
        )
    )
    return enc.select("day", line.alias("value"))


@register(
    "multi_day_soak_certificate",
    tags=("lifecycle", "soak", "merge", "purge", "recall-certificate"),
    oracle=f"""
        WITH base AS (
            SELECT CAST(event_id % {N_IDS} AS BIGINT) AS sel,
                   substr(md5(CAST(CAST(event_id % {N_IDS} AS BIGINT)
                                   AS VARCHAR)), 1, 12) AS id_str,
                   event_type = 'purchase' AS is_del
            FROM events
        ),
        winners AS (
            SELECT sel, id_str,
                   MAX(CASE WHEN is_del THEN 1 ELSE 0 END) AS any_del
            FROM base GROUP BY sel, id_str
        )
        SELECT '{{"id":"' || id_str || '"}}' AS id,
               substr(id_str, 1, 2) AS id_part,
               CASE WHEN any_del = 1 THEN 'DELETE' ELSE 'INSERT' END
                   AS db_type,
               '{{"_id":{{"id":"' || id_str
                 || '"}},"_lastModifiedDateTime":{{"d_date":"{LM_Z}"}}'
                 || CASE WHEN any_del = 1
                         THEN ',"_removedDateTime":{{"d_date":"{LM_Z}"}}'
                         ELSE '' END
                 || ',"amount":' || sel || '}}' AS val
        FROM winners
        WHERE substr(id_str, 1, 2) <> '{PURGED_BUCKET}'
    """,
)
def multi_day_soak_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7 landing days -> run_range x2 (each with a weekly merge) ->
    RTBF purge -> final snapshot rows, hash-checked against the
    oracle's one-shot latest-per-key-minus-purged recomputation."""
    from ..operators.purge import purge_keys
    from ..plans.runner import (
        CollectionSpec,
        EngineConfig,
        read_dailies_since,
        run_range,
    )
    from ..sinks.writers import read_snapshot

    base = _soak_dir(sf_dir)
    # the state store APPENDS and the runner consults it for the latest
    # completed export, so a stale previous run would corrupt this one:
    # start from a clean slate
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)

    # 1. land 7 days of encrypted envelopes (crypto runs once)
    lines = _envelope_lines_by_day(spark, sf_dir).localCheckpoint(eager=True)
    for d in range(1, N_DAYS + 1):
        lines.filter(F.col("day") == d).select("value").write.mode(
            "overwrite"
        ).text(os.path.join(base, "landing", "2024", "03", f"{d:02d}"))

    spec = CollectionSpec(
        name="calculator:calculationParts",
        source_root=os.path.join(base, "landing"),
        output_root=os.path.join(base, "daily"),
        exports_root=os.path.join(base, "exports"),
    )

    def _cfg(start: str, end: str, corr: str) -> EngineConfig:
        return EngineConfig(
            correlation_id=corr,
            start_date=start,
            end_date=end,
            collection=spec,
            state_path=os.path.join(base, "state.jsonl"),
            force_collection_update=True,
        )

    # 2. week 1: 4 daily ingests + bootstrap merge -> export 2024-03-04
    run_range(spark, _cfg("2024-03-01", "2024-03-04", "soak-w1"))
    # 3. week 2: 3 more dailies + incremental merge -> export 2024-03-07
    run_range(spark, _cfg("2024-03-05", "2024-03-07", "soak-w2"))

    # invariant: the incremental read's pruned scan opens ONLY day-5..7
    # files (reference steps/ingesters.py:429-438; the same plan the
    # week-2 run_update executed)
    pruned = read_dailies_since(spark, spec.output_root, "2024-03-04")
    n_bad_files = (
        pruned.select(F.input_file_name().alias("f"))
        .filter(~F.col("f").rlike("export_day=[567]/"))
        .count()
    )
    if n_bad_files:
        raise AssertionError(
            f"incremental merge scan opened {n_bad_files} rows from "
            "already-merged day partitions"
        )

    # 4. purge every id in the certificate bucket from the final export.
    # read_snapshot's explicit schema keeps id_part "00" a string.
    final_prefix = os.path.join(base, "exports", "2024-03-07")
    snap = read_snapshot(spark, final_prefix, "parquet")
    keys = snap.filter(F.col("id_part") == PURGED_BUCKET).select("id", "id_part")
    n_keys = keys.count()  # BEFORE the purge rewrites the bucket it reads
    audit = purge_keys(spark, final_prefix, keys, fmt="parquet")
    n_purged = sum(r.purged for r in audit.collect())
    if n_purged != n_keys:
        raise AssertionError(
            f"purge audit removed {n_purged} rows for {n_keys} keys"
        )

    # 5. the end state, to be hashed against the oracle
    return read_snapshot(spark, final_prefix, "parquet").select(
        "id", "id_part", "db_type", "val"
    )
