"""Synthetic encrypted-envelope fixture generator (shape documented in
FIXTURES.md section 1; built independently with this engine's own crypto),
and jvm_rows for small literal batches."""

from __future__ import annotations

import base64
import json
import random

from dataworks_aws_corporate_data_ingestion_spark.functions.crypto import aes_ctr_encrypt


def make_materials(rng: random.Random) -> dict[str, str]:
    key = base64.b64encode(bytes(rng.randrange(256) for _ in range(16))).decode()
    iv = base64.b64encode(bytes(rng.randrange(256) for _ in range(16))).decode()
    return {
        "encryptionKeyId": f"cloudhsm:{rng.randrange(10_000)}",
        # IdentityKeyService: the "encrypted" key IS the plaintext data key
        "encryptedEncryptionKey": key,
        "initialisationVector": iv,
        "keyEncryptionKeyId": "kek-1",
    }


def make_envelope_line(
    payload: dict,
    materials: dict[str, str],
    _id,
    db: str = "calculator",
    collection: str = "calculationParts",
    last_modified: str = "2023-05-01T10:00:00.000+0000",
) -> str:
    ciphertext = aes_ctr_encrypt(
        json.dumps(payload),
        materials["encryptedEncryptionKey"],
        materials["initialisationVector"],
    )
    return json.dumps(
        {
            "message": {
                "_id": _id,
                "db": db,
                "collection": collection,
                "_lastModifiedDateTime": last_modified,
                "encryption": materials,
                "dbObject": ciphertext,
            }
        }
    )


def make_batch(
    n: int,
    seed: int = 7,
    n_keys: int = 3,
    db: str = "calculator",
    collection: str = "calculationParts",
    audit: bool = False,
    delete_every: int = 0,
) -> tuple[list[str], list[dict]]:
    """Returns (lines, payloads).  Hex-string inner ids make id_part real."""
    rng = random.Random(seed)
    materials = [make_materials(rng) for _ in range(n_keys)]
    lines, payloads = [], []
    for i in range(n):
        inner = f"{rng.randrange(16**8):08x}"
        _id = {"id": inner}
        payload: dict = {
            "_id": _id,
            "createdDateTime": "2023-04-30T07:27:35.104+0100",
            "amount": i,
            "tags": ["a", {"when": "2023-01-02T03:04:05.678Z"}],
        }
        if audit:
            payload = {
                "auditType": f"EVENT_{i % 3}",
                "context": {"who": f"user{i}", "detail": {"n": i}},
            }
        elif delete_every and i % delete_every == 0:
            payload["_removedDateTime"] = "2023-05-01T00:00:00.000Z"
        lines.append(
            make_envelope_line(payload, materials[i % n_keys], _id, db, collection)
        )
        payloads.append(payload)
    return lines, payloads


def jvm_rows(spark, rows, schema: str):
    """`rows` (tuples in `schema`'s DDL column order) as a relation the
    JVM holds itself: inline() over an array of literal structs.
    spark.createDataFrame(list) ships pickled rows that every job over
    the frame decodes again, which made each admission-suite job about
    twice as slow as over spark.range.  A datetime goes in as its ISO
    string cast to the column type, so a timestamp_ntz keeps its wall
    clock whatever the session time zone."""
    from datetime import datetime

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    fields = StructType.fromDDL(schema).fields

    def _lit(v, field):
        if isinstance(v, datetime):
            v = v.isoformat(sep=" ")
        return F.lit(v).cast(field.dataType).alias(field.name)

    structs = [F.struct(*map(_lit, row, fields)) for row in rows]
    return spark.range(1).select(F.inline(F.array(*structs)))
