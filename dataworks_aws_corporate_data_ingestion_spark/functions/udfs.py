"""Arrow-batched pandas UDFs wrapping the pure-Python record core.

The reference ran the whole per-record chain as five row-at-a-time RDD
``.map`` lambdas (reference steps/ingesters.py:108-115) -- every row paid a
JVM->pickle->Python->pickle->JVM round trip per map.  Here the chain is two
Arrow-batched crossings:

  1. ``envelope_udf``        -- parse envelope, canonicalise _id
  2. ``decrypt_process_udf`` -- AES-CTR decrypt with the cached data key +
                                (audit transform) + validate + sanitise +
                                canonical serialise, fused into one batch
                                pass

operators/ingest.py::ingest_lines is their one caller.  Everything around
them (db_type, id_part, partitioning columns, writes) stays JVM-side as
native column expressions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from . import record
from .crypto import (
    CachingKeyClient,
    KeyService,
    aes_ctr_decrypt_batch,
)

# Exceptions that mean THIS RECORD's key material is bad -- malformed
# base64 (binascii.Error is a ValueError), wrong key shape, or the key
# service explicitly refusing the key (KeyMaterialError, a ValueError) --
# as opposed to the service being unreachable.  Permissive mode quarantines
# ONLY these; connectivity/transport failures (requests.ConnectionError,
# socket errors, retries exhausted) propagate and fail the task so Spark
# retries it: a transient DKS outage must not silently divert a whole
# batch to quarantine as 'undecryptable'.
_RECORD_KEY_ERRORS = (ValueError, TypeError, KeyError)


def _decrypt_series(
    client: CachingKeyClient,
    ciphertext: pd.Series,
    encrypted_key: pd.Series,
    iv: pd.Series,
    kek_id: pd.Series,
    permissive: bool = False,
) -> list:
    """Decrypt a whole Arrow batch, grouping records by resolved data key so
    each group pays ONE cipher operation (aes_ctr_decrypt_batch) instead of
    a Cipher per record.  Key-cache lookups stay per-record, preserving the
    reference's hit/miss accounting contract exactly.

    ``permissive=True``: a record whose ciphertext/key/IV is malformed
    (bad base64, wrong AES key or IV length, DKS refusing that record's
    key, non-UTF-8 plaintext) yields None instead of raising -- the
    caller diverts Nones to the quarantine branch so one poison record
    cannot fail a whole day.  Success always yields a str, so None is an
    unambiguous failure marker.  Transient service/connectivity failures
    are NOT quarantined even when permissive (_RECORD_KEY_ERRORS) -- they
    fail the task so Spark's retry machinery handles them.  Default stays
    strict (reference steps/dks.py:142-143 raises)."""
    import base64

    ct_list = ciphertext.tolist()
    iv_list = iv.tolist()
    n = len(ct_list)
    out: list = [None] * n
    failed = [False] * n
    keys: list = [None] * n
    for i, (ct, ek, kek) in enumerate(
        zip(ct_list, encrypted_key.tolist(), kek_id.tolist())
    ):
        if ct is None:
            if not permissive:
                raise ValueError("dbObject is missing (None)")
            failed[i] = True
            continue
        try:
            keys[i] = client.data_key(ek, kek)
        except _RECORD_KEY_ERRORS:
            # record-shaped failure: quarantine this record only.
            # Anything else (connectivity, service outage) propagates
            # even in permissive mode -- see _RECORD_KEY_ERRORS.
            if not permissive:
                raise
            failed[i] = True
    groups: dict = {}
    for i, k in enumerate(keys):
        if not failed[i]:
            groups.setdefault(k, []).append(i)
    for k, idxs in groups.items():
        try:
            key_bytes = base64.b64decode(k)
        except Exception:
            if not permissive:
                raise
            key_bytes = None
        if permissive and (
            key_bytes is None or len(key_bytes) not in (16, 24, 32)
        ):
            for i in idxs:
                failed[i] = True
            continue
        good_idx, cts, ivs = [], [], []
        for i in idxs:
            try:
                ct_b = base64.b64decode(ct_list[i])
                iv_b = base64.b64decode(iv_list[i])
                if permissive and len(iv_b) != 16:
                    raise ValueError("bad IV length")
            except Exception:
                if not permissive:
                    raise
                failed[i] = True
                continue
            good_idx.append(i)
            cts.append(ct_b)
            ivs.append(iv_b)
        for i, pt in zip(good_idx, aes_ctr_decrypt_batch(cts, key_bytes, ivs)):
            try:
                out[i] = pt.decode("utf8")
            except UnicodeDecodeError:
                if not permissive:
                    raise
                failed[i] = True
    return out

ENVELOPE_STRUCT = StructType(
    [
        StructField("id", StringType()),
        StructField("db", StringType()),
        StructField("collection", StringType()),
        StructField("last_modified", StringType()),
        StructField("db_object", StringType()),
        StructField("encrypted_encryption_key", StringType()),
        StructField("initialisation_vector", StringType()),
        StructField("key_encryption_key_id", StringType()),
    ]
)

PAYLOAD_STRUCT = StructType(
    [
        StructField("val", StringType()),
        StructField("is_delete", BooleanType()),
    ]
)


def envelope_udf(
    configured_collection: str | None = None, permissive: bool = False
):
    """Envelope parse as a scalar pandas UDF returning a struct column.

    The envelope's _lastModifiedDateTime is pre-coerced to the audit stamp
    convention here (str(primitive) else "") because the struct column is
    typed (reference steps/data.py:104-109).

    ``permissive=True``: an unparseable line (invalid JSON, missing
    'message'/'_id') yields an all-null struct instead of failing the
    task.  Its ``db_object`` is null, so the row flows into the existing
    quarantine branch (the raw line survives in the ``value`` column)
    and is counted by the ingest observation -- one poison record cannot
    kill a 100 TB day.  The reference raises per record
    (steps/data.py:63-89 has no guard); the default stays strict for
    byte parity."""
    n_fields = len(ENVELOPE_STRUCT.fields)

    @pandas_udf(ENVELOPE_STRUCT)
    def _parse(lines: pd.Series) -> pd.DataFrame:
        rows = []
        for line in lines:
            try:
                env = record.parse_envelope(line, configured_collection)
            except Exception:
                if not permissive:
                    raise
                rows.append((None,) * n_fields)
                continue
            lm = env.last_modified
            stamp = str(lm) if isinstance(lm, record.JSON_PRIMITIVES) else ""
            rows.append(
                (
                    env.id,
                    env.db,
                    env.collection,
                    stamp,
                    env.db_object,
                    env.encrypted_encryption_key,
                    env.initialisation_vector,
                    env.key_encryption_key_id,
                )
            )
        return pd.DataFrame(
            rows, columns=[f.name for f in ENVELOPE_STRUCT.fields]
        )

    # The parse is pure, but it is declared nondeterministic as an
    # OPTIMIZER BARRIER: a deterministic alias gets inlined into any
    # later filter predicate (e.g. the quarantine's db_object IS NOT
    # NULL) and pushed down as a SECOND copy of the expression --
    # Catalyst then runs the whole upstream Python chain twice.  The
    # round-3 plan audit measured exactly that doubling; with the
    # barrier the envelope parse evaluates once and filters reference
    # its output attribute.
    return _parse.asNondeterministic()


def decrypt_process_udf(
    key_service: KeyService,
    audit: bool = False,
    hit_acc=None,
    miss_acc=None,
    permissive: bool = False,
):
    """Decrypt + (audit transform) + validate + sanitise + canonicalise in
    ONE Arrow crossing -- the SURVEY.md section-7 target shape (envelope
    parse, then a single fused per-record pass).  A separate decrypt UDF
    feeding a process UDF would cost an extra JVM<->Python serialisation
    of every decrypted payload.

    The key cache is a module-level per-worker dict (closure state is not
    guaranteed to survive across Arrow batches), so cached keys span every
    batch and task a worker processes -- the reference's per-container
    dict cache with accumulator observability (steps/ingesters.py:103-104,
    steps/dks.py:96-116).  Strict mode raises on a null ciphertext, as the
    reference does (steps/dks.py:142-143).

    Args are columns: (ciphertext, encrypted_key, iv, kek_id, db,
    collection, envelope_stamp).

    ``permissive=True``: a record that fails decrypt (see
    _decrypt_series) OR the downstream transform/validate pass yields
    (val=NULL, is_delete=NULL) instead of failing the task -- val is
    never null on success, so the caller splits on it.  Clean rows are
    byte-identical to the strict path."""
    client = CachingKeyClient(key_service, hit_acc=hit_acc, miss_acc=miss_acc)

    @pandas_udf(PAYLOAD_STRUCT)
    def _process(
        ciphertext: pd.Series,
        encrypted_key: pd.Series,
        iv: pd.Series,
        kek_id: pd.Series,
        db: pd.Series,
        collection: pd.Series,
        stamp: pd.Series,
    ) -> pd.DataFrame:
        decrypted = _decrypt_series(
            client, ciphertext, encrypted_key, iv, kek_id, permissive=permissive
        )
        vals, deletes = [], []
        for rec, d, c, s in zip(decrypted, db, collection, stamp):
            if rec is None and permissive:
                vals.append(None)
                deletes.append(None)
                continue
            try:
                # fused validate+sanitise+finalise: one parse, one walk,
                # one dump per record (record.process_parsed) instead of
                # the classic dump/replace/re-parse/dump chain --
                # byte-identical by construction, pinned by
                # tests/test_record.py
                if audit and d == "data" and c == "businessAudit":
                    val, is_delete = record.process_parsed(
                        record.audit_context(rec, s), d or "", c or ""
                    )
                else:
                    val, is_delete = record.process_record(rec, d or "", c or "")
                vals.append(val)
                deletes.append(is_delete)
            except Exception:
                if not permissive:
                    raise
                vals.append(None)
                deletes.append(None)
        return pd.DataFrame({"val": vals, "is_delete": deletes})

    # optimizer barrier (see envelope_udf)
    return _process.asNondeterministic()
