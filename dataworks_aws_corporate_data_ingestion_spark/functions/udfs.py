"""The Arrow UDF wrapping the pure-Python record core.

The reference ran the whole per-record chain as five row-at-a-time RDD
``.map`` lambdas (reference steps/ingesters.py:108-115) -- every row paid a
JVM->pickle->Python->pickle->JVM round trip per map.  Here the chain is ONE
Arrow-batched crossing, ``ingest_udf``: the landing line goes in, and the
envelope parse, AES-CTR decrypt with the cached data key, (audit transform)
+ validate + sanitise + canonical serialise all run in one batch pass over
pyarrow arrays (no pandas frames).  Only the canonical row and an outcome
marker come back; the ciphertext and key material return to the JVM only
on rows bound for quarantine.

operators/ingest.py::ingest_lines is its one caller.  Everything around it
(the quarantine split, db_type, id_part, partitioning columns, writes)
stays JVM-side as native column expressions.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import (
    BooleanType,
    ByteType,
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
    ciphertext: Sequence,
    encrypted_key: Sequence,
    iv: Sequence,
    kek_id: Sequence,
    permissive: bool = False,
) -> list:
    """Decrypt a batch of records (parallel sequences, one item per
    record), grouping records by resolved data key so each group pays ONE
    cipher operation (aes_ctr_decrypt_batch) instead of a Cipher per
    record.  Key-cache lookups stay per-record, preserving the
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

    ct_list = list(ciphertext)
    iv_list = list(iv)
    n = len(ct_list)
    out: list = [None] * n
    failed = [False] * n
    keys: list = [None] * n
    for i, (ct, ek, kek) in enumerate(
        zip(ct_list, encrypted_key, kek_id)
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


# ingest_udf's outcome marker: the quarantine split filters on it
GOOD = 0
# unparseable line (permissive) or null dbObject: the envelope-level
# quarantine, counted as n_quarantined
QUARANTINED = 1
# envelope fine, but decrypt or transform failed (permissive only)
UNDECRYPTABLE = 2

INGEST_STRUCT = StructType(
    [
        StructField("id", StringType()),
        StructField("db", StringType()),
        StructField("collection", StringType()),
        StructField("last_modified", StringType()),
        StructField("val", StringType()),
        StructField("is_delete", BooleanType()),
        StructField("outcome", ByteType()),
        # filled on quarantine-bound rows only
        StructField("db_object", StringType()),
        StructField("encrypted_encryption_key", StringType()),
        StructField("initialisation_vector", StringType()),
        StructField("key_encryption_key_id", StringType()),
    ]
)


def ingest_udf(
    collection: str | None,
    key_service: KeyService,
    *,
    audit: bool = False,
    permissive: bool = False,
    hit_acc=None,
    miss_acc=None,
):
    """Landing line -> canonical row in ONE scalar Arrow UDF: envelope
    parse + canonical _id (reference steps/data.py:63-89), decrypt per key
    group (_decrypt_series), then (audit transform) + validate + sanitise
    + canonical serialise (record.process_record / process_parsed).

    Returns an INGEST_STRUCT per line.  ``outcome`` is GOOD (``val`` and
    ``is_delete`` set), QUARANTINED (null dbObject, or an unparseable line
    in permissive mode: every field but ``outcome`` null) or UNDECRYPTABLE
    (permissive only: decrypt or transform failed).  The envelope's
    _lastModifiedDateTime comes back pre-coerced to the audit stamp
    convention (str(primitive) else "", reference steps/data.py:104-109).
    The dbObject and key-material fields are filled only on rows that are
    not GOOD, so a good row's ciphertext never returns to the JVM.

    The key cache is a module-level per-worker dict (closure state is not
    guaranteed to survive across Arrow batches), so cached keys span every
    batch and task a worker processes -- the reference's per-container
    dict cache with accumulator observability (steps/ingesters.py:103-104,
    steps/dks.py:96-116).

    Strict (the default, reference parity) raises on an unparseable line
    and on any decrypt/transform failure; a null dbObject is QUARANTINED in
    both modes.  ``permissive=True`` turns record-shaped failures into
    outcomes instead, so one poison record cannot kill a 100 TB day (the
    reference raises per record, steps/data.py:63-89, steps/dks.py:142-143);
    clean rows are byte-identical to the strict run."""
    client = CachingKeyClient(key_service, hit_acc=hit_acc, miss_acc=miss_acc)

    @arrow_udf(INGEST_STRUCT)
    def _ingest(value: pa.Array) -> pa.Array:
        lines = value.to_pylist()
        n = len(lines)
        ids, dbs, colls, stamps = [None] * n, [None] * n, [None] * n, [None] * n
        cts, eks, ivs, keks = [None] * n, [None] * n, [None] * n, [None] * n
        outcome = [QUARANTINED] * n
        todo = []
        for i, line in enumerate(lines):
            try:
                env = record.parse_envelope(line, collection)
            except Exception:
                if not permissive:
                    raise
                continue
            lm = env.last_modified
            ids[i], dbs[i], colls[i] = env.id, env.db, env.collection
            stamps[i] = str(lm) if isinstance(lm, record.JSON_PRIMITIVES) else ""
            cts[i] = env.db_object
            eks[i] = env.encrypted_encryption_key
            ivs[i] = env.initialisation_vector
            keks[i] = env.key_encryption_key_id
            if cts[i] is not None:
                todo.append(i)
        decrypted = _decrypt_series(
            client,
            [cts[i] for i in todo],
            [eks[i] for i in todo],
            [ivs[i] for i in todo],
            [keks[i] for i in todo],
            permissive=permissive,
        )
        vals, deletes = [None] * n, [None] * n
        for i, rec in zip(todo, decrypted):
            outcome[i] = UNDECRYPTABLE
            if rec is None:
                continue
            d, c = dbs[i], colls[i]
            try:
                # fused validate+sanitise+finalise: one parse, one walk,
                # one dump per record (record.process_parsed) instead of
                # the classic dump/replace/re-parse/dump chain --
                # byte-identical by construction, pinned by
                # tests/test_record.py
                if audit and d == "data" and c == "businessAudit":
                    vals[i], deletes[i] = record.process_parsed(
                        record.audit_context(rec, stamps[i]), d, c
                    )
                else:
                    vals[i], deletes[i] = record.process_record(rec, d or "", c or "")
            except Exception:
                if not permissive:
                    raise
                continue
            outcome[i] = GOOD
            cts[i] = eks[i] = ivs[i] = keks[i] = None
        s = value.type
        return pa.StructArray.from_arrays(
            [
                pa.array(ids, s),
                pa.array(dbs, s),
                pa.array(colls, s),
                pa.array(stamps, s),
                pa.array(vals, s),
                pa.array(deletes, pa.bool_()),
                pa.array(outcome, pa.int8()),
                pa.array(cts, s),
                pa.array(eks, s),
                pa.array(ivs, s),
                pa.array(keks, s),
            ],
            names=INGEST_STRUCT.fieldNames(),
        )

    # The UDF is pure, but it is declared nondeterministic as an
    # OPTIMIZER BARRIER: a deterministic alias gets inlined into the
    # split's filter predicates and pushed down as a SECOND copy of the
    # expression -- Catalyst then runs the whole upstream Python chain
    # twice.  The round-3 plan audit measured exactly that doubling; with
    # the barrier the UDF evaluates once and the filters reference its
    # output attribute.
    return _ingest.asNondeterministic()
