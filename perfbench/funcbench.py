"""Single-thread cost of the record functions the two Arrow crossings run,
measured in the benchmark's own process on a seeded sample of the workload's own
landing lines (µs per record, median of three passes):

  envelope_us  record.parse_envelope
  decrypt_us   crypto.aes_ctr_decrypt_batch, one call per data key
  process_us   record.process_record (businessAudit: audit_context then
               process_parsed, as the fused UDF does)

Lines the pipeline would quarantine are dropped from the sample before
timing, so every timed call succeeds.
"""

from __future__ import annotations

import base64
import glob
import gzip
import os
import random
import statistics
import time

from dataworks_aws_corporate_data_ingestion_spark.functions import record
from dataworks_aws_corporate_data_ingestion_spark.functions.crypto import aes_ctr_decrypt_batch

SAMPLE = 10_000
PASSES = 3


def _sample_lines(case: str, seed: int) -> list[str]:
    lines = []
    for path in sorted(glob.glob(os.path.join(case, "landing", "*", "*", "*", "*.jsonl.gz"))):
        with gzip.open(path, "rt") as fd:
            lines.extend(line.rstrip("\n") for line in fd)
    return random.Random(seed).sample(lines, min(SAMPLE, len(lines)))


def _per_record_us(fn, n: int) -> float:
    runs = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs) / n * 1e6


def measure(case: str, collection: str, seed: int) -> dict[str, float]:
    envs = []
    lines = []
    for line in _sample_lines(case, seed):
        try:
            env = record.parse_envelope(line, collection)
        except (ValueError, KeyError):
            continue
        if env.db_object is not None:
            envs.append(env)
            lines.append(line)
    envelope_us = _per_record_us(lambda: [record.parse_envelope(x, collection) for x in lines], len(lines))

    groups: dict[str, tuple[list, list]] = {}
    for env in envs:
        cts, ivs = groups.setdefault(env.encrypted_encryption_key, ([], []))
        cts.append(base64.b64decode(env.db_object))
        ivs.append(base64.b64decode(env.initialisation_vector))
    keys = {k: base64.b64decode(k) for k in groups}
    decrypt_us = _per_record_us(
        lambda: [aes_ctr_decrypt_batch(cts, keys[k], ivs) for k, (cts, ivs) in groups.items()],
        len(envs),
    )

    plain = []
    for k, (cts, ivs) in groups.items():
        for pt in aes_ctr_decrypt_batch(cts, keys[k], ivs):
            try:
                plain.append(pt.decode("utf8"))
            except UnicodeDecodeError:
                continue  # planted undecryptable record
    db, coll = collection.split(":")
    stamp = "2023-05-01T10:00:00.000+0000"
    if collection == "data:businessAudit":
        def process():
            return [record.process_parsed(record.audit_context(p, stamp), db, coll) for p in plain]
    else:
        def process():
            return [record.process_record(p, db, coll) for p in plain]
    process_us = _per_record_us(process, len(plain))
    return dict(envelope_us=envelope_us, decrypt_us=decrypt_us, process_us=process_us)
