"""Seeded input generator for the CDI week benchmark.

Builds, for one (workload, seed), the landing files the pipeline reads and
the bookkeeping the checker compares against.  Everything is derived from
``random.Random`` streams seeded by the workload name and the seed, and
every file is written byte-deterministically (gzip with mtime 0, parquet
from a fixed writer), so the same seed always yields the same bytes.

Layout of one generated case (``<cache>/<workload>/s<seed>-<version>/``):

  landing/YYYY/MM/DD/part-NN.jsonl.gz   encrypted Kafka-envelope JSONL
  prior/id_part=xx/part-0.parquet       previous snapshot (keyed only)
  merged/export_year=.../*.parquet      last week's dailies, already merged
  state.jsonl                           seeded job-state log ({CASE} = dir)
  expected.json                         counts and sampled canonical values
  COMPLETE                              marker, written last

Payloads are encrypted in one AES-CTR pass per data key with
``crypto.aes_ctr_decrypt_batch`` (CTR is symmetric), not per record.
Expected canonical values are built by string concatenation from the
generator's own knowledge of each value -- which strings are dates, what
they are in UTC, which keys carry a ``$`` -- never by calling the engine's
record functions.
"""

from __future__ import annotations

import base64
import datetime as dt
import gzip
import hashlib
import json
import os
import random
import shutil

import orjson

from dataworks_aws_corporate_data_ingestion_spark.functions.crypto import (
    aes_ctr_decrypt_batch,
)

CALC = "calculator:calculationParts"
AUDIT = "data:businessAudit"
EPOCH_FALLBACK = "1980-01-01T00:00:00.000Z"
ENVELOPE_STAMP = "2023-05-01T10:00:00.000+0000"
ENVELOPE_STAMP_UTC = "2023-05-01T10:00:00.000Z"
FORMAT_VERSION = 6  # bump when the generated bytes change

_CALC = dict(collection=CALC, n_keys=32, delete_share=0.05, update_share=0.30)
_AUDIT = dict(collection=AUDIT, n_keys=8, poison_share=0.005)

# `days` landing days start at WEEK_START; the previous snapshot (and its
# COMPLETED export in the state log) is dated the day before; `merged_days`
# older dailies sit in the same root and must be pruned by the merge.
# The *_small cases are the tiny inputs of the benchmark's own tests.
WORKLOADS: dict[str, dict] = {
    "calc_week": dict(
        _CALC,
        days=1,
        records_per_day=5_000,
        files_per_day=6,
        prior_rows=20_000,
        merged_days=1,
        state_years=1,
    ),
    "calc_week_small": dict(
        _CALC,
        days=1,
        records_per_day=400,
        files_per_day=2,
        prior_rows=400,
        merged_days=1,
        state_years=0,
    ),
    "audit_week": dict(_AUDIT, days=2, records_per_day=60_000, files_per_day=6),
    "audit_week_small": dict(_AUDIT, days=1, records_per_day=400, files_per_day=2),
}

WEEK_START = dt.date(2023, 5, 1)
PRIOR_DATE = WEEK_START - dt.timedelta(days=1)
SAMPLE_IDS = 200  # snapshot ids whose winning value the checker compares
DAY_SAMPLE = 20  # per-day records whose canonical value the checker compares
FILE_WEIGHTS = (6, 4, 3, 2, 1, 1)  # uneven gzip files: one task straggles
CACHED_CASES = 4  # generated cases kept per workload


def day_list(n: int, start: dt.date = WEEK_START) -> list[str]:
    return [(start + dt.timedelta(days=i)).isoformat() for i in range(n)]


def _pick(rng: random.Random, n: int) -> int:
    return int(rng.random() * n)


# --------------------------------------------------------------- values --


class _Clock:
    """Seeded timestamps: each is (wire form, expected UTC form).

    The wire form is either the canonical ``...Z`` shape or a ``+HHMM`` /
    ``-HHMM`` local rendering of the same instant.  The expected JSON
    fragment is ``{"d_date": <UTC ...Z>}`` -- except for ``-HHMM`` stamps,
    which the reference's date pattern does not recognise inside a
    record, so they pass through as plain strings.  Stamps come from a
    seeded pool of distinct instants, so values repeat across records as
    event times do in a real feed."""

    def __init__(self, rng: random.Random, pool: int = 20_000):
        self._rng = rng
        base = dt.datetime(2023, 1, 1)
        self._pool = [self._make(rng, base) for _ in range(pool)]

    def stamp(self) -> tuple[str, str]:
        """(wire form, expected fragment) for a date at any depth."""
        wire, utc = self._pool[_pick(self._rng, len(self._pool))]
        return wire, (_d(utc) if wire[-5] != "-" else '"' + wire + '"')

    def stamp_utc(self) -> tuple[str, str]:
        """(wire form, UTC form): _lastModifiedDateTime is converted by
        the last-modified rule, which accepts either offset sign."""
        return self._pool[_pick(self._rng, len(self._pool))]

    @staticmethod
    def _make(r: random.Random, base: dt.datetime) -> tuple[str, str]:
        t = base + dt.timedelta(seconds=r.randrange(200 * 86400))
        ms = r.randrange(1000)
        utc = t.strftime("%Y-%m-%dT%H:%M:%S") + f".{ms:03d}Z"
        if r.random() < 0.5:
            return utc, utc
        off_min = r.choice((60, 120, 330, -300, -60))
        local = t + dt.timedelta(minutes=off_min)
        sign = "+" if off_min >= 0 else "-"
        hh, mm = divmod(abs(off_min), 60)
        wire = local.strftime("%Y-%m-%dT%H:%M:%S") + f".{ms:03d}{sign}{hh:02d}{mm:02d}"
        return wire, utc


def _d(utc: str) -> str:
    return '{"d_date":"' + utc + '"}'


def calc_record(rng: random.Random, clock: _Clock, inner: str, delete: bool):
    """(wire payload dict, expected canonical string) for one
    calculationParts record: nested parts with dates at three depths, a
    '$' key, an int amount, `_removedDateTime` on deletes.  The expected
    string spells the keys in sorted order: '_' sorts before lower case."""
    created, created_u = clock.stamp()
    modified, modified_u = clock.stamp_utc()
    since, since_u = clock.stamp()
    parts_w, parts_e = [], []
    for k in range(2 + _pick(rng, 3)):
        frm, frm_u = clock.stamp()
        to, to_u = clock.stamp()
        note, note_u = clock.stamp()
        value = _pick(rng, 100_000)
        parts_w.append(
            {
                "kind": f"p{k}",
                "value": value,
                "effective": {"from": frm, "to": to},
                "notes": ["adjusted", note],
            }
        )
        parts_e.append(
            '{"effective":{"from":' + frm_u + ',"to":' + to_u + "},"
            '"kind":"p' + str(k) + '","notes":["adjusted",' + note_u + "],"
            '"value":' + str(value) + "}"
        )
    amount = _pick(rng, 10**7)
    ref = f"c-{_pick(rng, 10**6):06d}"
    postcode = f"AB{_pick(rng, 100)} {_pick(rng, 10)}CD"
    wire = {
        "_id": {"id": inner},
        "createdDateTime": created,
        "_lastModifiedDateTime": modified,
        "amount": amount,
        "currency": "GBP",
        "parts": parts_w,
        "claimant": {"ref": ref, "address": {"postcode": postcode, "since": since}},
        "$schema": "calc-v2",
    }
    removed = ""
    if delete:
        removed_w, removed_u = clock.stamp()
        wire["_removedDateTime"] = removed_w
        removed = '"_removedDateTime":' + removed_u + ","
    expected = (
        '{"_id":{"id":"' + inner + '"},'
        '"_lastModifiedDateTime":' + _d(modified_u) + "," + removed
        + '"amount":' + str(amount) + ","
        '"claimant":{"address":{"postcode":"' + postcode + '","since":' + since_u
        + '},"ref":"' + ref + '"},'
        '"createdDateTime":' + created_u + ","
        '"currency":"GBP","d_schema":"calc-v2",'
        '"parts":[' + ",".join(parts_e) + "]}"
    )
    return wire, expected


def audit_record(rng: random.Random, clock: _Clock, event_id: int):
    """(wire payload dict, expected canonical string) for one businessAudit
    record: the small flat `context` becomes the record, stamped with the
    audit type and the envelope time; it carries no last-modified field,
    so the epoch fallback is added.  Upper case sorts before '_'."""
    at, at_u = clock.stamp()
    audit_type = f"EVENT_{_pick(rng, 12)}"
    eid = f"e{event_id:09d}"
    who = f"u-{_pick(rng, 50_000)}"
    action = ("VIEW", "EDIT", "EXPORT")[_pick(rng, 3)]
    resource = f"claim/{_pick(rng, 10**6)}"
    wire = {
        "auditType": audit_type,
        "context": {
            "eventId": eid,
            "who": who,
            "action": action,
            "resource": resource,
            "at": at,
            "$via": "web",
        },
    }
    expected = (
        '{"AUDIT_EVENT":"' + audit_type + '",'
        '"TIME_STAMP":' + _d(ENVELOPE_STAMP_UTC) + ","
        '"TIME_STAMP_ORIG":' + _d(ENVELOPE_STAMP_UTC) + ","
        '"_lastModifiedDateTime":' + _d(EPOCH_FALLBACK) + ","
        '"action":"' + action + '","at":' + at_u + ',"d_via":"web",'
        '"eventId":"' + eid + '","resource":"' + resource + '","who":"' + who + '"}'
    )
    return wire, expected


# ------------------------------------------------------------ envelopes --


def _materials(rng: random.Random, n_keys: int) -> list[dict]:
    return [
        {
            "encryptionKeyId": f"cloudhsm:{k}",
            "encryptedEncryptionKey": base64.b64encode(rng.randbytes(16)).decode(),
            "keyEncryptionKeyId": "kek-1",
        }
        for k in range(n_keys)
    ]


def encrypt_grouped(plain: list[bytes], key_idx: list[int], ivs: list[bytes], materials):
    """AES-CTR encrypt every record with one cipher pass per data key
    (decrypt and encrypt are the same XOR in CTR mode)."""
    out: list = [None] * len(plain)
    groups: dict[int, list[int]] = {}
    for i, k in enumerate(key_idx):
        groups.setdefault(k, []).append(i)
    for k, idx in sorted(groups.items()):
        key = base64.b64decode(materials[k]["encryptedEncryptionKey"])
        cts = aes_ctr_decrypt_batch([plain[i] for i in idx], key, [ivs[i] for i in idx])
        for i, ct in zip(idx, cts):
            out[i] = base64.b64encode(ct).decode()
    return out


def _encrypt_day(rng, materials, ids, payloads, db, coll, poison=None) -> list[str]:
    """Envelope lines; `poison[i]` in {None, 'json', 'no_db_object',
    'undecryptable'} plants a bad line of that kind at record i."""
    n = len(ids)
    key_idx = [_pick(rng, len(materials)) for _ in range(n)]
    ivs = [rng.randbytes(16) for _ in range(n)]
    plain = [
        # invalid UTF-8 plaintext: decrypts cleanly, then fails to decode
        b"\xff\xfe\xfd" if poison and poison[i] == "undecryptable" else orjson.dumps(payloads[i])
        for i in range(n)
    ]
    cts = encrypt_grouped(plain, key_idx, ivs, materials)
    lines = []
    for i in range(n):
        kind = poison[i] if poison else None
        if kind == "json":
            lines.append('{"message": {"_id": {"id": "' + ids[i] + '"}, "db": "trunc')
            continue
        msg = {
            "_id": {"id": ids[i]},
            "db": db,
            "collection": coll,
            "_lastModifiedDateTime": ENVELOPE_STAMP,
            "encryption": dict(
                materials[key_idx[i]], initialisationVector=base64.b64encode(ivs[i]).decode()
            ),
        }
        if kind != "no_db_object":
            msg["dbObject"] = cts[i]
        lines.append(orjson.dumps({"message": msg}).decode())
    return lines


def _write_day(root: str, date: str, lines: list[str], n_files: int) -> None:
    """Split a day's lines into `n_files` gzip files of uneven size."""
    y, m, d = date.split("-")
    day_dir = os.path.join(root, "landing", y, m, d)
    os.makedirs(day_dir, exist_ok=True)
    weights = FILE_WEIGHTS[:n_files]
    bounds, acc = [0], 0
    for w in weights:
        acc += w
        bounds.append(len(lines) * acc // sum(weights))
    for f in range(n_files):
        data = ("\n".join(lines[bounds[f] : bounds[f + 1]]) + "\n").encode()
        with open(os.path.join(day_dir, f"part-{f:02d}.jsonl.gz"), "wb") as fd:
            fd.write(gzip.compress(data, compresslevel=1, mtime=0))


# ------------------------------------------------------------ workloads --


def _unique_inners(rng: random.Random, n: int, taken: set) -> list[str]:
    out = []
    while len(out) < n:
        inner = f"{rng.getrandbits(32):08x}"
        if inner not in taken:
            taken.add(inner)
            out.append(inner)
    return out


def id_of(inner: str) -> str:
    """The envelope id the pipeline derives from {"id": inner}."""
    return '{"id":"' + inner + '"}'


def _gen_calc(root: str, p: dict, rng: random.Random) -> dict:
    """Keyed calculationParts week: prior snapshot, N landing days whose
    ids are ~update_share re-used snapshot ids, last week's merged
    dailies, and the expected merge result."""
    clock = _Clock(random.Random(rng.getrandbits(64)))
    sample_rng = random.Random(rng.getrandbits(64))
    materials = _materials(rng, p["n_keys"])
    taken: set = set()
    prior_inners = _unique_inners(rng, p["prior_rows"], taken)
    # candidates[id] = [(db_type, val)] rows the merge chooses between
    candidates: dict[str, list] = {}
    for inner in prior_inners:
        delete = rng.random() < 0.03  # tombstones kept by earlier merges
        _, val = calc_record(rng, clock, inner, delete)
        candidates[id_of(inner)] = [("DELETE" if delete else "INSERT", val)]
    _write_parquet(
        root, "prior", [(i, *candidates[id_of(i)][0]) for i in prior_inners], date=None
    )

    days, day_samples = [], {}
    for date in day_list(p["days"]):
        n = p["records_per_day"]
        n_upd = int(n * p["update_share"])
        inners = sample_rng.sample(prior_inners, n_upd) + _unique_inners(rng, n - n_upd, taken)
        rng.shuffle(inners)
        payloads, rows, n_del = [], [], 0
        for inner in inners:
            delete = rng.random() < p["delete_share"]
            n_del += delete
            wire, val = calc_record(rng, clock, inner, delete)
            payloads.append(wire)
            rows.append((inner, "DELETE" if delete else "INSERT", val))
            candidates.setdefault(id_of(inner), []).append(rows[-1][1:])
        lines = _encrypt_day(rng, materials, inners, payloads, "calculator", "calculationParts")
        _write_day(root, date, lines, p["files_per_day"])
        picks = sample_rng.sample(rows, min(DAY_SAMPLE, n))
        day_samples[date] = {id_of(r[0]): [r[1], r[2]] for r in picks}
        days.append(dict(date=date, lines=n, rows_out=n, deletes=n_del, quarantined=0))

    merged = day_list(p["merged_days"], PRIOR_DATE - dt.timedelta(days=p["merged_days"] - 1))
    for date in merged:  # already folded into the prior snapshot
        old = sorted(sample_rng.sample(prior_inners, min(p["records_per_day"], len(prior_inners))))
        _write_parquet(root, "merged", [(i, *candidates[id_of(i)][0]) for i in old], date=date)

    n_delete = sum(any(t == "DELETE" for t, _ in c) for c in candidates.values())
    snap_sample = {}
    for i in sample_rng.sample(sorted(candidates), min(SAMPLE_IDS, len(candidates))):
        want = "DELETE" if any(t == "DELETE" for t, _ in candidates[i]) else "INSERT"
        # two INSERTs for one id tie under the merge's ordering: either wins
        snap_sample[i] = [want, sorted({v for t, v in candidates[i] if t == want})]
    return dict(
        days=days,
        day_samples=day_samples,
        merged_days=merged,
        snapshot_rows=len(candidates),
        snapshot_deletes=n_delete,
        snapshot_sample=snap_sample,
    )


def _gen_audit(root: str, p: dict, rng: random.Random) -> dict:
    """businessAudit week: flat small payloads, ~poison_share planted
    poison lines split over bad JSON, missing dbObject, undecryptable."""
    clock = _Clock(random.Random(rng.getrandbits(64)))
    sample_rng = random.Random(rng.getrandbits(64))
    materials = _materials(rng, p["n_keys"])
    days, day_samples, event = [], {}, 0
    kinds = ("json", "no_db_object", "undecryptable")
    for date in day_list(p["days"]):
        n = p["records_per_day"]
        poison_at = set(sample_rng.sample(range(n), max(3, int(n * p["poison_share"]))))
        ids, payloads, poison, expected = [], [], [], []
        planted = 0
        for i in range(n):
            wire, val = audit_record(rng, clock, event)
            ids.append(f"{event:08x}")
            payloads.append(wire)
            kind = None
            if i in poison_at:
                kind = kinds[planted % 3]
                planted += 1
            poison.append(kind)
            if kind is None:
                expected.append(val)
            event += 1
        lines = _encrypt_day(rng, materials, ids, payloads, "data", "businessAudit", poison)
        _write_day(root, date, lines, p["files_per_day"])
        n_env = sum(k in ("json", "no_db_object") for k in poison)
        n_undec = sum(k == "undecryptable" for k in poison)
        day_samples[date] = sample_rng.sample(expected, min(DAY_SAMPLE, len(expected)))
        days.append(
            dict(
                date=date,
                lines=n,
                rows_out=n - n_env - n_undec,
                deletes=0,
                quarantined=n_env,
                undecryptable=n_undec,
            )
        )
    return dict(days=days, day_samples=day_samples)


# ---------------------------------------------------------- parquet out --


def _write_parquet(root: str, sub: str, rows: list[tuple], date: str | None) -> None:
    """rows = [(inner, db_type, val)] written hive-partitioned by id_part,
    one sorted file per partition: the snapshot layout when `date` is
    None, else the daily-delta layout export_year/month/day/id_part."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    by_part: dict[str, list] = {}
    for inner, db_type, val in rows:
        by_part.setdefault(inner[:2], []).append((id_of(inner), db_type, val))
    base = os.path.join(root, sub)
    if date is not None:
        y, m, d = (int(x) for x in date.split("-"))
        base = os.path.join(base, f"export_year={y}", f"export_month={m}", f"export_day={d}")
    for part in sorted(by_part):
        rs = sorted(by_part[part])
        table = pa.table({k: [r[j] for r in rs] for j, k in enumerate(("id", "db_type", "val"))})
        out = os.path.join(base, f"id_part={part}")
        os.makedirs(out, exist_ok=True)
        pq.write_table(table, os.path.join(out, "part-0.parquet"), compression="snappy")


def _state_log(path: str, years: int) -> None:
    """Seed the JSONL job-state log: `years` of daily IN_PROGRESS/COMPLETED
    puts for four collections, a weekly COMPLETED export per week, and
    last the prior snapshot's export (the one the merge must pick)."""
    products = ["CDI-" + CALC, "CDI-core:claimant", "CDI-core:contract", "CDI-" + AUDIT]
    start = PRIOR_DATE - dt.timedelta(days=365 * years)
    lines, t = [], 1.6e9
    for i in range(365 * years):
        date = (start + dt.timedelta(days=i)).isoformat()
        for prod in products:
            for status in ("IN_PROGRESS", "COMPLETED"):
                t += 1.0
                lines.append(_status(f"daily-{date}", prod, date, status, None, t))
        if i % 7 == 6:
            t += 1.0
            lines.append(
                _status(f"weekly-{date}", products[0], date, "COMPLETED", f"exports/{date}", t)
            )
    lines.append(
        _status("seed", products[0], PRIOR_DATE.isoformat(), "COMPLETED", "{CASE}/prior", t + 1)
    )
    with open(path, "w") as fd:
        fd.write("".join(line + "\n" for line in lines))


def _status(corr, product, date, status, prefix, t) -> str:
    return json.dumps(
        dict(
            correlation_id=corr,
            data_product=product,
            date=date,
            status=status,
            run_id=1,
            cluster_id="",
            export_prefix=prefix,
            updated_at=t,
        )
    )


# ---------------------------------------------------------------- entry --


def _rng_for(workload: str, seed: int) -> random.Random:
    digest = hashlib.sha256(f"{workload}:{seed}:{FORMAT_VERSION}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


def load_expected(case: str) -> dict:
    with open(os.path.join(case, "expected.json")) as fd:
        return json.load(fd)


def generate(workload: str, seed: int, cache_root: str) -> str:
    """Generate (once) the inputs for (workload, seed); return the case
    directory.  A case without its COMPLETE marker is rebuilt."""
    p = WORKLOADS[workload]
    # the name pins the sizes and the byte format, so a stale case is never reused
    version = hashlib.sha256(f"{FORMAT_VERSION}:{sorted(p.items())}".encode()).hexdigest()[:8]
    root = os.path.join(cache_root, workload, f"s{seed}-{version}")
    if os.path.exists(os.path.join(root, "COMPLETE")):
        return root
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    rng = _rng_for(workload, seed)
    if p["collection"] == AUDIT:
        expected = _gen_audit(root, p, rng)
    else:
        expected = _gen_calc(root, p, rng)
        _state_log(os.path.join(root, "state.jsonl"), p["state_years"])
    expected.update(workload=workload, seed=seed, collection=p["collection"])
    with open(os.path.join(root, "expected.json"), "w") as fd:
        json.dump(expected, fd, sort_keys=True)
    with open(os.path.join(root, "COMPLETE"), "w") as fd:
        fd.write("ok\n")
    _prune(os.path.dirname(root), keep=CACHED_CASES)
    return root


def _prune(workload_dir: str, keep: int) -> None:
    """Bound the cache: drop all but the `keep` newest cases."""
    cases = sorted(
        (os.path.join(workload_dir, c) for c in os.listdir(workload_dir)),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in cases[keep:]:
        shutil.rmtree(old, ignore_errors=True)
