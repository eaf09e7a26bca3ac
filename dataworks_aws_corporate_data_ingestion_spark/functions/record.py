"""Pure-Python per-record transform core (no Spark imports).

Re-implements the reference's message semantics -- parse / transform /
validate / sanitise / canonical-serialise -- as side-effect-free functions
over parsed JSON values.  These are the bodies of the engine's Arrow-batched
pandas UDFs (see udfs.py); keeping them Spark-free makes them unit-testable
at Python speed and reusable from both batch and streaming paths.

Semantics parity (behavior, not code) with the reference:
  - envelope parse:            reference steps/data.py:63-89
  - canonical JSON:            reference steps/data.py:163-165
  - audit transform:           reference steps/data.py:98-121
  - validate (dates, id, ...): reference steps/data.py:123-148,178-304
  - sanitise:                  reference steps/data.py:150-176
"""

from __future__ import annotations

import datetime as dt
import json
import re
from dataclasses import dataclass

try:  # optional fast path; every use falls back to stdlib semantics
    import orjson as _orjson
except ImportError:  # pragma: no cover - present in the target container
    _orjson = None

# JSON primitive types, as the reference defines them (steps/data.py:7).
JSON_PRIMITIVES = (int, float, complex, bool, str)


# orjson.loads silently LOSES >64-bit integers to float (measured:
# 2**70 -> 1.1805916207174113e+21); the stdlib keeps them exact.  2**63
# is 19 digits, so any 19+ digit run routes to the stdlib.  The run scan
# stays C-speed: fold digits to '0' with bytes.translate, then substring
# membership (~0.5 us/record vs 4.5 us for a \d{19} regex, whose engine
# starts a match attempt at every digit).  Digit runs inside strings
# false-positive, costing only the fast path, never correctness.
_DIGIT_FOLD = bytes.maketrans(b"123456789", b"000000000")
_RUN_19 = b"0" * 19


def loads_fast(s: str):
    """orjson-accelerated json.loads with stdlib-compatible semantics:
    orjson rejects non-standard JSON the stdlib accepts (NaN/Infinity
    literals, >1024 nesting) -- those fall back -- and inputs that might
    carry >64-bit integers (see _DIGIT_FOLD gate) skip orjson entirely.
    Truly invalid input raises the stdlib's ValueError subclass either
    way."""
    if _orjson is not None:
        b = s.encode("utf-8", "surrogatepass")
        if _RUN_19 not in b.translate(_DIGIT_FOLD):
            try:
                return _orjson.loads(b)
            except _orjson.JSONDecodeError:
                pass
    return json.loads(s)


def dumps_intermediate(obj) -> str:
    """Fast serialise for INTERMEDIATE strings only -- ones that are
    re-parsed before leaving the pipeline (validate -> sanitise ->
    finalise), where formatting differences wash out because the value,
    not the bytes, is what survives.  orjson's compact form differs from
    json.dumps defaults (no separator spaces, raw UTF-8, `1e16` not
    `1e+16`) but is value-preserving round-trip; >64-bit ints (which
    orjson rejects) fall back to stdlib.  NEVER use for canonical_json:
    the final golden bytes must match json.dumps exactly."""
    if _orjson is not None:
        try:
            return _orjson.dumps(obj).decode("utf-8")
        except TypeError:
            pass
    return json.dumps(obj)

EPOCH_FALLBACK = "1980-01-01T00:00:00.000Z"

# Exactly-3-millisecond-digit timestamps, either Z or +HHMM offset
# (reference steps/data.py:279-281).
DATE_PATTERN = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}((Z)|(\+\d{4}))$")
_INCOMING_FORMAT = "%Y-%m-%dT%H:%M:%S.%f%z"


def canonical_json(value) -> str:
    """Byte-stable canonical form: compact separators, sorted keys, raw
    UTF-8 (reference steps/data.py:163-165).  This is the golden-output
    format the reference inherited from HTME for byte-identical parity."""
    return json.dumps(value, ensure_ascii=False, separators=(",", ":"), sort_keys=True)


def canonical_dumps(value, floats: bool) -> str:
    """canonical_json's exact bytes, through orjson's sort-keys dump when
    it can: same compact separators, same UTF-8-order key sort, same
    escape set (pinned in tests/test_record.py).  `floats` says the value
    may hold a float, which goes to the stdlib encoder (orjson writes
    1e16, not 1e+16, and null for NaN); >64-bit ints and lone surrogates
    make orjson raise TypeError and fall back too."""
    if _orjson is not None and not floats:
        try:
            return _orjson.dumps(value, option=_orjson.OPT_SORT_KEYS).decode("utf-8")
        except TypeError:
            pass
    return canonical_json(value)


def _holds_float(value) -> bool:
    """Whether a parsed JSON value holds a float anywhere: canonical_dumps'
    `floats` for a value that did not come through the fused walk."""
    for v in value.values() if type(value) is dict else value:
        t = type(v)
        if t is float or ((t is dict or t is list) and _holds_float(v)):
            return True
    return False


def is_date_string(value: str) -> bool:
    lv = len(value)
    if lv != 24 and lv != 28:  # the only lengths DATE_PATTERN can match
        return False
    return bool(DATE_PATTERN.match(value))


# Fast-parse shape: the overwhelmingly common wire format (exactly 3
# millisecond digits, Z or +/-HHMM).  Anything else falls back to strptime
# so acceptance/rejection semantics stay bit-identical to the reference.
_FAST_TS = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})\.(\d{3})(Z|[+-]\d{4})$"
)


# Successful-normalisation cache: validate_record normalises every
# record's _lastModifiedDateTime TWICE (once wrapping it, once when the
# recursive walk re-normalises the wrapped value), and real streams
# repeat timestamps heavily.  The function is pure, so caching results
# is transparent; failures are NOT cached (they re-raise naturally), and
# every output is primed as its own fixed point (a canonical '...Z'
# string re-normalises to itself), which is what turns the per-record
# double call into one parse (r11 optimization, guide section 4.2
# per-task work).
_TS_CACHE: dict = {}
_TS_CACHE_MAX = 1 << 16


def to_utc_wrapped_format(raw: str) -> str:
    """Parse an incoming kafka timestamp and re-emit as UTC with exactly
    3 millisecond digits and a literal Z (reference steps/data.py:291-301).
    Raises ValueError on malformed input, as the reference does.

    strptime dominates the fused-UDF profile (~40%), so the common shape
    takes a regex + int fast path; component validation (month 13, second
    61, ...) still raises ValueError via the datetime constructor exactly
    as strptime would.  Offsets of 24h+ (which strptime rejects) and any
    other shape (e.g. 6-digit microseconds, which strptime accepts) fall
    through to strptime."""
    hit = _TS_CACHE.get(raw)
    if hit is not None:
        return hit
    out = _to_utc_wrapped_uncached(raw)
    if len(_TS_CACHE) >= _TS_CACHE_MAX:
        _TS_CACHE.clear()
    _TS_CACHE[raw] = out
    _TS_CACHE[out] = out  # canonical outputs are fixed points
    return out


def _to_utc_wrapped_uncached(raw: str) -> str:
    m = _FAST_TS.match(raw)
    if m is not None:
        y, mo, d, h, mi, s, ms, tz = m.groups()
        # the constructor IS the validation (month 13, day 32, ... raise
        # ValueError exactly as strptime would)
        t = dt.datetime(int(y), int(mo), int(d), int(h), int(mi), int(s))
        if tz == "Z":
            return raw  # already the canonical output byte-for-byte
        off = int(tz[1:3]) * 60 + int(tz[3:5])
        if off >= 24 * 60:
            # strptime raises "offset must be ... strictly between"; defer
            dt.datetime.strptime(raw, _INCOMING_FORMAT)
        if off == 0:
            return raw[:23] + "Z"  # +0000/-0000: no shift, swap the suffix
        if tz[0] == "+":
            t -= dt.timedelta(minutes=off)
        else:
            t += dt.timedelta(minutes=off)
        return (
            f"{t.year:04d}-{t.month:02d}-{t.day:02d}"
            f"T{t.hour:02d}:{t.minute:02d}:{t.second:02d}.{ms}Z"
        )
    parsed = dt.datetime.strptime(raw, _INCOMING_FORMAT).astimezone(dt.timezone.utc)
    return parsed.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"


def _is_wrapped_date(value) -> bool:
    """A mongo-style date object: exactly {"$date": <truthy primitive>}
    (reference steps/data.py:266-273)."""
    return (
        isinstance(value, dict)
        and len(value) == 1
        and bool(value.get("$date"))
        and isinstance(value.get("$date"), JSON_PRIMITIVES)
    )


def normalise_dates(value):
    """Recursively rewrite a parsed JSON value so every date string at any
    depth is wrapped as {"$date": <UTC-normalised>} and every existing
    wrapped date is re-normalised (reference steps/data.py:214-273).

    Returns a new value; inputs are not mutated.  Notable edge semantics
    kept from the reference:
      * bare strings are wrapped only when they match DATE_PATTERN exactly
        (dates inside free text stay untouched)
      * a wrapped date whose inner string is malformed raises ValueError
      * dict *keys* are never rewritten

    This walk is the hottest loop of the fused ingest UDF (~40% of
    validate_record), so dispatch is ordered for the common case: plain
    strings first with a length gate before the regex, the wrapped-date
    test only inside the dict branch (it can only ever be a dict), no
    per-value helper calls."""
    t = type(value)
    if t is str:
        lv = len(value)
        if (lv == 24 or lv == 28) and DATE_PATTERN.match(value):
            return {"$date": to_utc_wrapped_format(value)}
        return value
    if t is dict:
        if len(value) == 1:
            inner = value.get("$date")
            if inner and isinstance(inner, JSON_PRIMITIVES):
                return {"$date": to_utc_wrapped_format(str(inner))}
        return {k: normalise_dates(v) for k, v in value.items()}
    if t is list:
        return [_normalise_list_element(v) for v in value]
    return value


def _normalise_list_element(value):
    """List-element recursion replicating the reference's
    DateWrapper.process_list (steps/data.py:233-241): dict elements are sent
    straight to the dict-iteration path WITHOUT the wrapped-date check, so a
    list element that is itself {"$date": s} comes out double-wrapped as
    {"$date": {"$date": <normalised>}} -- an observable reference quirk we
    preserve for byte parity.  Values nested deeper inside such a dict go
    through normalise_dates (reference process_element), which does check."""
    t = type(value)
    if t is dict:
        return {k: normalise_dates(v) for k, v in value.items()}
    if t is list:
        return [_normalise_list_element(v) for v in value]
    if t is str:
        lv = len(value)
        if (lv == 24 or lv == 28) and DATE_PATTERN.match(value):
            return {"$date": to_utc_wrapped_format(value)}
    return value


def _unwrap_date_element(obj: dict, key: str) -> str:
    """Fetch a datetime field that may be wrapped ({"$date": s}) or bare;
    '' when absent/empty (reference steps/data.py:200-211)."""
    element = obj.get(key)
    if element:
        if isinstance(element, dict):
            inner = element.get("$date")
            return str(inner) if inner else ""
        return str(element)
    return ""


def prioritised_last_modified(obj: dict) -> str:
    """_lastModifiedDateTime > _removedDateTime > createdDateTime > epoch
    (reference steps/data.py:178-198)."""
    return (
        _unwrap_date_element(obj, "_lastModifiedDateTime")
        or _unwrap_date_element(obj, "_removedDateTime")
        or _unwrap_date_element(obj, "createdDateTime")
        or EPOCH_FALLBACK
    )


def validate_record(record: str) -> tuple[str, bool]:
    """The reference's validate step (steps/data.py:123-148): returns the
    re-serialised record plus the is_delete flag.

    Order of operations is observable and preserved:
      1. is_delete <- "_removedDateTime" key present
      2. coalesce + wrap _lastModifiedDateTime
      3. recursive date normalisation over the whole record
      4. drop _archivedDateTime when _removedDateTime also present
      5. wrap primitive _id as {"$oid": str(_id)}
    The output is serialised with json.dumps defaults (ASCII-escaped) --
    sanitise_text operates on that representation, exactly as the
    reference pipes validate into sanitise.
    """
    obj = loads_fast(record)
    is_delete = "_removedDateTime" in obj

    last_modified = prioritised_last_modified(obj)
    if last_modified:
        obj["_lastModifiedDateTime"] = {"$date": to_utc_wrapped_format(last_modified)}

    obj = normalise_dates(obj)

    if "_archivedDateTime" in obj and "_removedDateTime" in obj:
        obj.pop("_archivedDateTime")

    _id = obj.get("_id")
    if isinstance(_id, JSON_PRIMITIVES):
        obj["_id"] = {"$oid": str(_id)}

    return dumps_intermediate(obj), is_delete


# Collections whose sanitisation rules were never implemented upstream;
# records from them must hard-fail (reference steps/data.py:167-176).
UNSUPPORTED_SANITISE_COLLECTIONS = frozenset(
    {
        ("penalties-and-deductions", "sanction"),
        ("core", "healthAndDisabilityDeclaration"),
        ("accepted-data", "healthAndDisabilityCircumstances"),
    }
)


def sanitise_text(serialised: str, db: str = "", collection: str = "") -> str:
    """Blunt whole-string sanitisation over the ASCII-serialised record
    (reference steps/data.py:150-161).  Runs AFTER serialisation, so the
    '$'->'d_' rewrite also renames the just-created $date/$oid keys to
    d_date/d_oid -- an observable, deliberate quirk we preserve."""
    if (db, collection) in UNSUPPORTED_SANITISE_COLLECTIONS:
        raise NotImplementedError(
            f"collection {db}:{collection} requires bespoke sanitising"
        )
    return (
        serialised.replace("$", "d_")
        .replace("\\u0000", "")
        .replace("_archivedDateTime", "_removedDateTime")
        .replace("_archived", "_removed")
    )


def audit_transform(record: str, envelope_last_modified) -> str:
    """businessAudit-only context unwrap (reference steps/data.py:98-121):
    the payload's `context` element becomes the whole record, stamped with
    AUDIT_EVENT (from auditType) and TIME_STAMP/TIME_STAMP_ORIG (from the
    envelope's _lastModifiedDateTime; '' when non-primitive)."""
    return dumps_intermediate(audit_context(record, envelope_last_modified))


def finalise_record(record: str) -> str:
    """Re-parse and emit the canonical form (reference steps/data.py:163-165
    `utf8_decrypted_record`)."""
    return canonical_json(loads_fast(record))


# Sanitised-key cache: record keys repeat across every record of a
# collection, so the per-key replace chain runs once per DISTINCT key
# per worker.  Keys containing a backslash map to the _RISKY sentinel
# (the record must replay the text pipeline -- see _san_str).
_RISKY = object()
_SAN_KEY_CACHE: dict = {}
_SAN_KEY_CACHE_MAX = 1 << 16


def _san_key(k: str, risky: list) -> str:
    hit = _SAN_KEY_CACHE.get(k)
    if hit is None:
        if "\\" in k:
            hit = _RISKY
        else:
            hit = (
                k.replace("$", "d_")
                .replace("\x00", "")
                .replace("_archivedDateTime", "_removedDateTime")
                .replace("_archived", "_removed")
            )
        if len(_SAN_KEY_CACHE) >= _SAN_KEY_CACHE_MAX:
            _SAN_KEY_CACHE.clear()
        _SAN_KEY_CACHE[k] = hit
    if hit is _RISKY:
        risky[0] = True
        return k
    return hit


def _san_str(s: str, risky: list) -> str:
    """Per-string equivalent of sanitise_text's whole-text replaces.

    On the serialised text the four replaces can only ever match INSIDE
    one string literal (no target contains a quote, colon or comma, and
    '$'/'_archived...' never appear in escape sequences), so applying
    them to each decoded string is byte-equivalent to applying them to
    the dump -- with ONE exception: a decoded string containing a literal
    backslash serialises it as '\\\\', and the text-level '\\u0000'
    removal can then match ACROSS the escaped backslash (e.g. a value
    containing the six characters '\\u0000' serialises as '\\\\u0000',
    whose tail the removal eats, leaving a dangling escape the re-parse
    rejects).  Any backslash in a decoded string therefore flags the
    record `risky`, and the caller replays the exact text pipeline.
    The '\\x00' character removal below is the value-level twin of the
    text-level '\\u0000' escape removal (both engines escape NUL exactly
    that way)."""
    if "\\" in s:
        risky[0] = True
        return s
    return (
        s.replace("$", "d_")
        .replace("\x00", "")
        .replace("_archivedDateTime", "_removedDateTime")
        .replace("_archived", "_removed")
    )


def _fuse_value(value, risky: list):
    """normalise_dates + sanitise in ONE walk over a parsed value: date
    strings/wrapped dates are normalised exactly as normalise_dates does
    (same dispatch order, same error points), every other string -- keys
    included -- gets the per-string sanitise.  '$date' keys are minted
    directly as 'd_date' (what the text replace would produce).  Date
    outputs are [0-9T:.Z-] only, so they never need sanitising."""
    t = type(value)
    if t is str:
        lv = len(value)
        if (lv == 24 or lv == 28) and DATE_PATTERN.match(value):
            return {"d_date": to_utc_wrapped_format(value)}
        return _san_str(value, risky)
    if t is dict:
        if len(value) == 1:
            inner = value.get("$date")
            if inner and isinstance(inner, JSON_PRIMITIVES):
                return {"d_date": to_utc_wrapped_format(str(inner))}
        return {
            _san_key(k, risky): _fuse_value(v, risky)
            for k, v in value.items()
        }
    if t is list:
        return [_fuse_list_element(v, risky) for v in value]
    if t is float:
        if value - value != 0:
            # NaN/Infinity: the text pipeline's intermediate dump coerces
            # these to null (orjson) or a non-standard literal (stdlib);
            # only the replayed text path reproduces that byte-exactly
            risky[0] = True
        risky[1] = True  # floats force the stdlib canonical encoder
    return value


def _fuse_list_element(value, risky: list):
    """_normalise_list_element + sanitise: dict elements skip the
    wrapped-date check (the reference's double-wrap quirk), exactly as
    _normalise_list_element does."""
    t = type(value)
    if t is dict:
        return {
            _san_key(k, risky): _fuse_value(v, risky)
            for k, v in value.items()
        }
    if t is list:
        return [_fuse_list_element(v, risky) for v in value]
    if t is str:
        lv = len(value)
        if (lv == 24 or lv == 28) and DATE_PATTERN.match(value):
            return {"d_date": to_utc_wrapped_format(value)}
        return _san_str(value, risky)
    if t is float:
        if value - value != 0:
            risky[0] = True
        risky[1] = True
    return value


def process_parsed(obj, db: str = "", collection: str = "") -> tuple[str, bool]:
    """Fused validate -> sanitise -> finalise over an already-parsed
    record: ONE tree walk and ONE serialisation instead of the classic
    dump / whole-text-replace / re-parse / canonical-dump chain (r11
    optimization, guide section 4.2/1.2 -- the chain was the flagship's
    dominant Python-side cost after crypto).

    Byte-identical to validate_record + sanitise_text + finalise_record
    by construction: the walk mirrors normalise_dates' dispatch and
    error order node for node, sanitise applies per string (see
    _san_str for why that is equivalent), the '_archivedDateTime' drop
    still happens AFTER its value is walked (so malformed dates inside
    it raise exactly as before) and never collides with a real
    '_removedDateTime' key, and the final dump is the same
    canonical_json.  Records where per-string sanitise could diverge
    from the text-level form (backslash in a decoded string, non-finite
    floats) are replayed through the exact original pipeline.  The
    equivalence is pinned by tests/test_record.py against the classic
    chain on adversarial inputs."""
    is_delete = "_removedDateTime" in obj
    last_modified = prioritised_last_modified(obj)
    if last_modified:
        obj["_lastModifiedDateTime"] = {"$date": to_utc_wrapped_format(last_modified)}
    drop_archived = "_archivedDateTime" in obj and "_removedDateTime" in obj
    # risky[0]: per-string sanitise could diverge from the text form --
    # replay the exact pipeline.  risky[1]: a (finite) float is present,
    # so the final dump must use the stdlib encoder (orjson formats
    # float exponents differently: 1e16 vs 1e+16).
    risky = [False, False]
    out = {}
    for k, v in obj.items():
        if k == "_id":
            tv = type(v)
            if tv is str:
                lv = len(v)
                if (lv == 24 or lv == 28) and DATE_PATTERN.match(v):
                    # a date-string _id is normalised, and the result is
                    # a dict, so the reference's post-normalise primitive
                    # check does NOT oid-wrap it
                    nv = {"d_date": to_utc_wrapped_format(v)}
                else:
                    nv = {"d_oid": _san_str(v, risky)}
            elif isinstance(v, JSON_PRIMITIVES):
                nv = {"d_oid": _san_str(str(v), risky)}
            else:
                nv = _fuse_value(v, risky)
            out[_san_str(k, risky)] = nv
            continue
        nv = _fuse_value(v, risky)
        if k == "_archivedDateTime" and drop_archived:
            continue  # walked for error parity, then dropped (the pop)
        out[_san_str(k, risky)] = nv
    if (db, collection) in UNSUPPORTED_SANITISE_COLLECTIONS:
        raise NotImplementedError(
            f"collection {db}:{collection} requires bespoke sanitising"
        )
    if risky[0]:
        # replay the exact text pipeline on the (validate-transformed)
        # object -- identical to the classic chain step for step
        obj2 = normalise_dates(obj)
        if "_archivedDateTime" in obj2 and "_removedDateTime" in obj2:
            obj2.pop("_archivedDateTime")
        _id = obj2.get("_id")
        if isinstance(_id, JSON_PRIMITIVES):
            obj2["_id"] = {"$oid": str(_id)}
        ser = sanitise_text(dumps_intermediate(obj2), db, collection)
        return finalise_record(ser), is_delete
    return canonical_dumps(out, risky[1]), is_delete


def process_record(record: str, db: str = "", collection: str = "") -> tuple[str, bool]:
    """Fused per-record pass: parse once, walk once, dump once.  See
    process_parsed."""
    return process_parsed(loads_fast(record), db, collection)


def audit_context(record: str, envelope_last_modified) -> dict:
    """audit_transform returning the parsed context object instead of a
    serialisation -- lets the fused pipeline skip the extra dump+parse
    between the audit unwrap and the validate walk."""
    if isinstance(envelope_last_modified, JSON_PRIMITIVES):
        stamp = str(envelope_last_modified)
    else:
        stamp = ""
    obj = loads_fast(record)
    context = obj.get("context")
    audit_type = obj.get("auditType")
    if not audit_type or not context:
        raise ValueError("audit record missing `context` or `auditType`")
    context["AUDIT_EVENT"] = audit_type
    context["TIME_STAMP"] = stamp
    context["TIME_STAMP_ORIG"] = stamp
    return context


@dataclass(frozen=True)
class ParsedEnvelope:
    """Envelope fields the pipeline needs downstream."""

    id: str  # canonical JSON when _id is an object, else the raw primitive
    db: str
    collection: str
    last_modified: object  # raw envelope _lastModifiedDateTime (any JSON)
    db_object: str | None  # base64 ciphertext (None must be quarantined)
    encryption_key_id: str | None
    encrypted_encryption_key: str | None
    initialisation_vector: str | None
    key_encryption_key_id: str | None


def parse_envelope(line: str, configured_collection: str | None = None) -> ParsedEnvelope:
    """Parse one kafka envelope line (reference steps/data.py:63-89).

    db/collection fall back to the configured "db:collection" when either
    is missing; _id objects are canonicalised (sorted keys, compact) so the
    id is byte-stable (reference steps/data.py:72-77)."""
    message = loads_fast(line)["message"]
    db = message.get("db")
    collection = message.get("collection")
    if (not db or not collection) and configured_collection:
        db, collection = configured_collection.split(":")
    _id = message["_id"]
    if isinstance(_id, dict):
        _id = canonical_dumps(_id, _holds_float(_id))
    else:
        _id = str(_id)
    enc = message.get("encryption") or {}
    return ParsedEnvelope(
        id=_id,
        db=db,
        collection=collection,
        last_modified=message.get("_lastModifiedDateTime", ""),
        db_object=message.get("dbObject"),
        encryption_key_id=enc.get("encryptionKeyId"),
        encrypted_encryption_key=enc.get("encryptedEncryptionKey"),
        initialisation_vector=enc.get("initialisationVector"),
        key_encryption_key_id=enc.get("keyEncryptionKeyId"),
    )
