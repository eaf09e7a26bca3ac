"""Unit tests for the pure-Python record core, mirroring the reference's
test categories (steps/tests.py) re-derived from documented behavior."""

from __future__ import annotations

import json

import pytest

from dataworks_aws_corporate_data_ingestion_spark.functions import record


class TestCanonicalJson:
    def test_sorted_compact_non_ascii(self):
        assert (
            record.canonical_json({"b": 1, "a": {"z": None, "y": "é"}})
            == '{"a":{"y":"é","z":null},"b":1}'
        )


class TestDateNormalisation:
    def test_bare_date_wrapped_and_utc_normalised(self):
        out = record.normalise_dates({"created": "2019-07-04T07:27:35.104+0100"})
        assert out == {"created": {"$date": "2019-07-04T06:27:35.104Z"}}

    def test_z_suffix_passthrough(self):
        out = record.normalise_dates({"d": "2019-07-04T07:27:35.104Z"})
        assert out == {"d": {"$date": "2019-07-04T07:27:35.104Z"}}

    def test_nested_dicts_and_lists(self):
        obj = {
            "a": {"b": [{"c": "2019-07-04T07:27:35.104+0000"}]},
            "lst": [["2020-01-01T00:00:00.000Z"], "no-date"],
        }
        out = record.normalise_dates(obj)
        assert out["a"]["b"][0]["c"] == {"$date": "2019-07-04T07:27:35.104Z"}
        assert out["lst"][0][0] == {"$date": "2020-01-01T00:00:00.000Z"}
        assert out["lst"][1] == "no-date"

    def test_existing_wrapped_date_renormalised(self):
        out = record.normalise_dates({"d": {"$date": "2019-07-04T07:27:35.104+0200"}})
        assert out == {"d": {"$date": "2019-07-04T05:27:35.104Z"}}

    def test_date_inside_free_text_not_wrapped(self):
        text = "event at 2019-07-04T07:27:35.104Z happened"
        assert record.normalise_dates({"t": text}) == {"t": text}

    def test_two_digit_millis_not_a_date(self):
        s = "2019-07-04T07:27:35.10Z"
        assert record.normalise_dates({"d": s}) == {"d": s}

    def test_empty_containers_and_nulls(self):
        obj = {"a": {}, "b": [], "c": None, "d": ""}
        assert record.normalise_dates(obj) == obj

    def test_multi_key_dict_with_date_key_not_a_wrapper(self):
        obj = {"d": {"$date": "2019-07-04T07:27:35.104Z", "other": 1}}
        out = record.normalise_dates(obj)
        # not a single-key wrapper: recurse instead, inner string still wraps
        assert out["d"]["$date"] == {"$date": "2019-07-04T07:27:35.104Z"}
        assert out["d"]["other"] == 1

    def test_malformed_wrapped_date_raises(self):
        with pytest.raises(ValueError):
            record.normalise_dates({"d": {"$date": "2019-07-04"}})

    def test_wrapped_date_as_list_element_double_wraps(self):
        # Reference quirk (steps/data.py:233-241): process_list sends dict
        # elements to process_object with NO mongo-date check, so a list
        # element {"$date": s} double-wraps.  Verified empirically against
        # the reference; we preserve it for byte parity.
        out = record.normalise_dates(
            {"dates": [{"$date": "2019-07-04T07:27:35.104+0000"}]}
        )
        assert out == {
            "dates": [{"$date": {"$date": "2019-07-04T07:27:35.104Z"}}]
        }

    def test_wrapped_date_nested_inside_list_element_dict_single_wraps(self):
        # ...but one level deeper the reference's process_element DOES check,
        # so {"a": {"$date": s}} inside a list stays single-wrapped.
        out = record.normalise_dates(
            {"lst": [{"a": {"$date": "2019-07-04T07:27:35.104+0000"}}]}
        )
        assert out == {"lst": [{"a": {"$date": "2019-07-04T07:27:35.104Z"}}]}

    def test_wrapped_date_in_nested_list_double_wraps(self):
        # process_list -> process_list recursion keeps the quirk at any depth
        out = record.normalise_dates(
            {"lst": [[{"$date": "2019-07-04T07:27:35.104+0000"}]]}
        )
        assert out == {
            "lst": [[{"$date": {"$date": "2019-07-04T07:27:35.104Z"}}]]
        }


class TestValidate:
    def test_last_modified_priority_existing(self):
        rec = json.dumps(
            {
                "_lastModifiedDateTime": "2019-07-04T07:27:35.104+0100",
                "createdDateTime": "2010-01-01T00:00:00.000Z",
            }
        )
        out, is_delete = record.validate_record(rec)
        obj = json.loads(out)
        assert obj["_lastModifiedDateTime"] == {"$date": "2019-07-04T06:27:35.104Z"}
        assert is_delete is False

    def test_last_modified_falls_back_to_removed_then_created(self):
        rec = json.dumps({"_removedDateTime": "2019-07-04T07:27:35.104Z"})
        out, is_delete = record.validate_record(rec)
        obj = json.loads(out)
        assert obj["_lastModifiedDateTime"] == {"$date": "2019-07-04T07:27:35.104Z"}
        assert is_delete is True

        rec = json.dumps({"createdDateTime": {"$date": "2019-07-04T07:27:35.104Z"}})
        out, is_delete = record.validate_record(rec)
        assert json.loads(out)["_lastModifiedDateTime"] == {
            "$date": "2019-07-04T07:27:35.104Z"
        }
        assert is_delete is False

    def test_epoch_default_when_no_dates(self):
        out, _ = record.validate_record(json.dumps({"x": 1}))
        assert json.loads(out)["_lastModifiedDateTime"] == {
            "$date": "1980-01-01T00:00:00.000Z"
        }

    def test_archived_dropped_only_when_removed_present(self):
        rec = json.dumps(
            {
                "_archivedDateTime": "2019-07-04T07:27:35.104Z",
                "_removedDateTime": "2019-07-05T07:27:35.104Z",
            }
        )
        out, _ = record.validate_record(rec)
        assert "_archivedDateTime" not in json.loads(out)

        rec = json.dumps({"_archivedDateTime": "2019-07-04T07:27:35.104Z"})
        out, _ = record.validate_record(rec)
        assert "_archivedDateTime" in json.loads(out)

    @pytest.mark.parametrize("raw,expected", [(123, "123"), ("abc", "abc"), (True, "True")])
    def test_primitive_id_wrapped(self, raw, expected):
        out, _ = record.validate_record(json.dumps({"_id": raw}))
        assert json.loads(out)["_id"] == {"$oid": expected}

    def test_object_id_untouched(self):
        out, _ = record.validate_record(json.dumps({"_id": {"k": "v"}}))
        assert json.loads(out)["_id"] == {"k": "v"}

    def test_invalid_json_raises(self):
        with pytest.raises(json.JSONDecodeError):
            record.validate_record("{not json")


class TestSanitise:
    def test_dollar_rewrite_hits_wrapped_keys(self):
        out, _ = record.validate_record(json.dumps({"_id": 1}))
        sanitised = record.sanitise_text(out)
        assert '"d_oid"' in sanitised and "$" not in sanitised

    def test_nul_escape_removed(self):
        # json.dumps escapes an embedded NUL as a 6-char backslash-u escape;
        # sanitise removes that sequence from the serialised text
        serialised = json.dumps({"a": "x" + chr(0) + "y"})
        assert "\\u0000" in serialised
        assert record.sanitise_text(serialised) == '{"a": "xy"}'

    def test_archived_renames(self):
        s = '{"_archivedDateTime": 1, "_archived": 2}'
        out = record.sanitise_text(s)
        assert out == '{"_removedDateTime": 1, "_removed": 2}'

    def test_unsupported_collection_raises(self):
        with pytest.raises(NotImplementedError):
            record.sanitise_text("{}", "penalties-and-deductions", "sanction")


class TestAuditTransform:
    def test_context_unwrap_and_stamps(self):
        rec = json.dumps({"auditType": "LOGIN", "context": {"who": "u1"}})
        out = json.loads(record.audit_transform(rec, "2019-07-04T07:27:35.104+0000"))
        assert out == {
            "who": "u1",
            "AUDIT_EVENT": "LOGIN",
            "TIME_STAMP": "2019-07-04T07:27:35.104+0000",
            "TIME_STAMP_ORIG": "2019-07-04T07:27:35.104+0000",
        }

    def test_non_primitive_stamp_becomes_empty(self):
        rec = json.dumps({"auditType": "A", "context": {"k": 1}})
        out = json.loads(record.audit_transform(rec, {"$date": "x"}))
        assert out["TIME_STAMP"] == ""

    @pytest.mark.parametrize(
        "payload",
        [{"context": {"k": 1}}, {"auditType": "A"}, {"auditType": "", "context": {}}],
    )
    def test_missing_elements_raise(self, payload):
        with pytest.raises(ValueError):
            record.audit_transform(json.dumps(payload), "ts")


class TestEnvelope:
    LINE = json.dumps(
        {
            "message": {
                "_id": {"b": 2, "a": 1},
                "db": "calculator",
                "collection": "calculationParts",
                "_lastModifiedDateTime": "2019-07-04T07:27:35.104+0000",
                "encryption": {
                    "encryptionKeyId": "k1",
                    "encryptedEncryptionKey": "eek",
                    "initialisationVector": "iv",
                    "keyEncryptionKeyId": "kek",
                },
                "dbObject": "ciphertext",
            }
        }
    )

    def test_object_id_canonicalised(self):
        env = record.parse_envelope(self.LINE)
        assert env.id == '{"a":1,"b":2}'
        assert env.db == "calculator"
        assert env.db_object == "ciphertext"
        assert env.encrypted_encryption_key == "eek"

    def test_collection_fallback(self):
        line = json.dumps({"message": {"_id": "x", "dbObject": "c"}})
        env = record.parse_envelope(line, "mydb:mycoll")
        assert (env.db, env.collection) == ("mydb", "mycoll")

    def test_primitive_id_stringified(self):
        line = json.dumps({"message": {"_id": 42, "dbObject": "c"}})
        assert record.parse_envelope(line).id == "42"

    # adversarial object ids: floats orjson formats differently (1e16,
    # 1e-07, NaN), ints past 64 bits, non-ASCII, lone surrogates and
    # escapes, nested and mixed
    ADVERSARIAL_IDS = [
        {"$oid": "5d1db6b5c0b5e5a8b5b5b5b5"},
        {"b": 1e16, "a": 1e-07},
        {"x": [{"y": [0.1, 2.5]}]},
        {"n": float("nan"), "i": float("inf")},
        {"big": 2**70, "neg": -(2**64), "max": 2**63 - 1},
        {"z": [{"deep": 10**30}]},
        {"é": "漢字🎉", "Z": "\u2028", "": "\x00\x1f\"\\/"},
        {"lone": "\ud800", "pair": "a\udfffb"},
        {"\udc80key": 1},
        {"a": {"c": {"e": [None, True, False, -0, 7]}, "b": []}, "10": {}, "2": "x"},
    ]

    @pytest.mark.parametrize("value", ADVERSARIAL_IDS, ids=range(len(ADVERSARIAL_IDS)))
    def test_object_id_bytes_match_canonical_json(self, value):
        """The orjson sort-keys path (with its float, big-int and
        surrogate fallbacks) writes canonical_json's exact bytes, both
        called directly and on an id that came through the envelope
        parser."""
        want = record.canonical_json(value)
        assert record.canonical_dumps(value, record._holds_float(value)) == want
        line = json.dumps({"message": {"_id": value, "dbObject": "c"}})
        assert record.parse_envelope(line).id == want


class TestFullChainParity:
    """End-to-end text fixture: the canonical output form documented in
    reference docs/message-transformation.md:29-37 ($ keys become d_ keys)."""

    def test_insert_record(self):
        payload = {
            "_id": "id1",
            "createdDateTime": "2019-07-04T07:27:35.104+0100",
            "nested": {"when": "2020-02-02T02:02:02.222Z"},
        }
        validated, is_delete = record.validate_record(json.dumps(payload))
        final = record.finalise_record(record.sanitise_text(validated))
        assert json.loads(final) == {
            "_id": {"d_oid": "id1"},
            "_lastModifiedDateTime": {"d_date": "2019-07-04T06:27:35.104Z"},
            "createdDateTime": {"d_date": "2019-07-04T06:27:35.104Z"},
            "nested": {"when": {"d_date": "2020-02-02T02:02:02.222Z"}},
        }
        assert is_delete is False


class TestTimestampFastPath:
    """to_utc_wrapped_format's regex fast path must agree with the
    strptime reference implementation (reference steps/data.py:291-301)
    on both acceptance and rejection, for every shape."""

    @staticmethod
    def _reference(raw):
        import datetime as dt

        parsed = dt.datetime.strptime(raw, "%Y-%m-%dT%H:%M:%S.%f%z").astimezone(
            dt.timezone.utc
        )
        return parsed.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"

    def test_agrees_with_strptime(self):
        cases = [
            "2019-07-04T07:27:35.104+0000",
            "2019-07-04T07:27:35.104Z",
            "2019-12-31T23:59:59.999+0100",   # crosses day boundary backwards
            "2020-01-01T00:00:00.000-0530",   # forward across day
            "2020-02-29T12:00:00.001+0000",   # leap day
            "1999-01-01T00:00:00.123456+0000",  # 6-digit micros: strptime path
            "2020-06-15T10:30:00.5+0000",     # 1-digit fraction: strptime path
        ]
        for raw in cases:
            assert record.to_utc_wrapped_format(raw) == self._reference(raw), raw

    def test_rejects_exactly_like_strptime(self):
        import pytest

        bad = [
            "2019-13-04T07:27:35.104+0000",  # month 13 (fast path: datetime ctor)
            "2019-07-32T07:27:35.104+0000",  # day 32
            "2019-07-04T24:27:35.104+0000",  # hour 24
            "2019-07-04T07:61:35.104+0000",  # minute 61
            "2019-07-04T07:27:61.104+0000",  # second 61
            "2019-07-04T07:27:35.104+2400",  # offset >= 24h (fast path defers)
            "2019-07-04T07:27:35.104+9959",
            "2019-07-04 07:27:35.104+0000",  # wrong separator
            "2019-07-04T07:27:35+0000",      # no fraction
            "not a date",
        ]
        for raw in bad:
            with pytest.raises(ValueError):
                record.to_utc_wrapped_format(raw)

    def test_fast_path_hit_is_exercised(self):
        # sanity: the common wire shape actually matches the fast regex
        assert record._FAST_TS.match("2019-07-04T07:27:35.104+0000")
        assert record._FAST_TS.match("2019-07-04T07:27:35.104Z")
        assert not record._FAST_TS.match("2019-07-04T07:27:35.1044+0000")


class TestOrjsonParity:
    """The orjson fast path must be value- and byte-equivalent to the
    stdlib route through the whole validate->sanitise->finalise chain.
    The dangerous cases: >64-bit integers (orjson loses them to float --
    the digit-run gate must route those to the stdlib), float exponent
    formats, unicode, NUL escapes, and stray spacing."""

    CASES = [
        {"a": 1e16, "b": 0.1, "c": [1.5, -2.25e-8], "d": "é $  text", "_id": 5},
        {"_removedDateTime": "2023-05-01T00:00:00.000Z", "n": 2**63 - 1, "big": 2**70},
        {"neg_big": -(2**69), "in_string": "id=12345678901234567890123 ok"},
        {"nested": {"$date": "2023-01-02T03:04:05.678+0100"},
         "l": ["2023-01-02T03:04:05.678Z"]},
        {"nul": "a" + chr(0) + "b", "sp": "  spaces  ", "neg": -0.0},
    ]

    def _chain(self, raw: str) -> tuple[str, bool]:
        rec, is_delete = record.validate_record(raw)
        return record.finalise_record(record.sanitise_text(rec)), is_delete

    def test_chain_matches_stdlib_byte_for_byte(self):
        import json as _json

        for case in self.CASES:
            raw = _json.dumps(case)
            fast = self._chain(raw)
            saved = record._orjson
            record._orjson = None
            try:
                slow = self._chain(raw)
            finally:
                record._orjson = saved
            assert fast == slow

    def test_big_int_survives_exactly(self):
        import json as _json

        out, _ = self._chain(_json.dumps({"big": 2**70, "_id": {"x": 1}}))
        assert str(2**70) in out  # not 1.1805916207174113e+21

    def test_gate_is_conservative_not_lossy(self):
        # 18 digits: orjson-safe, should NOT trip the gate
        assert record._RUN_19 not in (
            b'{"n": 123456789012345678}'.translate(record._DIGIT_FOLD)
        )
        # 19 digits anywhere (even inside a string) trips it
        assert record._RUN_19 in (
            b'{"s": "9999999999999999999"}'.translate(record._DIGIT_FOLD)
        )


class TestFusedProcessRecord:
    """The r11 fused validate+sanitise+finalise pass (process_record /
    process_parsed) must stay byte-identical -- output AND exception
    type -- to the classic three-step chain on every input class,
    including the ones that force the risky-replay path."""

    @staticmethod
    def _classic(raw, db="", col=""):
        ser, is_delete = record.validate_record(raw)
        ser = record.sanitise_text(ser, db, col)
        return record.finalise_record(ser), is_delete

    CASES = [
        # plain record with dates, $ keys minted by validate
        {"_id": "abc", "_lastModifiedDateTime": "2021-03-04T05:06:07.123Z",
         "amount": 5, "note": "cash $10 _archived item"},
        # offset timestamps, wrapped dates, nested walk
        {"_id": {"k": 2}, "when": "2021-03-04T05:06:07.123+0230",
         "inner": {"$date": "2021-03-04T05:06:07.123+0000"},
         "lst": [{"$date": "2021-03-04T05:06:07.123Z"}, "x$y"]},
        # _archivedDateTime drop + rename interplay
        {"_removedDateTime": "2021-01-01T00:00:00.000Z",
         "_archivedDateTime": "2021-02-02T00:00:00.000Z", "_archivedFoo": 1},
        # only-archived: key renamed, not dropped
        {"_archivedDateTime": "2021-02-02T00:00:00.000Z"},
        # key collisions after the $ -> d_ rewrite: last wins
        {"$x": 1, "d_x": 2},
        {"d_x": 2, "$x": 1},
        # NUL characters removed; NUL fusing into _archived
        {"k": "a\x0000b", "f": "_arch\x00ived"},
        # numeric/bool/None ids and values
        {"_id": 123, "b": True, "n": None, "f": 2.5},
        # date-string _id is normalised, never $oid-wrapped
        {"_id": "2021-03-04T05:06:07.123Z"},
        # big int survives exactly
        {"big": 2**70, "_id": 7},
        # non-ASCII raw output
        {"é": "漢字🎉 $5"},
        # empty record: epoch fallback lastModified only
        {},
    ]

    RISKY_CASES = [
        # literal backslash-u0000 in a value: the text pipeline's
        # removal eats half an escaped backslash -- replay must match
        {"k": "x\\u0000y"},
        {"k\\u0000": 1},
        # bare backslashes (risky-flagged, replay path)
        {"k": "a\\b", "_id": "c\\d"},
        # non-finite floats: intermediate orjson dump nulls them
        {"f": float("nan")},
        {"f": float("inf"), "_id": 1},
        # finite float: fused path must use the stdlib encoder
        {"f": 1e16, "g": 1.5e-7},
    ]

    def _assert_same(self, raw, db="", col=""):
        try:
            a = self._classic(raw, db, col)
            a_exc = None
        except Exception as exc:  # noqa: BLE001
            a, a_exc = None, type(exc)
        try:
            b = record.process_record(raw, db, col)
            b_exc = None
        except Exception as exc:  # noqa: BLE001
            b, b_exc = None, type(exc)
        assert a_exc == b_exc, f"{raw!r}: {a_exc} vs {b_exc}"
        assert a == b, f"{raw!r}: {a!r} vs {b!r}"

    def test_fused_matches_classic(self):
        for case in self.CASES + self.RISKY_CASES:
            self._assert_same(json.dumps(case))
            self._assert_same(json.dumps(case, ensure_ascii=True))

    def test_unsupported_collection_still_raises(self):
        with pytest.raises(NotImplementedError):
            record.process_record(
                '{"a": 1}', "penalties-and-deductions", "sanction"
            )

    def test_malformed_wrapped_date_raises_valueerror(self):
        self._assert_same(json.dumps({"d": {"$date": "not-a-date"}}))
        # ... even inside a to-be-dropped _archivedDateTime (walked
        # before the drop, exactly as normalise_dates runs before pop)
        self._assert_same(json.dumps({
            "_removedDateTime": "2021-01-01T00:00:00.000Z",
            "_archivedDateTime": {"$date": "nope"},
        }))

    def test_audit_context_matches_audit_transform(self):
        raw = json.dumps({
            "auditType": "LOGIN",
            "context": {"userId": "u-1", "ts": "2021-03-04T05:06:07.123Z"},
        })
        via_ctx = record.process_parsed(record.audit_context(raw, "stamp"))
        ser = record.audit_transform(raw, "stamp")
        via_str = self._classic(ser)
        assert via_ctx == via_str

    def test_orjson_canonical_matches_stdlib_escapes(self):
        # the fused fast dump must agree with canonical_json on every
        # escape class (floats are gated to the stdlib encoder)
        vals = [{"k": chr(i)} for i in range(0x20)]
        vals += [{"a\"b": "c/d"}, {"é": "漢字🎉"}, {"x": [None, True, 7]},
                 {"10": 1, "2": 2, "": 3, "Z": 4, "a": 5, "é": 6}]
        if record._orjson is not None:
            for v in vals:
                assert (
                    record._orjson.dumps(
                        v, option=record._orjson.OPT_SORT_KEYS
                    ).decode("utf-8")
                    == record.canonical_json(v)
                )

    def test_ts_cache_outputs_are_fixed_points(self):
        record._TS_CACHE.clear()
        out = record.to_utc_wrapped_format("2021-03-04T05:06:07.123+0230")
        assert out == "2021-03-04T02:36:07.123Z"
        assert record.to_utc_wrapped_format(out) == out  # primed hit
        with pytest.raises(ValueError):
            record.to_utc_wrapped_format("2021-13-04T05:06:07.123Z")
        # failures are not cached: still raises on repeat
        with pytest.raises(ValueError):
            record.to_utc_wrapped_format("2021-13-04T05:06:07.123Z")

    def test_fused_fuzz_seeded(self):
        import random
        import string

        rng = random.Random(20260818)
        alphabet = string.ascii_letters + string.digits + ' $_\\"\x00é'

        def rand_str():
            s = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 16)))
            if rng.random() < 0.25:
                s += rng.choice(
                    ["_archivedDateTime", "_archived", "$date", "\\u0000"]
                )
            if rng.random() < 0.1:
                s = "2021-03-04T05:06:07.123Z"
            return s

        def rand_val(d=0):
            r = rng.random()
            if d > 2 or r < 0.4:
                return rng.choice([
                    rand_str(), rng.randint(-9, 9), rng.uniform(-2, 2),
                    True, None, float("nan"),
                ])
            if r < 0.75:
                return {rand_str(): rand_val(d + 1) for _ in range(rng.randint(0, 4))}
            return [rand_val(d + 1) for _ in range(rng.randint(0, 4))]

        for _ in range(500):
            obj = {rand_str(): rand_val() for _ in range(rng.randint(0, 6))}
            if rng.random() < 0.4:
                obj["_id"] = rand_val()
            self._assert_same(json.dumps(obj))
