from __future__ import annotations

import base64


from dataworks_aws_corporate_data_ingestion_spark.functions.crypto import (
    CachingKeyClient,
    IdentityKeyService,
    aes_ctr_decrypt,
    aes_ctr_encrypt,
)


class TestAesCtr:
    def test_counter_is_128bit_bigendian_increment(self):
        """The IV is the whole initial counter block, incremented big-endian
        per 16-byte block (the reference built this with
        Counter.new(128, initial_value=int(iv)), steps/dks.py:124-134).
        Decrypting block 2 alone with IV+1 must succeed."""
        key = base64.b64encode(bytes(range(16))).decode()
        iv_int = int.from_bytes(bytes.fromhex("000102030405060708090a0b0c0d0eff"), "big")
        iv = base64.b64encode(iv_int.to_bytes(16, "big")).decode()
        msg = "A" * 16 + "B" * 16
        full_ct = base64.b64decode(aes_ctr_encrypt(msg, key, iv))
        iv_plus_1 = base64.b64encode((iv_int + 1).to_bytes(16, "big")).decode()
        block2 = base64.b64encode(full_ct[16:]).decode()
        assert aes_ctr_decrypt(block2, key, iv_plus_1) == "B" * 16

    def test_round_trip_multi_block(self):
        import random

        rng = random.Random(1)
        key = base64.b64encode(bytes(rng.randrange(256) for _ in range(16))).decode()
        iv = base64.b64encode(bytes(rng.randrange(256) for _ in range(16))).decode()
        for n in (0, 1, 15, 16, 17, 1000):
            msg = "".join(chr(rng.randrange(32, 1000)) for _ in range(n))
            assert aes_ctr_decrypt(aes_ctr_encrypt(msg, key, iv), key, iv) == msg


class CountingService:
    def __init__(self):
        self.calls = 0

    def decrypt_data_key(self, encrypted_key, kek_id):
        self.calls += 1
        return encrypted_key


class TestKeyCache:
    def test_hit_miss_accounting(self):
        """5 unique materials x 30 repeats in one worker -> 5 misses,
        145 hits (the reference's cache contract, steps/tests.py:103-139)."""
        svc = CountingService()
        client = CachingKeyClient(svc, cache={})
        keys = [f"key{i}" for i in range(5)] * 30
        for k in keys:
            client.data_key(k, "kek")
        assert client.misses == 5
        assert client.hits == 145
        assert svc.calls == 5

    def test_accumulators_surface_on_driver(self, spark):
        """Cache counters must cross the executor boundary via accumulators
        when decryption runs inside a distributed job -- through the
        shared ingest chain every caller composes."""
        from pyspark.sql import functions as F

        from dataworks_aws_corporate_data_ingestion_spark.operators.ingest import (
            ingest_lines,
        )
        from tests.fixtures import make_batch

        hit_acc = spark.sparkContext.accumulator(0)
        miss_acc = spark.sparkContext.accumulator(0)
        # unique seed => unique data keys: worker key caches are
        # module-level and survive across tests in this session, so keys
        # shared with other fixtures would already be warm and the
        # hit/miss split below would depend on test order
        lines, _ = make_batch(60, seed=424242, n_keys=5)
        # one partition => one Python worker => one key cache
        lines_df = spark.createDataFrame([(l,) for l in lines], ["value"]).coalesce(1)
        rows, _ = ingest_lines(
            lines_df,
            "calculator:calculationParts",
            IdentityKeyService(),
            hit_acc=hit_acc,
            miss_acc=miss_acc,
        )
        # force evaluation of the UDF column (a bare count() would let
        # Catalyst prune the payload column and skip decryption entirely)
        n = rows.filter(F.col("val").isNotNull()).count()
        assert n == 60
        assert miss_acc.value == 5
        assert hit_acc.value == 55


class TestHttpKeyService:
    """Wiring tests with a stubbed transport -- no network."""

    def _service_with_stub(self, responses):
        from dataworks_aws_corporate_data_ingestion_spark.functions.crypto import HttpKeyService

        svc = HttpKeyService("https://dks.example/decrypt", correlation_id="cid-1")
        calls = []

        class _Resp:
            def __init__(self, payload):
                self._payload = payload

            def json(self):
                return self._payload

        class _Session:
            def post(self, url, params=None, data=None, cert=None, verify=None):
                calls.append({"url": url, "params": params, "data": data})
                return _Resp(responses[min(len(calls) - 1, len(responses) - 1)])

        svc._session = _Session()
        return svc, calls

    def test_decrypts_and_passes_key_id_and_correlation(self):
        svc, calls = self._service_with_stub([{"plaintextDataKey": "pt-key"}])
        out = svc.decrypt_data_key("enc-key", "kek-9")
        assert out == "pt-key"
        assert calls[0]["params"] == {"keyId": "kek-9", "correlationId": "cid-1"}
        assert calls[0]["data"] == "enc-key"

    def test_missing_plaintext_raises(self):
        import pytest

        from dataworks_aws_corporate_data_ingestion_spark.functions.crypto import (
            KeyMaterialError,
        )

        svc, _ = self._service_with_stub([{"error": "denied"}])
        # KeyMaterialError is a ValueError: a record-shaped refusal that
        # permissive mode may quarantine, unlike connectivity failures
        with pytest.raises(KeyMaterialError, match="plaintextDataKey"):
            svc.decrypt_data_key("enc-key", "kek-9")

    def test_retry_adapter_configured(self):
        from dataworks_aws_corporate_data_ingestion_spark.functions.crypto import HttpKeyService

        svc = HttpKeyService("https://dks.example/decrypt", retries=5, backoff=0.2)
        session = svc._build_session()
        adapter = session.get_adapter("https://dks.example/decrypt")
        retries = adapter.max_retries
        assert retries.total == 5
        assert retries.backoff_factor == 0.2
        assert 429 in retries.status_forcelist
        assert 503 in retries.status_forcelist


class TestHttpKeyServiceLoopback:
    """Integration tests against a REAL in-process HTTP server (stdlib
    http.server on a loopback port): retry/backoff on 429/5xx and cache
    accounting exercised over actual sockets, not the stub transport
    (round-4 verdict #7 -- the stub can't prove urllib3's Retry config
    actually fires on status codes)."""

    @staticmethod
    def _serve(script):
        """Start a loopback server whose responses follow `script`: each
        element is an int status (error, empty body) or a dict payload
        (200 + JSON).  The last element repeats.  Returns (url, log,
        shutdown)."""
        import http.server
        import json as _json
        import threading

        log = []

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                log.append(
                    {"path": self.path, "body": body.decode("utf8")}
                )
                step = script[min(len(log) - 1, len(script) - 1)]
                if isinstance(step, int):
                    self.send_response(step)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                else:
                    payload = _json.dumps(step).encode("utf8")
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(payload)))
                    self.end_headers()
                    self.wfile.write(payload)

            def log_message(self, *a):  # keep pytest output clean
                pass

        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        url = f"http://127.0.0.1:{srv.server_address[1]}/datakey/actions/decrypt"
        return url, log, srv.shutdown

    def test_retries_past_transient_429_and_503_then_succeeds(self):
        from dataworks_aws_corporate_data_ingestion_spark.functions.crypto import HttpKeyService

        url, log, shutdown = self._serve(
            [429, 503, {"plaintextDataKey": "pt-live"}]
        )
        try:
            svc = HttpKeyService(url, correlation_id="cid-live", backoff=0.01)
            assert svc.decrypt_data_key("enc-live", "kek-1") == "pt-live"
        finally:
            shutdown()
        # three real requests hit the socket: 429, 503, 200
        assert len(log) == 3
        assert all(r["body"] == "enc-live" for r in log)
        assert "keyId=kek-1" in log[0]["path"]
        assert "correlationId=cid-live" in log[0]["path"]

    def test_persistent_5xx_exhausts_retries_and_raises(self):
        import pytest
        import requests

        from dataworks_aws_corporate_data_ingestion_spark.functions.crypto import HttpKeyService

        url, log, shutdown = self._serve([500])
        try:
            svc = HttpKeyService(url, retries=2, backoff=0.01)
            with pytest.raises(requests.exceptions.RetryError):
                svc.decrypt_data_key("enc", "kek")
        finally:
            shutdown()
        # initial attempt + 2 retries, then urllib3 gives up
        assert len(log) == 3

    def test_cache_hits_skip_the_socket(self):
        from dataworks_aws_corporate_data_ingestion_spark.functions.crypto import (
            CachingKeyClient,
            HttpKeyService,
        )

        url, log, shutdown = self._serve([{"plaintextDataKey": "pt-c"}])
        try:
            client = CachingKeyClient(HttpKeyService(url), cache={})
            assert client.data_key("enc-A", "kek") == "pt-c"
            assert client.data_key("enc-A", "kek") == "pt-c"
            assert client.data_key("enc-A", "kek") == "pt-c"
        finally:
            shutdown()
        assert (client.hits, client.misses) == (2, 1)
        assert len(log) == 1  # only the miss reached the server


class TestBatchDecrypt:
    """aes_ctr_decrypt_batch must be byte-identical to per-record
    aes_ctr_decrypt for every length/IV shape, including 64-bit-carry and
    full 128-bit counter wraparound."""

    def _roundtrip(self, ivs_int, lengths):
        import random

        from dataworks_aws_corporate_data_ingestion_spark.functions.crypto import (
            aes_ctr_decrypt_batch,
        )

        rng = random.Random(7)
        key_raw = bytes(rng.randrange(256) for _ in range(16))
        key_b64 = base64.b64encode(key_raw).decode()
        cts, ivs, expected = [], [], []
        for iv_int, n in zip(ivs_int, lengths):
            iv_raw = (iv_int % (1 << 128)).to_bytes(16, "big")
            iv_b64 = base64.b64encode(iv_raw).decode()
            msg = "".join(chr(rng.randrange(32, 127)) for _ in range(n))
            ct_b64 = aes_ctr_encrypt(msg, key_b64, iv_b64)
            cts.append(base64.b64decode(ct_b64))
            ivs.append(iv_raw)
            expected.append(aes_ctr_decrypt(ct_b64, key_b64, iv_b64).encode())
        got = aes_ctr_decrypt_batch(cts, key_raw, ivs)
        assert got == expected

    def test_matches_per_record_various_lengths(self):
        self._roundtrip([0, 1, 12345, 2**64 - 1, 2**127], [0, 1, 15, 16, 17, 1000][:5])

    def test_low64_carry_wraparound(self):
        # counter increments must carry into the high 64 bits mid-record
        self._roundtrip([2**64 - 2, 2**64 - 1], [64, 64])

    def test_full_128bit_wraparound(self):
        # reference Counter.new(128) wraps mod 2^128 mid-record
        self._roundtrip([2**128 - 2, 2**128 - 1], [64, 64])

    def test_empty_batch(self):
        from dataworks_aws_corporate_data_ingestion_spark.functions.crypto import (
            aes_ctr_decrypt_batch,
        )

        assert aes_ctr_decrypt_batch([], b"\x00" * 16, []) == []


class TestPermissiveKeyLookupErrorScope:
    """Permissive mode quarantines RECORD-shaped key failures only: a
    transient service/connectivity failure must propagate and fail the
    task (so Spark retries it), never silently divert the whole batch to
    quarantine as 'undecryptable' (r7 advisor finding, udfs.py)."""

    def _run(self, service, permissive=True):
        import pandas as pd

        from dataworks_aws_corporate_data_ingestion_spark.functions.udfs import (
            _decrypt_series,
        )

        key_b64 = base64.b64encode(b"0" * 16).decode()
        iv_b64 = base64.b64encode(b"1" * 16).decode()
        ct_b64 = aes_ctr_encrypt("hello", key_b64, iv_b64)
        client = CachingKeyClient(service, cache={})
        return _decrypt_series(
            client,
            pd.Series([ct_b64]),
            pd.Series([key_b64]),
            pd.Series([iv_b64]),
            pd.Series(["kek1"]),
            permissive=permissive,
        )

    def test_record_shaped_refusal_quarantines(self):
        from dataworks_aws_corporate_data_ingestion_spark.functions.crypto import (
            KeyMaterialError,
        )

        class RefusingService:
            def decrypt_data_key(self, encrypted_key, kek_id):
                raise KeyMaterialError("no plaintextDataKey for this key")

        assert self._run(RefusingService()) == [None]

    def test_connectivity_failure_propagates_even_permissive(self):
        import pytest

        class OutageService:
            def decrypt_data_key(self, encrypted_key, kek_id):
                raise ConnectionError("DKS unreachable")

        with pytest.raises(ConnectionError):
            self._run(OutageService(), permissive=True)

    def test_clean_record_still_decrypts(self):
        assert self._run(IdentityKeyService()) == ["hello"]
