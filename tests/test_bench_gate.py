"""Run-level bench load gate (r7 judge finding: BENCH_r07 was captured at
load1 10.5 and overstated the write family ~1.7x; the per-entry median/best
retry cannot catch uniformly-loaded repeats, so the RUN must be gated)."""

from __future__ import annotations

import bench


def _patch_loads(monkeypatch, loads):
    seq = list(loads)

    def fake_loadavg():
        return [seq.pop(0) if len(seq) > 1 else seq[0], 0.0, 0.0]

    monkeypatch.setattr(bench, "_loadavg", fake_loadavg)
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)


class TestLoadGate:
    def test_quiet_host_passes_immediately(self, monkeypatch):
        _patch_loads(monkeypatch, [0.5])
        gate = bench._load_gate()
        assert not gate["aborted"]
        assert gate["waited_s"] == 0.0
        assert gate["load1_at_gate"] == 0.5

    def test_loaded_host_waits_until_quiet(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_BENCH_MAX_LOAD1", "4.0")
        monkeypatch.setenv("SPARK_GRAFT_BENCH_LOAD_WAIT_S", "900")
        _patch_loads(monkeypatch, [10.5, 8.0, 2.1])
        gate = bench._load_gate()
        assert not gate["aborted"]
        assert gate["waited_s"] > 0
        assert gate["load1_at_gate"] == 10.5
        assert gate["load1_at_gate_pass"] == 2.1

    def test_persistently_loaded_host_aborts(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_BENCH_MAX_LOAD1", "4.0")
        monkeypatch.setenv("SPARK_GRAFT_BENCH_LOAD_WAIT_S", "60")
        _patch_loads(monkeypatch, [10.5])
        gate = bench._load_gate()
        assert gate["aborted"]
        assert gate["waited_s"] >= 60
        assert gate["load1_at_gate_pass"] == 10.5

    def test_no_loadavg_means_no_gating(self, monkeypatch):
        monkeypatch.setattr(bench, "_loadavg", lambda: None)
        gate = bench._load_gate()
        assert not gate["aborted"]
        assert gate["load1_at_gate"] is None


class TestAnchorHostShape:
    """The era anchor compares one host across time; a probe timed on a
    machine with a different CPU count measures the machine, not the era."""

    def _measure(self, monkeypatch, spark, sf_dir, host_cpus):
        ref = {
            "probe": "q1_pricing_summary",
            "sf": 0.1,
            "plan_sha": "abc",
            "ref_best_sec": 1.0,
            "host_cpus": host_cpus,
        }
        monkeypatch.setattr(bench, "_anchor_ref", lambda: ref)
        monkeypatch.setattr(
            bench, "_wait_for_quiet", lambda budget: ({"ext_busy_cores": 0.0}, 0.0)
        )
        monkeypatch.setattr(
            bench,
            "_timed_record",
            lambda spark, run_once, repeats: {"best": 2.0, "median": 2.0},
        )
        monkeypatch.setattr(bench, "plan_sha", lambda df: "abc")
        return bench._measure_anchor(spark, sf_dir, 0.1, 1)

    def test_other_cpu_count_is_not_comparable(self, monkeypatch, spark, sf_dir):
        anchor = self._measure(monkeypatch, spark, sf_dir, bench.os.cpu_count() + 1)
        assert anchor["comparable"] is False
        assert "cpu host" in anchor["reason"]
        assert "era_ratio" not in anchor

    def test_same_cpu_count_is_comparable(self, monkeypatch, spark, sf_dir):
        anchor = self._measure(monkeypatch, spark, sf_dir, bench.os.cpu_count())
        assert anchor["comparable"] is True
        assert anchor["era_ratio"] == 2.0
