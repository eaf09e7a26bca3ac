"""Session defaults that follow the host and the master string."""

from __future__ import annotations

from dataworks_aws_corporate_data_ingestion_spark import session

_LISTING = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _fake_host(monkeypatch, gib: int):
    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": gib * 2**30 // page}
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])


class TestDriverMemory:
    def test_small_host_gets_half_its_memory(self, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
        _fake_host(monkeypatch, 15)
        assert session._default_driver_memory() == f"{15 * 512}m"

    def test_large_host_is_capped_at_32g(self, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
        _fake_host(monkeypatch, 128)
        assert session._default_driver_memory() == f"{32 * 1024}m"

    def test_environment_wins(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
        _fake_host(monkeypatch, 128)
        assert session._session_conf("local[4]", None)["spark.driver.memory"] == "2g"


class TestPartitionListing:
    def test_local_masters_list_on_the_driver(self):
        for master in ("local", "local[4]", "local[*]"):
            assert session._session_conf(master, None)[_LISTING] == str(2**31 - 1)

    def test_other_masters_keep_sparks_default(self):
        for master in ("yarn", "spark://host:7077", "local-cluster[2,1,1024]"):
            assert _LISTING not in session._session_conf(master, None)

    def test_extra_conf_overrides(self):
        conf = session._session_conf("local[4]", {_LISTING: "32"})
        assert conf[_LISTING] == "32"
