"""Session defaults that follow the host and the master string."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import warnings

import pytest
from pyspark import SparkContext

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


_FS_IMPL = "spark.hadoop.fs.file.impl"
_CLASSPATH = "spark.driver.extraClassPath"


@pytest.fixture
def fresh_jvm(monkeypatch):
    """_session_conf as it runs before any JVM has started, with the
    class-directory lookup starting over."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    lookup = session._local_fs_classes
    lookup.cache_clear()
    yield
    lookup.cache_clear()


class TestLocalFileSystemConf:
    def test_local_masters_get_the_fs_and_its_classpath(self, fresh_jvm, monkeypatch):
        monkeypatch.setattr(session, "_local_fs_classes", lambda: "/cache/fs")
        conf = session._session_conf("local[4]", None)
        assert conf[_FS_IMPL] == session._LOCAL_FS
        assert conf[_CLASSPATH] == "/cache/fs"

    def test_other_masters_get_neither_key(self, fresh_jvm, monkeypatch):
        monkeypatch.setattr(session, "_local_fs_classes", lambda: "/cache/fs")
        for master in ("yarn", "spark://host:7077", "local-cluster[2,1,1024]"):
            conf = session._session_conf(master, None)
            assert _FS_IMPL not in conf and _CLASSPATH not in conf

    def test_no_javac_keeps_the_stock_fs_and_warns_once(
        self, fresh_jvm, monkeypatch, tmp_path
    ):
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
        monkeypatch.setattr(session.shutil, "which", lambda name: None)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            confs = [session._session_conf("local[4]", None) for _ in range(2)]
        for conf in confs:
            assert _FS_IMPL not in conf and _CLASSPATH not in conf
        assert [str(w.message) for w in caught] == [
            "stock local filesystem kept, one chmod fork per file: no javac on PATH"
        ]

    def test_callers_classpath_is_joined_not_clobbered(self, fresh_jvm, monkeypatch):
        monkeypatch.setattr(session, "_local_fs_classes", lambda: "/cache/fs")
        conf = session._session_conf("local[4]", {_CLASSPATH: "/jars/a.jar"})
        assert conf[_CLASSPATH] == os.pathsep.join(["/jars/a.jar", "/cache/fs"])

    def test_a_running_jvm_gets_neither_key(self, spark, monkeypatch):
        monkeypatch.setattr(session, "_local_fs_classes", lambda: "/cache/fs")
        assert SparkContext._gateway is not None
        conf = session._session_conf("local[4]", None)
        assert _FS_IMPL not in conf and _CLASSPATH not in conf


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac: the stock FS is used")
def test_local_writes_fork_no_chmod_and_keep_stock_modes(tmp_path):
    """A 256-way write_daily through get_session's filesystem forks no
    chmod and leaves the same files, .crc included, with the same modes as
    Hadoop's stock LocalFileSystem; a sticky mode is kept."""
    real_chmod = shutil.which("chmod")
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    wrapper = bin_dir / "chmod"
    wrapper.write_text(f'#!/bin/sh\necho "$@" >> "$CHMOD_LOG"\nexec {real_chmod} "$@"\n')
    wrapper.chmod(0o755)
    script = os.path.join(os.path.dirname(__file__), "local_fs_subprocess.py")
    procs = {}
    for side in ("engine", "stock"):
        (tmp_path / side).mkdir()
        env = dict(
            os.environ,
            PATH=os.pathsep.join([str(bin_dir), os.environ["PATH"]]),
            CHMOD_LOG=str(tmp_path / f"{side}.chmod.log"),
        )
        procs[side] = subprocess.Popen(
            [sys.executable, script, side, str(tmp_path / side)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, env=env,
        )
    reports = {}
    for side, proc in procs.items():
        out, err = proc.communicate(timeout=600)
        assert proc.returncode == 0, err[-3000:]
        reports[side] = json.loads(out.strip().splitlines()[-1])
    engine, stock = reports["engine"], reports["stock"]
    assert engine["fs"] == session._LOCAL_FS
    assert stock["fs"] == "org.apache.hadoop.fs.LocalFileSystem"
    assert engine["chmods"] == 0
    assert stock["chmods"] > 256  # the wrapper sees the stock FS's forks
    assert engine["modes"] == stock["modes"]
    modes = engine["modes"]
    dirs = [p for p, m in modes.items() if stat.S_ISDIR(m)]
    files = [p for p in modes if p not in dirs]
    assert len([p for p in dirs if os.path.basename(p).startswith("id_part=")]) == 256
    assert {stat.S_IMODE(modes[p]) for p in dirs} == {0o755}
    assert {stat.S_IMODE(modes[p]) for p in files} == {0o644}
    data = [p for p in files if not os.path.basename(p).startswith(".")]
    assert sorted(p for p in files if p.endswith(".crc")) == sorted(
        os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc") for p in data
    )
    assert stat.S_IMODE(engine["sticky_mode"]) == 0o1777
