"""tools/driver_sim.py argument handling, without a Spark session: unknown
query names fail before any session starts, and the summary counts the
queries actually checked."""

from __future__ import annotations

import importlib.util
import os
from types import SimpleNamespace

import pandas as pd
import pytest

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "driver_sim.py",
)


@pytest.fixture
def sim():
    spec = importlib.util.spec_from_file_location("driver_sim_under_test", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _NoSession:
    def __getattr__(self, name):
        raise AssertionError(f"a SparkSession was started (.{name})")


def test_unknown_names_exit_before_any_session(sim, monkeypatch, capsys):
    monkeypatch.setattr(sim, "SparkSession", _NoSession())
    assert (
        sim.main(["/no/sf", "cdi_ingest_pipeline", "cdi_ingest_pipline", "nope"])
        == 2
    )
    out = capsys.readouterr().out
    assert "['cdi_ingest_pipline', 'nope']" in out
    assert sim.main(["--skip", "cdi_ingest_pipline", "cdi_ingest_pipeline"]) == 2
    assert "['cdi_ingest_pipline']" in capsys.readouterr().out


class _Frame:
    def __init__(self, df: pd.DataFrame):
        self._df = df
        self.schema = SimpleNamespace(simpleString=lambda: "struct<x:int>")

    def toPandas(self):
        return self._df

    def collect(self):
        return list(self._df.itertuples())


class _FakeSpark:
    sparkContext = SimpleNamespace(setLogLevel=lambda level: None)

    def stop(self):
        pass


class _Builder:
    def master(self, m):
        return self

    def config(self, k, v):
        return self

    def getOrCreate(self):
        return _FakeSpark()


@pytest.mark.parametrize(
    "argv,checked",
    [
        (["/no/sf"], 3),
        (["/no/sf", "--skip", "q_c"], 2),
        (["/no/sf", "q_a"], 1),
    ],
)
def test_summary_counts_checked_queries(sim, monkeypatch, capsys, argv, checked):
    one = pd.DataFrame({"x": [1]})
    registry = {n: (lambda spark, sf: _Frame(one)) for n in ("q_a", "q_b", "q_c")}
    monkeypatch.setattr(sim, "SparkSession", SimpleNamespace(builder=_Builder()))
    monkeypatch.setattr(
        sim,
        "entrymod",
        SimpleNamespace(
            entry=lambda spark: _Frame(one),
            queries=lambda: registry,
            oracle_sql=lambda: {"q_a": "SELECT 1 AS x", "q_c": "SELECT 1 AS x"},
        ),
    )
    assert sim.main(argv) == 0
    last = capsys.readouterr().out.strip().splitlines()[-1]
    assert last == f"{checked} queries, 0 failures: []"
