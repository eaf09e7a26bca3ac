"""Pinned physical-plan fingerprints for every benched entry (r9 verdict
#6): PLAN_SHAS.json commits the normalised plan_sha of each benched read
query and write-bench probe; this test recomputes the full table and
diffs it, so a plan change in any benched entry fails CI with a readable
per-entry diff instead of surfacing as an ambiguous bench-timing delta.

A legitimate plan change (an optimisation, a Spark upgrade) is recorded
by re-running tools/pin_plan_shas.py in the same commit.  Anything else
failing here means the code started asking the engine for a different
plan -- the regression class no amount of timing noise can hide.

Runs tools/pin_plan_shas.py --check in a SUBPROCESS, not in the pytest
process: plan fingerprints depend on session confs (the shuffle-partition
count is written into every Exchange hashpartitioning node), and the
suite's shared session is deliberately small (local[4], 4 shuffle
partitions) -- getOrCreate inside this process would fingerprint the
test harness's plans, not the plans bench.py times in its own process.
First caught as an order-dependent full-suite failure: green in
isolation (fresh engine session), red after any test had created the
conftest session.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_check_exports_the_checkout_to_python_workers(monkeypatch, tmp_path, capsys):
    """The Spark Python workers of a --check run from outside the checkout
    must import the package: they see PYTHONPATH, not the tool's sys.path.
    The session and the plan fingerprints are stubbed; only the tool's own
    set-up runs."""
    spec = importlib.util.spec_from_file_location(
        "pin_plan_shas", os.path.join(REPO, "tools", "pin_plan_shas.py")
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    with open(tool.PIN_PATH) as f:
        pinned = json.load(f)["plan_shas"]
    seen = {}

    class _Session:
        sparkContext = type("Ctx", (), {"setLogLevel": lambda self, level: None})()

        def stop(self):
            pass

    def fake_get_session(**kwargs):
        seen["pythonpath"] = os.environ.get("PYTHONPATH", "")
        return _Session()

    from dataworks_aws_corporate_data_ingestion_spark import session

    monkeypatch.setattr(session, "get_session", fake_get_session)
    monkeypatch.setattr(tool, "compute_plan_shas", lambda spark, sf_dir: dict(pinned))
    monkeypatch.setenv("PYTHONPATH", "/elsewhere")
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(sys, "argv", ["pin_plan_shas.py", "--check"])
    assert tool.main() == 0
    assert "PLAN_PIN_OK" in capsys.readouterr().out
    assert seen["pythonpath"].split(os.pathsep) == [REPO, "/elsewhere"]


def test_bench_entries_are_the_pinned_entries():
    """Every bench entry has a pin and every pin a bench entry.  Building
    the table runs no Spark job, so this catches an entry added without
    a pin, or a pin left behind, before the slow pin check."""
    from dataworks_aws_corporate_data_ingestion_spark.workload import bench_entries

    with open(os.path.join(REPO, "PLAN_SHAS.json")) as f:
        pinned = json.load(f)["plan_shas"]
    assert sorted(bench_entries()) == sorted(pinned)


@pytest.mark.slow
def test_benched_plan_shas_match_committed_pin():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "pin_plan_shas.py"), "--check"],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=REPO,
    )
    assert proc.returncode == 0 and "PLAN_PIN_OK" in proc.stdout, (
        "benched plan fingerprints drifted from PLAN_SHAS.json -- if the "
        "plan change is intended, re-run tools/pin_plan_shas.py and commit "
        "the new table with this change.\n"
        f"stdout:\n{proc.stdout}\nstderr (tail):\n{proc.stderr[-2000:]}"
    )
