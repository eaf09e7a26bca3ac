#!/usr/bin/env python3
"""Pin the physical-plan fingerprints of every benched entry (r9 verdict
#6): PLAN_SHAS.json commits the normalised plan_sha of each benched read
query (fixture entries fingerprint the pipeline over materialised files,
exactly as bench.py does) and each write bench's plan probe.

tests/test_plan_shas.py recomputes this table and diffs it, so a plan
change in any benched entry fails CI with a readable diff -- decoupling
plan regressions from timing noise: a BENCH delta with an UNCHANGED
pinned sha is the host, a failed pin is a real plan change that must be
either intended (re-run this tool, commit the new table alongside the
change) or fixed.

Usage: python tools/pin_plan_shas.py [--sf-dir /root/testdata/sf0.1]

Runs from any working directory: the checkout goes on PYTHONPATH too, so
the Spark Python workers the benched UDFs start can import the package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PIN_PATH = os.path.join(REPO, "PLAN_SHAS.json")
DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def compute_plan_shas(spark, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, str]:
    """plan_sha for every benched entry, mirroring bench.py's choices:
    read queries fingerprint spec.fn(spark, sf_dir); fixture entries
    fingerprint the production pipeline over a freshly materialised
    fixture (tmp paths are normalised out of the sha); write benches
    fingerprint their WRITE_BENCH_PLAN_PROBES DataFrame after running
    the write once so downstream probes have their inputs."""
    from bench import plan_sha
    from dataworks_aws_corporate_data_ingestion_spark.workload import (
        BENCH_FIXTURES,
        QUERIES,
        WRITE_BENCH_PLAN_PROBES,
        WRITE_BENCHES,
    )

    shas: dict[str, str] = {}
    out_dir = tempfile.mkdtemp(prefix="cdi-planpin-")
    try:
        for name, spec in QUERIES.items():
            if not spec.bench:
                continue
            fix = BENCH_FIXTURES.get(name)
            if fix is None:
                shas[name] = plan_sha(spec.fn(spark, sf_dir))
            else:
                fix_dir = os.path.join(out_dir, "fixtures", name)
                fix["materialize"](spark, sf_dir, fix_dir)
                shas[name] = plan_sha(fix["pipeline"](spark, fix_dir))
        for name, fn in WRITE_BENCHES.items():
            probe = WRITE_BENCH_PLAN_PROBES.get(name)
            fn(spark, sf_dir, out_dir)  # materialise downstream inputs
            if probe is not None:
                shas[name] = plan_sha(probe(spark, sf_dir, out_dir))
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return shas


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default=None)
    p.add_argument(
        "--check",
        action="store_true",
        help="recompute and DIFF against the committed PLAN_SHAS.json "
        "instead of rewriting it; exit 1 with a per-entry diff on drift. "
        "Must run in its own process: plan fingerprints depend on session "
        "confs (shuffle partitions land in Exchange nodes), so a session "
        "inherited from another harness measures that harness, not bench.",
    )
    args = p.parse_args()

    pin = None
    if args.check:
        with open(PIN_PATH) as f:
            pin = json.load(f)
    sf_dir = args.sf_dir or (pin["sf_dir"] if pin else DEFAULT_SF_DIR)

    from dataworks_aws_corporate_data_ingestion_spark.session import get_session

    # Python workers inherit the environment, not this process's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    spark = get_session(app_name="cdi-plan-pin")
    spark.sparkContext.setLogLevel("ERROR")
    shas = compute_plan_shas(spark, sf_dir)
    spark.stop()

    if args.check:
        want = pin["plan_shas"]
        missing = sorted(set(want) - set(shas))
        unpinned = sorted(set(shas) - set(want))
        changed = {
            k: {"pinned": want[k], "now": shas[k]}
            for k in set(want) & set(shas)
            if want[k] != shas[k]
        }
        if missing or unpinned or changed:
            print(
                "PLAN_PIN_DRIFT\n"
                f"no-longer-benched-but-pinned: {missing}\n"
                f"benched-but-unpinned: {unpinned}\n"
                f"changed: {json.dumps(changed, indent=1)}"
            )
            return 1
        print(f"PLAN_PIN_OK {len(shas)} entries match {PIN_PATH}")
        return 0

    with open(PIN_PATH, "w") as f:
        json.dump({"sf_dir": sf_dir, "plan_shas": shas}, f, indent=1, sort_keys=True)
    print(f"wrote {PIN_PATH}: {len(shas)} entries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
