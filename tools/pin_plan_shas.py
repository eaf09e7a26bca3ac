#!/usr/bin/env python3
"""Pin the physical-plan fingerprints of every bench entry (r9 verdict
#6): PLAN_SHAS.json commits the normalised plan_sha of each entry of
workload.bench_entries(), computed by bench.py's own `time_entry` with no
timed repeats: each entry's prepare writes what its plan reads, then its
plan is fingerprinted, exactly as bench.py does after timing.

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
    """plan_sha for every bench entry: prepare + plan, no timed runs."""
    from bench import time_entry
    from dataworks_aws_corporate_data_ingestion_spark.workload import bench_entries

    work_dir = tempfile.mkdtemp(prefix="cdi-planpin-")
    try:
        return {
            name: time_entry(spark, entry, sf_dir, work_dir, 0)["plan_sha"]
            for name, entry in bench_entries().items()
        }
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


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
