#!/usr/bin/env python3
"""Time ONE entry: best-of-N wall clock, median process-tree CPU, JIT
milliseconds, plan_sha and stage metrics, as a single JSON line.  NAME is
any bench entry (workload.bench_entries(): the benched queries and the
write paths) or any other registry query.  The entry is prepared, warmed
and timed by bench.py's own `warm_up` and `time_entry`, taken from the
checkout this file sits in -- so the numbers and plan_sha are the ones
bench.py records, and for an interleaved A/B each checkout's own copy
runs.

Usage: python tools/bench_one.py NAME [SF_DIR] [REPEATS]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from bench import SF_WARM, time_entry, warm_up
    from dataworks_aws_corporate_data_ingestion_spark.session import get_session
    from dataworks_aws_corporate_data_ingestion_spark.workload import bench_entry

    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    entry = bench_entry(name)
    spark = get_session(app_name=f"bench-one-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    work_dir = tempfile.mkdtemp(prefix="cdi-bench-one-")
    try:
        if entry.warm:
            warm_up(spark, [entry], SF_WARM, os.path.join(work_dir, "warm"))
        rec = time_entry(spark, entry, sf_dir, work_dir, repeats)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                "name": name,
                "sf_dir": sf_dir,
                **rec,
                "git_head": os.environ.get("BENCH_ONE_LABEL", ""),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
