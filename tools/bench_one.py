#!/usr/bin/env python3
"""Time ONE registry query: best-of-N wall clock, median process-tree
CPU, plan_sha and stage metrics, as a single JSON line.  The timing loop
and plan fingerprint are bench.py's own (one definition), taken from the
checkout this file sits in -- so for an interleaved A/B, run each
checkout's own copy.

Usage: python tools/bench_one.py QUERY_NAME [SF_DIR] [REPEATS]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from bench import _end_repeat, _timed_record, plan_sha
    from dataworks_aws_corporate_data_ingestion_spark.session import get_session
    from dataworks_aws_corporate_data_ingestion_spark.workload import QUERIES

    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    spark = get_session(app_name=f"bench-one-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    spec = QUERIES[name]

    def run_once():
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # warm at the smallest SF (codegen + python worker spin-up)
    spec.fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
        "overwrite"
    ).save()
    _end_repeat(spark)

    rec = _timed_record(spark, run_once, repeats)
    print(
        json.dumps(
            {
                "name": name,
                "sf_dir": sf_dir,
                **rec,
                "plan_sha": plan_sha(spec.fn(spark, sf_dir)),
                "git_head": os.environ.get("BENCH_ONE_LABEL", ""),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
