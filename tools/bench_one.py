#!/usr/bin/env python3
"""Time ONE registry query: best-of-N wall clock + plan_sha + stage
metrics, as a single JSON line.  The plan fingerprint and stage reader
are bench.py's own (one definition), taken from the checkout this file
sits in -- so for an interleaved A/B, run each checkout's own copy.

Usage: python tools/bench_one.py QUERY_NAME [SF_DIR] [REPEATS]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from bench import _stages_json, plan_sha
    from dataworks_aws_corporate_data_ingestion_spark.caching import (
        release_tracked,
    )
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
    release_tracked()
    spark.catalog.clearCache()

    times = []
    stage_metrics = None
    for rep in range(repeats):
        before = None
        if rep == repeats - 1:
            st = _stages_json(spark)
            before = {s["stageId"] for s in st} if st else set()
        t0 = time.perf_counter()
        run_once()
        times.append(time.perf_counter() - t0)
        if before is not None:
            st = _stages_json(spark)
            new = [s for s in st if s["stageId"] not in before] if st else []
            if new:
                stage_metrics = {
                    "n_stages": len(new),
                    "n_tasks": sum(s.get("numCompleteTasks", 0) for s in new),
                    "executor_run_ms": sum(
                        s.get("executorRunTime", 0) for s in new
                    ),
                    "executor_cpu_ms": sum(
                        s.get("executorCpuTime", 0) for s in new
                    )
                    // 1_000_000,
                    "input_mb": round(
                        sum(s.get("inputBytes", 0) for s in new) / 1e6, 1
                    ),
                    "shuffle_read_mb": round(
                        sum(s.get("shuffleReadBytes", 0) for s in new) / 1e6, 1
                    ),
                    "shuffle_write_mb": round(
                        sum(s.get("shuffleWriteBytes", 0) for s in new) / 1e6,
                        1,
                    ),
                }
        release_tracked()
        spark.catalog.clearCache()

    print(
        json.dumps(
            {
                "name": name,
                "sf_dir": sf_dir,
                "best": round(min(times), 3),
                "median": round(statistics.median(times), 3),
                "times": [round(t, 3) for t in times],
                "plan_sha": plan_sha(spec.fn(spark, sf_dir)),
                "stages": stage_metrics,
                "load1": round(os.getloadavg()[0], 2),
                "git_head": os.environ.get("BENCH_ONE_LABEL", ""),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
