#!/usr/bin/env python3
"""Daily-layout prunability comparison: directory-partitioned write_daily
vs flat z-ordered write_daily_flat_zordered (round-4 verdict #5).

Writes BOTH layouts from the same multi-day daily-row set, then measures
per-file (day, id) bounding boxes with zorder.file_clustering_stats and
counts how many files three representative scans must open:

  day-eq     one day's records          (the merge's pruned dailies read)
  id-range   one id prefix, ALL days    (cross-day id scan -- the case the
                                         partitioned layout can't prune)
  both       one day AND one id prefix

Prints one JSON line for ROUND_NOTES.  Parquet for both sides so the
file-stats reader is common; the partitioned side keeps write_daily's
exact clustering discipline: it is written by `write_daily` itself.

Usage: python tools/layout_compare.py [sf_dir] [n_days]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from dataworks_aws_corporate_data_ingestion_spark.operators.zorder import (  # noqa: E402
    file_clustering_stats,
    files_opened_by,
    lexical_rank,
    write_daily_flat_zordered,
)
from dataworks_aws_corporate_data_ingestion_spark.session import get_session  # noqa: E402
from dataworks_aws_corporate_data_ingestion_spark.sinks.writers import write_daily  # noqa: E402
from dataworks_aws_corporate_data_ingestion_spark.workload import (  # noqa: E402
    _daily_rows_from_events,
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_days = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    spark = get_session(app_name="layout-compare")
    spark.sparkContext.setLogLevel("ERROR")

    # spread the one-day bench rows over n_days so the day dimension is
    # real: day = 1 + (uniform hash of id) % n_days
    rows = _daily_rows_from_events(spark, sf_dir).withColumn(
        "export_day",
        (F.pmod(F.xxhash64("id"), F.lit(n_days)) + 1).cast("int"),
    )

    out = tempfile.mkdtemp(prefix="layout-compare-")
    part_path, z_path = f"{out}/partitioned", f"{out}/zordered"
    try:
        write_daily(rows, part_path, fmt="parquet", compression="snappy")
        write_daily_flat_zordered(rows, z_path, base_date="2024-01-01")

        # common numeric dimensions for box stats: day + id prefix rank
        def stats(path: str) -> list[dict]:
            df = (
                spark.read.parquet(path)
                .withColumn("id_rank", lexical_rank(F.col("id")))
                .select(
                    F.input_file_name().alias("file"), "export_day", "id_rank"
                )
                .groupBy("file")
                .agg(
                    F.min("export_day").alias("min_export_day"),
                    F.max("export_day").alias("max_export_day"),
                    F.min("id_rank").alias("min_id_rank"),
                    F.max("id_rank").alias("max_id_rank"),
                )
            )
            return [r.asDict() for r in df.collect()]

        ps, zs = stats(part_path), stats(z_path)
        # id prefix "3" covers ranks [0x3300, 0x3400) in the 2-char
        # base-256 projection of hex ids (ascii '3' = 0x33)
        id_pred = {"id_rank": (0x33 * 256, 0x34 * 256 - 1)}
        day_pred = {"export_day": (7, 7)}
        both = {**day_pred, **id_pred}
        result = {
            "sf_dir": sf_dir,
            "n_days": n_days,
            "partitioned": {
                "files": len(ps),
                "open_day_eq": files_opened_by(ps, day_pred),
                "open_id_range": files_opened_by(ps, id_pred),
                "open_both": files_opened_by(ps, both),
            },
            "zordered": {
                "files": len(zs),
                "open_day_eq": files_opened_by(zs, day_pred),
                "open_id_range": files_opened_by(zs, id_pred),
                "open_both": files_opened_by(zs, both),
            },
        }
        print(json.dumps(result))
    finally:
        shutil.rmtree(out, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
