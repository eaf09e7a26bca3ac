"""Subprocess body for the local-filesystem spawn and mode test.

Runs in its OWN interpreter because the filesystem classes, the driver
classpath and the JVM options are fixed when the JVM starts, and so is the
PATH the JVM forks `chmod` from.  Usage:

    python tests/local_fs_subprocess.py engine|stock OUT_DIR

`engine` writes through get_session's default local filesystems, `stock`
through Hadoop's LocalFileSystem and LocalFs (the caller's own
`fs.file.impl` and `fs.AbstractFileSystem.file.impl` win).  Both write the
same 256-way id_part frame with sinks.writers.write_daily, then run a
trigger-once `rate` -> parquet query, whose checkpoint and sink log go
through FileContext.  They print one JSON line: both filesystem classes,
the lines the `chmod` wrapper named by $CHMOD_LOG gained during the write
and during the query, every path the write left with its st_mode, and the
JVM's input arguments.  `engine` passes its own extraJavaOptions, as a
benchmark pointing java.io.tmpdir elsewhere does, then sets 01777 on a
scratch directory through the JVM's FileSystem and reports the mode it got.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_UUID = re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")


def _chmods() -> int:
    try:
        with open(os.environ["CHMOD_LOG"]) as f:
            return sum(1 for _ in f)
    except FileNotFoundError:
        return 0


def main() -> int:
    sys.path.insert(0, REPO_ROOT)
    side, out = sys.argv[1], sys.argv[2]
    os.umask(0o022)

    from dataworks_aws_corporate_data_ingestion_spark.session import get_session
    from dataworks_aws_corporate_data_ingestion_spark.sinks.writers import write_daily

    conf = {
        "spark.driver.memory": "1g",
        "spark.sql.shuffle.partitions": "4",
        "spark.ui.enabled": "false",
    }
    if side == "stock":
        conf["spark.hadoop.fs.file.impl"] = "org.apache.hadoop.fs.LocalFileSystem"
        conf["spark.hadoop.fs.AbstractFileSystem.file.impl"] = "org.apache.hadoop.fs.local.LocalFs"
    else:
        conf["spark.driver.extraJavaOptions"] = "-Dcdi.local.fs.side=engine"
    spark = get_session(app_name=f"local-fs-{side}", master="local[2]", extra_conf=conf)
    jvm = spark._jvm
    hadoop_conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(hadoop_conf)
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(hadoop_conf)
    frame = spark.range(2560).selectExpr(
        "id",
        "CAST(id % 256 AS INT) AS id_part",
        "repeat('x', 40) AS payload",
        "2024 AS export_year",
        "1 AS export_month",
        "5 AS export_day",
    )
    before = _chmods()
    write_daily(frame, os.path.join(out, "daily"))
    report = {
        "fs": fs.getClass().getName(),
        "abstract_fs": fc.getDefaultFileSystem().getClass().getName(),
        "chmods": _chmods() - before,
        "modes": {},
        "jvm_args": list(
            jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
        ),
    }
    for root, dirs, files in os.walk(out):
        for name in dirs + files:
            path = os.path.join(root, name)
            rel = _UUID.sub("<uuid>", os.path.relpath(path, out))
            report["modes"][rel] = os.stat(path).st_mode
    before = _chmods()
    query = (
        spark.readStream.format("rate").option("rowsPerSecond", 10).load()
        .writeStream.format("parquet")
        .option("checkpointLocation", os.path.join(out, "stream", "checkpoint"))
        .trigger(once=True)
        .start(os.path.join(out, "stream", "sink"))
    )
    query.awaitTermination()
    report["stream_chmods"] = _chmods() - before
    if side == "engine":
        shared = os.path.join(out, "shared")
        os.mkdir(shared)
        fs.setPermission(
            jvm.org.apache.hadoop.fs.Path(shared),
            jvm.org.apache.hadoop.fs.permission.FsPermission("1777"),
        )
        report["sticky_mode"] = os.stat(shared).st_mode
    spark.stop()
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
