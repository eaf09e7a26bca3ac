"""SparkSession factory with scale-oriented defaults.

The reference pinned a static cluster envelope (269 executors, shuffle
partitions 2690, broadcast joins disabled -- see BASELINE.md).  This engine
instead leans on AQE: runtime partition coalescing, skew-join splitting, and
broadcast conversion replace the reference's hard-coded repartition widths
(reference steps/ingesters.py:451-453 hard-codes 4096/1024 with a TODO to
make it configurable -- AQE is that TODO resolved properly).
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import warnings

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

# Defaults chosen for the local test harness; on a real cluster these are
# overridden by spark-submit conf.  They are *ratios and toggles*, not
# sizes, so they scale: AQE resizes shuffles at runtime from actual map
# output statistics rather than from a guess made at plan time.  The host-
# and master-dependent settings are added by get_session.
_DEFAULTS = {
    # AQE replaces hard-coded shuffle widths; coalesces tiny partitions and
    # splits skewed ones (the reference's id_part hotspots) at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow makes every pandas UDF batch-vectorised instead of row-pickled.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Partitioned writes only overwrite touched partitions (idempotent daily
    # re-runs, reference steps/ingesters.py:536).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # 128 MiB input splits: the parquet/ORC scan granularity that keeps a
    # 100 TB read at ~800k tasks rather than millions.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    "spark.sql.session.timeZone": "UTC",
}


def _default_driver_memory() -> str:
    """SPARK_GRAFT_DRIVER_MEM, else the smaller of 32g and half the host's
    physical memory: a heap ceiling above the machine's RAM lets the JVM
    grow until the kernel kills it instead of collecting."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**21
    return f"{min(32 * 1024, half_mb)}m"


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return f"local[{cpus}]"


_LOCAL_FS_SRCS = [
    os.path.join(os.path.dirname(__file__), "jvm", f)
    for f in ("NioLocalFileSystem.java", "NioLocalFs.java")
]
_LOCAL_FS = "dataworks_aws_corporate_data_ingestion_spark.jvm.NioLocalFileSystem"
_LOCAL_ABSTRACT_FS = "dataworks_aws_corporate_data_ingestion_spark.jvm.NioLocalFs"

# C2 promotion thresholds ten times HotSpot's (four for the compile
# threshold): a batch-lived JVM otherwise spends about half its CPU C2-
# compiling the long tail of Spark, Parquet and Hadoop methods that cross
# the stock 5,000-call mark once and never run hot; they stay in C1 code,
# while the truly hot loops still reach C2.
_JIT_OPTIONS = " ".join(
    [
        "-XX:Tier4InvocationThreshold=50000",
        "-XX:Tier4MinInvocationThreshold=6000",
        "-XX:Tier4CompileThreshold=60000",
        "-XX:Tier4BackEdgeThreshold=400000",
    ]
)


@functools.cache
def _local_fs_classes() -> str | None:
    """The class directory of the jvm/ filesystems, compiled by the local
    javac at first use into a cache keyed by the sources and the Hadoop jar
    they build against; None, with one warning, where it cannot be had."""
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    jars = glob.glob(os.path.join(spark_home, "jars", "hadoop-client-api-*.jar"))
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    root = os.path.join(cache, "cdi-spark-engine")
    try:
        if not jars:
            raise OSError(f"no hadoop-client-api jar in {spark_home}/jars")
        key = hashlib.sha256(os.path.basename(jars[0]).encode())
        for src in _LOCAL_FS_SRCS:
            with open(src, "rb") as f:
                key.update(f.read())
        out = os.path.join(root, f"nio-local-fs-{key.hexdigest()[:16]}")
        if os.path.isdir(out):
            return out
        javac = shutil.which("javac")
        if not javac:
            raise OSError("no javac on PATH")
        os.makedirs(root, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=root)
        try:
            # class files any Spark 4 JVM (Java 17+) loads
            cmd = [javac, "--release", "17", "-cp", jars[0], "-d", tmp, *_LOCAL_FS_SRCS]
            subprocess.run(cmd, check=True, capture_output=True, timeout=300)
            os.replace(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # else a concurrent first run won
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return out
    except (OSError, subprocess.SubprocessError) as exc:
        warnings.warn(f"stock local filesystem kept, one chmod fork per file: {exc}")
        return None


def _session_conf(master: str, extra_conf: dict[str, str] | None) -> dict[str, str]:
    conf = dict(_DEFAULTS, **{"spark.driver.memory": _default_driver_memory()})
    local = master == "local" or master.startswith("local[")
    if local:
        # executors are driver threads, so a distributed listing job buys
        # no parallelism: list every partition directory on the driver
        conf["spark.sql.sources.parallelPartitionDiscovery.threshold"] = str(
            2**31 - 1
        )
    conf.update(extra_conf or {})
    # JVM options and classes only reach a JVM that has not started yet
    if not local or SparkContext._gateway is not None:
        return conf
    # before a caller's own options: the last of a repeated -XX flag wins, and
    # the launcher puts every defaultJavaOptions before extraJavaOptions
    conf["spark.driver.defaultJavaOptions"] = " ".join(
        p for p in (_JIT_OPTIONS, conf.get("spark.driver.defaultJavaOptions")) if p
    )
    # without the native Hadoop library every local file and directory
    # write forks chmod, through FileSystem and FileContext alike
    if classes := _local_fs_classes():
        conf.setdefault("spark.hadoop.fs.file.impl", _LOCAL_FS)
        conf.setdefault("spark.hadoop.fs.AbstractFileSystem.file.impl", _LOCAL_ABSTRACT_FS)
        conf["spark.driver.extraClassPath"] = os.pathsep.join(
            p for p in (conf.get("spark.driver.extraClassPath"), classes) if p
        )
    return conf


def get_session(
    app_name: str = "cdi-spark-engine",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
    hive: bool = False,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults applied."""
    master = master or default_master()
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _session_conf(master, extra_conf).items():
        builder = builder.config(k, v)
    if hive:
        builder = builder.enableHiveSupport()
    return builder.getOrCreate()
