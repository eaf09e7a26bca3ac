"""SparkSession factory with scale-oriented defaults.

The reference pinned a static cluster envelope (269 executors, shuffle
partitions 2690, broadcast joins disabled -- see BASELINE.md).  This engine
instead leans on AQE: runtime partition coalescing, skew-join splitting, and
broadcast conversion replace the reference's hard-coded repartition widths
(reference steps/ingesters.py:451-453 hard-codes 4096/1024 with a TODO to
make it configurable -- AQE is that TODO resolved properly).
"""

from __future__ import annotations

import os

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


def _session_conf(master: str, extra_conf: dict[str, str] | None) -> dict[str, str]:
    conf = dict(_DEFAULTS, **{"spark.driver.memory": _default_driver_memory()})
    if master == "local" or master.startswith("local["):
        # executors are driver threads, so a distributed listing job buys
        # no parallelism: list every partition directory on the driver
        conf["spark.sql.sources.parallelPartitionDiscovery.threshold"] = str(
            2**31 - 1
        )
    conf.update(extra_conf or {})
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
