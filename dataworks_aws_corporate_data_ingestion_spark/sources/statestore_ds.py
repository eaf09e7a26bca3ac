"""Custom Python DataSource (Spark 4 API) over the job-state store.

The reference's DynamoDB tracking table is queried driver-side
(plans/state.py mirrors that); but auditing/reporting over run history
("all runs last quarter, failure rate per collection") wants the state
store AS A TABLE.  This DataSource exposes exactly that through Spark's
Python DataSource V2 API (`spark.read.format("cdi_state")`):

* `schema()` declares the JobStatus columns (late schema imposition on a
  schemaless JSONL log -- same F16 discipline as the envelope parse).
* `read()` is one task that takes the log through
  `LocalStateStore.entries()`, so the table view and the driver-side
  store share one last-writer-wins rule per (correlation_id,
  data_product, date), novel status values included.  The log is
  small; a filtered audit (`WHERE status='FAILED'`) filters the one
  task's rows.

The path is validated on the DRIVER at reader construction: a missing
log is a loud error, not an empty table (an absent-on-executor path on
a real cluster must not read as "no runs ever happened").  Callers that
genuinely want empty-on-missing opt in with option("allow_missing",
"true").

This is the idiomatic Spark-4 answer for small/medium external systems
with no native connector (REST services, DynamoDB scans, job queues):
a few dozen lines of Python, and the result is a first-class DataFrame
that joins/filters like any table.  At real scale the same class shape
would return one partition per DynamoDB parallel-scan segment.

Reference: steps/dynamodb.py:7-62 (table shape), steps/ingesters.py:
343-370 (scan usage).
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, DataSourceReader
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..plans.state import LocalStateStore

STATE_SCHEMA = StructType(
    [
        StructField("correlation_id", StringType()),
        StructField("data_product", StringType()),
        StructField("date", StringType()),
        StructField("status", StringType()),
        StructField("run_id", IntegerType()),
        StructField("cluster_id", StringType()),
        StructField("export_prefix", StringType()),
        StructField("updated_at", DoubleType()),
    ]
)


class StateStoreReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("cdi_state requires option 'path' (JSONL log)")
        allow_missing = str(options.get("allow_missing", "false")).lower() in (
            "true",
            "1",
        )
        if not os.path.exists(path) and not allow_missing:
            raise FileNotFoundError(
                f"cdi_state log not found at {path!r}; pass "
                "option('allow_missing','true') to read an absent log as empty"
            )
        self._path = path

    def read(self, partition):
        # entries() reads an absent log as empty: only reachable under
        # allow_missing (the driver validated above)
        for e in LocalStateStore(self._path).entries():
            # explicit None checks: `or` would also catch a legitimate
            # 0, silently rewriting run_id 0 -> 1 / updated_at 0 -> 0.0
            yield (
                e.correlation_id,
                e.data_product,
                e.date,
                e.status,
                int(e.run_id) if e.run_id is not None else 1,
                e.cluster_id,
                e.export_prefix,
                float(e.updated_at) if e.updated_at is not None else 0.0,
            )


class StateStoreDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "cdi_state"

    def schema(self) -> StructType:
        return STATE_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return StateStoreReader(self.options)


def register_state_source(spark) -> None:
    """Idempotent registration; after this,
    spark.read.format('cdi_state').option('path', p).load() works."""
    spark.dataSource.register(StateStoreDataSource)
