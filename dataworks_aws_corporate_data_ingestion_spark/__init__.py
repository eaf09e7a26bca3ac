"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference CDI pipeline (dwp/dataworks-aws-corporate-data-ingestion),
re-expressed DataFrame-first.

Layout:
    session     -- tuned SparkSession builder (AQE, Arrow, adaptive shuffle)
    config      -- pipeline / collection configuration dataclasses
    model       -- envelope & output schemas (StructTypes)
    functions/  -- scalar-function surface (canonical JSON, dates, crypto,
                   sanitise, audit transform, text analysis, vector math)
    sources/    -- readers (JSONL envelope, schema'd ORC/Parquet, test tables)
    sinks/      -- range-clustered partitioned writers and the
                   explicit-schema readers of what they store
    operators/  -- dedup (exact/window/minhash/simhash), snapshot merge,
                   similarity search, rollups
    plans/      -- SQL interpolation runner, job-state store, date-range runner
    streaming/  -- structured-streaming ingest + windowed/stateful ops
    multimodal/ -- binary-column (image/audio) plumbing with stubbed codecs
    zipcache    -- lazy zipimport invalidation for the Python workers,
                   installed on import (see its docstring)
"""

from . import zipcache

zipcache.install()

__version__ = "0.1.0"
