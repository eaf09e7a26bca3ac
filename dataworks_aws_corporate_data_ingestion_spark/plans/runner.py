"""Collection pipeline runner: config, registry, date-range driver loop,
and the weekly snapshot-update lifecycle.

The engine's generalisation of the reference's hard-coded collection
dispatch (steps/corporate_data_ingestion.py:80-117 + the ingesters_map at
:95-98): collections are *configs*, not subclasses, and a day-range run is
one status-tracked `run_day` per date, fail-fast, idempotent re-runs via
dynamic partition overwrite.  `run_update` composes the weekly merge the
reference runs behind --force_collection_update
(steps/ingesters.py:273-281, 341-460): state-store lookup -> dailies-since
partition prune -> union+window merge -> snapshot write -> record the new
export prefix.
"""

from __future__ import annotations

import argparse
import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.crypto import IdentityKeyService, KeyService
from ..operators.ingest import ingest_daily
from ..operators.merge import merge_snapshot
from ..sinks.writers import (
    SNAPSHOT_COLUMNS,
    read_daily,
    read_snapshot,
    write_daily,
    write_jsonl,
    write_snapshot,
)
from . import state as state_mod
from .publish import TableSpec, publish_snapshot_tables
from .state import JobStatus, LocalStateStore, StateStore


@dataclass(frozen=True)
class CollectionSpec:
    """Per-collection pipeline configuration (replaces the reference's
    BaseIngester/BusinessAuditIngester/CalculationPartsIngester class
    hierarchy with data)."""

    name: str  # "db:collection"
    source_root: str  # landing prefix; {date} expands to YYYY/MM/DD
    output_root: str
    audit: bool = False  # apply the businessAudit context transform
    sink: str = "keyed"  # "keyed" (partitioned columnar) | "jsonl"
    sink_format: str = "parquet"
    compression: str = "snappy"
    # weekly-update lifecycle (reference CalculationPartsIngester):
    # snapshot exports land under {exports_root}/{date}; MUST be disjoint
    # from output_root (the dailies read scans output_root recursively).
    # Empty -> "<output_root>_exports" (the reference used sibling
    # prefixes daily/ vs exports/, steps/ingesters.py:270-271).
    exports_root: str = ""
    # tables published by the export-to-hive phase (reference
    # steps/ingesters.py:283-339); empty tuple -> phase is a no-op
    hive_tables: tuple[TableSpec, ...] = ()

    def resolved_exports_root(self) -> str:
        return self.exports_root or f"{self.output_root}_exports"

    def source_for(self, date: str) -> str:
        y, m, d = date.split("-")
        return (
            self.source_root.replace("{date}", f"{y}/{m}/{d}")
            if "{date}" in self.source_root
            else f"{self.source_root}/{y}/{m}/{d}"
        )


@dataclass
class EngineConfig:
    correlation_id: str
    start_date: str
    end_date: str
    collection: CollectionSpec
    state_path: str
    key_service: KeyService = field(default_factory=IdentityKeyService)
    # conditional phases (reference steps/corporate_data_ingestion.py:64-71,
    # consumed at steps/ingesters.py:273-281): collection-update runs the
    # weekly merge then publishes; export-to-hive publishes the latest
    # completed export without merging
    force_collection_update: bool = False
    force_export_to_hive: bool = False
    # divert unparseable envelope lines to quarantine (counted) instead of
    # failing the day; default strict = reference parity
    permissive: bool = False


def date_range(start: str, end: str) -> list[str]:
    d0 = dt.date.fromisoformat(start)
    d1 = dt.date.fromisoformat(end)
    return [
        (d0 + dt.timedelta(days=i)).isoformat() for i in range((d1 - d0).days + 1)
    ]


def run_day(spark: SparkSession, cfg: EngineConfig, date: str) -> int:
    """One day's ingest; returns quarantined-row count.

    The quarantine count rides the write pass as an observed metric
    (Observation below the good/bad split), so the day's input is scanned
    and envelope-parsed exactly ONCE.  Counting the quarantine DataFrame
    with an action instead would re-read and re-run the Python chain over
    the whole day for a counter that is ~zero rows."""
    spec = cfg.collection
    obs = Observation()
    rows, _ = ingest_daily(
        spark,
        spec.source_for(date),
        spec.name,
        cfg.key_service,
        date,
        audit=spec.audit,
        observation=obs,
        permissive=cfg.permissive,
    )
    if spec.sink == "jsonl":
        write_jsonl(
            rows.select("val"), f"{spec.output_root}/{date}", compression=spec.compression
        )
    else:
        # ingest_daily output always carries the crypto/envelope pandas
        # UDFs: persist across the range-sampler's double execution
        write_daily(
            rows,
            spec.output_root,
            fmt=spec.sink_format,
            compression=spec.compression,
            stabilize=True,
        )
    return int(obs.get["n_quarantined"])


def read_dailies_since(
    spark: SparkSession,
    daily_root: str,
    cutoff_date: str,
    fmt: str = "parquet",
) -> DataFrame:
    """Daily deltas newer than the last snapshot, partition-pruned.

    The reference spells the cutoff as a 3-clause OR over the partition
    columns (steps/ingesters.py:429-438); `make_date(y,m,d) > cutoff` is
    the same predicate and still references only partition columns, so
    FileSourceStrategy prunes whole day directories -- no data files for
    already-merged days are opened (assert via .inputFiles() in tests)."""
    return (
        read_daily(spark, daily_root, fmt)
        .filter(
            F.make_date("export_year", "export_month", "export_day")
            > F.lit(cutoff_date).cast("date")
        )
        .select(*SNAPSHOT_COLUMNS)
    )


def export_snapshot(
    spark: SparkSession,
    store: StateStore,
    prev: JobStatus | None,
    deltas: DataFrame,
    *,
    status_key: str,
    product: str,
    as_of: str,
    prefix: str,
    fmt: str,
    compression: str,
) -> str:
    """The export step of both lineages (`run_update` and the stream
    handoff, streaming/merge.py): merge `deltas` onto the export `prev`
    names (an empty snapshot when None), write the result at `prefix`,
    and record it under `status_key` -- IN_PROGRESS first, then FAILED
    or, only once the snapshot write has landed, COMPLETED with the
    prefix.  A crashed merge can therefore never be picked up as "latest
    completed" by the next cycle.  Returns `prefix`."""
    snapshot = read_snapshot(spark, prev.export_prefix if prev else None, fmt)
    base = dict(correlation_id=status_key, data_product=product, date=as_of)
    store.put(JobStatus(status=state_mod.IN_PROGRESS, export_prefix=prefix, **base))
    try:
        merged = merge_snapshot(snapshot, deltas)
        write_snapshot(merged, prefix, fmt=fmt, compression=compression)
    except Exception:
        store.put(JobStatus(status=state_mod.FAILED, **base))
        raise
    store.put(JobStatus(status=state_mod.COMPLETED, export_prefix=prefix, **base))
    return prefix


def run_update(spark: SparkSession, cfg: EngineConfig, as_of: str | None = None) -> str:
    """The weekly snapshot-update lifecycle, end-to-end (reference
    CalculationPartsIngester.update, steps/ingesters.py:341-460):

      1. locate the newest COMPLETED export via the state store
         (steps/ingesters.py:343-370)
      2. read dailies written after that export's date, partition-pruned
         (:429-438), and the previous snapshot (:441-445)
      3. union + window-dedup merge (:448-455)
      4. write the new snapshot under {exports_root}/{as_of} (:456-457)
      5. record the new export prefix in the state store (:391-395)

    Steps 2-5 are `export_snapshot`.  Returns the new export prefix.
    Divergence from the reference: with no previous export it bootstraps
    from an empty snapshot (first export) instead of a hard-coded
    fallback prefix (:368-370); and the COMPLETED status carrying the new
    prefix is written after the snapshot write lands, not before the
    merge starts."""
    spec = cfg.collection
    store: StateStore = LocalStateStore(cfg.state_path)
    product = state_mod.data_product(spec.name)
    as_of = as_of or cfg.end_date
    prev = store.latest_completed_export(product)
    dailies = read_dailies_since(
        spark,
        spec.output_root,
        prev.date if prev is not None else "1970-01-01",
        fmt=spec.sink_format,
    )
    return export_snapshot(
        spark,
        store,
        prev,
        dailies,
        status_key=cfg.correlation_id,
        product=product,
        as_of=as_of,
        prefix=f"{spec.resolved_exports_root()}/{as_of}",
        fmt=spec.sink_format,
        compression=spec.compression,
    )


def export_to_hive(
    spark: SparkSession, cfg: EngineConfig, export_prefix: str | None = None
) -> None:
    """Publish the (given or latest completed) snapshot export as
    schema-applied managed tables (reference steps/ingesters.py:283-339)."""
    spec = cfg.collection
    if not spec.hive_tables:
        return
    if export_prefix is None:
        prev = LocalStateStore(cfg.state_path).latest_completed_export(
            state_mod.data_product(spec.name)
        )
        if prev is None:
            raise ValueError(f"no completed export to publish for {spec.name}")
        export_prefix = prev.export_prefix
    publish_snapshot_tables(
        spark, export_prefix, list(spec.hive_tables), snapshot_format=spec.sink_format
    )


def run_range(spark: SparkSession, cfg: EngineConfig) -> None:
    """Per-day loop with fail-fast status tracking (reference
    steps/corporate_data_ingestion.py:100-117), then the conditional
    merge/publish phases (reference steps/ingesters.py:273-281: a forced
    collection update merges AND publishes; force-export-to-hive publishes
    the latest export without merging)."""
    store: StateStore = LocalStateStore(cfg.state_path)
    product = state_mod.data_product(cfg.collection.name)
    for date in date_range(cfg.start_date, cfg.end_date):
        base = dict(
            correlation_id=cfg.correlation_id, data_product=product, date=date
        )
        store.put(JobStatus(status=state_mod.IN_PROGRESS, **base))
        try:
            run_day(spark, cfg, date)
        except Exception:
            store.put(JobStatus(status=state_mod.FAILED, **base))
            raise
        store.put(JobStatus(status=state_mod.COMPLETED, **base))
    if cfg.force_collection_update:
        new_prefix = run_update(spark, cfg)
        export_to_hive(spark, cfg, new_prefix)
    if cfg.force_export_to_hive:
        export_to_hive(spark, cfg)


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="CDI-spark collection runner")
    p.add_argument("--collection", required=True, help="db:collection")
    p.add_argument("--source-root", required=True)
    p.add_argument("--output-root", required=True)
    p.add_argument("--start-date", required=True)
    p.add_argument("--end-date", required=True)
    p.add_argument("--correlation-id", default="local-run")
    p.add_argument("--state-path", default="./job_state.jsonl")
    p.add_argument("--audit", action="store_true")
    p.add_argument("--sink", choices=["keyed", "jsonl"], default="keyed")
    # reference steps/corporate_data_ingestion.py:64-71
    p.add_argument(
        "--permissive",
        action="store_true",
        help="quarantine unparseable envelope lines (counted) instead of"
        " failing the day",
    )
    p.add_argument("--force-collection-update", action="store_true")
    p.add_argument("--force-export-to-hive", action="store_true")
    p.add_argument("--exports-root", default="")
    # real deployments decrypt against a remote key service (reference
    # steps/dks.py); absent the flag, IdentityKeyService (test/local mode)
    p.add_argument(
        "--dks-url",
        default="",
        help="decrypt endpoint of a remote key service; empty = identity"
        " key service (encryptedEncryptionKey IS the data key)",
    )
    p.add_argument(
        "--hive-table",
        action="append",
        default=[],
        metavar="NAME=DDL",
        help="table to publish as name=json-ddl, e.g."
        " staging.src_parts='a INT, b STRING'; repeatable",
    )
    # maintenance: after the range completes, rewrite the accumulated
    # directory-partitioned dailies as ONE flat z-ordered dataset
    # (operators/zorder.py) -- the thousands-of-days sliver-file cure;
    # the daily incremental write keeps the reference's partitioned
    # discipline, this is the periodic re-layout
    p.add_argument(
        "--rewrite-zordered",
        default="",
        metavar="DEST",
        help="after the run, rewrite output-root's dailies as a flat"
        " z-ordered dataset at DEST (day + id-prefix interleave)",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    from ..session import get_session

    args = build_arg_parser().parse_args(argv)
    tables = tuple(
        TableSpec(name, ddl)
        for name, _, ddl in (t.partition("=") for t in args.hive_table)
    )
    spec = CollectionSpec(
        name=args.collection,
        source_root=args.source_root,
        output_root=args.output_root,
        audit=args.audit,
        sink=args.sink,
        exports_root=args.exports_root,
        hive_tables=tables,
    )
    if args.dks_url:
        from ..functions.crypto import HttpKeyService

        key_service: KeyService = HttpKeyService(
            args.dks_url, correlation_id=args.correlation_id
        )
    else:
        key_service = IdentityKeyService()
    cfg = EngineConfig(
        correlation_id=args.correlation_id,
        start_date=args.start_date,
        end_date=args.end_date,
        collection=spec,
        state_path=args.state_path,
        key_service=key_service,
        force_collection_update=args.force_collection_update,
        force_export_to_hive=args.force_export_to_hive,
        permissive=args.permissive,
    )
    spark = get_session(app_name=f"cdi-{args.collection}")
    run_range(spark, cfg)
    if args.rewrite_zordered:
        # the z-order rewrite reads output_root as sink_format columnar
        # dailies and needs export_year/month/day columns; a jsonl sink
        # has neither -- fail loudly instead of mis-parsing gzip JSONL
        if spec.sink != "keyed":
            raise SystemExit(
                "--rewrite-zordered requires --sink keyed (columnar "
                f"dailies); collection {spec.name!r} uses sink={spec.sink!r}"
            )
        rewrite_dailies_zordered(
            spark,
            spec.output_root,
            args.rewrite_zordered,
            base_date=args.start_date,
            fmt=spec.sink_format,
        )
    return 0


def rewrite_dailies_zordered(
    spark: SparkSession,
    dailies_root: str,
    dest: str,
    base_date: str,
    fmt: str = "parquet",
) -> None:
    """Periodic re-layout: read the accumulated directory-partitioned
    dailies (partition columns materialise from the paths) and rewrite
    them as one flat z-ordered dataset -- files sized by data volume
    with day AND id ranges skippable via min/max stats.  Row-preserving;
    measured prunability trade-offs in SCALE.md 'Daily layout choice'."""
    from ..operators.zorder import write_daily_flat_zordered

    dailies = spark.read.format(fmt).load(dailies_root)
    write_daily_flat_zordered(dailies, dest, base_date=base_date)


if __name__ == "__main__":
    raise SystemExit(main())
