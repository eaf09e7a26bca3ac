"""Shared catalog-as-state streaming-admission framework.

Every admission family keeps its cross-batch state in parquet catalog
tables and calls refresh_state_tables before reading and after
appending, because foreachBatch runs under a cloned session.  Every
family except dedup_admission also marks its appends with a batch
token:

  token = the caller's foreachBatch batch_id (stream_token), else the
          order-insensitive sum/xor/count content hash of the batch's
          id set (batch_content_token / batch_admission_state -- the
          one definition)

Which family uses which helpers:

  summary_admission (MG, CMS, HIST)  bounded partials collected to the
      driver: init_state_tables, probe_with_summary, append_once and
      admit_ledger_once (written directly, _write_state_rows),
      read_counts, read_ledger_total, compact_index
  span_admission, lm_admission  batch-sized count partials that are
      never collected -- the table layer: init_state_tables (bucketed),
      probe_tokens, unledgered, append_state, read_counts,
      compact_counts, batch_writer.  Their doc-id ledger is appended
      last and carries no token: unledgered (the batch minus the
      ledger) is its replay rule
  bloom_admission  init_state_tables, batch_content_token,
      token_committed, append_state
  dedup_admission  batch_writer; its replay rule is the minhash index
      itself (operators/dedup.py appends), so it takes no token

The protocol every token-marked family follows:

  for each state table, IN A FIXED ORDER:
      if the table lacks the token -> append the batch's partial plus
      the token (summary families: one marker row; the table layer:
      a batch_token column on every appended row)
  compaction folds the append-only partials to one row per logical
  cell and preserves the distinct token set as marker rows, so
  replayed batches still heal after a compact

Crash atomicity falls out of the per-table marker: a crash between the
table appends leaves a window where only a prefix of the tables holds
the token, and the replay appends exactly the missing suffix --
certified by the *_admission_streaming_certificate registry entries
(admit, replay mid-sequence, crash-window replay, compact, exact-verify
against a one-shot oracle).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import release_tracked
from ..sinks.bucketing import _clear_orphan_location, insert_into

__all__ = [
    "batch_content_token",
    "batch_admission_state",
    "probe_with_summary",
    "probe_tokens",
    "refresh_state_tables",
    "init_state_tables",
    "token_committed",
    "tokens_committed",
    "append_once",
    "append_state",
    "unledgered",
    "ledger_measure",
    "admit_ledger_once",
    "read_ledger_total",
    "read_counts",
    "compact_index",
    "compact_counts",
    "stream_token",
    "batch_writer",
]


def refresh_state_tables(spark: SparkSession, *names: str) -> None:
    """Invalidate the session's cached file listings for cross-batch
    state tables.  Inside foreachBatch the hook runs under a CLONED
    SparkSession (micro-batch isolation), so a saveAsTable append's
    implicit relation-cache refresh lands on the clone -- the captured
    outer session keeps serving the stale pre-append FileIndex for any
    state table it read in an earlier batch (appends become invisible:
    batch 2 would see batch 1's index as empty).  Admission rounds call
    this on their state tables before reading and after appending;
    the cost is one metadata listing per table per batch."""
    for name in names:
        spark.catalog.refreshTable(name)


def batch_content_token(
    batch_df: DataFrame, id_col: str = "doc_id"
) -> int:
    """Deterministic 62-bit token from the batch's doc-id set (order
    independent; a replay of the same source offsets reproduces it).

    The token mixes THREE order-independent combiners of the per-id
    xxhash64 values -- sum, xor, and row count -- through one final
    non-additive hash (blake2b).  A plain additive sum (the r7 scheme)
    admits structurally-easy multiset collisions (any two id-sets whose
    hash sums coincide mod 2^62, and every empty batch mapped to 0); a
    colliding fresh batch would be silently treated as already-committed
    and its gram/count contribution dropped.  Sum and xor cannot be
    equalised by the same rearrangement (xor is not additive), and the
    count pins the multiset size, so a collision now needs all three to
    agree AND blake2b to collide on the packed triple.  Kept under 2^62
    so stream batch ids offset by (1 << 62) stay disjoint."""
    return batch_admission_state(batch_df.sparkSession, batch_df, id_col)[0]


# Driver-side bound on the marker summary each state table ships per
# admission round: covers any bench/test stream outright (so the fused
# round stays ONE job with O(cap) collected rows), while a years-long
# production stream pays one extra kilobyte-scan probe job per batch
# instead of shipping its whole ledger history to the driver.
_MARKER_PROBE_CAP = 4096


def batch_admission_state(
    spark: SparkSession,
    batch_df: DataFrame,
    id_col: str = "doc_id",
    weight_col: str | None = None,
    *tables: str,
) -> tuple[int, int, set[str]]:
    """(batch token, ledger measure, subset of `tables` already holding
    the token) from ONE job.

    The token aggregate (sum/xor/count of per-id xxhash64, blake2b
    finalised driver-side -- bit-identical to what batch_content_token
    always produced) is unioned with each state table's DISTINCT marker
    tokens, so an admission round's three read jobs (token scan, then a
    marker probe per table) collapse into one (r10 optimization, guide
    section 1.2).  Membership is decided driver-side because the token
    only exists after the blake2b finalisation; the distinct token sets
    are ledger-sized (one per admitted batch -- the same table
    read_ledger_total already sums over)."""
    import hashlib
    import struct as _struct

    cols = [F.xxhash64(F.col(id_col).cast("string")).alias("h")]
    if weight_col:
        cols.append(F.col(weight_col).alias("__w"))
    hashed = batch_df.select(*cols)
    null_arr = F.lit(None).cast("array<bigint>")
    aggs = [
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        F.expr("bit_xor(h)").alias("x"),
        F.count(F.lit(1)).alias("n"),
        (
            F.sum("__w").cast("bigint") if weight_col else F.lit(None).cast("bigint")
        ).alias("w"),
    ]
    probe = hashed.agg(*aggs).select(
        F.lit(0).alias("__t"), "s", "x", "n", "w", null_arr.alias("xs")
    )
    for i, table in enumerate(tables, start=1):
        # Each table contributes ONE row: its distinct-marker count plus
        # the smallest _MARKER_PROBE_CAP+1 markers (sorted collect_set
        # slice).  Driver-collected rows are O(1) per batch regardless
        # of stream length (r10 verdict item: the previous form shipped
        # every table's full distinct marker set to the driver each
        # admitted batch -- fine for bench-sized streams, linear growth
        # over years of micro-batches).  Membership is still decided
        # driver-side (the token only exists after blake2b): a complete
        # set (nd <= cap) or a positive hit in the slice is definitive;
        # a truncated slice without a hit falls back to ONE filtered
        # probe job over just the uncertain tables (tokens_committed).
        # Completeness needs no separate count: collect_set holds the
        # FULL distinct set before the slice, so a slice shorter than
        # cap+1 IS the whole set (a count_distinct alongside would plan
        # an Expand + extra aggregation phase: measured +8 stages per
        # certificate run).  Aggregate shape otherwise as before -- the
        # r10 map-only variant (no aggregation, dedup driver-side)
        # measured SLOWER and unstable (12-24s vs 6.3-8.5s) and stays
        # rejected.
        probe = probe.unionAll(
            spark.table(table)
            .select("batch_token")
            .agg(
                F.slice(
                    F.sort_array(F.collect_set("batch_token")),
                    1,
                    _MARKER_PROBE_CAP + 1,
                ).alias("xs")
            )
            .select(
                F.lit(i).alias("__t"),
                F.lit(None).cast("decimal(38,0)").alias("s"),
                F.lit(None).cast("bigint").alias("x"),
                F.lit(None).cast("bigint").alias("n"),
                F.lit(None).cast("bigint").alias("w"),
                "xs",
            )
        )
    seen: dict[int, tuple[set[int], bool]] = {}
    agg_row = None
    for r in probe.collect():
        if r["__t"] == 0:
            agg_row = r
        else:
            xs = r["xs"] or ()
            seen[r["__t"]] = (
                {int(v) for v in xs},
                len(xs) <= _MARKER_PROBE_CAP,
            )
    s = int(agg_row["s"] or 0) % (1 << 64)
    x = int(agg_row["x"] or 0) & ((1 << 64) - 1)
    n = int(agg_row["n"] or 0)
    digest = hashlib.blake2b(
        _struct.pack("<QQQ", s, x, n), digest_size=8
    ).digest()
    token = _struct.unpack("<Q", digest)[0] % (1 << 62)
    measure = int(agg_row["w"] or 0) if weight_col else n
    done = set()
    uncertain = []
    for i, t in enumerate(tables, start=1):
        markers, complete = seen.get(i, (set(), True))
        if token in markers:
            done.add(t)
        elif not complete:
            uncertain.append(t)
    if uncertain:
        done |= tokens_committed(spark, token, *uncertain)
    return token, measure, done


def probe_tokens(
    spark: SparkSession,
    batch_df: DataFrame,
    id_col: str,
    tables: tuple[str, ...],
    batch_token: int | None = None,
    weight_col: str | None = None,
) -> tuple[int, int | None, set[str]]:
    """(batch token, ledger measure, subset of `tables` already holding
    the token) from one job: the fused token + marker probe
    (batch_admission_state), or, when the caller supplies the token,
    the batched marker probe (the measure is then None)."""
    if batch_token is not None:
        return batch_token, None, tokens_committed(spark, batch_token, *tables)
    return batch_admission_state(spark, batch_df, id_col, weight_col, *tables)


def probe_with_summary(
    spark: SparkSession,
    batch_df: DataFrame,
    id_col: str,
    weight_col: str | None,
    tables: tuple[str, ...],
    summary_fn: Callable[[], list],
    batch_token: int | None = None,
):
    """Run the admission probe and the batch's bounded-summary job
    CONCURRENTLY; returns (token, measure, done, summary_rows).

    The summary job (`summary_fn`: collect the family's bounded partial
    -- MG candidates, CMS cells, histogram bins) reads ONLY the batch,
    never the state tables; the probe reads the batch plus the kilobyte
    state tables.  Spark actions are only sequential because the driver
    calls them sequentially (guide section 2.6), so a driver thread
    submits the summary while the probe runs on the caller's thread and
    an admission round's read wall is max(probe, summary) instead of
    their sum.  The state appends still run strictly AFTER both, in the
    family's fixed table order the crash-window guarantee needs.

    Trade: a REPLAYED batch now pays the summary computation it used to
    skip (append_once never calls its rows_fn when the marker is found,
    so the collected partial is simply discarded) -- replays are the
    rare at-least-once path, and their wall is roughly unchanged because
    the summary overlaps the probe a replay must run anyway.

    Exception order: a probe failure propagates after the summary thread
    drains (the `with` join); a summary failure surfaces at .result(),
    before any append -- either way no state table is touched."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        summary_future = pool.submit(summary_fn)
        token, measure, done = probe_tokens(
            spark, batch_df, id_col, tables, batch_token, weight_col
        )
        summary = summary_future.result()
    return token, measure, done, summary


def init_state_tables(
    spark: SparkSession,
    schemas: dict[str, str],
    buckets: dict[str, tuple[str, int]] | None = None,
) -> None:
    """Create empty state tables (name -> DDL schema string), clearing
    any orphaned warehouse location first.  Idempotent across sessions
    sharing a warehouse dir.  A table named in `buckets` (name -> (key
    column, bucket count)) is bucketed and sorted by that column; later
    writes take that spec from the catalog (sinks.bucketing.insert_into).

    Creation is one CREATE TABLE statement, pure metadata: an empty
    DataFrame write still runs a full Spark write job (commit protocol
    and all) per table and leaves an empty data file -- measured 0.58 s
    vs 0.05 s per table (r10), and 0.36 s vs 0.02 s for a bucketed
    table on 4 cores."""
    for name in schemas:
        _clear_orphan_location(spark, name)
    for name, schema in schemas.items():
        layout = ""
        if name in (buckets or {}):
            key, n = buckets[name]
            layout = f" CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n} BUCKETS"
        spark.sql(f"CREATE TABLE {name} ({schema}) USING parquet{layout}")


def token_committed(
    spark: SparkSession, table: str, batch_token: int
) -> bool:
    """True iff the table already holds this batch's commit marker."""
    return table in tokens_committed(spark, batch_token, table)


def tokens_committed(
    spark: SparkSession, batch_token: int, *tables: str
) -> set[str]:
    """The subset of `tables` that already hold this batch's commit
    marker, probed in ONE job: each table contributes a limit-1 marker
    scan and the branches are unioned with a table tag.  An admission
    round over two state tables pays one job launch instead of two --
    the probes are kilobyte scans whose cost IS the job, not the bytes
    (r10 optimization, guide section 1.2).  Equivalent to per-table
    token_committed calls under the framework's caller contract (no
    concurrent admitters of one prefix)."""
    probe = None
    for i, table in enumerate(tables):
        branch = (
            spark.table(table)
            .filter(F.col("batch_token") == F.lit(batch_token))
            .select(F.lit(i).alias("__t"))
            .limit(1)
        )
        probe = branch if probe is None else probe.unionAll(branch)
    hit = {r["__t"] for r in probe.collect()}
    return {t for i, t in enumerate(tables) if i in hit}


def append_once(
    spark: SparkSession,
    table: str,
    schema: str,
    batch_token: int,
    rows_fn: Callable[[], list[tuple]],
    committed: bool | None = None,
) -> bool:
    """Append rows_fn()'s rows iff the token is absent; returns whether
    the append ran.  rows_fn must include the family's commit-marker row
    (the marker column layout is per-table) and is only evaluated when
    the append is needed, so replays skip the partial computation too.

    Pass `committed` when the caller already probed the marker (e.g. a
    batched tokens_committed over all the round's tables) to skip the
    per-table probe job.  The appended rows are a driver-local bounded
    list (the protocol's invariant), so the write goes through
    _write_state_rows: one parquet file written directly on a local
    table location (r11; no Spark job at all), falling back to a
    single-slice parallelize(rows, 1) Spark write elsewhere.  NOT
    .coalesce(1) in the fallback: on a Python-parallelized local
    relation that plans one task which pulls all 32 pickled slices
    through the Python worker SERIALLY (measured 6-8s per append vs
    0.4-0.6s for a single-slice parallelize) -- r10 optimization."""
    if committed is None:
        committed = token_committed(spark, table, batch_token)
    if committed:
        return False
    _write_state_rows(spark, table, schema, rows_fn(), "append")
    return True


def _one_slice_df(spark: SparkSession, rows: list[tuple], schema: str):
    """A DataFrame over driver-local rows as ONE partition (one write
    task, one output file): parallelize(rows, 1) instead of the default
    defaultParallelism slicing."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def _table_local_path(spark: SparkSession, table: str) -> str | None:
    """The table's storage location as a local filesystem path, or None
    when the location is non-local (s3/hdfs/...) or unresolvable."""
    loc = None
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
        if r["col_name"] == "Location":
            loc = r["data_type"]
            break
    if not loc:
        return None
    if loc.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(loc).path)
    if loc.startswith("/"):
        return loc
    return None


# Spark DDL atom -> pyarrow type factory, for the state-table schemas
# the admission families declare (the protocol's partials are bounded
# rows of exactly these shapes).  Anything else falls back to the
# Spark write path.
_ARROW_ATOMS = {
    "string": "string",
    "bigint": "int64",
    "int": "int32",
    "date": "date32",
}


def _write_state_rows(
    spark: SparkSession,
    table: str,
    schema: str,
    rows: list[tuple],
    mode: str,
) -> None:
    """Persist BOUNDED driver-local state rows (kilobytes by protocol
    invariant) into a managed parquet state table.

    On a local-filesystem table location this writes the single parquet
    file directly (pyarrow) and refreshes the relation cache -- the
    data is already driver-local, so routing it through a Spark write
    ran a full job (launch, task, commit protocol, _SUCCESS) per
    kilobyte append: measured 0.4-0.8s per admission-round append vs
    single-digit ms for the direct file write, times 2 appends per
    admitted batch plus every compaction overwrite.  Readers see the
    identical table: standard snappy parquet read under the catalog
    schema by name, dotfile-hidden while in flight, renamed into
    visibility (same-directory rename, atomic on a local FS -- the
    same visibility discipline as Spark's own commit).  `overwrite`
    deletes the previous data files only after the replacement file is
    fully written, mirroring InsertIntoHadoopFsRelation's
    delete-then-commit window under the compaction caller contract
    (no batches in flight).

    Non-local locations (s3/hdfs) or schema atoms outside the
    framework's state shapes take the original Spark write path."""
    import os
    import uuid

    from pyspark.sql.types import StructType

    path = _table_local_path(spark, table)
    fields = StructType.fromDDL(schema).fields
    atoms = [f.dataType.simpleString() for f in fields]
    if path is None or any(a not in _ARROW_ATOMS for a in atoms):
        _one_slice_df(spark, rows, schema).write.mode(mode).format(
            "parquet"
        ).saveAsTable(table)
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    arrays = [
        pa.array(
            [row[i] for row in rows],
            type=getattr(pa, _ARROW_ATOMS[a])(),
        )
        for i, a in enumerate(atoms)
    ]
    tbl = pa.Table.from_arrays(arrays, names=[f.name for f in fields])
    os.makedirs(path, exist_ok=True)
    fname = f"part-{uuid.uuid4().hex}.snappy.parquet"
    tmp = os.path.join(path, f".{fname}.inprogress")
    pq.write_table(tbl, tmp, compression="snappy")
    if mode == "overwrite":
        for existing in os.listdir(path):
            if not existing.startswith((".", "_")):
                os.remove(os.path.join(path, existing))
    os.rename(tmp, os.path.join(path, fname))
    # saveAsTable refreshed the relation cache implicitly; do the same
    spark.catalog.refreshTable(table)


def ledger_measure(batch_df: DataFrame, weight_col: str | None = None) -> int:
    """The batch's ledger contribution: row count, or (weighted mode)
    the non-negative integer weight mass."""
    if weight_col:
        return int(
            batch_df.agg(F.sum(weight_col).cast("bigint")).collect()[0][0]
            or 0
        )
    return batch_df.count()


def admit_ledger_once(
    spark: SparkSession,
    meta_table: str,
    batch_token: int,
    batch_df: DataFrame,
    weight_col: str | None = None,
    measure: int | None = None,
    committed: bool | None = None,
) -> bool:
    """Append the (n_rows, batch_token) ledger row iff absent.  Pass
    `measure` when the caller already holds the batch's ledger
    contribution (batch_admission_state computes it in the token scan)
    to skip re-scanning the batch, and `committed` when the
    caller already probed the marker (tokens_committed)."""
    return append_once(
        spark,
        meta_table,
        "n_rows long, batch_token long",
        batch_token,
        lambda: [
            (
                measure
                if measure is not None
                else ledger_measure(batch_df, weight_col),
                batch_token,
            )
        ],
        committed=committed,
    )


def read_ledger_total(spark: SparkSession, meta_table: str) -> int:
    """SUM(n_rows) over the ledger -- the admitted stream length (or
    weight mass), the denominator every family's guarantee needs."""
    refresh_state_tables(spark, meta_table)
    n = (
        spark.table(meta_table)
        .agg(F.sum("n_rows").cast("bigint").alias("n"))
        .collect()[0]["n"]
    )
    return int(n or 0)


def compact_index(
    spark: SparkSession,
    table: str,
    schema: str,
    data_col: str,
    fold_fn: Callable[[DataFrame], list[tuple]],
    marker_fn: Callable[[int], tuple],
) -> dict:
    """Fold the append-only partials via the family's fold_fn, preserve
    the distinct batch_token set as marker_fn rows, and overwrite the
    table.  `data_col` is the family's data-discriminator column: rows
    where it is NON-NULL are data partials; commit-marker rows carry it
    NULL (marker_fn builds them).  Only safe when no batches are in
    flight (caller contract).  Returns {rows_before, rows_after}."""
    refresh_state_tables(spark, table)
    t = spark.table(table)

    # rows_before and the distinct marker-token set come from ONE
    # aggregate job (they used to be a count job plus a distinct+collect
    # job over the same kilobyte table -- r10 optimization, guide
    # section 1.2); sorted() keeps the marker-row order deterministic,
    # which .distinct().collect() never guaranteed anyway.
    def _meta_row():
        return t.agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_set("batch_token").alias("toks"),
        ).collect()[0]

    # the meta aggregate and the family's fold are independent reads of
    # the same kilobyte table, so they run concurrently from a driver
    # thread (guide section 2.6) -- the compaction's read wall is
    # max(meta, fold) instead of their sum (r11).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        meta_future = pool.submit(_meta_row)
        data_rows = fold_fn(t.filter(F.col(data_col).isNotNull()))
        meta = meta_future.result()
    rows_before = int(meta["n"])
    tokens = sorted(int(tok) for tok in meta["toks"] if tok is not None)
    rows = data_rows + [marker_fn(tok) for tok in tokens]
    # `rows` is a driver-local list (fold_fn and the token scan already
    # collected), so the overwrite has NO lineage on the table being
    # replaced -- the eager localCheckpoint that used to sit here
    # insured against a dependency that cannot exist, at the cost of a
    # full extra job + cached blocks per compaction (r10 optimization).
    # Single file: the folded state is bounded driver-local rows; one
    # file, written directly (r11: _write_state_rows).
    _write_state_rows(spark, table, schema, rows, "overwrite")
    refresh_state_tables(spark, table)
    return {"rows_before": rows_before, "rows_after": len(rows)}


# -- the table layer: batch-sized count partials (span, LM) ------------
#
# A batch's span gram counts or LM unigram/bigram counts are sized by
# the batch, so they are written by Spark as DataFrames and never
# collected; the direct write above takes only bounded driver rows.


def unledgered(
    spark: SparkSession, batch_df: DataFrame, ledger: str, id_col: str
) -> DataFrame:
    """The batch rows whose id the (doc_id) ledger lacks, pinned by an
    eager localCheckpoint before any append changes what the ledger
    holds."""
    ids = spark.table(ledger).select("doc_id")
    return batch_df.join(
        ids, batch_df[id_col] == ids["doc_id"], "left_anti"
    ).localCheckpoint(eager=True)


def append_state(table: str, frame: DataFrame, token: int | None = None) -> None:
    """Append a batch-sized frame to a state table through
    sinks.bucketing.insert_into, so a bucketed table keeps its catalog
    bucket spec.  With `token`, every row carries it as batch_token --
    the table's commit marker for this batch.  Replay safety is the
    caller's: append only to the tables the probe found without the
    token, and only the docs `unledgered` returns."""
    if token is not None:
        frame = frame.withColumn("batch_token", F.lit(token).cast("long"))
    insert_into(frame, table)


def read_counts(
    spark: SparkSession,
    table: str,
    keys: tuple[str, ...],
    counter: str,
    marker: str,
    alias: str | None = None,
) -> DataFrame:
    """The logical state of an append-only partial-count table: the
    counter summed per key, named `alias` (default: the counter's own
    name), without the commit-marker rows (those whose `marker` column
    is NULL)."""
    return (
        spark.table(table)
        .filter(F.col(marker).isNotNull())
        .groupBy(*keys)
        .agg(F.sum(counter).cast("bigint").alias(alias or counter))
    )


def compact_counts(
    spark: SparkSession,
    table: str,
    keys: tuple[str, ...],
    counter: str,
    marker: str,
) -> tuple[int, int]:
    """Fold a partial-count table to one row per key, Spark-side.  The
    distinct batch_token set MUST survive -- tokens are the commit
    markers that make replayed or crashed batches heal instead of
    double-counting -- so each token is kept as a marker row (keys
    NULL, zero count; read_counts skips it).  The folded frame is
    pinned before the overwrite reads its own table.  Only safe when
    no batches are in flight (caller contract).  Returns (rows before,
    rows after)."""
    refresh_state_tables(spark, table)
    t = spark.table(table)
    rows_before = t.count()
    folded = read_counts(spark, table, keys, counter, marker).withColumn(
        "batch_token", F.lit(None).cast("long")
    )
    markers = (
        t.select("batch_token")
        .filter(F.col("batch_token").isNotNull())
        .distinct()
        .select(
            *[F.lit(None).cast(t.schema[k].dataType).alias(k) for k in keys],
            F.lit(0).cast("long").alias(counter),
            "batch_token",
        )
    )
    compacted = folded.unionByName(markers).localCheckpoint(eager=True)
    insert_into(compacted, table, overwrite=True)
    refresh_state_tables(spark, table)
    return rows_before, compacted.count()


def stream_token(batch_id: int) -> int:
    """A foreachBatch batch id as a batch token.  Batch ids are stable
    across replays of the same offsets; they are offset past the 62-bit
    content-token range so mixed direct and stream use of one prefix
    cannot collide."""
    return (1 << 62) + batch_id


def batch_writer(
    admit: Callable[[DataFrame, int], DataFrame], out_dir: str
) -> Callable[[DataFrame, int], None]:
    """foreachBatch hook: run `admit(batch_df, batch_id)` and write the
    frame it returns to `{out_dir}/batch_id=N` (parquet, overwrite -- a
    replayed batch converges instead of appending duplicates).  Each
    batch then drains the tracked-persist registry; without the drain a
    long-running stream accumulates leaked cached blocks."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        try:
            admit(batch_df, batch_id).write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}"
            )
        finally:
            # the write above has completed (or failed); nothing
            # downstream re-reads the batch's tracked frames
            release_tracked()

    return _apply
