"""Mergeable-summary admission: ONE replay-safe round for every family
whose per-batch state is a bounded partial that merges by per-cell
addition -- Misra-Gries heavy-hitter candidates (MG), Count-Min cells
(CMS) and per-day quantile-histogram bins (HIST).  This is the
mergeable-summary protocol of Agarwal et al., "Mergeable Summaries"
(PODS 2012) written once; a family is a SummarySpec constant, not a
module.  Cross-batch state is two catalog tables --

  {prefix}_{suffix}  (cells..., counter, batch_token) per-batch partials,
                     one append per admitted batch (the bounded partial
                     plus one commit-marker row whose cells are NULL).
                     The LOGICAL state is SUM(counter) per cell
                     (read_state).
  {prefix}_meta      (n_rows long, batch_token long) per-batch row count
                     or weight mass; SUM(n_rows) is the stream length the
                     family's guarantee needs, and the replay ledger.

Replay idempotence + crash atomicity come from the shared shell in
admission.py: the deterministic batch_token (foreachBatch batch_id, else
the content hash of the batch's id set) is a per-table commit marker,
appends run data -> meta, and on replay each table is appended only if
it lacks the token, so every crash window heals without double-counting:

  crash before any append -> replays as a fresh batch
  crash after data only   -> replay appends only the ledger row
  crash after both        -> replay is a no-op

Per family:

  MG    the partial is mg_summary's per-partition candidates; folding
        sums per key and re-trims to k with the MG merge rule (subtract
        the (k+1)-th largest counter).  Trimming a merged summary is
        itself a valid merge, so a key with TRUE stream frequency >
        n/(k+1) always survives with a positive lower-bound counter.
        heavy_hitters_from_state recounts only the candidates over the
        archived corpus for the EXACT answer.
  CMS   the partial is cms_sketch's <= d*w cells; cell addition is an
        algebra, so the folded state equals a one-shot sketch of every
        admitted row (append == rebuild, bit-exact).
  HIST  the partial is daily_histogram's <= n_bins rows per batch day;
        the folded state equals a one-shot daily histogram, and
        quantile_bins_from_state walks the merged bins for any rank.

Each batch contributes kilobytes of state and the stream is never
re-read.  Certified end to end by the {mg,cms}_admission_{streaming,
weighted}_certificate and quantile_admission_streaming_certificate
registry entries (admit, replay, compact mid-sequence, verify against a
one-shot oracle).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.heavyhitters import _mg_reduce
from .admission import (
    admit_ledger_once,
    append_once,
    compact_index,
    init_state_tables,
    probe_with_summary,
    read_counts,
    read_ledger_total,
    refresh_state_tables,
)

__all__ = [
    "SummarySpec",
    "MG",
    "CMS",
    "HIST",
    "init",
    "admit",
    "read_state",
    "compact",
    "heavy_hitters_from_state",
    "quantile_bins_from_state",
]


@dataclass(frozen=True)
class SummarySpec:
    """A family's state layout.  `schema` is the data table's DDL:
    the `cells` key columns, the additive `counter`, then batch_token.
    `marker` is the column that is NULL exactly on commit-marker rows;
    read_state names the summed counter `alias`.  `trim`, when set,
    re-trims a folded {cell tuple: counter} dict to <= k entries."""

    suffix: str
    schema: str
    cells: tuple[str, ...]
    counter: str
    marker: str
    alias: str
    trim: Callable[[dict, int], dict] | None = None


MG = SummarySpec(
    "mg", "key string, c long, batch_token long",
    ("key",), "c", "key", "c_lower", _mg_reduce,
)
CMS = SummarySpec(
    "cms", "row int, col long, c long, batch_token long",
    ("row", "col"), "c", "row", "c",
)
HIST = SummarySpec(
    "hist", "day date, bin long, n long, batch_token long",
    ("day", "bin"), "n", "bin", "n",
)


def _tables(spec: SummarySpec, prefix: str) -> tuple[str, str]:
    return f"{prefix}_{spec.suffix}", f"{prefix}_meta"


def _fold(
    spec: SummarySpec, rows: list, k: int | None, token: int | None
) -> list[tuple]:
    """Sum `rows`' counters per cell tuple, re-trim to k when the family
    has a trim rule, and lay the cells out as data-table rows."""
    state: dict[tuple, int] = {}
    for r in rows:
        cell = tuple(r[c] for c in spec.cells)
        state[cell] = state.get(cell, 0) + int(r[spec.counter])
    if spec.trim is not None and k is not None:
        state = spec.trim(state, k)
    return [cell + (c, token) for cell, c in state.items()]


def _marker(spec: SummarySpec, token: int) -> tuple:
    return (None,) * len(spec.cells) + (0, token)


def init(spark: SparkSession, spec: SummarySpec, prefix: str) -> None:
    """Create the (empty) partial table and batch ledger.  Idempotent
    across sessions sharing a warehouse dir."""
    data, meta = _tables(spec, prefix)
    init_state_tables(
        spark, {data: spec.schema, meta: "n_rows long, batch_token long"}
    )


def admit(
    spark: SparkSession,
    spec: SummarySpec,
    batch_df: DataFrame,
    prefix: str,
    summary: Callable[[], DataFrame],
    *,
    id_col: str,
    batch_token: int | None = None,
    weight_col: str | None = None,
    k: int | None = None,
) -> int:
    """One admission round: fold the batch's bounded partial into the
    stored state, append-only, commit-marked and replay-safe.  Returns
    the batch_token used.  `summary` builds the family's lazy partial of
    `batch_df` (mg_summary, cms_sketch or daily_histogram); it is called
    on the summary thread because building the DataFrame already plans
    it (measured 30-200 ms per build at sf0.1), and that belongs in the
    overlap with the probe, not before it.

    With `weight_col` (non-negative integer weights, which the partial
    must also sum) the ledger tracks weight mass; a prefix must use one
    mode consistently.  `k` is the MG re-trim bound.

    The probe (replay token + ledger measure + marker sets, one job)
    and the partial's build + collect run concurrently
    (probe_with_summary); the appends run strictly after both, data
    table before ledger -- the order the crash-window guarantee needs."""
    data, meta = _tables(spec, prefix)
    refresh_state_tables(spark, data, meta)
    token, measure, done, parts = probe_with_summary(
        spark, batch_df, id_col, weight_col, (data, meta),
        lambda: summary().collect(), batch_token,
    )
    append_once(
        spark, data, spec.schema, token,
        lambda: _fold(spec, parts, k, token) + [_marker(spec, token)],
        committed=data in done,
    )
    admit_ledger_once(
        spark, meta, token, batch_df, weight_col=weight_col,
        measure=measure, committed=meta in done,
    )
    refresh_state_tables(spark, data, meta)
    return token


def read_state(
    spark: SparkSession, spec: SummarySpec, prefix: str
) -> tuple[DataFrame, int]:
    """Logical state: (cells..., alias) summed per cell with the marker
    rows excluded, and the ledger total.  For MG the rows are a
    superset of every key with stream frequency > n_total/(k+1) and
    `c_lower` is the folded lower-bound counter; for CMS and HIST the
    rows equal a one-shot sketch / daily histogram of every admitted
    row."""
    data, meta = _tables(spec, prefix)
    refresh_state_tables(spark, data)
    state = read_counts(
        spark, data, spec.cells, spec.counter, spec.marker, spec.alias
    )
    return state, read_ledger_total(spark, meta)


def compact(
    spark: SparkSession,
    spec: SummarySpec,
    prefix: str,
    k: int | None = None,
) -> dict:
    """Fold the append-only partials to one row per cell (MG: re-trimmed
    to <= k rows when `k` is given -- a valid merge, so the superset
    guarantee survives).  The distinct batch_token set is preserved as
    marker rows so replayed batches still heal.  Only safe when no
    batches are in flight (caller contract).  Returns
    {rows_before, rows_after}."""

    def _fold_table(rows: DataFrame) -> list[tuple]:
        folded = (
            rows.groupBy(*spec.cells)
            .agg(F.sum(spec.counter).cast("bigint").alias(spec.counter))
            .collect()
        )
        return _fold(spec, folded, k, None)

    return compact_index(
        spark,
        _tables(spec, prefix)[0],
        spec.schema,
        spec.marker,
        _fold_table,
        lambda tok: _marker(spec, tok),
    )


def heavy_hitters_from_state(
    spark: SparkSession,
    corpus_df: DataFrame,
    prefix: str,
    key_expr,
    k: int,
    weight_expr=None,
    return_total: bool = False,
):
    """EXACT heavy hitters of the accumulated MG stream, verified off
    the candidate state: broadcast the stored candidates, recount only
    them over the archived corpus, filter by the ledger's total.
    `key_expr` must reproduce the admitted key from a corpus row; pass
    `weight_expr` iff the prefix was admitted with a weight_col.

    Raises if the ledger total disagrees with the corpus total (row
    count, or weight sum in weighted mode) -- the invariant that the
    archive and the admission ledger describe the same stream.

    With `return_total` the verified total comes back alongside the
    DataFrame as (df, n_total), so callers that need the denominator
    skip a second ledger read (and, weighted, a second corpus scan).

    The kilobyte ledger read and the corpus count are independent jobs,
    so they run concurrently from a driver thread (guide section 2.6):
    the verify's read wall is max(corpus scan, ledger read)."""
    from concurrent.futures import ThreadPoolExecutor

    def _corpus_total() -> int:
        if weight_expr is not None:
            return int(
                corpus_df.agg(
                    F.sum(weight_expr).cast("bigint")
                ).collect()[0][0]
                or 0
            )
        return corpus_df.count()

    with ThreadPoolExecutor(max_workers=1) as pool:
        corpus_future = pool.submit(_corpus_total)
        cands, n_total = read_state(spark, MG, prefix)
        n_corpus = corpus_future.result()
    if n_corpus != n_total:
        raise AssertionError(
            f"ledger/corpus divergence: meta n={n_total}, corpus={n_corpus}"
        )
    if weight_expr is not None:
        keyed = corpus_df.select(
            key_expr.alias("key"), weight_expr.alias("__w")
        )
        measure = F.sum("__w").cast("bigint").alias("n_rows")
    else:
        keyed = corpus_df.select(key_expr.alias("key"))
        measure = F.count(F.lit(1)).cast("bigint").alias("n_rows")
    heavy = (
        keyed.join(F.broadcast(cands.select("key")), "key", "left_semi")
        .groupBy("key")
        .agg(measure)
        .filter(F.col("n_rows") * (k + 1) > F.lit(n_total))
    )
    return (heavy, n_total) if return_total else heavy


def quantile_bins_from_state(
    spark: SparkSession, prefix: str, quantiles: list[float]
) -> tuple[list[tuple[int, int]], int, dict[float, int]]:
    """Merged HIST bins, total mass, and for each requested quantile the
    bin its rank falls in (histsketch.bin_for_rank) -- the stored-state
    quantile read path.  Raises if the ledger total disagrees with the
    histogram mass (the invariant that every admitted row landed in
    exactly one bin)."""
    from math import ceil

    from ..operators.histsketch import bin_for_rank

    daily, n_total = read_state(spark, HIST, prefix)
    merged = daily.groupBy("bin").agg(F.sum("n").cast("bigint").alias("n"))
    bins = [(int(r["bin"]), int(r["n"])) for r in merged.collect()]
    mass = sum(c for _, c in bins)
    if mass != n_total:
        raise AssertionError(
            f"ledger/histogram divergence: meta n={n_total}, mass={mass}"
        )
    picks = {q: bin_for_rank(bins, ceil(q * mass)) for q in quantiles}
    return bins, mass, picks
