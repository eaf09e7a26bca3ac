"""Misra-Gries heavy hitters with exact verification.

The 100 TB problem: "which keys account for more than 1/(k+1) of all
rows" is, done naively, a full groupBy over EVERY distinct key -- at
billions of users that shuffle is the job.  The sketch path is
Misra-Gries (the canonical mergeable frequent-items summary, cf.
Agarwal et al., "Mergeable Summaries", PODS 2012): each partition keeps
at most k counters and decrements them on overflow, guaranteeing that
every key with local frequency > n_p/(k+1) survives in the summary.
The pigeonhole argument lifts this to the cluster: a key with GLOBAL
frequency > n/(k+1) must exceed the local threshold in at least one
partition (if its count were <= n_p/(k+1) in every partition, the sum
over partitions would be <= n/(k+1)), so the union of per-partition
candidate sets is a SUPERSET of the true heavy hitters.

Exactness is then restored the same way the bloom join restores it
(operators/bloomjoin.py): the tiny candidate set (<= k keys per
partition) is broadcast back, the corpus is semi-join-pruned map-side,
and only candidate keys are exactly recounted -- a shuffle whose key
cardinality is <= k * n_partitions instead of the full distinct-key
space.  The final filter `count * (k+1) > n` makes the output EXACTLY
equal to the full groupBy-HAVING query, independent of partitioning,
batch boundaries, or any Misra-Gries internals -- which is what lets a
DuckDB oracle hash-check it.

Beyond-parity vs the reference (which has no approximate machinery;
its only aggregation is the latest-record window,
steps/ingesters.py:434-449): this is the hot-key *detector* that
feeds the salted-join and skew machinery in operators/skew.py.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["mg_candidates", "mg_summary", "heavy_hitters_exact",
           "mg_summary_by_group"]


def _mg_reduce(state: dict, k: int) -> dict:
    """Trim a weighted counter dict to <= k entries, Misra-Gries style:
    subtract the (k+1)-th largest count from every counter and drop the
    non-positive ones.  This is the weighted/mergeable form of the
    classic decrement step; the total decrement applied to any single
    key over the whole stream is <= n_p/(k+1)."""
    if len(state) <= k:
        return state
    vals = sorted(state.values(), reverse=True)
    sub = vals[k]  # (k+1)-th largest
    return {key: c - sub for key, c in state.items() if c > sub}


def mg_summary(
    df: DataFrame,
    key_cols: Sequence[str],
    k: int,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-partition Misra-Gries summaries over `key_cols`, WITH their
    surviving lower-bound counters: rows (key_cols..., c bigint), up to
    k per partition (so a key may appear once per partition).

    With `weight_col` (non-negative INTEGER weights, e.g. cents or
    token counts) the summary tracks weighted mass instead of row
    frequency -- the SpaceSaving-style generalisation: a key whose
    total weight exceeds W_p/(k+1) of the partition's weight survives,
    by the same amortised-decrement argument (a unit of weight is a
    repeated row).

    The counter is a LOWER bound on the key's local mass, undercounting
    by at most W_p/(k+1); summaries are mergeable (sum per key,
    optionally re-trim with `_mg_reduce`) with errors adding like the
    bound -- the property the streaming admission
    (streaming/summary_admission.py) folds across micro-batches.

    Arrow batches arrive via mapInPandas; each batch is pre-combined
    with a vectorised groupby-sum so the Python-side dict only sees
    (key, weight) pairs, not rows.
    """
    cols = list(key_cols)
    sel = cols + ([weight_col] if weight_col else [])
    keyed = df.select(*sel)
    out_schema = df.select(*cols).withColumn(
        "c", F.lit(0).cast("bigint")
    ).schema

    def summarise(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state: dict[tuple, int] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            if weight_col:
                counts = pdf.groupby(cols, sort=False)[weight_col].sum()
            else:
                counts = pdf.groupby(cols, sort=False).size()
            for key, c in counts.items():
                tup = key if isinstance(key, tuple) else (key,)
                state[tup] = state.get(tup, 0) + int(c)
            state = _mg_reduce(state, k)
        if state:
            out = pd.DataFrame(list(state.keys()), columns=cols)
            out["c"] = list(state.values())
            yield out

    return keyed.mapInPandas(summarise, out_schema)


def mg_candidates(
    df: DataFrame,
    key_cols: Sequence[str],
    k: int,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-partition Misra-Gries candidate keys (schema = key_cols):
    the distinct union of `mg_summary` survivors.

    Guarantee: contains every key whose global frequency (or weighted
    mass) exceeds n/(k+1) -- a key above the global threshold must
    exceed the local threshold n_p/(k+1) in at least one partition
    (pigeonhole), and MG retains every such local key.  May contain
    others (that is what the exact-verify pass is for).  State per task
    is <= k counters; the output is <= k rows per partition regardless
    of input size."""
    return mg_summary(df, key_cols, k, weight_col=weight_col).drop(
        "c"
    ).distinct()


def heavy_hitters_exact(
    df: DataFrame,
    key_cols: Sequence[str],
    k: int,
    weight_col: str | None = None,
) -> DataFrame:
    """Keys with frequency (or, with `weight_col`, total integer
    weight) strictly greater than 1/(k+1) of the grand total, with
    their EXACT counts -- bit-identical to the full groupBy-HAVING
    query, but the only aggregation shuffle is over the Misra-Gries
    candidate sliver (<= k keys per partition) instead of every
    distinct key.

    Output schema: key_cols + n_rows (bigint; the exact weighted mass
    when weight_col is given).  The threshold predicate is integer
    cross-multiplied (`n_rows * (k+1) > n`) so both engines evaluate it
    exactly -- which is why weights must be integers (cents, token
    counts), never raw doubles.
    """
    cols = list(key_cols)
    if weight_col:
        n_total = int(
            df.agg(F.sum(weight_col).cast("bigint")).collect()[0][0] or 0
        )
        measure = F.sum(weight_col).cast("bigint").alias("n_rows")
    else:
        n_total = df.count()
        measure = F.count(F.lit(1)).cast("bigint").alias("n_rows")
    cands = mg_candidates(df, cols, k, weight_col=weight_col)
    return (
        df.join(F.broadcast(cands), cols, "left_semi")
        .groupBy(*cols)
        .agg(measure)
        .filter(F.col("n_rows") * (k + 1) > F.lit(n_total))
    )


def mg_summary_by_group(
    df: DataFrame,
    group_col: str,
    key_cols: Sequence[str],
    k: int,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-partition, PER-GROUP Misra-Gries summaries: one k-bounded
    counter dict per group value seen in the partition, so the
    guarantee is scoped to the group -- a key heavy WITHIN its group
    (> n_group/(k+1), locally) survives that group's summary.  Rows
    (group_col, key_cols..., c bigint), <= k per (partition, group).

    This is the building block of WINDOWED heavy hitters over stored
    per-day summaries: summaries are mergeable per group, and the
    superset guarantee composes across any union of groups (a
    window-heavy key must be day-heavy in at least one day, by
    pigeonhole over the window's days).  State per task is
    <= k x groups-per-partition counters (days, tenants -- small)."""
    cols = list(key_cols)
    sel = [group_col] + cols + ([weight_col] if weight_col else [])
    keyed = df.select(*sel)
    out_schema = df.select(group_col, *cols).withColumn(
        "c", F.lit(0).cast("bigint")
    ).schema

    def summarise(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict[object, dict[tuple, int]] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            if weight_col:
                counts = pdf.groupby([group_col] + cols, sort=False)[
                    weight_col
                ].sum()
            else:
                counts = pdf.groupby([group_col] + cols, sort=False).size()
            touched = set()
            for gk, c in counts.items():
                g, key = gk[0], tuple(gk[1:])
                st = states.setdefault(g, {})
                st[key] = st.get(key, 0) + int(c)
                touched.add(g)
            for g in touched:
                states[g] = _mg_reduce(states[g], k)
        rows = []
        for g, st in states.items():
            for key, c in st.items():
                rows.append((g, *key, c))
        if rows:
            yield pd.DataFrame(
                rows, columns=[group_col] + cols + ["c"]
            )

    return keyed.mapInPandas(summarise, out_schema)
