"""Deduplication operators for large-scale text corpora.

Four families, each with a different scale/precision trade-off:

  exact        hash-groupBy on content (or content hash at scale)
  ngram        exact jaccard over k-word shingles -- O(n^2), ground truth
  minhash+LSH  signature + banding: near-dup candidates in O(n), verified
  simhash      64-bit fingerprints, hamming-banded candidates in O(n)

The LSH family is the 100 TB path: only same-bucket pairs are compared, so
the all-pairs blow-up never materialises.  Parameters (b bands x r rows)
set the similarity threshold s ~= (1/b)^(1/r); defaults (16x4, s~=0.5)
keep recall at j>=0.9 effectively perfect (P[miss] = (1-0.9^4)^16 ~= 4e-8)
while a band only fires on random pairs (j~0.1) with p ~= 1e-4 -- the
false-candidate rate, not recall, is what dominates wall-clock, because
every candidate pays an exact-jaccard verification.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from ..caching import tracked_persist
from ..partitioning import fan_out
from ..functions.text import jaccard, word_shingles

# fixed 61-bit Mersenne prime universe for the affine permutations
_MERSENNE = (1 << 61) - 1
_N_HASHES = 64
_SEED = 0x5EED_CAFE


def _permutation_params(n_hashes: int = _N_HASHES, seed: int = _SEED):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=n_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, _MERSENNE, size=n_hashes, dtype=np.int64).astype(np.uint64)
    return a, b


def _shingle_hash64(shingle: str) -> int:
    """Stable 64-bit content hash (blake2b truncation; python hash() is
    process-seeded and unusable across executors)."""
    return struct.unpack(
        "<Q", hashlib.blake2b(shingle.encode("utf-8"), digest_size=8).digest()
    )[0]


def minhash_signatures(
    df: DataFrame,
    shingles_col: str = "shingles",
    out_col: str = "signature",
    n_hashes: int = _N_HASHES,
    seed: int = _SEED,
) -> DataFrame:
    """Attach a minhash signature (array<bigint> of length n_hashes) per row.

    Vectorised per Arrow batch: the (n_hashes x n_shingles) permutation
    matrix is reduced with a single numpy min -- no per-shingle Python.
    """
    a, b = _permutation_params(n_hashes, seed)

    @pandas_udf(ArrayType(LongType()))
    def _sign(shingle_lists: pd.Series) -> pd.Series:
        out: list = []
        lists = shingle_lists.tolist()
        # chunked so the (n_hashes x total_shingles) matrix stays ~tens of MB
        chunk_docs = 512
        for start in range(0, len(lists), chunk_docs):
            chunk = lists[start : start + chunk_docs]
            # elements arrive as numpy arrays (Arrow); len()/is-None only
            lens = np.fromiter(
                (0 if lst is None else len(lst) for lst in chunk),
                dtype=np.int64,
                count=len(chunk),
            )
            sigs = np.zeros((len(chunk), n_hashes), dtype=np.int64)
            if int(lens.sum()):
                flat = np.concatenate(
                    [
                        np.asarray(lst, dtype=object)
                        for lst in chunk
                        if lst is not None and len(lst)
                    ]
                )
                # pandas hash_array: vectorised C siphash with a fixed key,
                # deterministic across workers (per-shingle blake2b in a
                # Python loop was the profile's hot spot)
                x = pd.util.hash_array(flat) % _MERSENNE
                # affine permutations in the 61-bit Mersenne field; uint64
                # overflow-safe because operands are reduced mod 2^61-1
                vals = (a[:, None] * x[None, :] + b[:, None]) % _MERSENNE
                # per-doc min via ONE segmented reduction over the row-start
                # offsets instead of a per-doc .min() call (r11, guide 4.2
                # -- vectorise ACROSS rows; same pattern as the multimodal
                # stats).  Empty docs stay all-zero, exactly the old
                # per-row else-branch.
                starts = np.zeros(len(chunk) + 1, dtype=np.int64)
                np.cumsum(lens, out=starts[1:])
                nz = np.flatnonzero(lens)
                sigs[nz] = np.minimum.reduceat(
                    vals, starts[nz], axis=1
                ).T.astype(np.int64)
            out.extend(sigs)
        return pd.Series(out)

    return df.withColumn(out_col, _sign(F.col(shingles_col)))


def lsh_band_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    signature_col: str = "signature",
    bands: int = 16,
    rows: int = 4,
) -> DataFrame:
    """Explode each signature into (band_id, band_hash) bucket keys.
    JVM-side: slice + xxhash64, one output row per band."""
    band_ids = F.sequence(F.lit(0), F.lit(bands - 1))
    df = df.select(id_col, signature_col).withColumn("band_id", F.explode(band_ids))
    band_slice = F.slice(
        F.col(signature_col), F.col("band_id") * rows + 1, rows
    )
    return df.select(
        id_col,
        "band_id",
        F.xxhash64(F.concat_ws(",", band_slice.cast("array<string>"))).alias(
            "band_hash"
        ),
    )


def lsh_candidate_pairs(
    buckets: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct same-bucket id pairs (a < b).

    Scale notes: the self-join shuffles on (band_id, band_hash), so only
    genuinely colliding rows meet; AQE skew handling splits a hot bucket's
    SHUFFLE PARTITION, but the candidate-pair OUTPUT still grows O(f^2)
    inside one bucket of f members (boilerplate-heavy corpora at 100 TB).

    `max_bucket_size` bounds that blow-up: a bucket with f > cap members
    emits STAR pairs (bucket-min id -> each other member, f-1 pairs)
    instead of all f(f-1)/2.  Members of an oversized band bucket agree
    on r consecutive minhash values -- near-certain duplicates of each
    other -- so for dedup/clustering consumers the star preserves exactly
    what matters: every member stays connected to the bucket (downstream
    connected-components closes the cluster transitively), and every
    emitted pair still passes exact-jaccard verification.  What is given
    up is the exhaustive DIRECT pair listing within hot buckets; a
    consumer that needs all pairs leaves the cap at None (the default,
    bit-identical to the uncapped plan)."""
    left = buckets.select(
        F.col(id_col).alias("a"), "band_id", "band_hash"
    )
    right = buckets.select(
        F.col(id_col).alias("b"), "band_id", "band_hash"
    )
    if max_bucket_size is None:
        return (
            left.join(right, ["band_id", "band_hash"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )
    from pyspark.sql import Window

    # one window pass annotates size + representative (min id) per
    # bucket; the exchange it introduces is on the same (band_id,
    # band_hash) keys the self-join needs, so the shuffle is shared
    w = Window.partitionBy("band_id", "band_hash")
    annotated = (
        buckets.select(F.col(id_col).alias("a"), "band_id", "band_hash")
        .withColumn("__f", F.count(F.lit(1)).over(w))
        .withColumn("__rep", F.min("a").over(w))
    )
    small = annotated.filter(F.col("__f") <= max_bucket_size)
    small_pairs = (
        small.select("a", "band_id", "band_hash")
        .join(
            small.select(F.col("a").alias("b"), "band_id", "band_hash"),
            ["band_id", "band_hash"],
        )
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    # rep is the bucket MINIMUM, so (rep, member) is already ordered
    star_pairs = annotated.filter(
        (F.col("__f") > max_bucket_size) & (F.col("a") != F.col("__rep"))
    ).select(F.col("__rep").alias("a"), F.col("a").alias("b"))
    return small_pairs.unionByName(star_pairs).distinct()


def verify_pairs_jaccard(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    shingles_col: str = "shingles",
    threshold: float = 0.9,
) -> DataFrame:
    """Join candidate pairs back to shingle sets and keep exact jaccard >=
    threshold.  Output: (a, b, jaccard_sim)."""
    sh = docs.select(F.col(id_col), F.col(shingles_col))
    a = sh.select(F.col(id_col).alias("a"), F.col(shingles_col).alias("sh_a"))
    b = sh.select(F.col(id_col).alias("b"), F.col(shingles_col).alias("sh_b"))
    return (
        pairs.join(a, "a")
        .join(b, "b")
        .select("a", "b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= threshold)
    )


def near_dup_pairs_minhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    k: int = 3,
    bands: int = 16,
    rows: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full minhash+LSH near-duplicate pipeline: shingle -> sign -> band ->
    bucket-join -> verify.  Returns (a, b, jaccard_sim) pairs.

    `max_bucket_size` caps the per-bucket candidate blow-up for
    boilerplate-heavy corpora (see lsh_candidate_pairs): oversized
    buckets emit star pairs, preserving cluster connectivity while
    bounding output at f-1 per bucket instead of f^2/2."""
    # shingling + signatures are CPU-bound per row: spread them over every
    # core regardless of how few input splits the corpus arrived in
    docs = fan_out(docs)
    # the shingled frame feeds BOTH the signature branch and the final
    # jaccard verification join; persist it so the shingle arrays are
    # computed (and Arrow-serialised) once, not once per consumer -- the
    # same multi-use-intermediate discipline as the reference's
    # persist(DISK_ONLY) snapshot (steps/ingesters.py:326).  Tracked so
    # harnesses can free the blocks once the caller's action completes
    # (the operator returns lazily and cannot unpersist itself).
    with_shingles = tracked_persist(
        docs.select(
            F.col(id_col), word_shingles(F.col(text_col), k).alias("shingles")
        )
    )
    # persist the SIGNATURES too, not just the shingles: the bucket
    # self-join below executes its left and right side independently, so
    # an unpersisted signature frame pays the (dominant) minhash pandas
    # UDF once per side -- the r10 before-plan shows two ArrowEvalPython
    # nodes for one logical signing.  (id, signature) rows are 8 + 8*64
    # bytes regardless of document size, far smaller than the shingle
    # cache that was already accepted.  Plan after: one ArrowEvalPython
    # under an InMemoryRelation both join sides scan.
    signed = tracked_persist(
        minhash_signatures(with_shingles).select(F.col(id_col), "signature")
    )
    buckets = lsh_band_buckets(signed, id_col=id_col, bands=bands, rows=rows)
    candidates = lsh_candidate_pairs(
        buckets, id_col=id_col, max_bucket_size=max_bucket_size
    )
    return verify_pairs_jaccard(
        candidates, with_shingles, id_col=id_col, threshold=threshold
    )


def near_dup_pairs_minhash_incremental(
    corpus: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    k: int = 3,
    bands: int = 16,
    rows: int = 4,
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus: (a, b, jaccard_sim)
    pairs where at least one side is a delta doc -- delta-vs-corpus and
    delta-vs-delta, never corpus-vs-corpus.

    This is the daily-cadence shape (the reference ingests daily deltas
    against a 10 TB snapshot): re-running the full self-join to admit a
    1% delta re-pays the corpus-squared candidate work, while here
    candidate generation joins DELTA band buckets against the union's
    buckets, so candidate volume scales with |delta|, not |corpus|.

    Scale notes: the delta bucket side is tiny relative to the corpus --
    left un-hinted so AQE broadcasts it and the corpus bucket stream
    never shuffles.  At steady state the corpus signatures/buckets are
    a one-time build (materialise them with sinks.bucketing bucketed by
    (band_id, band_hash) and appends become exchange-free on the corpus
    side); they are recomputed here because the registry query is
    self-contained.  Recall math is identical to near_dup_pairs_minhash
    (same bands x rows)."""
    shingled = lambda df: tracked_persist(  # noqa: E731
        fan_out(df).select(
            F.col(id_col), word_shingles(F.col(text_col), k).alias("shingles")
        )
    )
    corpus_sh, delta_sh = shingled(corpus), shingled(delta)
    all_sh = corpus_sh.unionByName(delta_sh)
    # sign each side ONCE: the delta's signatures feed both the delta
    # bucket frame and the union bucket frame, and signing a union is
    # row-wise identical to unioning the signed sides -- so persist the
    # (small) delta signatures and build the union's buckets from
    # signed frames instead of re-running the signature UDF over the
    # delta inside buckets(all_sh) (r10 optimization; the corpus side
    # is signed once either way and is NOT cached -- single consumer).
    sign = lambda sh: minhash_signatures(sh).select(  # noqa: E731
        F.col(id_col), "signature"
    )
    delta_signed = tracked_persist(sign(delta_sh))
    union_signed = sign(corpus_sh).unionByName(delta_signed)
    delta_buckets = lsh_band_buckets(
        delta_signed, id_col=id_col, bands=bands, rows=rows
    ).select(F.col(id_col).alias("d"), "band_id", "band_hash")
    union_buckets = lsh_band_buckets(
        union_signed, id_col=id_col, bands=bands, rows=rows
    ).select(F.col(id_col).alias("o"), "band_id", "band_hash")
    candidates = (
        union_buckets.join(delta_buckets, ["band_id", "band_hash"])
        .filter(F.col("d") != F.col("o"))
        .select(
            F.least("d", "o").alias("a"), F.greatest("d", "o").alias("b")
        )
        .distinct()
    )
    return verify_pairs_jaccard(
        candidates, all_sh, id_col=id_col, threshold=threshold
    )


def materialize_minhash_index(
    spark,
    docs: DataFrame,
    prefix: str,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    bands: int = 16,
    rows: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """Persist the corpus side of incremental dedup as catalog tables:
    `{prefix}_shingles` (doc_id, shingles -- the verification side) and
    `{prefix}_buckets` (doc_id, band_id, band_hash) BUCKETED BY the band
    keys, so admitting a delta pays zero recomputation over the corpus:
    candidates join the delta's buckets against a pre-shuffled layout
    (exchange only on the delta side at worst; broadcast of the delta at
    best) and verification reads stored shingle arrays.

    This is the bm25 materialize_search_index trade applied to dedup:
    the corpus-sized shingle+signature+banding cost moves to a one-time
    index build; daily admission cost scales with the delta."""
    from ..sinks.bucketing import _clear_orphan_location, write_bucketed

    sh = fan_out(docs).select(
        F.col(id_col), word_shingles(F.col(text_col), k).alias("shingles")
    )
    _clear_orphan_location(spark, f"{prefix}_shingles")
    sh.write.mode("overwrite").saveAsTable(f"{prefix}_shingles")
    stored = spark.table(f"{prefix}_shingles")
    buckets = lsh_band_buckets(
        minhash_signatures(stored), id_col=id_col, bands=bands, rows=rows
    )
    write_bucketed(buckets, f"{prefix}_buckets", ["band_id", "band_hash"], n_buckets)
    # pin the minhash parameters ON the table: the append/query paths read
    # them back, so a caller can never silently mix k/bands/rows with an
    # index built differently (mismatched params destroy recall, not error)
    spark.sql(
        f"ALTER TABLE {prefix}_buckets SET TBLPROPERTIES ("
        f"'minhash.k'='{k}', 'minhash.bands'='{bands}', "
        f"'minhash.rows'='{rows}')"
    )
    return stored, spark.table(f"{prefix}_buckets")


_MINHASH_DEFAULTS = {"k": 3, "bands": 16, "rows": 4}


def index_params(
    spark, prefix: str, k: int | None, bands: int | None, rows: int | None
) -> tuple[int, int, int]:
    """Resolve (k, bands, rows) for an existing index: table properties
    written at materialize time are authoritative; explicit caller
    values that disagree raise instead of silently destroying recall.
    Pre-properties tables (or external catalogs that drop them) fall
    back to the module defaults.  The bucket spec needs no resolving:
    appends take it from the catalog (sinks.bucketing.insert_into)."""
    props: dict[str, str] = {}
    try:
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {prefix}_buckets").collect()
        }
    except Exception:
        pass
    resolved = []
    for name, given in (("k", k), ("bands", bands), ("rows", rows)):
        if "minhash.k" not in props:
            resolved.append(given if given is not None else _MINHASH_DEFAULTS[name])
            continue
        stored = int(props[f"minhash.{name}"])
        if given is not None and given != stored:
            raise ValueError(
                f"minhash index {prefix!r} was built with {name}="
                f"{stored}, caller passed {name}={given}; "
                "mismatched parameters silently destroy recall"
            )
        resolved.append(stored)
    return tuple(resolved)


def append_to_minhash_index(
    spark,
    docs: DataFrame,
    prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    bands: int | None = None,
    rows: int | None = None,
) -> None:
    """Admit new docs into a materialised minhash index: append their
    shingle rows and band-bucket rows to the existing tables.  The
    minhash parameters come from the index's OWN table properties (see
    index_params; explicit mismatching arguments raise) and the bucket
    spec from the catalog (insert_into), so new files land bucketed
    identically and later candidate joins keep the delta-side-only
    exchange.  A missing index raises before anything is written.
    Caller is responsible for having deduped `docs` first (admission
    order: check, then append).

    The buckets land first and a doc's shingles row marks it indexed
    (streaming/dedup_admission.py reads that table), so a crash between
    the two appends leaves bucket rows without shingles: the replay sees
    the doc as fresh again, and its bucket append skips docs that
    already have bucket rows."""
    from ..sinks.bucketing import insert_into

    k, bands, rows = index_params(spark, prefix, k, bands, rows)
    sh = fan_out(docs).select(
        F.col(id_col), word_shingles(F.col(text_col), k).alias("shingles")
    )
    # buckets derive from the delta's own shingles (recomputing from the
    # table would re-shingle the whole corpus)
    buckets = lsh_band_buckets(
        minhash_signatures(sh), id_col=id_col, bands=bands, rows=rows
    )
    # the delta's ids that already have bucket rows: a scan of the id
    # column probing a broadcast of the batch's ids, so the corpus side
    # is never shuffled
    bucketed = (
        spark.table(f"{prefix}_buckets")
        .select(id_col)
        .join(F.broadcast(docs.select(id_col)), id_col, "left_semi")
    )
    insert_into(
        buckets.join(F.broadcast(bucketed), id_col, "left_anti"),
        f"{prefix}_buckets",
    )
    insert_into(sh, f"{prefix}_shingles")


def near_dup_pairs_against_index(
    spark,
    delta: DataFrame,
    prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    k: int | None = None,
    bands: int | None = None,
    rows: int | None = None,
) -> DataFrame:
    """Incremental near-dup pairs against a materialised corpus index
    (see materialize_minhash_index): only the DELTA is shingled/signed in
    flight; corpus buckets and shingles come off the stored tables.
    Output matches near_dup_pairs_minhash_incremental bit-for-bit.
    Minhash parameters resolve from the index's table properties;
    explicit mismatching arguments raise (see index_params)."""
    k, bands, rows = index_params(spark, prefix, k, bands, rows)
    delta_sh = tracked_persist(
        fan_out(delta).select(
            F.col(id_col), word_shingles(F.col(text_col), k).alias("shingles")
        )
    )
    delta_buckets = tracked_persist(
        lsh_band_buckets(
            minhash_signatures(delta_sh), id_col=id_col, bands=bands, rows=rows
        )
    )
    corpus_buckets = spark.table(f"{prefix}_buckets")
    cross = (
        corpus_buckets.select(
            F.col(id_col).alias("o"), "band_id", "band_hash"
        )
        .join(
            delta_buckets.select(
                F.col(id_col).alias("d"), "band_id", "band_hash"
            ),
            ["band_id", "band_hash"],
        )
        .filter(F.col("d") != F.col("o"))
        .select(F.least("d", "o").alias("a"), F.greatest("d", "o").alias("b"))
    )
    within = lsh_candidate_pairs(delta_buckets, id_col=id_col)
    candidates = cross.unionByName(within).distinct()
    all_sh = spark.table(f"{prefix}_shingles").unionByName(delta_sh)
    return verify_pairs_jaccard(
        candidates, all_sh, id_col=id_col, threshold=threshold
    )


def near_dup_pairs_exact(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    k: int = 3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact shingle-jaccard pairs via an inverted index: explode shingles,
    self-join on the shingle, count co-occurrences c per pair, then
    jaccard = c / (|A| + |B| - c).  Only pairs sharing at least one shingle
    are ever materialised -- measured ~100x faster than the naive cross
    join at sf0.1 (3s vs 326s) with bit-identical output (all-integer
    counts, one final double division).

    Scale notes: the join shuffles on the shingle value; a boilerplate
    shingle appearing in f docs contributes f^2 candidate pairs on one
    shuffle key.  `max_shingle_freq` bounds that hot key at cap^2 by
    dropping over-frequent shingles from the universe ENTIRELY --
    similarity becomes jaccard over each document's *distinctive*
    shingles (sizes shrink with the index), which is usually the better
    dedup signal anyway: two distinct docs drowning in shared template
    text stop looking similar, while true near-dups still share nearly
    all distinctive shingles.  None = exact jaccard over all shingles;
    very large corpora should switch to near_dup_pairs_minhash."""
    docs = fan_out(docs)
    sh = docs.select(
        F.col(id_col).alias("a"), word_shingles(F.col(text_col), k).alias("sh")
    )
    inv = sh.select("a", F.explode("sh").alias("shingle"))
    if max_shingle_freq is not None:
        keep = (
            inv.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__f"))
            .filter(F.col("__f") <= max_shingle_freq)
            .select("shingle")
        )
        inv = inv.join(keep, "shingle")
        # sizes over the kept universe: jaccard stays internally
        # consistent (c <= n_a, n_b always)
        sizes = inv.groupBy("a").agg(F.count(F.lit(1)).alias("n"))
    else:
        sizes = sh.select(F.col("a"), F.size("sh").alias("n"))
    co = (
        inv.join(inv.select(F.col("a").alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        co.join(sizes, "a")
        .join(sizes.select(F.col("a").alias("b"), F.col("n").alias("n_b")), "b")
        .select(
            "a",
            "b",
            (
                F.col("c").cast("double")
                / (F.col("n") + F.col("n_b") - F.col("c"))
            ).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

# Worker-level cache of token -> blake2b hash: real corpora reuse a small
# vocabulary across millions of token instances, so each worker pays the
# (Python) blake2b cost once per distinct token, not once per instance.
_TOKEN_HASH_CACHE: dict = {}
_TOKEN_HASH_CACHE_MAX = 1_000_000


def _hash_token_cached(tok: str) -> int:
    h = _TOKEN_HASH_CACHE.get(tok)
    if h is None:
        if len(_TOKEN_HASH_CACHE) >= _TOKEN_HASH_CACHE_MAX:
            _TOKEN_HASH_CACHE.clear()
        h = _shingle_hash64(tok)
        _TOKEN_HASH_CACHE[tok] = h
    return h


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "simhash",
) -> DataFrame:
    """64-bit simhash over tokens: sum +/-1 per bit across token hashes,
    take signs.  Returned as signed bigint.

    Vectorised per Arrow batch: tokens are factorized (C-level), only the
    batch's DISTINCT tokens are blake2b-hashed (cached per worker), the
    64 bit columns are expanded once per distinct token, and the per-doc
    +/-1 sums are one segmented reduction -- no per-token numpy ops, same
    signatures as the scalar blake2b reference (pinned by pytest)."""

    @pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        n_docs = len(texts)
        if n_docs == 0:
            return pd.Series([], dtype="int64")
        tok_lists = [(t or "").lower().split(" ") for t in texts]
        lengths = np.fromiter(
            (len(tl) for tl in tok_lists), dtype=np.int64, count=n_docs
        )
        flat = np.asarray(
            [t for tl in tok_lists for t in tl], dtype=object
        )
        codes, uniques = pd.factorize(flat)
        uh = np.fromiter(
            (_hash_token_cached(t) for t in uniques),
            dtype=np.uint64,
            count=len(uniques),
        )
        inst = uh[codes]  # one uint64 per token instance
        doc_idx = np.repeat(np.arange(n_docs), lengths)
        # per-doc set-bit counts, one C-level bincount per bit position --
        # never materialises an instances x 64 matrix; +/-1 sums follow as
        # acc = 2*count_set - n_tokens
        acc = np.empty((n_docs, 64), dtype=np.int64)
        for b in range(64):
            bit = ((inst >> np.uint64(b)) & np.uint64(1)).astype(np.float64)
            acc[:, b] = np.bincount(doc_idx, weights=bit, minlength=n_docs).astype(
                np.int64
            )
        acc = 2 * acc - lengths[:, None]
        shifts = np.arange(64, dtype=np.uint64)
        sig = ((acc > 0).astype(np.uint64) << shifts[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        return pd.Series(sig.astype(np.int64), dtype="int64")

    return docs.select(F.col(id_col), F.col(text_col)).withColumn(
        out_col, _simhash(F.col(text_col))
    )


def simhash_pairs_from_signatures(
    signed: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 3,
    chunks: int = 4,
    sig_bits: int = 64,
) -> DataFrame:
    """Hamming-banded pair extraction over a signature table: split the
    `sig_bits`-bit signature into `chunks` pieces; by pigeonhole, any pair
    within max_hamming <= chunks-1 shares at least one exact chunk, so
    candidates come from an equi-join on (chunk_id, chunk_value) -- never
    an all-pairs scan.  Candidates are verified with an exact popcount.

    Pure integer/bit SQL over (id, signature) rows -- independently
    recomputable by any engine with popcount + xor (the driver's DuckDB
    oracle does exactly that, brute-force, on the same signatures)."""
    width = sig_bits // chunks
    mask = (1 << width) - 1
    chunk_values = F.array(
        *[
            F.shiftrightunsigned(F.col(sig_col), i * width).bitwiseAND(F.lit(mask))
            for i in range(chunks)
        ]
    )
    exploded = tracked_persist(
        signed.select(
            F.col(id_col),
            F.col(sig_col).alias("__sig"),
            F.posexplode(chunk_values).alias("chunk_id", "chunk_value"),
        )
    )
    left = exploded.select(
        F.col(id_col).alias("a"), F.col("__sig").alias("sim_a"), "chunk_id", "chunk_value"
    )
    right = exploded.select(
        F.col(id_col).alias("b"), F.col("__sig").alias("sim_b"), "chunk_id", "chunk_value"
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        left.join(right, ["chunk_id", "chunk_value"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Hamming-banded simhash dedup over the 64-bit blake2b signatures
    (simhash_signatures); see simhash_pairs_from_signatures for the
    banding argument."""
    # the signature UDF is CPU-bound per row: spread it over every core
    # even when the corpus arrived as one split (same discipline as
    # minhash above); the banding helper persists the signed+chunked
    # frame so the UDF runs ONCE across both sides of the self-join
    docs = fan_out(docs)
    signed = simhash_signatures(docs, id_col=id_col, text_col=text_col)
    return simhash_pairs_from_signatures(
        signed,
        id_col=id_col,
        sig_col="simhash",
        max_hamming=max_hamming,
        chunks=chunks,
        sig_bits=64,
    )


def simhash_signatures_hex(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "simhash",
    bits: int = 60,
) -> DataFrame:
    """All-JVM simhash: the token hash is the first 15 hex chars of
    md5(token) parsed with conv() -- a 60-bit value, so the signature fits
    a signed bigint with room to spare and, critically, every step (split,
    md5, hex parse, shift/and, signed sums) is portable SQL an independent
    engine can recompute bit-for-bit.  The driver's DuckDB oracle does
    exactly that (('0x'||substr(md5(tok),1,15))::BIGINT), which is what
    makes the pair query hash-checkable rather than rows-only.

    Execution shape: explode tokens -> one bigint per token instance ->
    groupBy(doc) with `bits` sum expressions over shifted bits.  All
    codegen'd JVM expressions (no Python), and the per-bit +/-1 sums are
    map-side combined, so the shuffle carries one 60-long vector per doc
    per partition -- never per-token rows.  Prefer this variant in
    pipelines; the blake2b UDF variant above exists as the
    reference-pinned ground truth for the signature math."""
    tok = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("__tok"),
    )
    v = F.conv(F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10).cast("long")
    per_tok = tok.select(F.col(id_col), v.alias("__v"))
    # sum the raw BITS, not the +/-1 terms: with n_b = count(tokens),
    # sum((bit)*2-1) > 0  <=>  2*sum(bit) > n_b, so one shared count
    # replaces a multiply+subtract inside all `bits` sum expressions --
    # ~2x less per-row aggregate arithmetic on the operator's hot path
    # (r10 optimization, guide section 1.2 step 2: per-task work; the
    # entry is executor-CPU-bound).  Signatures are bit-identical.
    sums = per_tok.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(
                F.shiftrightunsigned(F.col("__v"), b).bitwiseAND(F.lit(1))
            ).alias(f"__s{b}")
            for b in range(bits)
        ],
    )
    sig = None
    for b in range(bits):
        term = F.when(
            F.col(f"__s{b}") * 2 > F.col("__n"), F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return sums.select(F.col(id_col), sig.alias(out_col))


def simhash_near_dup_pairs_hex(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Hamming-banded dedup over the oracle-checkable 60-bit md5 simhash
    (simhash_signatures_hex) -- the fully SQL-reproducible twin of
    simhash_near_dup_pairs."""
    docs = fan_out(docs)
    signed = simhash_signatures_hex(docs, id_col=id_col, text_col=text_col)
    return simhash_pairs_from_signatures(
        signed,
        id_col=id_col,
        sig_col="simhash",
        max_hamming=max_hamming,
        chunks=chunks,
        sig_bits=60,
    )


def exact_dedup_by_hash(
    df: DataFrame, content_col: str, id_col: str, hash_col: str = "__h"
) -> DataFrame:
    """Exact dedup at scale: group by xxhash64(content) so the shuffle key
    is 8 bytes instead of the full document; min_by keeps the lowest id.
    (Hash collisions at 64 bits are ~n^2/2^65 -- acceptable for dedup; the
    window-by-content form in the workload is the oracle-checkable one.)"""
    return (
        df.withColumn(hash_col, F.xxhash64(F.col(content_col)))
        .groupBy(hash_col)
        .agg(F.min_by(F.struct(*df.columns), F.col(id_col)).alias("__row"))
        .select("__row.*")
    )


def prune_frequent_segments(
    docs: DataFrame,
    delimiter: str = "\n",
    max_doc_pct: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-frequency boilerplate removal, the CCNet/C4/RefinedWeb
    line-dedup shape: split every document into segments, measure each
    distinct segment's DOCUMENT frequency across the corpus, delete all
    occurrences of segments present in more than `max_doc_pct`% of
    documents, and reassemble each document's survivors in original
    order.  delimiter="\\n" gives the classic repeated-line removal
    (headers, cookie banners, nav bars); " " degrades to corpus-level
    stop-term pruning.

    Output: (id_col, text_pruned, n_segments bigint, n_removed bigint).

    Scale notes: one shuffle keyed by segment for the frequency count
    (vocabulary-sized result), one keyed by document for reassembly; the
    hot set joins un-hinted so AQE broadcasts it when it fits (hot
    segments are by definition FEW -- bounded by vocabulary, not corpus).
    The frequency threshold compares exact integers cross-multiplied, so
    the cut is reproducible cross-engine.  Reassembly sorts each
    document's own segments only (array_sort over (pos, seg) structs
    inside one group row) -- no global sort."""
    segs = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(delimiter))).alias(
            "__pos", "__seg"
        ),
    )
    n_docs = docs.select(
        F.count(F.lit(1)).cast("bigint").alias("__n_docs")
    )
    hot = (
        segs.groupBy("__seg")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("__nd") * 100 > F.col("__n_docs") * max_doc_pct)
        .select("__seg")
    )
    kept = segs.join(hot, "__seg", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__seg"))),
                lambda x: x["__seg"],
            ),
            delimiter,
        ).alias("text_pruned"),
        F.count(F.lit(1)).cast("bigint").alias("__n_kept"),
    )
    totals = segs.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments")
    )
    return (
        totals.join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("text_pruned"), F.lit("")).alias("text_pruned"),
            "n_segments",
            (F.col("n_segments") - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )
