"""Sketch-pruned EXACT queries: bounded-state candidate generation with
exact verification, so the output hash-matches a plain-SQL oracle while
the heavy shuffle never happens.

Two families, same contract:

* Misra-Gries heavy hitters (operators/heavyhitters.py): the candidate
  pass keeps <= k counters per partition; only candidates are exactly
  recounted.  Result == GROUP BY ... HAVING count*(k+1) > n.
* Bloom-pruned semi/anti joins (operators/bloomjoin.py): the big side
  is filtered map-side by a broadcast bitset with no false negatives;
  only bloom-positives pay the exact join.  Result == plain semi/anti.

These differ from workloads/sketches.py's certificates: there the
sketch ANSWER is approximate and the certificate bounds its error; here
the sketch only PRUNES and the answer itself is exact -- which is why
these entries hash-match their oracles directly with no error envelope.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bloomjoin import (
    bloom_anti_join,
    bloom_classify,
    bloom_semi_join,
)
from ..operators.heavyhitters import heavy_hitters_exact
from ..operators.kmv import kmv_estimate, kmv_signature, kmv_union_jaccard
from ..partitioning import fan_out
from ..sources.tables import load_table
from ..workload import register

# Heavy-hitter sketch width: keys with share > 1/(k+1) = ~0.78% qualify.
_MG_K = 127

# Returning-user cutoff: last week of the fixed January 2024 event range.
_CUTOFF = "2024-01-24"

_REF_SOURCES = [f"src{i}" for i in range(10)]
_REF_SOURCES_SQL = ", ".join(f"'{s}'" for s in _REF_SOURCES)


@register(
    "heavy_hitters_mg_exact",
    tags=("sketch", "heavy-hitters", "misra-gries", "approx-prune-exact-verify",
          "scale-path"),
    oracle=f"""
        WITH tot AS (SELECT COUNT(*) AS n FROM events),
        c AS (
            SELECT event_type,
                   CAST(user_id % 16 AS BIGINT) AS user_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events
            GROUP BY 1, 2
        )
        SELECT event_type, user_bucket, n_events,
               CAST(n_events * 10000 // n AS BIGINT) AS share_bps
        FROM c, tot
        WHERE n_events * {_MG_K + 1} > n
        ORDER BY event_type, user_bucket
    """,
)
def heavy_hitters_mg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, user-bucket) cells holding more than 1/128 of all
    events, found by per-partition Misra-Gries candidate generation and
    certified EXACT by recounting only the candidate sliver -- the
    output is bit-identical to the full GROUP BY + HAVING the oracle
    runs, but the aggregation shuffle carries at most k keys per
    partition instead of the whole distinct-key space.

    Scale notes: at 100 TB the naive form shuffles every distinct
    (type, bucket, ...) key; the MG pass is one mapInPandas scan with
    <= 127 counters of state per task, the verify pass a broadcast
    semi-join + map-side-combined count over <= 127 x n_partitions
    keys.  This is the hot-key detector that feeds the salted-join
    machinery (operators/skew.py).  The share_bps column is integer
    cross-multiplied (DIV) so both engines compute it exactly."""
    e = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(16)).cast("bigint").alias("user_bucket"),
    )
    n = e.count()
    return (
        heavy_hitters_exact(e, ["event_type", "user_bucket"], _MG_K)
        .withColumnRenamed("n_rows", "n_events")
        .withColumn("share_bps", F.expr(f"n_events * 10000 DIV {n}"))
        .orderBy("event_type", "user_bucket")
    )


@register(
    "returning_users_bloom_semi",
    tags=("bloom", "semi-join", "approx-prune-exact-verify", "scale-path"),
    oracle=f"""
        WITH recent AS (
            SELECT user_id FROM events WHERE ts >= TIMESTAMP '{_CUTOFF}'
        ),
        prior AS (
            SELECT user_id FROM events WHERE ts < TIMESTAMP '{_CUTOFF}'
        ),
        r AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_recent_events
              FROM recent GROUP BY 1),
        p AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_prior_events
              FROM prior GROUP BY 1)
        SELECT r.user_id, r.n_recent_events, p.n_prior_events
        FROM r JOIN p USING (user_id)
        ORDER BY user_id
    """,
)
def returning_users_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users active in the last week of the range who were also seen
    before it, with exact activity counts on both sides -- the identity
    resolution / retention shape, run as a BIDIRECTIONAL bloom-pruned
    semi-join: recent events are filtered by a bitset over prior users
    (map-side, before any exchange), prior events symmetrically by a
    bitset over recent users, and only the surviving slivers are
    exactly counted and joined.  Bit-identical to the plain semi-join
    query the oracle runs (bloom filters have no false negatives; false
    positives die in the exact verify join).

    Scale notes: at 100 TB "recent" is a day slice and "prior" is the
    full history -- the bloom over the day's users (bounded) lets the
    history scan drop non-returning rows in the scan stage instead of
    shuffling 100 TB on user_id.  m ~ 10 bits/key, h=5 => ~1% sliver
    overhead, documented ceiling 1.25 GB broadcast per 1e9 keys."""
    e = load_table(spark, "events", sf_dir)
    cutoff = F.lit(_CUTOFF).cast("timestamp_ntz")
    recent = e.filter(F.col("ts") >= cutoff).select("user_id")
    prior = e.filter(F.col("ts") < cutoff).select("user_id")
    r = (
        bloom_semi_join(recent, prior, "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_recent_events"))
    )
    p = (
        bloom_semi_join(prior, recent, "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_prior_events"))
    )
    return r.join(p, "user_id").orderBy("user_id")


@register(
    "cross_corpus_dedup_bloom",
    bench=True,
    tags=("bloom", "dedup", "anti-join", "approx-prune-exact-verify",
          "scale-path"),
    oracle=f"""
        WITH nrm AS (
            SELECT doc_id, source,
                   md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
            FROM documents
        ),
        ref AS (SELECT * FROM nrm WHERE source IN ({_REF_SOURCES_SQL})),
        delta AS (
            SELECT doc_id, source, fp FROM nrm
            WHERE source NOT IN ({_REF_SOURCES_SQL})
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, 'recrawl' AS source, fp
            FROM ref WHERE doc_id % 5 = 0
        ),
        rfp AS (SELECT DISTINCT fp FROM ref)
        SELECT d.doc_id, d.source,
               (rfp.fp IS NOT NULL) AS is_dup
        FROM delta d LEFT JOIN rfp ON d.fp = rfp.fp
        ORDER BY d.doc_id
    """,
)
def cross_corpus_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus exact dedup: classify every document of an incoming
    delta corpus (the non-reference sources plus a planted 'recrawl'
    batch that verbatim-copies every fifth reference doc under a fresh
    doc_id) as duplicate-of-reference or new, by normalised-text
    fingerprint (the same lower/collapse-space/trim/md5 canonicalisation
    `documents_normalized_fingerprints` certifies), via one
    bloom_classify pass: a single bitset build, a single map-side
    probe, and an exact verify join over only the bloom-positive
    sliver -- delta rows whose fingerprint is provably absent from the
    reference never reach an exchange, and the output is bit-identical
    to the oracle's plain left-join classification.

    Scale notes: this is the "dedup the new crawl against the frozen
    corpus" step of a training-data pipeline -- at 100 TB the delta is
    the huge side and the reference fingerprint set the bounded one, so
    the anti-join path (most of a fresh crawl is new) passes
    bloom-negatives through with zero shuffle; only the ~dup-rate +
    ~1%-fp sliver pays the verify join.  Fingerprints, not full text,
    are what the bitset and the verify join carry: 16 bytes/doc."""
    docs = load_table(spark, "documents", sf_dir)
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), " +", " ")))
    # persist the FINGERPRINT frame (doc_id, source, 32-hex fp -- tens
    # of bytes/row, never the text): bloom_classify's two output
    # branches (bloom-negative passthrough + positive verify join) and
    # the reference side's two consumers (bitset build + verify keys)
    # re-execute this lineage map-side with NO exchange between them,
    # so runtime exchange reuse cannot deduplicate the full text scan +
    # normalise + md5 the way it does for aggregate subtrees (r10
    # optimization; same class as the minhash signature persist -- at
    # corpus scale this converts extra full-text passes into
    # fingerprint-cache reads).
    from ..caching import tracked_persist

    nrm = tracked_persist(docs.select("doc_id", "source", fp.alias("fp")))
    ref = nrm.filter(F.col("source").isin(_REF_SOURCES))
    delta = nrm.filter(~F.col("source").isin(_REF_SOURCES)).unionByName(
        ref.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.lit("recrawl").alias("source"),
            "fp",
        )
    )
    return (
        bloom_classify(delta, ref.select("fp"), "fp", out_col="is_dup")
        .select("doc_id", "source", "is_dup")
        .orderBy("doc_id")
    )


# KMV sketch parameters for the corpus-overlap certificate: k=512 gives
# rsd ~ 1/sqrt(510) ~ 4.4%; the cardinality claims allow 20% (>4 sigma)
# and the Jaccard claim 1000 bps absolute, so a pass is overwhelmingly
# stable while a broken estimator still flips the booleans.
_KMV_K = 512
_KMV_CARD_BOUND_PCT = 20
_KMV_J_BOUND_BPS = 1000


@register(
    "corpus_overlap_kmv_certificate",
    tags=("sketch", "kmv", "theta", "approx", "recall-certificate",
          "set-intersection", "scale-path"),
    oracle=f"""
        WITH toks AS (
            SELECT CASE WHEN source IN ({_REF_SOURCES_SQL})
                        THEN 'ref' ELSE 'delta' END AS set_id,
                   string_split(trim(regexp_replace(lower(text), ' +', ' ',
                                                    'g')), ' ') AS t
            FROM documents
        ),
        idx AS (
            SELECT set_id, t, unnest(generate_series(1, len(t) - 2)) AS i
            FROM toks WHERE len(t) >= 3
        ),
        grams AS (
            SELECT DISTINCT set_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
            FROM idx
        )
        SELECT
            CAST((SELECT COUNT(*) FROM grams WHERE set_id = 'ref')
                 AS BIGINT) AS n_ref_exact,
            CAST((SELECT COUNT(*) FROM grams WHERE set_id = 'delta')
                 AS BIGINT) AS n_delta_exact,
            CAST((SELECT COUNT(*) FROM grams a
                  WHERE set_id = 'ref' AND g IN
                        (SELECT g FROM grams WHERE set_id = 'delta'))
                 AS BIGINT) AS n_inter_exact,
            TRUE AS ref_est_within_bound,
            TRUE AS delta_est_within_bound,
            TRUE AS union_est_within_bound,
            TRUE AS jaccard_within_bound
    """,
)
def corpus_overlap_kmv_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus-overlap estimation via KMV bottom-k sketches
    (operators/kmv.py): how many distinct word-3-grams the reference
    half of the corpus (src0-9) shares with the delta half -- the
    contamination / syndication question -- answered from two
    kilobyte signatures instead of an exact distinct-intersection
    join, then CERTIFIED against the exact twin: per-set and union
    cardinality estimates within 20% (integer cross-multiplied), the
    Jaccard estimate within 1000 bps absolute (exact j_num/j_den
    integers cross-multiplied against the exact intersection), and the
    exact counts themselves hash-pinned by the oracle's independent
    recomputation.

    Scale notes: signatures are <= k=512 hashes per corpus, built from
    one distinct-of-hashes pass (8-byte keys, never the grams
    themselves) -- mergeable like the HLL rollup, so N stored per-day /
    per-source signatures cross-intersect in kilobytes without
    rescanning 100 TB.  Intersection is the operation HLL cannot do;
    KMV/Theta is the standard answer.  The exact twin (full distinct +
    semi-join) exists only to certify."""
    docs = fan_out(load_table(spark, "documents", sf_dir))
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), " +", " "))
    half = F.when(
        F.col("source").isin(_REF_SOURCES), F.lit("ref")
    ).otherwise(F.lit("delta"))
    t = F.split(norm, " ")
    base = docs.select(half.alias("set_id"), t.alias("t")).filter(
        F.size("t") >= 3
    )
    grams = base.select(
        "set_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 3),"
                " i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
            )
        ).alias("g"),
    )
    sig = kmv_signature(grams, "set_id", "g", _KMV_K).persist()
    sig_ref = sig.filter(F.col("set_id") == "ref")
    sig_delta = sig.filter(F.col("set_id") == "delta")

    exact = grams.distinct().groupBy("set_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    inter_exact = (
        grams.filter(F.col("set_id") == "ref")
        .select("g")
        .distinct()
        .join(
            grams.filter(F.col("set_id") == "delta").select("g").distinct(),
            "g",
            "left_semi",
        )
        .count()
    )
    ests = {
        r["set_id"]: (r["n_est"], r["n_sig"])
        for r in kmv_estimate(sig, _KMV_K).collect()
    }
    exacts = {r["set_id"]: r["n_exact"] for r in exact.collect()}
    uj = kmv_union_jaccard(sig_ref, sig_delta, _KMV_K).collect()[0]
    sig.unpersist()

    n_ref, n_delta = exacts["ref"], exacts["delta"]
    n_union = n_ref + n_delta - inter_exact

    def within(est: float, ex: int) -> bool:
        # |est - exact| * 100 <= exact * bound_pct, on integers where
        # possible (est is a double; the claim tolerates that because
        # the bound is wide, not tight)
        return abs(est - ex) * 100 <= ex * _KMV_CARD_BOUND_PCT

    j_exact_num, j_exact_den = inter_exact, n_union
    # |j_num/j_den - inter/union| <= bps/10000, cross-multiplied
    j_ok = (
        abs(uj["j_num"] * j_exact_den - j_exact_num * uj["j_den"]) * 10000
        <= _KMV_J_BOUND_BPS * uj["j_den"] * j_exact_den
    )
    return spark.createDataFrame(
        [
            (
                int(n_ref),
                int(n_delta),
                int(inter_exact),
                bool(within(ests["ref"][0], n_ref)),
                bool(within(ests["delta"][0], n_delta)),
                bool(within(uj["union_est"], n_union)),
                bool(j_ok),
            )
        ],
        "n_ref_exact bigint, n_delta_exact bigint, n_inter_exact bigint, "
        "ref_est_within_bound boolean, delta_est_within_bound boolean, "
        "union_est_within_bound boolean, jaccard_within_bound boolean",
    )


@register(
    "mg_admission_streaming_certificate",
    bench=True,  # r10: the streaming-admission family's benched
    # representative (r9 verdict #7 -- every scale-path family gets one)
    tags=("sketch", "heavy-hitters", "misra-gries", "streaming",
          "incremental", "index-maintenance", "approx-prune-exact-verify",
          "scale-path"),
    oracle=f"""
        WITH tot AS (SELECT COUNT(*) AS n FROM events),
        c AS (
            SELECT event_type,
                   CAST(user_id % 16 AS BIGINT) AS user_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events
            GROUP BY 1, 2
        )
        SELECT event_type, user_bucket, n_events,
               CAST(n_events * 10000 // n AS BIGINT) AS share_bps
        FROM c, tot
        WHERE n_events * {_MG_K + 1} > n
        ORDER BY event_type, user_bucket
    """,
)
def mg_admission_streaming_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming heavy-hitter certification: admit the event stream in
    three micro-batch-shaped slices through the REAL admission round
    (streaming/summary_admission.py::admit with the MG spec --
    per-table batch_token commit markers, replay ledger, bounded
    per-batch MG summaries), REPLAY the second batch (must be a no-op),
    compact the partials mid-sequence (re-trimmed to k), then exact-verify
    heavy hitters off the final stored candidate state.  Hash-matching
    the one-shot GROUP BY + HAVING oracle proves N-batch streaming
    admission + replay + compaction preserves the Misra-Gries superset
    guarantee end to end -- the streamed twin of
    `heavy_hitters_mg_exact`, same oracle.

    Scale notes: per batch the admission costs one bounded-state MG
    scan of the batch plus a <= k-row append; the stream is never
    re-read by admission or compaction.  The exact-verify recount runs
    over the archived corpus once, against broadcast candidates only."""
    from ..operators.heavyhitters import mg_summary
    from ..streaming.summary_admission import (
        MG,
        admit,
        compact,
        heavy_hitters_from_state,
        init,
    )

    e = load_table(spark, "events", sf_dir)
    key = F.concat_ws("|", "event_type",
                      F.pmod(F.col("user_id"), F.lit(16)).cast("bigint"))
    stream = e.select("event_id", key.alias("key"))
    d11 = F.lit("2024-01-11").cast("timestamp_ntz")
    d21 = F.lit("2024-01-21").cast("timestamp_ntz")
    slices = [
        e.filter(F.col("ts") < d11),
        e.filter((F.col("ts") >= d11) & (F.col("ts") < d21)),
        e.filter(F.col("ts") >= d21),
    ]
    init(spark, MG, "mg_adm")
    for i, s in enumerate(slices):
        batch = s.select("event_id", key.alias("key"))
        summary = partial(mg_summary, batch.select("key"), ["key"], _MG_K)
        admit(
            spark, MG, batch, "mg_adm", summary,
            id_col="event_id", k=_MG_K,
        )
        if i == 1:
            # at-least-once delivery: replaying an admitted batch must
            # be a no-op (commit markers), and compaction mid-sequence
            # must preserve both counts and markers
            admit(
                spark, MG, batch, "mg_adm", summary,
                id_col="event_id", k=_MG_K,
            )
            compact(spark, MG, "mg_adm", k=_MG_K)
    # the ledger total IS the corpus count: heavy_hitters_from_state
    # recounts the corpus and raises unless the two agree, and returns
    # the verified total (r11; supersedes the r10 separate ledger
    # re-read) -- the value, and therefore every share_bps, is
    # unchanged by construction
    heavy, n_total = heavy_hitters_from_state(
        spark, stream, "mg_adm",
        key_expr=F.col("key"), k=_MG_K, return_total=True,
    )
    parts = F.split(F.col("key"), "\\|")
    return (
        heavy.select(
            parts.getItem(0).alias("event_type"),
            parts.getItem(1).cast("bigint").alias("user_bucket"),
            F.col("n_rows").alias("n_events"),
        )
        .withColumn("share_bps", F.expr(f"n_events * 10000 DIV {n_total}"))
        .orderBy("event_type", "user_bucket")
    )


@register(
    "heavy_value_cells_mg_exact",
    tags=("sketch", "heavy-hitters", "misra-gries", "weighted",
          "approx-prune-exact-verify", "scale-path"),
    oracle=f"""
        WITH base AS (
            SELECT event_type,
                   CAST(user_id % 16 AS BIGINT) AS user_bucket,
                   CAST(FLOOR(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS w FROM base),
        c AS (
            SELECT event_type, user_bucket,
                   CAST(SUM(cents) AS BIGINT) AS value_cents
            FROM base GROUP BY 1, 2
        )
        SELECT event_type, user_bucket, value_cents,
               CAST(value_cents * 10000 // w AS BIGINT) AS share_bps
        FROM c, tot
        WHERE value_cents * {_MG_K + 1} > w
        ORDER BY event_type, user_bucket
    """,
)
def heavy_value_cells_mg_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED heavy hitters -- (event_type, user-bucket) cells
    carrying more than 1/128 of total event VALUE (in exact integer
    cents), the top-revenue-entities shape: same Misra-Gries prune /
    exact-verify contract as `heavy_hitters_mg_exact`, but the bounded
    counters track weighted mass (the SpaceSaving generalisation; a
    unit of weight is a repeated row, so the same amortised-decrement
    bound holds).  Bit-identical to the full GROUP BY SUM + HAVING the
    oracle runs.

    Scale notes: identical plan shape to the frequency form -- one
    bounded-state mapInPandas scan, broadcast candidate semi-join,
    sliver-only SUM -- so "which merchants take >1% of payment volume"
    never shuffles the full merchant key space.  Cents are
    FLOOR(value*100) (floor-before-cast: Spark CAST truncates, DuckDB
    CAST rounds), summed as exact BIGINTs; thresholds and shares are
    integer cross-multiplied."""
    e = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(16)).cast("bigint").alias("user_bucket"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = int(e.agg(F.sum("cents").cast("bigint")).collect()[0][0] or 0)
    return (
        heavy_hitters_exact(
            e, ["event_type", "user_bucket"], _MG_K, weight_col="cents"
        )
        .withColumnRenamed("n_rows", "value_cents")
        .withColumn("share_bps", F.expr(f"value_cents * 10000 DIV {w}"))
        .orderBy("event_type", "user_bucket")
    )


_TOPK = 10


@register(
    "top_frequent_cells_exact_topk",
    tags=("sketch", "heavy-hitters", "misra-gries", "topk",
          "approx-prune-exact-verify", "scale-path"),
    oracle=f"""
        WITH c AS (
            SELECT event_type,
                   CAST(user_id % 16 AS BIGINT) AS user_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events
            GROUP BY 1, 2
        )
        SELECT event_type, user_bucket, n_events,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY n_events DESC, event_type ASC, user_bucket ASC
               ) AS BIGINT) AS rank
        FROM c
        ORDER BY n_events DESC, event_type ASC, user_bucket ASC
        LIMIT {_TOPK}
    """,
)
def top_frequent_cells_exact_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT global top-{k} most frequent (event_type, user-bucket)
    cells without ever shuffling the full distinct-key space: the
    Misra-Gries candidate set is a guaranteed superset of every key
    above n/(k+1), so whenever the 10th-ranked count clears that
    threshold the true top-10 is contained in the candidates and the
    sliver-only recount IS the exact answer.  The containment condition
    is CHECKED, not assumed -- the query raises if the 10th count falls
    below the threshold (the caller must then widen k), so a silent
    wrong answer is structurally impossible.  Deterministic tiebreak
    (count desc, then key asc) keeps both engines' rank 1..10
    identical.

    Scale notes: the plain form is a full groupBy + global sort; this
    form is the bounded-state candidate scan + a <= k x n_partitions
    recount + a 10-row TakeOrdered.  "Top merchants by transaction
    count" at 1e9 merchants never materialises the merchant key
    space."""
    from ..operators.heavyhitters import mg_candidates

    e = load_table(spark, "events", sf_dir).select(
        "event_type",
        F.pmod(F.col("user_id"), F.lit(16)).cast("bigint").alias("user_bucket"),
    )
    n = e.count()
    cands = mg_candidates(e, ["event_type", "user_bucket"], _MG_K)
    counts = (
        e.join(F.broadcast(cands), ["event_type", "user_bucket"], "left_semi")
        .groupBy("event_type", "user_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    top = counts.orderBy(
        F.col("n_events").desc(),
        F.col("event_type").asc(),
        F.col("user_bucket").asc(),
    ).limit(_TOPK).collect()
    # the containment proof needs a FULL top list whose last count
    # clears the threshold; a short list means MG trimmed candidates
    # away (uniform data) and no top-k claim is sound -- refuse, never
    # mis-rank.  (A corpus with < k distinct keys should use the plain
    # groupBy; this operator exists for the huge-key-space regime.)
    if len(top) < _TOPK or top[-1]["n_events"] * (_MG_K + 1) <= n:
        tail = top[-1]["n_events"] if top else 0
        raise AssertionError(
            f"top-{_TOPK} guarantee violated: {len(top)} candidates, "
            f"tail count {tail} <= n/(k+1); widen k"
        )
    return spark.createDataFrame(
        [
            (r["event_type"], r["user_bucket"], r["n_events"], i + 1)
            for i, r in enumerate(top)
        ],
        "event_type string, user_bucket bigint, n_events bigint, rank bigint",
    )


@register(
    "cross_corpus_dedup_bloom_indexed",
    tags=("bloom", "dedup", "anti-join", "index-maintenance",
          "approx-prune-exact-verify", "scale-path"),
    oracle=f"""
        WITH nrm AS (
            SELECT doc_id, source,
                   md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
            FROM documents
        ),
        ref AS (SELECT * FROM nrm WHERE source IN ({_REF_SOURCES_SQL})),
        delta AS (
            SELECT doc_id, source, fp FROM nrm
            WHERE source NOT IN ({_REF_SOURCES_SQL})
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, 'recrawl' AS source, fp
            FROM ref WHERE doc_id % 5 = 0
        ),
        rfp AS (SELECT DISTINCT fp FROM ref)
        SELECT d.doc_id, d.source,
               (rfp.fp IS NOT NULL) AS is_dup
        FROM delta d LEFT JOIN rfp ON d.fp = rfp.fp
        ORDER BY d.doc_id
    """,
)
def cross_corpus_dedup_bloom_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INDEX-MAINTENANCE twin of `cross_corpus_dedup_bloom`: the
    reference filter is a STORED catalog artifact, not a per-query
    build -- materialised over 90% of the reference corpus
    (materialize_bloom_index), the remaining 10% OR-appended
    (append_to_bloom_index; bloom union is bitwise OR, so the append is
    losslessly identical to a full rebuild -- asserted word-for-word
    here, the bit-exact form of the append==rebuild contract the
    BM25/minhash/LM indexes certify), then the delta corpus classified
    against the loaded filter.  Hash-matching the same plain-left-join
    oracle proves the maintained index answers exactly like a fresh
    one.

    Scale notes: the frozen corpus is fingerprint-scanned ONCE at
    materialise time; each daily append touches only the delta and
    appends <= m/64 packed-word rows (OR-idempotent, so crashed appends
    replay safely); queries load kilobyte-to-gigabyte words, never the
    corpus."""
    from ..operators.bloomjoin import (
        append_to_bloom_index,
        build_bloom,
        load_bloom_index,
        materialize_bloom_index,
    )

    docs = load_table(spark, "documents", sf_dir)
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), " +", " ")))
    nrm = docs.select("doc_id", "source", fp.alias("fp"))
    ref = nrm.filter(F.col("source").isin(_REF_SOURCES))
    delta = nrm.filter(~F.col("source").isin(_REF_SOURCES)).unionByName(
        ref.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.lit("recrawl").alias("source"),
            "fp",
        )
    )
    materialize_bloom_index(
        spark, ref.filter(F.col("doc_id") % 10 != 0), "fp", "fp_idx",
        m_bits=1 << 20,
    )
    append_to_bloom_index(
        spark, ref.filter(F.col("doc_id") % 10 == 0), "fp", "fp_idx"
    )
    stored = load_bloom_index(spark, "fp_idx")
    rebuilt = build_bloom(ref, "fp", m_bits=1 << 20, n_hashes=5)
    if not (stored.words == rebuilt.words).all():
        raise AssertionError("append != rebuild: stored bloom words diverge")
    from ..operators.bloomjoin import bloom_might_contain

    flagged = bloom_might_contain(delta, "fp", stored, out_col="__hit")
    sure_new = flagged.filter(~F.col("__hit")).drop("__hit").withColumn(
        "is_dup", F.lit(False)
    )
    cand = flagged.filter(F.col("__hit")).drop("__hit")
    keys = ref.select("fp").distinct().withColumn("__r", F.lit(1))
    verified = cand.join(keys, "fp", "left").withColumn(
        "is_dup", F.col("__r").isNotNull()
    ).drop("__r")
    return (
        sure_new.unionByName(verified)
        .select("doc_id", "source", "is_dup")
        .orderBy("doc_id")
    )


@register(
    "corpus_overlap_kmv_indexed",
    tags=("sketch", "kmv", "theta", "approx", "recall-certificate",
          "set-intersection", "index-maintenance", "scale-path"),
    oracle=f"""
        WITH toks AS (
            SELECT CASE WHEN source IN ({_REF_SOURCES_SQL})
                        THEN 'ref' ELSE 'delta' END AS set_id,
                   string_split(trim(regexp_replace(lower(text), ' +', ' ',
                                                    'g')), ' ') AS t
            FROM documents
        ),
        idx AS (
            SELECT set_id, t, unnest(generate_series(1, len(t) - 2)) AS i
            FROM toks WHERE len(t) >= 3
        ),
        grams AS (
            SELECT DISTINCT set_id,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
            FROM idx
        )
        SELECT
            CAST((SELECT COUNT(*) FROM grams WHERE set_id = 'ref')
                 AS BIGINT) AS n_ref_exact,
            CAST((SELECT COUNT(*) FROM grams WHERE set_id = 'delta')
                 AS BIGINT) AS n_delta_exact,
            CAST((SELECT COUNT(*) FROM grams a
                  WHERE set_id = 'ref' AND g IN
                        (SELECT g FROM grams WHERE set_id = 'delta'))
                 AS BIGINT) AS n_inter_exact,
            TRUE AS ref_est_within_bound,
            TRUE AS delta_est_within_bound,
            TRUE AS union_est_within_bound,
            TRUE AS jaccard_within_bound
    """,
)
def corpus_overlap_kmv_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INDEX-MAINTENANCE twin of `corpus_overlap_kmv_certificate`: the
    per-half 3-gram signatures are a STORED catalog artifact --
    materialised from 90% of the docs (materialize_kmv_signatures),
    the rest folded in by append (append_to_kmv_signatures; the k
    smallest of signature UNION delta IS the union's signature, so the
    append is bit-identical to a rebuild -- asserted hash-row-for-row
    here, the bottom-k analogue of the bloom index's OR algebra), then
    the SAME overlap certificate is computed from the loaded
    signatures.  Hash-matching the same oracle proves the maintained
    signatures answer exactly like freshly-built ones.

    Scale notes: per-source/day signatures are built once from each
    slice and appended as <= k rows; overlap questions over any pair of
    stored sets touch kilobytes.  The corpus is scanned only when its
    slice first arrives."""
    from ..operators.kmv import (
        append_to_kmv_signatures,
        load_kmv_signatures,
        materialize_kmv_signatures,
    )

    docs = fan_out(load_table(spark, "documents", sf_dir))
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), " +", " "))
    half = F.when(
        F.col("source").isin(_REF_SOURCES), F.lit("ref")
    ).otherwise(F.lit("delta"))
    t = F.split(norm, " ")
    base = docs.select(
        "doc_id", half.alias("set_id"), t.alias("t")
    ).filter(F.size("t") >= 3)
    grams = base.select(
        "doc_id",
        "set_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 3),"
                " i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
            )
        ).alias("g"),
    )
    materialize_kmv_signatures(
        spark, grams.filter(F.col("doc_id") % 10 != 0), "set_id", "g",
        "kmv_idx", k=_KMV_K,
    )
    append_to_kmv_signatures(
        spark, grams.filter(F.col("doc_id") % 10 == 0), "set_id", "g",
        "kmv_idx",
    )
    sig, k = load_kmv_signatures(spark, "kmv_idx")
    assert k == _KMV_K
    sig = sig.persist()
    rebuilt = kmv_signature(grams, "set_id", "g", _KMV_K)
    diff = (
        sig.exceptAll(rebuilt).count()
        + rebuilt.exceptAll(sig).count()
    )
    if diff:
        raise AssertionError(
            f"append != rebuild: stored KMV signatures diverge ({diff} rows)"
        )
    sig_ref = sig.filter(F.col("set_id") == "ref")
    sig_delta = sig.filter(F.col("set_id") == "delta")

    exacts = {
        r["set_id"]: r["n_exact"]
        for r in grams.select("set_id", "g")
        .distinct()
        .groupBy("set_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
        .collect()
    }
    inter_exact = (
        grams.filter(F.col("set_id") == "ref")
        .select("g")
        .distinct()
        .join(
            grams.filter(F.col("set_id") == "delta").select("g").distinct(),
            "g",
            "left_semi",
        )
        .count()
    )
    ests = {
        r["set_id"]: r["n_est"]
        for r in kmv_estimate(sig, _KMV_K).collect()
    }
    uj = kmv_union_jaccard(sig_ref, sig_delta, _KMV_K).collect()[0]
    sig.unpersist()

    n_ref, n_delta = exacts["ref"], exacts["delta"]
    n_union = n_ref + n_delta - inter_exact

    def within(est: float, ex: int) -> bool:
        return abs(est - ex) * 100 <= ex * _KMV_CARD_BOUND_PCT

    j_ok = (
        abs(uj["j_num"] * n_union - inter_exact * uj["j_den"]) * 10000
        <= _KMV_J_BOUND_BPS * uj["j_den"] * n_union
    )
    return spark.createDataFrame(
        [
            (
                int(n_ref),
                int(n_delta),
                int(inter_exact),
                bool(within(ests["ref"], n_ref)),
                bool(within(ests["delta"], n_delta)),
                bool(within(uj["union_est"], n_union)),
                bool(j_ok),
            )
        ],
        "n_ref_exact bigint, n_delta_exact bigint, n_inter_exact bigint, "
        "ref_est_within_bound boolean, delta_est_within_bound boolean, "
        "union_est_within_bound boolean, jaccard_within_bound boolean",
    )


@register(
    "dedup_admission_bloom_certificate",
    tags=("bloom", "dedup", "streaming", "incremental", "index-maintenance",
          "approx-prune-exact-verify", "scale-path"),
    oracle=f"""
        WITH nrm AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS fp
            FROM documents
        ),
        corpus AS (
            SELECT doc_id, fp FROM nrm
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, fp FROM nrm
            WHERE doc_id % 5 = 0
            UNION ALL
            SELECT doc_id + 2000003 AS doc_id, fp FROM nrm
            WHERE doc_id % 10 = 0
        ),
        ranked AS (
            SELECT doc_id, fp,
                   ROW_NUMBER() OVER (
                       PARTITION BY fp
                       ORDER BY doc_id % 3 ASC, doc_id ASC
                   ) AS rn
            FROM corpus
        )
        SELECT doc_id, fp FROM ranked WHERE rn = 1 ORDER BY doc_id
    """,
)
def dedup_admission_bloom_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming ingest-dedup certification: a corpus seeded with
    cross-batch AND within-batch duplicate fingerprints (two planted
    recrawl copy waves) is admitted in three micro-batch-shaped slices
    (doc_id % 3) through the REAL bloom-admission round
    (streaming/bloom_admission.py::admit_dedup_batch -- bloom-negative
    rows admitted with no join, positives exactly verified against the
    fingerprint ledger, bloom-then-ledger append order, commit
    markers), with the second batch REPLAYED (must admit nothing and
    leave state unchanged).  The union of admitted rows hash-matches
    the one-shot first-occurrence dedup the oracle computes under the
    same (batch order, doc_id) total order -- N-batch streaming
    admission == batch dedup, bit for bit.

    Scale notes: per batch the cost is one within-batch window, one
    map-side bloom probe (the dominant provably-new sliver never joins
    anything), one ledger anti-join over the bloom-positive sliver,
    and two bounded appends; the accumulated corpus is never
    re-scanned."""
    from ..streaming.bloom_admission import (
        admit_dedup_batch,
        init_bloom_dedup_index,
        read_admitted_fps,
    )

    docs = load_table(spark, "documents", sf_dir)
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), " +", " ")))
    nrm = docs.select("doc_id", fp.alias("fp"))
    corpus = (
        nrm.unionByName(
            nrm.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "fp"
            )
        ).unionByName(
            nrm.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 2000003).alias("doc_id"), "fp"
            )
        )
    )
    init_bloom_dedup_index(spark, "bd_adm")
    admitted_parts = []
    for i in range(3):
        batch = corpus.filter(F.col("doc_id") % 3 == i)
        admitted = admit_dedup_batch(spark, batch, "bd_adm")
        admitted_parts.append(admitted)
        if i == 1:
            replay = admit_dedup_batch(spark, batch, "bd_adm")
            if replay.count() != 0:
                raise AssertionError("replayed batch re-admitted rows")
    out = admitted_parts[0]
    for p in admitted_parts[1:]:
        out = out.unionByName(p)
    # invariant: the ledger holds exactly the admitted fingerprints,
    # one row each
    n_ledger = read_admitted_fps(spark, "bd_adm").count()
    n_admitted = out.count()
    if n_ledger != n_admitted:
        raise AssertionError(
            f"ledger/admission divergence: {n_ledger} vs {n_admitted}"
        )
    return out.select("doc_id", "fp").orderBy("doc_id")


@register(
    "event_revenue_auto_skew_join",
    tags=("join", "skew", "heavy-hitters", "misra-gries", "aggregation",
          "approx-prune-exact-verify", "scale-path"),
    oracle="""
        WITH keyed AS (
            SELECT CASE WHEN event_type = 'click' THEN 'hot_click'
                        ELSE 'u' || CAST(user_id % 256 AS VARCHAR) END
                       AS skey,
                   value
            FROM events
        ),
        dim AS (
            SELECT DISTINCT skey, CAST(length(skey) AS BIGINT) AS key_len
            FROM keyed
        )
        SELECT k.skey, d.key_len,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(k.value AS DECIMAL(12,2))) AS DOUBLE)
                   AS revenue
        FROM keyed k JOIN dim d ON k.skey = d.skey
        GROUP BY k.skey, d.key_len
        ORDER BY k.skey
    """,
)
def event_revenue_auto_skew_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DETECTED skew mitigation end-to-end
    (operators/skew.py::auto_skew_join): the join key is deliberately
    one-hot -- every 'click' event collapses onto a single key
    (~20% of the corpus) while the rest spread over 256 cold user
    buckets (~0.3% each) -- so the Misra-Gries pass detects exactly the
    hot key, only its slice pays the salted join (dim replicated 8
    ways), and the cold majority joins plainly.  Hash-matching the
    plain-join oracle proves detect -> split -> salt -> union changes
    the physical fan-out and nothing else.

    This supersedes hand-tuned salting (`order_revenue_salted_join`
    stays as the static form): at 100 TB the hot-key set is data- and
    day-dependent, and this operator re-measures it on every run with
    one bounded-state scan instead of a tuning ticket.  Money follows
    the exact-decimal-then-double convention."""
    from ..operators.skew import auto_skew_join

    e = load_table(spark, "events", sf_dir)
    skey = F.when(
        F.col("event_type") == "click", F.lit("hot_click")
    ).otherwise(
        F.concat(F.lit("u"), F.pmod(F.col("user_id"), F.lit(256)).cast("string"))
    )
    keyed = e.select(
        "event_id", skey.alias("skey"), F.col("value")
    )
    dim = keyed.select("skey").distinct().withColumn(
        "key_len", F.length("skey").cast("bigint")
    )
    joined = auto_skew_join(
        keyed, dim, on=["skey"], k=_MG_K, salt_buckets=8,
        big_salt_src="event_id",
    )
    return (
        joined.groupBy("skey", "key_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("skey")
    )


@register(
    "mg_admission_weighted_certificate",
    tags=("sketch", "heavy-hitters", "misra-gries", "weighted", "streaming",
          "incremental", "index-maintenance", "approx-prune-exact-verify",
          "scale-path"),
    oracle=f"""
        WITH base AS (
            SELECT event_type,
                   CAST(user_id % 16 AS BIGINT) AS user_bucket,
                   CAST(FLOOR(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS w FROM base),
        c AS (
            SELECT event_type, user_bucket,
                   CAST(SUM(cents) AS BIGINT) AS value_cents
            FROM base GROUP BY 1, 2
        )
        SELECT event_type, user_bucket, value_cents,
               CAST(value_cents * 10000 // w AS BIGINT) AS share_bps
        FROM c, tot
        WHERE value_cents * {_MG_K + 1} > w
        ORDER BY event_type, user_bucket
    """,
)
def mg_admission_weighted_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHTED streaming heavy-hitter certification: the event stream's
    VALUE mass (exact integer cents) admitted in three batch-shaped
    slices through the real admission round with weight tracking
    (admit(MG, weight_col=) -- SpaceSaving-style weighted
    counters, weight-sum ledger), second batch replayed, partials
    compacted mid-sequence, then exact-verified off the final state.
    Hash-matches the one-shot weighted GROUP BY SUM + HAVING oracle --
    the streamed twin of `heavy_value_cells_mg_exact`, same oracle.

    Scale notes: identical admission shape to the frequency twin; the
    ledger accumulates exact weight sums per batch, so the threshold is
    integer-exact over the whole stream."""
    from ..operators.heavyhitters import mg_summary
    from ..streaming.summary_admission import (
        MG,
        admit,
        compact,
        heavy_hitters_from_state,
        init,
    )

    e = load_table(spark, "events", sf_dir)
    key = F.concat_ws("|", "event_type",
                      F.pmod(F.col("user_id"), F.lit(16)).cast("bigint"))
    cents = F.floor(F.col("value") * 100).cast("bigint")
    stream = e.select("event_id", key.alias("key"), cents.alias("cents"))
    d11 = F.lit("2024-01-11").cast("timestamp_ntz")
    d21 = F.lit("2024-01-21").cast("timestamp_ntz")
    slices = [
        e.filter(F.col("ts") < d11),
        e.filter((F.col("ts") >= d11) & (F.col("ts") < d21)),
        e.filter(F.col("ts") >= d21),
    ]
    init(spark, MG, "mgw_adm")
    for i, s in enumerate(slices):
        batch = s.select(
            "event_id", key.alias("key"), cents.alias("cents")
        )
        summary = partial(
            mg_summary, batch.select("key", "cents"), ["key"], _MG_K,
            weight_col="cents",
        )
        admit(
            spark, MG, batch, "mgw_adm", summary,
            id_col="event_id", weight_col="cents", k=_MG_K,
        )
        if i == 1:
            admit(
                spark, MG, batch, "mgw_adm", summary,
                id_col="event_id", weight_col="cents", k=_MG_K,
            )
            compact(spark, MG, "mgw_adm", k=_MG_K)
    # the verified total IS sum(cents) over the stream:
    # heavy_hitters_from_state just computed that exact aggregate and
    # raised unless it equals the ledger, so returning it replaces a
    # SECOND full corpus weight scan (r11; the weighted twin of the
    # unweighted certificate's r10 ledger-total reuse) -- every
    # share_bps is unchanged by construction
    heavy, w_total = heavy_hitters_from_state(
        spark, stream, "mgw_adm",
        key_expr=F.col("key"), k=_MG_K, weight_expr=F.col("cents"),
        return_total=True,
    )
    parts = F.split(F.col("key"), "\\|")
    return (
        heavy.select(
            parts.getItem(0).alias("event_type"),
            parts.getItem(1).cast("bigint").alias("user_bucket"),
            F.col("n_rows").alias("value_cents"),
        )
        .withColumn(
            "share_bps", F.expr(f"value_cents * 10000 DIV {w_total}")
        )
        .orderBy("event_type", "user_bucket")
    )


# histogram-sketch params: 200 bins over [0, 500.00) event values
_HIST_BINS = 200
_HIST_SPAN_CENTS = 50_000


@register(
    "quantile_histogram_rollup_certificate",
    tags=("sketch", "quantile", "histogram", "approx", "incremental",
          "recall-certificate", "scale-path"),
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
               quantile_cont(value, 0.5) AS exact_p50,
               quantile_cont(value, 0.9) AS exact_p90,
               TRUE AS p50_bin_ok,
               TRUE AS p90_bin_ok
        FROM events
    """,
)
def quantile_histogram_rollup_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGEABLE quantile rollup (operators/histsketch.py): per-day
    fixed-bin histograms (exact integer cents bins) are the stored
    daily sketch; the month's p50/p90 come from SUMMING the stored bin
    rows -- the quantile analogue of the HLL rollup, closing the gap
    that approx_percentile's state cannot be stored or merged.  The
    certificate claims, integer-exactly, that the true quantile's rank
    falls inside the bin the merged sketch selects
    (rank_below < target_rank <= rank_upto, both exact recounts with
    the same engine-exact bin expression), plus the day count (the
    daily decomposition covered every partition) and the exact
    percentiles (percentile == quantile_cont parity), which the oracle
    recomputes independently.

    Scale notes: each day persists <= 200 bin rows; any window's
    quantile is one SUM over stored rows + a driver walk over <= 200
    integers.  History is never rescanned -- resolution is a storage
    knob.  The exact twin exists only to certify."""
    from math import ceil

    from ..operators.histsketch import (
        bin_for_rank,
        cents_bin,
        daily_histogram,
        merge_histograms,
    )

    e = load_table(spark, "events", sf_dir)
    daily = daily_histogram(
        e, "ts", "value", _HIST_BINS, _HIST_SPAN_CENTS
    ).persist()
    merged = merge_histograms(daily)
    bins = [(int(r["bin"]), int(r["n"])) for r in merged.collect()]
    n_days = daily.select("day").distinct().count()
    daily.unpersist()
    n = sum(c for _, c in bins)
    n_events = e.count()
    if n != n_events:
        raise AssertionError(
            f"histogram mass {n} != corpus rows {n_events}"
        )
    rank50, rank90 = ceil(0.5 * n), ceil(0.9 * n)
    b50 = bin_for_rank(bins, rank50)
    b90 = bin_for_rank(bins, rank90)
    binc = cents_bin(F.col("value"), _HIST_BINS, _HIST_SPAN_CENTS)
    r = e.agg(
        F.count(F.when(binc < b50, 1)).cast("bigint").alias("below50"),
        F.count(F.when(binc <= b50, 1)).cast("bigint").alias("upto50"),
        F.count(F.when(binc < b90, 1)).cast("bigint").alias("below90"),
        F.count(F.when(binc <= b90, 1)).cast("bigint").alias("upto90"),
        F.expr("percentile(value, 0.5D)").alias("exact_p50"),
        F.expr("percentile(value, 0.9D)").alias("exact_p90"),
    ).collect()[0]
    p50_ok = r["below50"] < rank50 <= r["upto50"]
    p90_ok = r["below90"] < rank90 <= r["upto90"]
    return spark.createDataFrame(
        [
            (
                int(n),
                int(n_days),
                float(r["exact_p50"]),
                float(r["exact_p90"]),
                bool(p50_ok),
                bool(p90_ok),
            )
        ],
        "n bigint, n_days bigint, exact_p50 double, exact_p90 double, "
        "p50_bin_ok boolean, p90_bin_ok boolean",
    )


@register(
    "quantile_admission_streaming_certificate",
    tags=("sketch", "quantile", "histogram", "streaming", "incremental",
          "index-maintenance", "recall-certificate", "scale-path"),
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
               quantile_cont(value, 0.5) AS exact_p50,
               quantile_cont(value, 0.9) AS exact_p90,
               TRUE AS p50_bin_ok,
               TRUE AS p90_bin_ok,
               TRUE AS state_eq_rebuild
        FROM events
    """,
)
def quantile_admission_streaming_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming quantile-sketch certification
    (streaming/summary_admission.py, HIST spec): the events stream is
    admitted in
    three micro-batch-shaped slices (event_id % 3) through the real
    histogram-admission round (bounded per-day bin partials, hist ->
    meta append order, commit markers), with the FIRST batch replayed
    (must leave the ledger unchanged) and the index compacted
    mid-sequence (markers must survive).  The certificate then claims,
    integer-exactly, that

      * the accumulated state is BIT-IDENTICAL to a one-shot daily
        histogram of the whole stream (append == rebuild -- histogram
        addition is an algebra, so N-batch admission == batch rollup),
      * the ledger total equals the corpus row count equals the
        histogram mass, and the stored day set covers every corpus day,
      * the true p50/p90 ranks fall inside the bins the merged stored
        sketch selects (rank_below < target <= rank_upto, both exact
        recounts with the engine-exact bin expression).

    The oracle independently recomputes the exact percentiles
    (percentile == quantile_cont parity) and row/day counts.

    Scale notes: per batch the admission cost is one map-side-combined
    histogram of THAT BATCH (<= 200 bins/day, kilobytes appended);
    any window's quantile is one SUM over stored rows + a driver walk
    over <= 200 integers.  The stream is never re-read -- the exact
    recount here exists only to certify the claims."""
    from math import ceil

    from ..operators.histsketch import cents_bin, daily_histogram
    from ..streaming.summary_admission import (
        HIST,
        admit,
        compact,
        init,
        quantile_bins_from_state,
        read_state,
    )

    e = load_table(spark, "events", sf_dir)
    init(spark, HIST, "qh_adm")
    for i in range(3):
        batch = e.filter(F.col("event_id") % 3 == i)
        summary = partial(
            daily_histogram, batch, "ts", "value", _HIST_BINS,
            _HIST_SPAN_CENTS,
        )
        admit(spark, HIST, batch, "qh_adm", summary, id_col="event_id")
        if i == 0:
            _, n_before = read_state(spark, HIST, "qh_adm")
            admit(  # replay: must be a no-op
                spark, HIST, batch, "qh_adm", summary, id_col="event_id"
            )
            _, n_after = read_state(spark, HIST, "qh_adm")
            if n_after != n_before:
                raise AssertionError(
                    f"replayed batch changed ledger: {n_before} -> {n_after}"
                )
        if i == 1:
            compact(spark, HIST, "qh_adm")
    bins, mass, picks = quantile_bins_from_state(
        spark, "qh_adm", [0.5, 0.9]
    )
    n_events = e.count()
    if mass != n_events:
        raise AssertionError(f"histogram mass {mass} != corpus {n_events}")
    # append == rebuild, bit for bit
    daily_state, _ = read_state(spark, HIST, "qh_adm")
    rebuild = daily_histogram(e, "ts", "value", _HIST_BINS, _HIST_SPAN_CENTS)
    diff = (
        daily_state.exceptAll(rebuild).count()
        + rebuild.exceptAll(daily_state).count()
    )
    state_eq_rebuild = diff == 0
    n_days = daily_state.select("day").distinct().count()
    rank50, rank90 = ceil(0.5 * mass), ceil(0.9 * mass)
    b50, b90 = picks[0.5], picks[0.9]
    binc = cents_bin(F.col("value"), _HIST_BINS, _HIST_SPAN_CENTS)
    r = e.agg(
        F.count(F.when(binc < b50, 1)).cast("bigint").alias("below50"),
        F.count(F.when(binc <= b50, 1)).cast("bigint").alias("upto50"),
        F.count(F.when(binc < b90, 1)).cast("bigint").alias("below90"),
        F.count(F.when(binc <= b90, 1)).cast("bigint").alias("upto90"),
        F.expr("percentile(value, 0.5D)").alias("exact_p50"),
        F.expr("percentile(value, 0.9D)").alias("exact_p90"),
    ).collect()[0]
    p50_ok = r["below50"] < rank50 <= r["upto50"]
    p90_ok = r["below90"] < rank90 <= r["upto90"]
    return spark.createDataFrame(
        [
            (
                int(mass),
                int(n_days),
                float(r["exact_p50"]),
                float(r["exact_p90"]),
                bool(p50_ok),
                bool(p90_ok),
                bool(state_eq_rebuild),
            )
        ],
        "n bigint, n_days bigint, exact_p50 double, exact_p90 double, "
        "p50_bin_ok boolean, p90_bin_ok boolean, state_eq_rebuild boolean",
    )


# CMS params: cell-table geometry for the two entries below
_CMS_W, _CMS_D = 64, 4
_CMS_IDX_W, _CMS_IDX_D = 256, 3

_CMS_ORACLE = f"""
    WITH keyed AS (
        SELECT event_type || ':' || CAST(user_id % 32 AS VARCHAR) AS key
        FROM events
    ),
    cells AS (
        SELECT i AS row,
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || key),
                                    1, 15)) AS BIGINT) % {_CMS_W} AS col,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM keyed, unnest(range(0, {_CMS_D})) AS u(i)
        GROUP BY 1, 2
    ),
    probes AS (SELECT DISTINCT key FROM keyed),
    pcells AS (
        SELECT key, i AS row,
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || key),
                                    1, 15)) AS BIGINT) % {_CMS_W} AS col
        FROM probes, unnest(range(0, {_CMS_D})) AS u(i)
    ),
    est AS (
        SELECT p.key, CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS est
        FROM pcells p LEFT JOIN cells c USING (row, col)
        GROUP BY 1
    ),
    tru AS (
        SELECT key, CAST(COUNT(*) AS BIGINT) AS n_true FROM keyed GROUP BY 1
    )
    SELECT e.key, e.est, t.n_true,
           CAST(e.est - t.n_true AS BIGINT) AS overestimate
    FROM est e JOIN tru t USING (key)
    ORDER BY e.key
"""


@register(
    "cms_point_frequency_estimates",
    bench=True,
    tags=("sketch", "cms", "frequency", "approx", "scale-path"),
    oracle=_CMS_ORACLE,
)
def cms_point_frequency_estimates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-Min point-frequency estimates (operators/cms.py) for every
    (event_type, user-bucket) cell, ORACLE-EXACT INCLUDING THE
    APPROXIMATION: the row hashes are the engine-portable md5 parse, so
    DuckDB rebuilds the identical d x w counter table and the estimate
    column -- collisions, overestimates and all -- hash-matches bit for
    bit.  No error-envelope indirection: `overestimate = est - n_true`
    is structurally >= 0 (CMS never undercounts) and its exact value is
    part of the hashed output.

    Scale notes: the build shuffles at most d*w = 256 cell rows per
    partition (map-side combined) no matter the corpus; estimates are
    a broadcast join of probe cells against the kilobyte sketch.  The
    exact n_true twin exists only to certify -- at 100 TB one keeps
    the sketch and skips the GROUP BY entirely."""
    from ..operators.cms import cms_point_estimates, cms_sketch

    e = load_table(spark, "events", sf_dir)
    keyed = e.select(
        F.concat(
            F.col("event_type"),
            F.lit(":"),
            F.pmod(F.col("user_id"), F.lit(32)).cast("string"),
        ).alias("key")
    )
    sketch = cms_sketch(keyed, "key", _CMS_W, _CMS_D)
    # the probe set IS the exact-count table's key column: deriving it
    # from `tru` folds the separate keyed.distinct() corpus scan into
    # the exact-count pass -- the two consumers of `tru` then share one
    # identical aggregate exchange, which AQE's runtime exchange reuse
    # executes once (no cache needed; see the bigram-LM note for why a
    # persist here would cost more than stage reuse).  3 corpus scans
    # -> 2 (r10 optimization, guide section 1.2); identical rows:
    # distinct keys == group-by keys.
    tru = keyed.groupBy("key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    probes = tru.select("key")
    est = cms_point_estimates(sketch, probes, "key", _CMS_W, _CMS_D)
    return (
        est.join(tru, "key")
        .select(
            "key",
            "est",
            "n_true",
            (F.col("est") - F.col("n_true")).cast("bigint").alias(
                "overestimate"
            ),
        )
        .orderBy("key")
    )


_CMS_IDX_ORACLE = f"""
    WITH keyed AS (
        SELECT 'u' || CAST(user_id % 1000 AS VARCHAR) AS key FROM events
    ),
    cells AS (
        SELECT i AS row,
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || key),
                                    1, 15)) AS BIGINT) % {_CMS_IDX_W} AS col,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM keyed, unnest(range(0, {_CMS_IDX_D})) AS u(i)
        GROUP BY 1, 2
    ),
    probes AS (SELECT DISTINCT key FROM keyed),
    pcells AS (
        SELECT key, i AS row,
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || key),
                                    1, 15)) AS BIGINT) % {_CMS_IDX_W} AS col
        FROM probes, unnest(range(0, {_CMS_IDX_D})) AS u(i)
    ),
    est AS (
        SELECT p.key, CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS est
        FROM pcells p LEFT JOIN cells c USING (row, col)
        GROUP BY 1
    ),
    tru AS (
        SELECT key, CAST(COUNT(*) AS BIGINT) AS n_true FROM keyed GROUP BY 1
    )
    SELECT e.key, e.est, t.n_true,
           TRUE AS state_eq_rebuild, TRUE AS row_mass_ok
    FROM est e JOIN tru t USING (key)
    ORDER BY e.key
"""


@register(
    "cms_daily_rollup_indexed",
    tags=("sketch", "cms", "frequency", "approx", "rollup",
          "index-maintenance", "incremental", "scale-path"),
    oracle=_CMS_IDX_ORACLE,
)
def cms_daily_rollup_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX-MAINTENANCE form of the CMS: per-day partial sketches are
    a STORED catalog artifact (materialize_cms_daily over the stream's
    first weeks, the final days appended with append_to_cms_daily --
    counter addition is an algebra, so the logical state after any
    append sequence equals a full rebuild, asserted cell-for-cell
    here), and every user's frequency estimate is served by SUMMING
    stored rows -- the corpus is never rescanned.  The estimates off
    the maintained index hash-match the oracle's one-shot sketch over
    the whole corpus bit for bit (per-day partials sum to exactly the
    global cell counts), alongside two integer-exact invariant claims:
    state == rebuild, and each sketch row's mass == the corpus row
    count (every event landed in exactly one cell per row).

    Scale notes: each day stores <= d*w = 768 integer rows; a month's
    estimate reads <= 31*d*w stored integers.  Resolution (w) trades
    storage for collision overcount, never correctness of the >= true
    guarantee."""
    from ..operators.cms import (
        append_to_cms_daily,
        cms_daily_sketch,
        cms_point_estimates,
        load_cms_daily,
        materialize_cms_daily,
        merge_cms,
    )

    e = load_table(spark, "events", sf_dir)
    keyed = e.select(
        "ts",
        F.concat(
            F.lit("u"), F.pmod(F.col("user_id"), F.lit(1000)).cast("string")
        ).alias("key"),
    )
    cut = "2024-01-24"
    materialize_cms_daily(
        spark,
        keyed.filter(F.col("ts") < F.lit(cut).cast("timestamp_ntz")),
        "ts",
        "key",
        "cms_idx",
        _CMS_IDX_W,
        _CMS_IDX_D,
    )
    append_to_cms_daily(
        spark,
        keyed.filter(F.col("ts") >= F.lit(cut).cast("timestamp_ntz")),
        "ts",
        "key",
        "cms_idx",
    )
    daily, w, d = load_cms_daily(spark, "cms_idx")
    rebuild = cms_daily_sketch(keyed, "ts", "key", w, d)
    diff = daily.exceptAll(rebuild).count() + rebuild.exceptAll(daily).count()
    state_eq_rebuild = diff == 0
    merged = merge_cms(daily).localCheckpoint(eager=True)
    n_events = e.count()
    masses = [
        int(r["m"])
        for r in merged.groupBy("row")
        .agg(F.sum("c").alias("m"))
        .collect()
    ]
    row_mass_ok = len(masses) == d and all(m == n_events for m in masses)
    probes = keyed.select("key").distinct()
    est = cms_point_estimates(merged, probes, "key", w, d)
    tru = keyed.groupBy("key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    return (
        est.join(tru, "key")
        .select(
            "key",
            "est",
            "n_true",
            F.lit(bool(state_eq_rebuild)).alias("state_eq_rebuild"),
            F.lit(bool(row_mass_ok)).alias("row_mass_ok"),
        )
        .orderBy("key")
    )


@register(
    "cms_admission_streaming_certificate",
    tags=("sketch", "cms", "frequency", "streaming", "incremental",
          "index-maintenance", "approx", "scale-path"),
    oracle=_CMS_ORACLE,
)
def cms_admission_streaming_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming Count-Min certification (streaming/summary_admission.py,
    CMS spec):
    the events stream is admitted in three micro-batch-shaped slices
    (event_id % 3) through the real CMS-admission round (bounded d*w
    cell partials, cms -> meta append order, commit markers), with the
    FIRST batch replayed (ledger must not move) and the index compacted
    mid-sequence (markers must survive).  The accumulated state is then
    asserted BIT-IDENTICAL to a one-shot sketch of the whole stream
    (cell addition is an algebra), and the point estimates served off
    the streamed state hash-match the SAME plain-SQL oracle the batch
    entry (`cms_point_frequency_estimates`) uses -- N-batch streaming
    admission == batch sketch, estimate for estimate.

    Scale notes: per batch the admission cost is one bounded cell
    aggregate of THAT BATCH (kilobytes appended); the stream is never
    re-read.  The exact recount exists only to certify."""
    from ..operators.cms import cms_point_estimates, cms_sketch
    from ..streaming.summary_admission import (
        CMS,
        admit,
        compact,
        init,
        read_state,
    )

    e = load_table(spark, "events", sf_dir)
    keyed = e.select(
        "event_id",
        F.concat(
            F.col("event_type"),
            F.lit(":"),
            F.pmod(F.col("user_id"), F.lit(32)).cast("string"),
        ).alias("key"),
    )
    init(spark, CMS, "cms_adm")
    for i in range(3):
        batch = keyed.filter(F.col("event_id") % 3 == i)
        summary = partial(cms_sketch, batch, "key", _CMS_W, _CMS_D)
        admit(spark, CMS, batch, "cms_adm", summary, id_col="event_id")
        if i == 0:
            _, n_before = read_state(spark, CMS, "cms_adm")
            admit(  # replay: must be a no-op
                spark, CMS, batch, "cms_adm", summary, id_col="event_id"
            )
            _, n_after = read_state(spark, CMS, "cms_adm")
            if n_after != n_before:
                raise AssertionError(
                    f"replayed batch changed ledger: {n_before} -> {n_after}"
                )
        if i == 1:
            compact(spark, CMS, "cms_adm")
    state, n_total = read_state(spark, CMS, "cms_adm")
    n_events = keyed.count()
    if n_total != n_events:
        raise AssertionError(f"ledger {n_total} != corpus {n_events}")
    one_shot = cms_sketch(keyed.select("key"), "key", _CMS_W, _CMS_D)
    diff = (
        state.exceptAll(one_shot).count()
        + one_shot.exceptAll(state).count()
    )
    if diff != 0:
        raise AssertionError("streamed state != one-shot sketch")
    probes = keyed.select("key").distinct()
    est = cms_point_estimates(state, probes, "key", _CMS_W, _CMS_D)
    tru = keyed.groupBy("key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    return (
        est.join(tru, "key")
        .select(
            "key",
            "est",
            "n_true",
            (F.col("est") - F.col("n_true")).cast("bigint").alias(
                "overestimate"
            ),
        )
        .orderBy("key")
    )


_CMS_WEIGHTED_ORACLE = f"""
        WITH keyed AS (
            SELECT event_type || ':' || CAST(user_id % 32 AS VARCHAR)
                       AS key,
                   CAST(FLOOR(value * 100) AS BIGINT) AS cents
            FROM events
        ),
        cells AS (
            SELECT i AS row,
                   CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || key),
                                        1, 15)) AS BIGINT) % {_CMS_W} AS col,
                   CAST(SUM(cents) AS BIGINT) AS c
            FROM keyed, unnest(range(0, {_CMS_D})) AS u(i)
            GROUP BY 1, 2
        ),
        probes AS (SELECT DISTINCT key FROM keyed),
        pcells AS (
            SELECT key, i AS row,
                   CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || key),
                                        1, 15)) AS BIGINT) % {_CMS_W} AS col
            FROM probes, unnest(range(0, {_CMS_D})) AS u(i)
        ),
        est AS (
            SELECT p.key, CAST(MIN(COALESCE(c.c, 0)) AS BIGINT)
                       AS est_cents
            FROM pcells p LEFT JOIN cells c USING (row, col)
            GROUP BY 1
        ),
        tru AS (
            SELECT key, CAST(SUM(cents) AS BIGINT) AS true_cents
            FROM keyed GROUP BY 1
        )
        SELECT e.key, e.est_cents, t.true_cents,
               CAST(e.est_cents - t.true_cents AS BIGINT)
                   AS overestimate_cents
        FROM est e JOIN tru t USING (key)
        ORDER BY e.key
"""


@register(
    "cms_value_mass_estimates",
    tags=("sketch", "cms", "frequency", "weighted", "approx",
          "scale-path"),
    oracle=_CMS_WEIGHTED_ORACLE,
)
def cms_value_mass_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED Count-Min: per-cell counters accumulate exact VALUE
    CENTS instead of row counts, so the estimate answers "how much
    revenue did this key carry" with the same never-undercount
    guarantee -- the CMS half of the weighted matrix whose Misra-Gries
    half is `heavy_value_cells_mg_exact` ({frequency, weighted} x
    {MG, CMS}, every cell oracle-certified).  Oracle-exact including
    the approximation, like the unweighted entry.

    Scale notes: identical plan shape to the unweighted build (the
    weight rides the explode as one extra bigint column); estimates
    stay a broadcast probe of a kilobyte sketch."""
    from ..operators.cms import cms_point_estimates, cms_sketch

    e = load_table(spark, "events", sf_dir)
    keyed = e.select(
        F.concat(
            F.col("event_type"),
            F.lit(":"),
            F.pmod(F.col("user_id"), F.lit(32)).cast("string"),
        ).alias("key"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    sketch = cms_sketch(keyed, "key", _CMS_W, _CMS_D, weight_col="cents")
    probes = keyed.select("key").distinct()
    est = cms_point_estimates(
        sketch, probes, "key", _CMS_W, _CMS_D
    ).withColumnRenamed("est", "est_cents")
    tru = keyed.groupBy("key").agg(
        F.sum("cents").cast("bigint").alias("true_cents")
    )
    return (
        est.join(tru, "key")
        .select(
            "key",
            "est_cents",
            "true_cents",
            (F.col("est_cents") - F.col("true_cents")).cast("bigint").alias(
                "overestimate_cents"
            ),
        )
        .orderBy("key")
    )


@register(
    "cms_admission_weighted_certificate",
    tags=("sketch", "cms", "frequency", "weighted", "streaming",
          "incremental", "index-maintenance", "approx", "scale-path"),
    oracle=_CMS_WEIGHTED_ORACLE,
)
def cms_admission_weighted_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WEIGHTED streaming CMS certification: event VALUE mass (exact
    cents) is admitted in three batch-shaped slices through the real
    admission round with `weight_col`, the first batch replayed (the
    weight ledger must not move) and the index compacted mid-sequence.
    The accumulated state is asserted bit-identical to a one-shot
    weighted sketch, and the estimates hash-match the SAME oracle as
    the batch entry (`cms_value_mass_estimates`) -- completing the
    {frequency, weighted} x {batch, streaming} CMS matrix, every cell
    oracle-certified, mirroring the MG matrix."""
    from ..operators.cms import cms_point_estimates, cms_sketch
    from ..streaming.summary_admission import (
        CMS,
        admit,
        compact,
        init,
        read_state,
    )

    e = load_table(spark, "events", sf_dir)
    keyed = e.select(
        "event_id",
        F.concat(
            F.col("event_type"),
            F.lit(":"),
            F.pmod(F.col("user_id"), F.lit(32)).cast("string"),
        ).alias("key"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    init(spark, CMS, "cmsw_adm")
    for i in range(3):
        batch = keyed.filter(F.col("event_id") % 3 == i)
        summary = partial(
            cms_sketch, batch, "key", _CMS_W, _CMS_D, weight_col="cents"
        )
        admit(
            spark, CMS, batch, "cmsw_adm", summary,
            id_col="event_id", weight_col="cents",
        )
        if i == 0:
            _, n_before = read_state(spark, CMS, "cmsw_adm")
            admit(  # replay: must be a no-op
                spark, CMS, batch, "cmsw_adm", summary,
                id_col="event_id", weight_col="cents",
            )
            _, n_after = read_state(spark, CMS, "cmsw_adm")
            if n_after != n_before:
                raise AssertionError(
                    f"replay moved weight ledger: {n_before} -> {n_after}"
                )
        if i == 1:
            compact(spark, CMS, "cmsw_adm")
    state, mass_total = read_state(spark, CMS, "cmsw_adm")
    corpus_mass = int(
        keyed.agg(F.sum("cents").cast("bigint")).collect()[0][0] or 0
    )
    if mass_total != corpus_mass:
        raise AssertionError(
            f"ledger mass {mass_total} != corpus mass {corpus_mass}"
        )
    one_shot = cms_sketch(
        keyed.select("key", "cents"), "key", _CMS_W, _CMS_D,
        weight_col="cents",
    )
    diff = (
        state.exceptAll(one_shot).count()
        + one_shot.exceptAll(state).count()
    )
    if diff != 0:
        raise AssertionError("streamed weighted state != one-shot sketch")
    probes = keyed.select("key").distinct()
    est = cms_point_estimates(
        state, probes, "key", _CMS_W, _CMS_D
    ).withColumnRenamed("est", "est_cents")
    tru = keyed.groupBy("key").agg(
        F.sum("cents").cast("bigint").alias("true_cents")
    )
    return (
        est.join(tru, "key")
        .select(
            "key",
            "est_cents",
            "true_cents",
            (F.col("est_cents") - F.col("true_cents")).cast("bigint").alias(
                "overestimate_cents"
            ),
        )
        .orderBy("key")
    )


@register(
    "grouped_quantile_rollup_certificate",
    tags=("sketch", "quantile", "histogram", "approx", "rollup",
          "recall-certificate", "scale-path"),
    oracle="""
        SELECT event_type AS g,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
               quantile_cont(value, 0.5) AS exact_p50,
               quantile_cont(value, 0.9) AS exact_p90,
               TRUE AS p50_bin_ok,
               TRUE AS p90_bin_ok
        FROM events GROUP BY 1 ORDER BY 1
    """,
)
def grouped_quantile_rollup_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GROUPED mergeable quantile rollup (operators/histsketch.py::
    grouped_daily_histogram): one stored per-day histogram PER EVENT
    TYPE -- the per-tenant / per-key dashboard shape -- with every
    group's p50/p90 served by summing its stored bin rows and the rank
    guarantee certified per group (true rank falls inside the chosen
    bin, exact conditional recounts against a broadcast probe of the
    per-group picks).  The exact per-group percentiles ride along and
    the oracle recomputes them independently (percentile ==
    quantile_cont parity, bit for bit).

    Scale notes: each (group, day) persists <= 200 integer rows; a
    grouped dashboard reads <= groups x days x 200 stored integers and
    never rescans an event.  The driver-side walk is bounded by the
    group count (a bounded contract like the ANN codebooks)."""
    from math import ceil

    from ..operators.histsketch import (
        bin_for_rank,
        cents_bin,
        grouped_daily_histogram,
        merge_grouped_histograms,
    )

    e = load_table(spark, "events", sf_dir)
    daily = grouped_daily_histogram(
        e, "event_type", "ts", "value", _HIST_BINS, _HIST_SPAN_CENTS
    ).persist()
    merged = merge_grouped_histograms(daily)
    by_g: dict[str, list[tuple[int, int]]] = {}
    for r in merged.collect():
        by_g.setdefault(r["g"], []).append((int(r["bin"]), int(r["n"])))
    days = {
        r["g"]: int(r["nd"])
        for r in daily.groupBy("g")
        .agg(F.countDistinct("day").alias("nd"))
        .collect()
    }
    daily.unpersist()
    probe_rows = []
    ranks: dict[str, tuple[int, int, int]] = {}
    for g, bins in sorted(by_g.items()):
        n = sum(c for _, c in bins)
        r50, r90 = ceil(0.5 * n), ceil(0.9 * n)
        probe_rows.append((g, bin_for_rank(bins, r50), bin_for_rank(bins, r90)))
        ranks[g] = (n, r50, r90)
    probe = spark.createDataFrame(
        probe_rows, "g string, b50 bigint, b90 bigint"
    )
    binc = cents_bin(F.col("value"), _HIST_BINS, _HIST_SPAN_CENTS)
    agg = (
        e.join(F.broadcast(probe), e.event_type == probe.g)
        .groupBy("g")
        .agg(
            F.count(F.when(binc < F.col("b50"), 1)).cast("bigint").alias("below50"),
            F.count(F.when(binc <= F.col("b50"), 1)).cast("bigint").alias("upto50"),
            F.count(F.when(binc < F.col("b90"), 1)).cast("bigint").alias("below90"),
            F.count(F.when(binc <= F.col("b90"), 1)).cast("bigint").alias("upto90"),
            F.expr("percentile(value, 0.5D)").alias("exact_p50"),
            F.expr("percentile(value, 0.9D)").alias("exact_p90"),
        )
    )
    out_rows = []
    for r in sorted(agg.collect(), key=lambda r: r["g"]):
        g = r["g"]
        n, r50, r90 = ranks[g]
        out_rows.append(
            (
                g,
                n,
                days[g],
                float(r["exact_p50"]),
                float(r["exact_p90"]),
                bool(r["below50"] < r50 <= r["upto50"]),
                bool(r["below90"] < r90 <= r["upto90"]),
            )
        )
    return spark.createDataFrame(
        out_rows,
        "g string, n bigint, n_days bigint, exact_p50 double, "
        "exact_p90 double, p50_bin_ok boolean, p90_bin_ok boolean",
    ).orderBy("g")


@register(
    "heavy_hitters_windowed_mg",
    tags=("sketch", "heavy-hitters", "misra-gries", "rollup",
          "index-maintenance", "approx-prune-exact-verify", "scale-path"),
    oracle=f"""
        WITH keyed AS (
            SELECT CASE WHEN event_type = 'click' THEN 'hot'
                        ELSE 'u' || CAST(user_id % 16 AS VARCHAR) END AS key
            FROM events WHERE ts >= TIMESTAMP '{_CUTOFF}'
        ),
        tot AS (SELECT COUNT(*) AS n FROM keyed),
        c AS (
            SELECT key, CAST(COUNT(*) AS BIGINT) AS n_events
            FROM keyed GROUP BY 1
        )
        SELECT key, n_events,
               CAST(n_events * 10000 // n AS BIGINT) AS share_bps
        FROM c, tot
        WHERE n_events * {_MG_K + 1} > n
        ORDER BY key
    """,
)
def heavy_hitters_windowed_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINDOWED heavy hitters from STORED per-day Misra-Gries
    summaries (operators/heavyhitters.py::mg_summary_by_group): the
    whole month's stream is summarised ONCE into a (day, key, c)
    catalog table (<= k rows per partition-day, per-day scoped
    guarantee) plus a (day, n_rows) ledger; the "top entities last
    week" query then merges only the window's stored rows into a
    candidate set -- a window-heavy key must be day-heavy in at least
    one of its days (pigeonhole over the window), so the union of
    daily survivors is a guaranteed superset -- and one sliver-only
    recount over the window corpus restores exactness.  Hash-matches
    the plain GROUP BY + HAVING oracle over the window.

    Scale notes: history is summarised once, kilobytes per day; every
    new window choice (last week, last day, month-to-date) reads only
    stored rows plus one candidate-sliver recount of THAT window --
    the full stream is never re-scanned per dashboard query.  The key
    is deliberately one-hot ('click' collapses to 'hot', ~20% of
    events) so skew rides through the stored summaries."""
    from ..operators.heavyhitters import mg_summary_by_group
    from ..sinks.bucketing import _clear_orphan_location

    e = load_table(spark, "events", sf_dir)
    key = F.when(F.col("event_type") == "click", F.lit("hot")).otherwise(
        F.concat(F.lit("u"), F.pmod(F.col("user_id"), F.lit(16)).cast("string"))
    )
    keyed = e.select(
        F.col("ts").cast("date").alias("day"), key.alias("key"), "ts"
    )
    for name in ("whm_idx", "whm_meta"):
        _clear_orphan_location(spark, name)
    mg_summary_by_group(
        keyed.select("day", "key"), "day", ["key"], _MG_K
    ).groupBy("day", "key").agg(
        F.sum("c").cast("bigint").alias("c")
    ).write.format("parquet").saveAsTable("whm_idx")
    keyed.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    ).write.format("parquet").saveAsTable("whm_meta")
    # the window query proper: stored rows only, then one sliver recount
    lo = F.lit(_CUTOFF).cast("date")
    cands = (
        spark.table("whm_idx")
        .filter(F.col("day") >= lo)
        .select("key")
        .distinct()
    )
    n_window = int(
        spark.table("whm_meta")
        .filter(F.col("day") >= lo)
        .agg(F.sum("n_rows").cast("bigint"))
        .collect()[0][0]
        or 0
    )
    window_corpus = keyed.filter(
        F.col("ts") >= F.lit(_CUTOFF).cast("timestamp_ntz")
    )
    n_corpus = window_corpus.count()
    if n_window != n_corpus:
        raise AssertionError(
            f"ledger/window divergence: {n_window} vs {n_corpus}"
        )
    return (
        window_corpus.join(F.broadcast(cands), "key", "left_semi")
        .groupBy("key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .filter(F.col("n_events") * (_MG_K + 1) > F.lit(n_window))
        .withColumn("share_bps", F.expr(f"n_events * 10000 DIV {n_window}"))
        .orderBy("key")
    )
