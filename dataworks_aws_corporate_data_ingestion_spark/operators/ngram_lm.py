"""Count-based bigram language model: train on the corpus, score every
document's n-gram familiarity.

The LM-quality-filter step of a training-data pipeline (CCNet/Gopher
style: score text against a language model, gate on the score) without
an external model artifact: the corpus itself is the model.  Training
is two aggregations (unigram counts, bigram counts); scoring is two
hash joins.

Why NOT log-probabilities in the oracle-checked output: log/exp differ
between JVM and C libm in the last ulp (repo convention: no
transcendentals in oracle-matched doubles), and boundary cases (exact
powers of two) WILL flip a fixed-point rounding.  Instead each bigram
scores an add-one-smoothed probability in integer NANO-units via pure
integer floor division:

    p_nano(w2 | w1) = (1e9 * (c(w1,w2) + 1)) div (c(w1) + V)

Integer sums of p_nano commute (order-independent), so per-document
totals are exact in both engines; the mean is a single final division
of two exact integers (IEEE-identical).  A downstream consumer wanting
log-space scores applies log to the per-bigram ratio locally -- the
ordering information is already in the integers.

Overflow envelope (int64, ANSI mode): the widest intermediate is
1e9 * (c(w1,w2) + 1), safe while no single bigram occurs more than
~9.2e9 times; past that (a ~1e12-token corpus of highly repetitive
text) drop the scale to 1e6 or route through DECIMAL(38,0).

100 TB scale notes: the count tables are vocabulary-sized (|V| and
|V|^2-bounded but Zipf-truncated in practice), far smaller than the
corpus; AQE broadcasts them when they fit, else they hash-join on the
token string.  Scoring explodes each document's bigrams once --
shuffle-linear in corpus tokens, the same order as tokenisation
itself.  Self-counting (each document contributes to the counts that
score it) is the standard corpus-LM setup and is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import fan_out

P_SCALE = 1_000_000_000  # nano-units


def _doc_bigrams(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, w1, w2) for every adjacent token pair.

    Enumerated as arrays_zip of two slices (the bpe operator's form)
    rather than transform(sequence, element_at): the higher-order
    transform evaluates a lambda per index with two element_at probes
    while the zip-of-slices is one vectorised copy -- measured 2.3x on
    the sf0.1 bigram count aggregate (2.00s -> 0.89s noop), identical
    pair multiset (r11, guide 1.2 step 2)."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(toks)
    pairs = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(toks, 1, n - 1).alias("w1"),
            F.slice(toks, 2, n - 1).alias("w2"),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return docs.select(
        F.col(id_col).alias("doc_id"), F.explode(pairs).alias("p")
    ).select("doc_id", "p.w1", "p.w2")


def train_bigram_lm(
    docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """The corpus-as-model count tables: (unigrams(w1, c1),
    bigram_counts(w1, w2, c12)).  Vocabulary-sized -- the thing a daily
    pipeline materialises once and merges deltas into, never retraining
    over history (see materialize_bigram_lm / append_to_bigram_lm)."""
    docs = fan_out(docs)
    toks = F.split(F.lower(F.col(text_col)), " ")
    unigrams = (
        docs.select(F.explode(toks).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bigram_counts = _doc_bigrams(docs, text_col).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    )
    return unigrams, bigram_counts


def score_documents_bigram_lm(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document bigram-LM familiarity report (model trained on the
    same corpus being scored -- the self-contained registry form).

    Output: doc_id, n_bigrams, oov_bigrams (pairs never seen as a
    bigram anywhere in the corpus), sum_p_nano (exact integer total of
    smoothed bigram probabilities), mean_p_nano (double; null for
    documents with < 2 tokens).
    """
    docs = fan_out(docs)
    unigrams, bigram_counts = train_bigram_lm(docs, text_col)
    # NOT cached on purpose (r10 optimization note): the unigram table
    # feeds both the w1 join and the vocab-count aggregate, but those
    # consumers share one identical aggregate exchange and AQE's runtime
    # exchange reuse already runs it once -- measured: tracked_persist
    # of the two count tables RAISED executor CPU 11.3s -> 27s (cache
    # build + columnar scan replaced free shuffle-stage reuse).
    return score_documents_against_lm(
        docs, unigrams, bigram_counts, text_col=text_col, id_col=id_col
    )


def score_documents_against_lm(
    docs: DataFrame,
    unigrams: DataFrame,
    bigram_counts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents against an EXISTING model (stored or in-flight
    count tables): the incremental form -- a daily delta is scored with
    one pass over its own bigrams joined to the vocabulary-sized model,
    the corpus never rescanned.  Add-one smoothing semantics are
    identical to score_documents_bigram_lm.

    Caller contract: admit the delta's counts into the model FIRST
    (append_to_bigram_lm) so every token the docs contain has a unigram
    row -- the w1 join is inner (kept identical to the self-trained
    plan), so a truly-unknown token's bigrams would be dropped rather
    than floor-scored."""
    docs = fan_out(docs)
    bi = _doc_bigrams(docs, text_col, id_col)
    vocab = unigrams.agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )  # 1-row: broadcast

    scored = (
        bi.join(bigram_counts, ["w1", "w2"], "left")
        .join(unigrams, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.coalesce(F.col("c12"), F.lit(0)).alias("c12"),
            F.col("c1"),
            F.col("v"),
        )
        .withColumn(
            "p_nano",
            F.expr(f"({P_SCALE} * (c12 + 1)) div (c1 + v)"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum((F.col("c12") == 0).cast("long")).alias("oov_bigrams"),
        F.sum("p_nano").alias("sum_p_nano"),
    )
    ids = docs.select(F.col(id_col).alias("doc_id"))
    return (
        ids.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias(
                "n_bigrams"
            ),
            F.coalesce("oov_bigrams", F.lit(0)).cast("bigint").alias(
                "oov_bigrams"
            ),
            F.coalesce("sum_p_nano", F.lit(0)).cast("bigint").alias(
                "sum_p_nano"
            ),
        )
        .withColumn(
            "mean_p_nano",
            F.when(
                F.col("n_bigrams") > 0,
                F.col("sum_p_nano").cast("double") / F.col("n_bigrams"),
            ),
        )
    )


def materialize_bigram_lm(
    spark,
    docs: DataFrame,
    prefix: str,
    n_buckets: int = 16,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Persist the LM count tables as a catalog artifact:
    `{prefix}_uni` (w1, c1) and `{prefix}_bi` (w1, w2, c12), both
    bucketed by w1 so later delta merges and scoring joins co-locate.
    Vocabulary-sized -- at 100 TB the model is megabytes while the
    corpus is the thing you never want to rescan.  Returns the frames
    read back from the catalog."""
    from ..sinks.bucketing import write_bucketed

    unigrams, bigram_counts = train_bigram_lm(docs, text_col)
    write_bucketed(unigrams, f"{prefix}_uni", ["w1"], n_buckets)
    write_bucketed(bigram_counts, f"{prefix}_bi", ["w1"], n_buckets)
    return spark.table(f"{prefix}_uni"), spark.table(f"{prefix}_bi")


def append_to_bigram_lm(
    spark, delta: DataFrame, prefix: str, text_col: str = "text"
) -> None:
    """Admit a delta's counts into a materialised LM: unigram and
    bigram counts merge by key (old + delta), a vocabulary-sized
    aggregate -- the corpus is never re-read.  After this, scoring the
    delta against the stored tables equals retraining from scratch on
    corpus + delta, bit for bit (certified by `bigram_lm_incremental`).
    Frames read from tables being overwritten are pinned with eager
    localCheckpoints (same discipline as append_to_search_index); the
    overwrites keep the catalog's bucket spec (insert_into)."""
    from ..sinks.bucketing import insert_into

    d_uni, d_bi = train_bigram_lm(delta, text_col)
    merged_uni = (
        spark.table(f"{prefix}_uni")
        .unionByName(d_uni)
        .groupBy("w1")
        .agg(F.sum("c1").alias("c1"))
        .localCheckpoint(eager=True)
    )
    merged_bi = (
        spark.table(f"{prefix}_bi")
        .unionByName(d_bi)
        .groupBy("w1", "w2")
        .agg(F.sum("c12").alias("c12"))
        .localCheckpoint(eager=True)
    )
    insert_into(merged_uni, f"{prefix}_uni", overwrite=True)
    insert_into(merged_bi, f"{prefix}_bi", overwrite=True)
