"""Data-audit statistics over the events stream: first-digit profile
and per-user lifetime-value quantiles.

Two numeric-integrity checks an ingestion audit runs: the leading-digit
distribution of amounts (a fabricated or truncated feed skews it -- the
Benford's-law screen, reported as observed shares so the audit applies
whatever expected curve it wants downstream without transcendentals in
the oracle-matched output), and the shape of per-user total value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..workload import register


@register(
    "value_first_digit_profile",
    tags=("audit", "benford", "statistics", "events"),
    oracle="""
        WITH cents AS (
            SELECT CAST(FLOOR(value * 100) AS BIGINT) AS c
            FROM events WHERE value > 0
        ),
        digits AS (
            SELECT substr(CAST(c AS VARCHAR), 1, 1) AS digit FROM cents
        ),
        counts AS (
            SELECT digit, count(*) AS n FROM digits GROUP BY digit
        )
        SELECT digit, CAST(n AS BIGINT) AS n,
               CAST(n AS DOUBLE) / (SELECT SUM(n) FROM counts) AS share
        FROM counts
        ORDER BY digit
    """,
)
def value_first_digit_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leading-digit distribution of positive event values (in integer
    cents: FLOOR-then-CAST, the portable quantisation).  One map-side-
    combined aggregate + a broadcast scalar total; the share division
    happens once per digit, not per row."""
    events = load_table(spark, "events", sf_dir)
    cents = events.filter(F.col("value") > 0).select(
        F.floor(F.col("value") * 100).cast("bigint").alias("c")
    )
    counts = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).alias("digit")
    ).groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n"),
            (F.col("n").cast("double") / F.col("t")).alias("share"),
        )
        .orderBy("digit")
    )


@register(
    "user_ltv_quantiles",
    tags=("audit", "percentile", "statistics", "events"),
    oracle="""
        WITH ltv AS (
            SELECT user_id,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                       AS total
            FROM events GROUP BY user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               quantile_cont(total, 0.25) AS p25,
               quantile_cont(total, 0.50) AS p50,
               quantile_cont(total, 0.75) AS p75,
               quantile_cont(total, 0.90) AS p90
        FROM ltv
    """,
)
def user_ltv_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartiles + p90 of per-user lifetime value.  Exact-decimal user
    totals cast to double ONCE, then Spark's interpolated percentile()
    == DuckDB quantile_cont bit-for-bit (the repo's established
    percentile parity)."""
    events = load_table(spark, "events", sf_dir)
    ltv = events.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total")
    )
    return ltv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.percentile(F.col("total"), F.lit(0.25)).alias("p25"),
        F.percentile(F.col("total"), F.lit(0.50)).alias("p50"),
        F.percentile(F.col("total"), F.lit(0.75)).alias("p75"),
        F.percentile(F.col("total"), F.lit(0.90)).alias("p90"),
    )


# drift-screen params: 40 exact-integer bins over [0, 500.00), split at
# mid-month -- the "did the feed's value distribution move" audit
_DRIFT_BINS = 40
_DRIFT_SPAN_CENTS = 50_000
_DRIFT_CUT = "2024-01-16"


@register(
    "event_value_drift_bins",
    tags=("data-quality", "drift", "histogram", "aggregation",
          "monitoring"),
    oracle=f"""
        WITH binned AS (
            SELECT CAST(FLOOR(value * 100) AS BIGINT) * {_DRIFT_BINS}
                       // {_DRIFT_SPAN_CENTS} AS rawbin,
                   (ts < TIMESTAMP '{_DRIFT_CUT}') AS before
            FROM events
        ),
        b AS (
            SELECT LEAST(rawbin, {_DRIFT_BINS - 1}) AS bin, before
            FROM binned
        ),
        agg AS (
            SELECT bin,
                   CAST(COUNT(*) FILTER (WHERE before) AS BIGINT)
                       AS n_before,
                   CAST(COUNT(*) FILTER (WHERE NOT before) AS BIGINT)
                       AS n_after
            FROM b GROUP BY bin
        ),
        tot AS (
            SELECT CAST(SUM(n_before) AS BIGINT) AS tb,
                   CAST(SUM(n_after) AS BIGINT) AS ta
            FROM agg
        )
        SELECT bin, n_before, n_after,
               CAST(n_before * 10000 // tb AS BIGINT) AS share_before_bps,
               CAST(n_after * 10000 // ta AS BIGINT) AS share_after_bps,
               CAST(abs(n_before * 10000 // tb - n_after * 10000 // ta)
                    AS BIGINT) AS drift_bps
        FROM agg, tot
        ORDER BY drift_bps DESC, bin
        LIMIT 20
    """,
)
def event_value_drift_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift screen between the two halves of the event
    range: exact integer value bins (the histsketch cents-bin
    expression -- engine-exact, no float boundary can flip a row), each
    half's per-bin share in basis points by integer cross-multiplied
    division, ranked by absolute share drift.  The PSI/KS decision rule
    applies downstream to these shares; keeping logs/CDFs out of the
    hashed output is the same no-transcendentals discipline as the
    Benford screen above.

    At 100 TB this is two map-side-combined aggregates over one scan
    (the halves are a pivot, not two passes) shuffling <= 40 bins, and
    in the stored-sketch regime the same comparison reads two windows
    of persisted daily histogram rows (operators/histsketch.py) without
    rescanning anything."""
    from ..operators.histsketch import cents_bin

    e = load_table(spark, "events", sf_dir)
    before = F.col("ts") < F.lit(_DRIFT_CUT).cast("timestamp_ntz")
    agg = (
        e.select(
            cents_bin(F.col("value"), _DRIFT_BINS, _DRIFT_SPAN_CENTS).alias(
                "bin"
            ),
            before.alias("before"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.when(F.col("before"), 1)).cast("bigint").alias(
                "n_before"
            ),
            F.count(F.when(~F.col("before"), 1)).cast("bigint").alias(
                "n_after"
            ),
        )
    )
    tot = agg.agg(
        F.sum("n_before").cast("bigint").alias("tb"),
        F.sum("n_after").cast("bigint").alias("ta"),
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_before",
            "n_after",
            F.expr("n_before * 10000 DIV tb").alias("share_before_bps"),
            F.expr("n_after * 10000 DIV ta").alias("share_after_bps"),
            F.expr(
                "abs(n_before * 10000 DIV tb - n_after * 10000 DIV ta)"
            ).alias("drift_bps"),
        )
        .orderBy(F.desc("drift_bps"), F.asc("bin"))
        .limit(20)
    )


@register(
    "drift_from_stored_histograms",
    tags=("data-quality", "drift", "histogram", "sketch", "rollup",
          "index-maintenance", "monitoring", "scale-path"),
    oracle=f"""
        WITH binned AS (
            SELECT CAST(FLOOR(value * 100) AS BIGINT) * {_DRIFT_BINS}
                       // {_DRIFT_SPAN_CENTS} AS rawbin,
                   (ts < TIMESTAMP '{_DRIFT_CUT}') AS before
            FROM events
        ),
        b AS (
            SELECT LEAST(rawbin, {_DRIFT_BINS - 1}) AS bin, before
            FROM binned
        ),
        agg AS (
            SELECT bin,
                   CAST(COUNT(*) FILTER (WHERE before) AS BIGINT)
                       AS n_before,
                   CAST(COUNT(*) FILTER (WHERE NOT before) AS BIGINT)
                       AS n_after
            FROM b GROUP BY bin
        ),
        tot AS (
            SELECT CAST(SUM(n_before) AS BIGINT) AS tb,
                   CAST(SUM(n_after) AS BIGINT) AS ta
            FROM agg
        )
        SELECT bin, n_before, n_after,
               CAST(n_before * 10000 // tb AS BIGINT) AS share_before_bps,
               CAST(n_after * 10000 // ta AS BIGINT) AS share_after_bps,
               CAST(abs(n_before * 10000 // tb - n_after * 10000 // ta)
                    AS BIGINT) AS drift_bps
        FROM agg, tot
        ORDER BY drift_bps DESC, bin
        LIMIT 20
    """,
)
def drift_from_stored_histograms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME drift screen as `event_value_drift_bins`, served
    entirely off STORED per-day histogram rows: the first weeks'
    sketches are materialised as a catalog table, the final days
    appended (bin addition is an algebra, append == rebuild asserted
    row-for-row), and the monitoring query then reads ONLY the stored
    table -- grouping days into the two windows, summing bins, and
    ranking share drift.  Hash-matching the recompute oracle proves the
    100 TB monitoring path: a daily drift dashboard reads <= 40 stored
    integer rows per day and never rescans an event.

    This is the consumer side of the quantile-sketch state the
    streaming admission path (streaming/summary_admission.py, HIST
    spec) maintains -- the same stored rows answer both quantile and
    drift questions."""
    from ..operators.histsketch import daily_histogram
    from ..sinks.bucketing import _clear_orphan_location

    e = load_table(spark, "events", sf_dir)
    cut_ts = F.lit(_DRIFT_CUT).cast("timestamp_ntz")
    append_from = F.lit("2024-01-25").cast("timestamp_ntz")
    name = "drift_hist_idx"
    _clear_orphan_location(spark, name)
    daily_histogram(
        e.filter(F.col("ts") < append_from), "ts", "value",
        _DRIFT_BINS, _DRIFT_SPAN_CENTS,
    ).write.format("parquet").saveAsTable(name)
    daily_histogram(
        e.filter(F.col("ts") >= append_from), "ts", "value",
        _DRIFT_BINS, _DRIFT_SPAN_CENTS,
    ).write.mode("append").format("parquet").saveAsTable(name)
    spark.catalog.refreshTable(name)
    stored = (
        spark.table(name)
        .groupBy("day", "bin")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    rebuild = daily_histogram(e, "ts", "value", _DRIFT_BINS,
                              _DRIFT_SPAN_CENTS)
    diff = (
        stored.exceptAll(rebuild).count()
        + rebuild.exceptAll(stored).count()
    )
    if diff != 0:
        raise AssertionError("stored daily histograms != rebuild")
    # the monitoring query proper: stored rows only, corpus untouched
    agg = (
        stored.withColumn(
            "before", F.col("day") < cut_ts.cast("date")
        )
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("before"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_before"),
            F.sum(F.when(~F.col("before"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_after"),
        )
    )
    tot = agg.agg(
        F.sum("n_before").cast("bigint").alias("tb"),
        F.sum("n_after").cast("bigint").alias("ta"),
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_before",
            "n_after",
            F.expr("n_before * 10000 DIV tb").alias("share_before_bps"),
            F.expr("n_after * 10000 DIV ta").alias("share_after_bps"),
            F.expr(
                "abs(n_before * 10000 DIV tb - n_after * 10000 DIV ta)"
            ).alias("drift_bps"),
        )
        .orderBy(F.desc("drift_bps"), F.asc("bin"))
        .limit(20)
    )
