"""TPC-H partsupp-family shapes (q2/q9/q11/q16/q20) over a SYNTHESISED
partsupp relation.

The driver's testdata has no partsupp table, which blocked this family
for two rounds.  Both engines deterministically synthesise the same
relation from `part` x a 4-row sequence (4 suppliers per part, TPC-H's
own fan-out), so every query still has a full value-hash oracle:

    ps_partkey          = p_partkey
    ps_suppkey          = (p_partkey + i * (n_supp//4 + 1)) % n_supp
    ps_availqty         = (p_partkey*7  + i*11) % 9999 + 1
    ps_supplycost_cents = (p_partkey*13 + i*17) % 100000

Cost rides as integer CENTS: decimal/float literals never cross an
engine boundary, every aggregate stays in exact integer/decimal space,
and dollars appear only as one final CAST(... AS DOUBLE)/100 (the
engine-wide exact-then-double convention).  Key domains follow the
testdata (0-based part/supplier keys, matching l_partkey/l_suppkey).

Scale notes: the synthesis is a 4x row explode of `part` -- a map-side
generate, no shuffle -- and each query then follows the standard shapes:
broadcast dims, partial aggregates, cross-multiplied integer threshold
comparisons instead of float fractions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..workload import money, one, rate, register

_PARTSUPP_SQL = """
        partsupp AS (
            SELECT p_partkey AS ps_partkey,
                   (p_partkey + i * (ns.n // 4 + 1)) % ns.n AS ps_suppkey,
                   CAST((p_partkey * 7 + i * 11) % 9999 + 1 AS BIGINT)
                       AS ps_availqty,
                   CAST((p_partkey * 13 + i * 17) % 100000 AS BIGINT)
                       AS ps_supplycost_cents
            FROM part,
                 (SELECT unnest(range(4)) AS i),
                 (SELECT COUNT(*) AS n FROM supplier) ns
        )
"""


def synth_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark half of the shared synthesis (formula above)."""
    n_supp = load_table(spark, "supplier", sf_dir).count()
    stride = n_supp // 4 + 1
    p = load_table(spark, "part", sf_dir).select("p_partkey")
    ps = p.select(
        "p_partkey", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i")
    )
    return ps.select(
        F.col("p_partkey").alias("ps_partkey"),
        ((F.col("p_partkey") + F.col("i") * F.lit(stride)) % F.lit(n_supp)).alias(
            "ps_suppkey"
        ),
        ((F.col("p_partkey") * 7 + F.col("i") * 11) % 9999 + 1)
        .cast("bigint")
        .alias("ps_availqty"),
        ((F.col("p_partkey") * 13 + F.col("i") * 17) % 100000)
        .cast("bigint")
        .alias("ps_supplycost_cents"),
    )


@register(
    "q2_min_cost_supplier",
    tags=("join", "subquery", "topk", "partsupp"),
    oracle=f"""
        WITH {_PARTSUPP_SQL.strip()},
        eur AS (
            SELECT s_suppkey, s_acctbal, s_name, n_name
            FROM supplier, nation, region
            WHERE s_nationkey = n_nationkey
              AND n_regionkey = r_regionkey
              AND r_name = 'EUROPE'
        ), eps AS (
            SELECT ps_partkey, ps_suppkey, ps_supplycost_cents,
                   s_acctbal, s_name, n_name
            FROM partsupp JOIN eur ON ps_suppkey = s_suppkey
        ), mc AS (
            SELECT ps_partkey, MIN(ps_supplycost_cents) AS min_cents
            FROM eps GROUP BY ps_partkey
        )
        SELECT s_acctbal, s_name, n_name, p_partkey,
               CAST(ps_supplycost_cents AS DOUBLE) / 100 AS supply_cost
        FROM part
        JOIN eps ON p_partkey = eps.ps_partkey
        JOIN mc ON mc.ps_partkey = eps.ps_partkey
               AND eps.ps_supplycost_cents = mc.min_cents
        WHERE p_size IN (15, 25, 35)
        ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
        LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest EUROPE supplier per qualifying part via a
    per-part min aggregate joined back on exact (integer) cost equality.

    Scale notes: supplier/nation/region are broadcast-sized dims; the
    per-part min is a map-side-combined aggregate over the 4x-part synth;
    the equality join-back reuses the same partitioning.  Top-100 plans
    as TakeOrderedAndProject."""
    ps = synth_partsupp(spark, sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "EUROPE")
    part = load_table(spark, "part", sf_dir).filter(
        F.col("p_size").isin(15, 25, 35)
    )
    eur = (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    eps = ps.join(eur, ps["ps_suppkey"] == eur["s_suppkey"])
    mc = eps.groupBy("ps_partkey").agg(
        F.min("ps_supplycost_cents").alias("min_cents")
    )
    return (
        part.join(eps, part["p_partkey"] == eps["ps_partkey"])
        .join(
            mc,
            (mc["ps_partkey"] == eps["ps_partkey"])
            & (eps["ps_supplycost_cents"] == mc["min_cents"]),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            (F.col("ps_supplycost_cents").cast("double") / 100).alias("supply_cost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(100)
    )


@register(
    "q9_profit_by_nation_year",
    tags=("join", "aggregation", "partsupp"),
    oracle=f"""
        WITH {_PARTSUPP_SQL.strip()}
        SELECT n_name AS nation,
               CAST(year(l_shipdate) AS BIGINT) AS o_year,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
                    AS DOUBLE)
                 - CAST(SUM(ps_supplycost_cents * CAST(l_quantity AS BIGINT))
                        AS DOUBLE) / 100 AS profit
        FROM lineitem
        JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE p_type = 'PROMO'
        GROUP BY n_name, year(l_shipdate)
        ORDER BY nation ASC, o_year DESC
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit = revenue minus supply cost per supplier
    nation and ship year.  Revenue sums in DECIMAL, cost sums in integer
    cents (quantities are integral), and the subtraction happens once on
    the two exact totals -- bit-stable cross-engine.

    Scale notes: lineitem joins partsupp on the composite key (one
    shuffle on (partkey, suppkey)); part/supplier/nation broadcast; the
    aggregate is map-side combined on ~nations x years groups."""
    ps = synth_partsupp(spark, sf_dir)
    l = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).filter(F.col("p_type") == "PROMO")
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    rev = money("l_extendedprice") * (one() - rate("l_discount"))
    cost_cents = F.col("ps_supplycost_cents") * F.col("l_quantity").cast("bigint")
    return (
        l.join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("bigint").alias("o_year"),
        )
        .agg(
            (
                F.sum(rev).cast("double")
                - F.sum(cost_cents).cast("double") / 100
            ).alias("profit")
        )
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


@register(
    "q11_inventory_value_share",
    tags=("aggregation", "scalar-subquery", "partsupp"),
    oracle=f"""
        WITH {_PARTSUPP_SQL.strip()},
        val AS (
            SELECT ps_partkey,
                   CAST(SUM(ps_supplycost_cents * ps_availqty) AS BIGINT)
                       AS value_cents
            FROM partsupp, supplier, nation, region
            WHERE ps_suppkey = s_suppkey
              AND s_nationkey = n_nationkey
              AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
            GROUP BY ps_partkey
        ), tot AS (
            SELECT CAST(SUM(value_cents) AS BIGINT) AS total_cents FROM val
        )
        SELECT ps_partkey,
               CAST(value_cents AS DOUBLE) / 100 AS value_dollars
        FROM val, tot
        WHERE value_cents * 10000 > total_cents
        ORDER BY value_dollars DESC, ps_partkey ASC
    """,
)
def q11_inventory_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose ASIA-held inventory value exceeds
    1/10000 of the regional total.  The threshold is the cross-multiplied
    integer comparison (value*10000 > total), never a float fraction.

    Scale notes: one aggregate over the nation-filtered synth, a
    single-row total broadcast back -- no second scan of partsupp."""
    ps = synth_partsupp(spark, sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")
    val = (
        ps.join(F.broadcast(supplier), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(F.col("ps_supplycost_cents") * F.col("ps_availqty"))
            .cast("bigint")
            .alias("value_cents")
        )
    )
    tot = val.agg(F.sum("value_cents").cast("bigint").alias("total_cents"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("value_cents") * 10000 > F.col("total_cents"))
        .select(
            "ps_partkey",
            (F.col("value_cents").cast("double") / 100).alias("value_dollars"),
        )
        .orderBy(F.col("value_dollars").desc(), F.col("ps_partkey").asc())
    )


@register(
    "q16_supplier_count_by_part",
    tags=("aggregation", "distinct", "partsupp"),
    oracle=f"""
        WITH {_PARTSUPP_SQL.strip()}
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        FROM partsupp JOIN part ON ps_partkey = p_partkey
        WHERE p_brand <> 'Brand#9'
          AND p_size IN (1, 5, 15, 25, 35, 45)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
    """,
)
def q16_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per (brand, type, size)
    with brand/size exclusions.

    Scale notes: the distinct runs as a two-level aggregate (partial
    distinct map-side); part is broadcast; output cardinality is the
    attribute cross product, tiny at any SF."""
    ps = synth_partsupp(spark, sf_dir)
    part = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#9")
        & (F.col("p_size").isin(1, 5, 15, 25, 35, 45))
    )
    return (
        ps.join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


@register(
    "q20_excess_stock_suppliers",
    tags=("join", "semi-join", "partsupp"),
    oracle=f"""
        WITH {_PARTSUPP_SQL.strip()},
        shipped AS (
            SELECT l_partkey, l_suppkey,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty96
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
            GROUP BY l_partkey, l_suppkey
        ), excess AS (
            SELECT DISTINCT ps_suppkey
            FROM partsupp
            JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
            WHERE ps_availqty * 2 > qty96
        )
        SELECT s_suppkey, s_name
        FROM supplier JOIN excess ON s_suppkey = ps_suppkey
        ORDER BY s_suppkey ASC
    """,
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding stock above half of what they
    shipped for some part in 1996.  The half-threshold is the integer
    cross-multiplication availqty*2 > qty (quantities are integral), so
    the comparison is exact in both engines.

    Scale notes: the shipped aggregate shuffles lineitem once on the
    composite key; partsupp joins it on the same key; the supplier
    resolution is a broadcast semi-join."""
    ps = synth_partsupp(spark, sf_dir)
    l = load_table(spark, "lineitem", sf_dir)
    supplier = load_table(spark, "supplier", sf_dir)
    shipped = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty96"))
    )
    excess = (
        ps.join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty") * 2 > F.col("qty96"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        supplier.join(F.broadcast(excess), F.col("s_suppkey") == F.col("ps_suppkey"))
        .select("s_suppkey", "s_name")
        .orderBy(F.col("s_suppkey").asc())
    )


@register(
    "snapshot_merge_by_timestamp",
    tags=("merge", "union", "window", "generic-pipeline"),
    oracle="""
        WITH rows_all AS (
            SELECT CAST(user_id AS VARCHAR) AS id,
                   CASE WHEN event_type = 'purchase' THEN 'DELETE'
                        ELSE 'INSERT' END AS db_type,
                   LPAD(CAST(event_id AS VARCHAR), 12, '0') AS val,
                   LPAD(CAST(user_id % 16 AS VARCHAR), 2, '0') AS id_part,
                   ts AS lm
            FROM events
        )
        SELECT id, db_type, val, id_part FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY id_part, id ORDER BY lm DESC, val DESC
            ) AS rn FROM rows_all
        ) WHERE rn = 1
    """,
)
def snapshot_merge_by_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GENERIC-pipeline merge ordering the reference planned but never
    shipped (docs/data-engineering-summary.md:44-48): newest
    _lastModifiedDateTime wins per key -- a late-arriving DELETE no longer
    beats a newer INSERT the way the lexical db_type rule makes it
    (snapshot_merge_latest is that shipped rule; this entry is the
    roadmap twin on the same latest_by_key operator, ordering
    parameterised instead of re-implemented).

    Scale notes: identical plan shape to the shipped merge -- one range
    exchange + one window; only the ORDER BY inside the window differs,
    so the write-layout/AQE story carries over unchanged."""
    from ..operators.merge import latest_by_key
    from ..sinks.writers import SNAPSHOT_COLUMNS

    e = load_table(spark, "events", sf_dir).select(
        F.col("user_id").cast("string").alias("id"),
        F.when(F.col("event_type") == "purchase", F.lit("DELETE"))
        .otherwise(F.lit("INSERT"))
        .alias("db_type"),
        F.lpad(F.col("event_id").cast("string"), 12, "0").alias("val"),
        F.lpad((F.col("user_id") % 16).cast("string"), 2, "0").alias("id_part"),
        F.col("ts").alias("lm"),
    )
    clustered = e.repartitionByRange("id_part", "id")
    return latest_by_key(
        clustered, ("id_part", "id"), [F.col("lm").desc(), F.col("val").desc()]
    ).select(*SNAPSHOT_COLUMNS)


@register(
    "order_to_ship_delay_profile",
    tags=("percentile", "calendar", "logistics"),
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n_items,
               quantile_cont(CAST(date_diff('day', o_orderdate, l_shipdate)
                                  AS DOUBLE), 0.5) AS p50_days,
               quantile_cont(CAST(date_diff('day', o_orderdate, l_shipdate)
                                  AS DOUBLE), 0.95) AS p95_days,
               CAST(MAX(date_diff('day', o_orderdate, l_shipdate))
                    AS BIGINT) AS max_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
)
def order_to_ship_delay_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority: exact
    integer day gaps after the fact-fact join, interpolated p50/p95
    (percentile == quantile_cont bit-for-bit over their double images),
    plus the worst case -- does paying for URGENT actually ship sooner,
    answered deterministically.  The logistics twin of
    event_gap_percentiles on the relational side.

    Scale notes: the orderkey join is the usual shuffle join (AQE
    handles broadcast if orders is filtered); the day diff is scan-stage
    integer math; the percentile groups by priority (5 groups), each
    sorting only its own gaps."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").cast("bigint").alias("gap_d"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.percentile(F.col("gap_d").cast("double"), F.lit(0.5)).alias("p50_days"),
        F.percentile(F.col("gap_d").cast("double"), F.lit(0.95)).alias("p95_days"),
        F.max("gap_d").cast("bigint").alias("max_days"),
    )


@register(
    "user_value_pareto",
    tags=("window", "pareto", "running-share"),
    oracle="""
        WITH u AS (
            SELECT user_id,
                   CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events GROUP BY user_id
        ),
        ranked AS (
            SELECT user_id, cents,
                   CAST(SUM(cents) OVER (ORDER BY cents DESC, user_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents,
                   CAST(SUM(cents) OVER () AS BIGINT) AS total_cents,
                   CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, user_id)
                        AS BIGINT) AS rnk
            FROM u
        )
        SELECT user_id, cents, rnk, running_cents,
               running_cents * 5 <= total_cents * 4 AS in_top80_value
        FROM ranked
    """,
)
def user_value_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis of user value: users ranked by lifetime cent
    total, running share, and an exact 80%-of-value flag
    (cross-multiplied integers -- running*5 <= total*4 -- so the cutoff
    can't flip on a float boundary).  The "which 20% of users carry 80%
    of value" question, answered deterministically.

    Scale notes: the corpus collapses to one row per user first; the
    ordered running sum then runs over the users-sized series in a
    single partition -- acceptable at users scale, and the
    bucketed-by-value-range rewrite (customer_balance_deciles' shape)
    takes over if the entity count itself is huge."""
    e = load_table(spark, "events", sf_dir).select(
        "user_id", F.floor(F.col("value") * 100).cast("bigint").alias("vq")
    )
    u = e.groupBy("user_id").agg(F.sum("vq").cast("bigint").alias("cents"))
    w = Window.orderBy(F.col("cents").desc(), F.col("user_id").asc())
    run = Window.orderBy(F.col("cents").desc(), F.col("user_id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = u.select(
        "user_id",
        "cents",
        F.row_number().over(w).cast("bigint").alias("rnk"),
        F.sum("cents").over(run).cast("bigint").alias("running_cents"),
        F.sum("cents")
        .over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("bigint")
        .alias("total_cents"),
    )
    return ranked.select(
        "user_id",
        "cents",
        "rnk",
        "running_cents",
        (F.col("running_cents") * 5 <= F.col("total_cents") * 4).alias(
            "in_top80_value"
        ),
    )
