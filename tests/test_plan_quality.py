"""Physical-plan regression guards over the whole query registry.

Planning only (no execution): catches a future edit that introduces a
cartesian product, a row-at-a-time Python UDF, or strips the pushdown
from a scan-heavy query.
"""

from __future__ import annotations

import pytest

from dataworks_aws_corporate_data_ingestion_spark.workload import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_or_row_python(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    # BatchEvalPython = row-pickled UDF; ArrowEvalPython (vectorised) is fine
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"


def test_pushdown_reaches_scans(spark):
    """Spot-check the scan-heavy queries keep their PushedFilters."""
    for name in ("q1_pricing_summary", "q6_discount_revenue", "q19_disjunctive_revenue"):
        plan = _plan(spark, name)
        assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan.split(
            "PushedFilters:"
        )[1][:4], f"{name} lost its scan pushdown"


def test_topk_uses_take_ordered(spark):
    for name in ("q3_top_unshipped_orders", "q10_returned_items", "q18_large_orders"):
        assert "TakeOrderedAndProject" in _plan(spark, name), (
            f"{name} should plan top-k as TakeOrderedAndProject, not a global sort"
        )


def test_deciles_have_no_global_window_sort(spark):
    """The registered deciles query must be the range-bucketing form: no
    un-partitioned window (= Exchange SinglePartition feeding a Window),
    which would funnel the whole table through one task."""
    plan = _plan(spark, "customer_balance_deciles")
    # the only SinglePartition exchange allowed is the 9-double boundary
    # aggregate; any Window at all means the ntile twin got registered
    assert "Window" not in plan, "deciles regressed to a global window sort"


def test_cdi_python_stages_evaluate_once(spark, tmp_path):
    """Each Python UDF in the CDI chain must appear EXACTLY once in the
    plan.  A filter on an expanded UDF column gets the expression inlined
    + pushed and the whole upstream Python chain (fixture encrypt +
    ingest) runs twice -- the round-3 plan audit measured that doubling
    before the ingest UDF became an optimizer barrier
    (asNondeterministic) and the quarantine split moved onto its packed
    struct.  Every caller of the shared ingest chain is checked: the two
    registry pipelines (fixture encrypt + fused ingest) and the two
    benched file-reading plans (fused ingest)."""
    from dataworks_aws_corporate_data_ingestion_spark.workload import bench_entries

    for name in ("cdi_ingest_pipeline", "cdi_audit_pipeline"):
        plan = _plan(spark, name)
        n = plan.count("ArrowEvalPython")
        assert n == 2, f"{name}: expected 2 Python stages, found {n}"

    entries = bench_entries()
    for name in ("cdi_ingest_pipeline", "streaming_ingest_trigger_once"):
        entry = entries[name]
        entry.prepare(spark, SF, str(tmp_path))
        df = entry.plan(spark, SF, str(tmp_path))
        plan = df._jdf.queryExecution().executedPlan().toString()
        n = plan.count("ArrowEvalPython")
        assert n == 1, f"{name}: expected 1 Python stage, found {n}"


def test_asof_pit_form_is_join_free(spark):
    """purchases_point_in_time_asof exists to avoid the join: one window
    over the fact/version union.  Any SortMergeJoin/BroadcastHashJoin
    in its plan means the union trick regressed to a join."""
    plan = _plan(spark, "purchases_point_in_time_asof")
    assert "Join" not in plan, "as-of PIT form regressed to a join"
    assert "Window" in plan


class TestRuntimeFilterInjection:
    """The optimizer features that matter MOST at 100 TB are the ones that
    delete I/O at runtime: row-level bloom-filter joins and dynamic
    partition pruning.  These tests pin that the engine's layouts and
    query shapes actually LET Spark inject them (thresholds lowered to
    test scale; both features are on by default in the engine session)."""

    def test_bloom_filter_join_injected(self, spark, tmp_path):
        """A selective dim filter on the creation side of a shuffle join
        must inject a bloom filter on the fact side's scan stage
        (might_contain / bloom_filter_agg in the optimized plan)."""
        fact = str(tmp_path / "fact")
        dim = str(tmp_path / "dim")
        spark.range(0, 200_000).selectExpr(
            "id", "id % 1000 AS k", "id * 2 AS v"
        ).write.parquet(fact)
        spark.range(0, 1000).selectExpr(
            "id AS k", "CASE WHEN id % 100 = 0 THEN 'hot' ELSE 'cold' END AS tag"
        ).write.parquet(dim)
        confs = {
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
            # force the shuffle-join path: broadcast joins skip row-level
            # runtime filters (the broadcast IS the filter)
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            f = spark.read.parquet(fact)
            d = spark.read.parquet(dim).filter("tag = 'hot'")
            j = f.join(d, "k")
            optimized = j._jdf.queryExecution().optimizedPlan().toString()
            assert "bloom_filter_agg" in optimized or "might_contain" in optimized, (
                "no runtime bloom filter injected:\n" + optimized[:2000]
            )
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def test_dynamic_partition_pruning_on_daily_layout(self, spark, tmp_path):
        """The write_daily directory layout must be DPP-able: joining the
        partition column against a filtered dim adds a dynamicpruning
        subquery to the fact scan, so only the matching id_part leaves
        are read -- at 10 TB this is the difference between scanning one
        bucket and scanning the world."""
        from pyspark.sql import functions as F

        daily = str(tmp_path / "daily")
        (
            spark.range(0, 50_000)
            .selectExpr(
                "CAST(id AS STRING) AS id",
                "lpad(CAST(id % 16 AS STRING), 2, '0') AS id_part",
                "2024 AS export_year",
                "1 AS export_month",
                "15 AS export_day",
            )
            .write.partitionBy("export_year", "export_month", "export_day", "id_part")
            .parquet(daily)
        )
        fact = spark.read.parquet(daily)
        dim = spark.range(0, 16).select(
            F.lpad((F.col("id") % 16).cast("string"), 2, "0").alias("id_part"),
            (F.col("id") % 4 == 0).alias("wanted"),
        )
        j = fact.join(dim.filter("wanted"), "id_part")
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "dynamicpruning" in optimized.lower(), (
            "no dynamic partition pruning on the daily layout:\n"
            + optimized[:2000]
        )
