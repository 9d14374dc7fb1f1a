"""Oracle-checked bindings for the full KPI view chain (views/kpi.py).

An extended deterministic lineitem→CUR mapping gives every branch of the
chain real rows: all 7 line-item types, 8 product codes, Spot/SP/RI
purchase options, Graviton/AMD/Intel instance families, EBS gp2/gp3/
snapshot usage types, DynamoDB committed/on-demand throughput, Lambda
ARM, Windows/Linux platforms, and the excluded AWSDataTransfer /
DataXfer / Repl rows (FIXTURES.md §1 value-domain requirements).

``NOW`` is pinned to 1998-10-01 so the trailing-3-month windows select
the tail of the TPC-H shipdate range deterministically.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from de_polars_spark.inventory.dialect_macros import render
from de_polars_spark.sources.artifacts import artifact_path, manifest_tag, publish
from de_polars_spark.sources.registry import register_testdata
from de_polars_spark.views.kpi import (
    VIEW_CHAIN,
    chained_oracle,
    register_kpi_views,
    view_sql,
)

QUERIES: dict = {}
ORACLES: dict = {}

NOW_DATE = "1998-10-01"
NOW = f"DATE '{NOW_DATE}'"

#: every column kpi_instance_all.sql / the level-1 views read, derived
#: deterministically from lineitem (same SQL text in both engines)
CUR_EXT_CTE = """
WITH base AS (
    SELECT *,
        CASE l_partkey % 8
             WHEN 0 THEN 'AmazonEC2' WHEN 1 THEN 'AmazonRDS'
             WHEN 2 THEN 'AmazonS3'  WHEN 3 THEN 'AWSLambda'
             WHEN 4 THEN 'AmazonDynamoDB' WHEN 5 THEN 'AmazonElastiCache'
             WHEN 6 THEN 'AmazonES' ELSE 'AmazonRedshift' END AS svc,
        CASE WHEN l_returnflag = 'A' AND l_discount > 0.06 THEN 'SavingsPlanCoveredUsage'
             WHEN l_returnflag = 'N' AND l_discount > 0.06 THEN 'DiscountedUsage'
             WHEN l_returnflag = 'R' AND l_linenumber % 3 = 0 THEN 'RIFee'
             WHEN l_returnflag = 'R' AND l_linenumber % 3 = 1 THEN 'SavingsPlanRecurringFee'
             WHEN l_linenumber % 7 = 0 THEN 'Fee'
             WHEN l_tax = 0 AND l_discount = 0 THEN 'Credit'
             ELSE 'Usage' END AS li_type
    FROM lineitem
),
shaped AS (
    SELECT *,
        CASE WHEN svc = 'AmazonEC2' THEN
                  CASE l_partkey % 5 WHEN 0 THEN 'm5.xlarge' WHEN 1 THEN 'm6g.large'
                       WHEN 2 THEN 'm5a.large' WHEN 3 THEN 'r5.xlarge'
                       ELSE 'm4.large' END
             WHEN svc = 'AmazonRDS' THEN
                  CASE l_partkey % 3 WHEN 0 THEN 'db.r5.large'
                       WHEN 1 THEN 'db.r6g.large' ELSE 'db.m5.xlarge' END
             WHEN svc = 'AmazonElastiCache' THEN
                  CASE l_partkey % 2 WHEN 0 THEN 'cache.r6g.large'
                       ELSE 'cache.r5.large' END
             WHEN svc = 'AmazonES' THEN
                  CASE l_partkey % 2 WHEN 0 THEN 'r6g.large' ELSE 'm5.large' END
             WHEN svc = 'AmazonRedshift' THEN 'dc2.large'
             ELSE '' END AS itype,
        (svc = 'AmazonEC2' AND l_orderkey % 13 = 0) AS is_ebs
    FROM base
),
cur AS (
    SELECT
        MONTH_STR(l_shipdate) AS billing_period,
        CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)
            AS bill_billing_period_start_date,
        CAST(l_shipdate AS TIMESTAMP) AS line_item_usage_start_date,
        concat('payer_', TO_STR(l_suppkey % 2)) AS bill_payer_account_id,
        concat('acct_', TO_STR(l_suppkey % 7)) AS line_item_usage_account_id,
        CASE WHEN l_orderkey % 97 = 0 THEN ''
             ELSE concat('res-', TO_STR(l_orderkey % 500)) END AS line_item_resource_id,
        li_type AS line_item_line_item_type,
        svc AS line_item_product_code,
        CASE WHEN l_partkey % 31 = 0 THEN 'AWSDataTransfer' ELSE svc END
            AS product_servicecode,
        CASE WHEN svc = 'AmazonEC2' AND NOT is_ebs THEN 'RunInstances'
             WHEN svc = 'AmazonEC2' THEN 'CreateVolume'
             WHEN svc = 'AmazonDynamoDB' THEN
                  CASE l_orderkey % 2 WHEN 0 THEN 'CommittedThroughput'
                       ELSE 'PayPerRequestThroughput' END
             ELSE '' END AS line_item_operation,
        CASE WHEN is_ebs THEN
                  CASE l_linenumber % 3 WHEN 0 THEN 'EBS:VolumeUsage.gp2'
                       WHEN 1 THEN 'EBS:VolumeUsage.gp3' ELSE 'EBS:SnapshotUsage' END
             WHEN svc = 'AmazonEC2' AND l_suppkey % 5 = 0
                  THEN concat('SpotUsage:', itype)
             WHEN svc = 'AmazonEC2' THEN concat('BoxUsage:', itype)
             WHEN svc = 'AmazonRDS' AND l_partkey % 29 = 0 THEN 'USE1-DataXfer-Out'
             WHEN svc = 'AmazonRDS' THEN concat('InstanceUsage:', itype)
             WHEN svc = 'AmazonS3' THEN
                  CASE l_linenumber % 2 WHEN 0 THEN 'TimedStorage-ByteHrs'
                       ELSE 'Requests-Tier1' END
             WHEN svc = 'AWSLambda' THEN
                  CASE l_linenumber % 3 WHEN 0 THEN 'Lambda-GB-Second'
                       WHEN 1 THEN 'Lambda-Provisioned-GB-Second'
                       ELSE 'ARM-Lambda-GB-Second' END
             WHEN svc = 'AmazonDynamoDB' THEN
                  CASE l_linenumber % 3 WHEN 0 THEN 'ReadCapacityUnit-Hrs'
                       WHEN 1 THEN 'WriteCapacityUnit-Hrs'
                       ELSE 'Repl-ReadCapacityUnit-Hrs' END
             WHEN svc = 'AmazonElastiCache' THEN concat('NodeUsage:', itype)
             ELSE concat('InstanceUsage:', itype) END AS line_item_usage_type,
        CASE WHEN l_orderkey % 17 = 0 THEN '' ELSE itype END AS product_instance_type,
        CASE l_suppkey % 3 WHEN 0 THEN 'us-east-1' WHEN 1 THEN 'us-west-2'
             ELSE 'eu-west-1' END AS product_region,
        CASE WHEN svc = 'AmazonEC2' AND l_orderkey % 11 = 0 THEN 'Windows'
             WHEN svc = 'AmazonEC2' THEN 'Linux' ELSE '' END
            AS product_operating_system,
        CASE WHEN itype LIKE '%6g%' THEN 'AWS Graviton2'
             WHEN itype LIKE '%5a%' THEN 'AMD EPYC 7571'
             WHEN itype <> '' THEN 'Intel Xeon Platinum 8175'
             ELSE '' END AS product_physical_processor,
        CASE WHEN svc = 'AmazonRDS' THEN
                  CASE l_linenumber % 5 WHEN 0 THEN 'PostgreSQL' WHEN 1 THEN 'MySQL'
                       WHEN 2 THEN 'Oracle' WHEN 3 THEN 'SQL Server'
                       ELSE 'Aurora MySQL' END
             ELSE '' END AS product_database_engine,
        CASE WHEN svc = 'AmazonRDS' THEN
                  CASE l_orderkey % 3 WHEN 0 THEN 'License included'
                       WHEN 1 THEN 'No license required'
                       ELSE 'Bring your own license' END
             ELSE '' END AS product_license_model,
        CASE WHEN svc = 'AmazonElastiCache' THEN 'Redis' ELSE '' END
            AS product_cache_engine,
        CASE WHEN svc = 'AmazonRDS' THEN
                  CASE l_orderkey % 2 WHEN 0 THEN 'Multi-AZ' ELSE 'Single-AZ' END
             ELSE '' END AS product_deployment_option,
        CASE WHEN svc = 'AmazonEC2' THEN 'Shared' ELSE '' END AS product_tenancy,
        CASE WHEN li_type LIKE 'SavingsPlan%'
             THEN concat('arn:sp/', TO_STR(l_suppkey % 5)) ELSE '' END
            AS savings_plan_savings_plan_a_r_n,
        CASE WHEN li_type LIKE 'SavingsPlan%' THEN
                  CASE l_suppkey % 2 WHEN 0 THEN 'ComputeSavingsPlans'
                       ELSE 'EC2InstanceSavingsPlans' END
             ELSE '' END AS savings_plan_offering_type,
        CASE WHEN li_type IN ('DiscountedUsage', 'RIFee')
             THEN concat('arn:ri/', TO_STR(l_suppkey % 5)) ELSE '' END
            AS reservation_reservation_a_r_n,
        CASE l_orderkey % 4
             WHEN 0 THEN ''
             WHEN 1 THEN '{"Environment":"prod"}'
             WHEN 2 THEN '{"Environment":"dev","Team":"data"}'
             ELSE '{"Project":"alpha"}' END AS resource_tags,
        l_quantity AS line_item_usage_amount,
        l_extendedprice * (1 - l_discount) AS line_item_unblended_cost,
        l_extendedprice AS pricing_public_on_demand_cost,
        l_extendedprice * (1 - l_discount) * 0.9
            AS savings_plan_savings_plan_effective_cost,
        l_extendedprice * 0.8 AS savings_plan_total_commitment_to_date,
        l_extendedprice * 0.7 AS savings_plan_used_commitment,
        l_extendedprice * (1 - l_discount) * 0.95 AS reservation_effective_cost,
        l_extendedprice * l_tax * 0.3
            AS reservation_unused_amortized_upfront_fee_for_billing_period,
        l_extendedprice * l_tax * 0.2 AS reservation_unused_recurring_fee
    FROM shaped
)
"""


#: On the Spark side the synthetic CUR is materialized ONCE per sf_dir as
#: a snappy-parquet table instead of being embedded as a CTE in every
#: query: the ~20-CASE synthesis projection otherwise fuses into each
#: view's aggregate stage (re-derived 5x per kpi_tracker run — once per
#: sub-aggregate) and pushed the generated hashAgg_doAggregateWithKeys
#: method past the JVM 64 KB limit (interpreted fallback; a cached temp
#: view did not survive the chained-CTE plan's cache lookup). The DuckDB
#: oracle keeps the full CTE — results are identical, and this mirrors
#: production, where CUR is a parquet table at rest, not a per-query
#: expression. The synthesis is deterministic, so the artifact is safe to
#: reuse across sessions.
#: id(spark) -> ((sf_dir, lineitem manifest) currently registered as
#: ``cur_ext``, parquet path). Keyed by the ACTIVE input, not an
#: accumulating set: switching sf_dir A -> B -> A in one session, or
#: rewriting A's lineitem, must re-register the temp view each time, or
#: cur_ext keeps serving the previous data (registry.py handles the base
#: tables' switch-back; this cache must too).
_CUR_ACTIVE: dict[int, tuple[tuple[str, str], str]] = {}


def _lineitem_tag(sf_dir: str) -> str:
    """File manifest of the one table ``CUR_EXT_CTE`` reads."""
    return manifest_tag([os.path.join(sf_dir, "lineitem.parquet")])


def _ensure_cur_ext(spark: SparkSession, sf_dir: str) -> str:
    """Materialize + register the synthetic CUR; returns the parquet path."""
    source = (sf_dir, _lineitem_tag(sf_dir))
    active = _CUR_ACTIVE.get(id(spark))
    if active is not None and active[0] == source:
        return active[1]
    register_testdata(spark, sf_dir)

    def build(tmp: str) -> None:
        df = spark.sql(render(CUR_EXT_CTE, "spark") + "\nSELECT * FROM cur")
        # one file per core: downstream scans parallelize across the
        # session's full width instead of being a single-task stage.
        # Row order inside the artifact is irrelevant to every consumer
        # (all aggregates are decimal/order-free — the repo's
        # determinism contract), so the round-robin shuffle is safe.
        df.repartition(spark.sparkContext.defaultParallelism).write.parquet(tmp)

    # content-addressed so editing the synthesis CTE or lineitem invalidates
    # the artifact; "|layout=par" versions the FILE LAYOUT — the original
    # single-file write made every downstream view's 600k-row projection
    # run on ONE core (40 MB file < maxPartitionBytes = one scan task),
    # which WAS the KPI wave's critical path (cur_all stage 6.2s -> ~1s
    # after parallelizing the layout; r5 wave shave)
    path = publish(
        artifact_path("cur_ext", sf_dir, CUR_EXT_CTE, "|layout=par", source[1],
                      suffix=".parquet"),
        build,
    )
    spark.read.parquet(path).createOrReplaceTempView("cur_ext")
    # any views materialized before were built over another cur_ext (or
    # none) and would serve stale data — force a rebuild
    _KPI_VIEWS_READY.pop(spark.sparkContext.applicationId, None)
    _CUR_ACTIVE[id(spark)] = (source, path)
    return path


#: applicationId -> sf_dir whose views are CURRENTLY materialized (a dict,
#: not an accumulating set, so an sf_dir switch-back forces a rebuild).
#: ``_ensure_cur_ext`` clears it whenever it re-registers ``cur_ext``, so it
#: also follows the input's manifest.
_KPI_VIEWS_READY: dict[str, str] = {}


def _kpi_artifact_dir(sf_dir: str) -> str:
    # content-addressed over the whole chain and its input: editing any
    # view SQL, the CUR synthesis or lineitem invalidates the artifacts
    return artifact_path(
        "kpi_views", sf_dir, CUR_EXT_CTE, NOW,
        *(view_sql(v, b, "cur_ext", NOW, "spark") for v, b in VIEW_CHAIN),
        _lineitem_tag(sf_dir),
    )


def clear_kpi_artifacts(sf_dir: str) -> None:
    """Delete the parquet view artifacts for ``sf_dir``.

    bench.py calls this in its (untimed) warm-up so the materialization
    wave is paid — and measured — inside the benchmark run instead of
    being inherited from a previous session's artifacts."""
    shutil.rmtree(_kpi_artifact_dir(sf_dir), ignore_errors=True)


def _ensure_kpi_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the chain over ``cur_ext`` once per session, its level-1/2
    views and tracker pinned as parquet artifacts: every final KPI query
    used to re-embed the WHOLE chain as CTEs, re-deriving the instance
    CASE ladder from raw CUR on every run. The materialization cost lands
    in the first KPI query of the session, not in an unbenched warm-up."""
    _ensure_cur_ext(spark, sf_dir)
    app = spark.sparkContext.applicationId
    if _KPI_VIEWS_READY.get(app) == sf_dir:
        return
    register_kpi_views(spark, "cur_ext", NOW_DATE, pin=_kpi_artifact_dir(sf_dir))
    _KPI_VIEWS_READY[app] = sf_dir


def _bind(name: str, final_select: str) -> None:
    spark_sql = render(final_select, "spark")
    oracle_sql = render(chained_oracle(final_select, CUR_EXT_CTE, NOW), "duckdb")

    def fn(spark: SparkSession, sf_dir: str, _sql: str = spark_sql) -> DataFrame:
        _ensure_kpi_views(spark, sf_dir)
        return spark.sql(_sql)

    fn.__name__ = f"q_{name}"
    QUERIES[name] = fn
    ORACLES[name] = oracle_sql


_bind("kpi_view_summary", "SELECT * FROM summary_view")
_bind(
    "kpi_view_instance_all",
    """
    SELECT billing_period, payer_account_id, linked_account_id, product_code,
           purchase_option, adjusted_processor,
           CAST(SUM(CAST(amortized_cost AS DECIMAL(38,8))) AS DOUBLE) AS amortized_cost,
           CAST(SUM(CAST(adjusted_amortized_cost AS DECIMAL(38,8))) AS DOUBLE)
               AS adjusted_amortized_cost,
           CAST(SUM(CAST(ec2_all_cost AS DECIMAL(38,8))) AS DOUBLE) AS ec2_all_cost,
           CAST(SUM(CAST(ec2_spot_cost AS DECIMAL(38,8))) AS DOUBLE) AS ec2_spot_cost,
           CAST(SUM(CAST(ec2_graviton_cost AS DECIMAL(38,8))) AS DOUBLE) AS ec2_graviton_cost,
           CAST(SUM(CAST(ec2_graviton_potential_savings AS DECIMAL(38,8))) AS DOUBLE)
               AS ec2_graviton_potential_savings,
           CAST(SUM(CAST(rds_all_cost AS DECIMAL(38,8))) AS DOUBLE) AS rds_all_cost,
           CAST(SUM(CAST(rds_graviton_eligible_cost AS DECIMAL(38,8))) AS DOUBLE)
               AS rds_graviton_eligible_cost,
           CAST(SUM(CAST(lambda_graviton_cost AS DECIMAL(38,8))) AS DOUBLE)
               AS lambda_graviton_cost,
           CAST(SUM(CAST(dynamodb_committed_cost AS DECIMAL(38,8))) AS DOUBLE)
               AS dynamodb_committed_cost
    FROM kpi_instance_rollup
    GROUP BY 1, 2, 3, 4, 5, 6
    """,
)
_bind("kpi_view_tracker", "SELECT * FROM kpi_tracker")
