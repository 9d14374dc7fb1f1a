"""The cur2_views chain, ported to two-dialect SQL (Spark + DuckDB oracle).

Reference layering (kpi_summary.py:94-104, dependency order):
level 1 (independent): summary_view, kpi_instance_mapping,
  kpi_ebs_storage_all, kpi_ebs_snap, kpi_s3_storage_all — the five files
  are MISSING from the reference repo (SURVEY.md §3.2); re-derived here
  from their consumers' column contracts (FIXTURES.md §3-5).
level 2: kpi_instance_all  (cur2_views/level_2_dependent/kpi_instance_all.sql)
level 3: kpi_tracker       (cur2_views/level_3_final/kpi_tracker.sql)

Porting decisions:
- ``product['x']`` map lookups become scalar ``product_*`` columns (the
  engine's dialect shim still accepts map syntax on real CUR exports;
  the map-access operator is oracle-checked separately).
- CURRENT_DATE / CURRENT_TIMESTAMP are the ``{NOW}`` parameter so the
  trailing-3-month windows are deterministic under test (SURVEY.md §7
  hard-part 4).
- float SUMs go through the DSUM macro (exact decimal accumulation) so
  Spark partial-agg order cannot diverge from the DuckDB oracle.
- the reference's quirks are kept verbatim where they are semantics:
  ``ec2_amd_cost`` tests ``instance_processor`` (mapping column) while
  ``ec2_amd_eligible_cost`` tests ``adjusted_processor``
  (kpi_instance_all.sql:68-69); ``elasticache_graviton_cost`` likewise
  (:90); lambda's redundant double WHEN (:113).
- mapping-table references inside the big CASE ladder are spelled
  ``map_latest_graviton`` etc. — in the reference the bare name resolves
  to the JOIN input column, not the same-SELECT alias; making it explicit
  removes the lateral-alias ambiguity between engines.

Every view body is written once; ``render(..., 'spark'|'duckdb')``
produces the engine-specific text. ``{CUR}`` is the source table name.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from de_polars_spark.inventory.dialect_macros import render
from de_polars_spark.sources.artifacts import publish

#: static instance-family dimension (FIXTURES.md §4; consumer contract
#: kpi_instance_all.sql:47-51,118)
KPI_INSTANCE_MAPPING = """
SELECT * FROM (VALUES
    ('m5',  'm6g', 'm5a', 'm6i', 'Current',  'Intel'),
    ('m5a', 'm6g', 'm5a', 'm6i', 'Current',  'AMD'),
    ('m6g', 'm6g', '',    '',    'Current',  'Graviton'),
    ('c6g', 'c6g', '',    '',    'Current',  'Graviton'),
    ('r5',  'r6g', 'r5a', 'r6i', 'Current',  'Intel'),
    ('r6g', 'r6g', '',    '',    'Current',  'Graviton'),
    ('t3',  't4g', 't3a', 't3',  'Current',  'Intel'),
    ('m4',  'm6g', 'm5a', 'm6i', 'Previous', 'Intel'),
    ('r4',  'r6g', 'r5a', 'r6i', 'Previous', 'Intel')
) AS t(family, latest_graviton, latest_amd, latest_intel, generation, instance_processor)
"""

#: level-1: summary_view (contract: kpi_tracker.sql:84-94,
#: tests/test_4_sql_views.py:98-107, sql_endpoints.py:311)
SUMMARY_VIEW = """
SELECT
    split_part(billing_period, '-', 1) AS year,
    split_part(billing_period, '-', 2) AS month,
    bill_billing_period_start_date AS billing_period,
    bill_payer_account_id AS payer_account_id,
    line_item_usage_account_id AS linked_account_id,
    '{}' AS tags_json,
    DSUM(CASE WHEN line_item_line_item_type = 'SavingsPlanCoveredUsage'
                   THEN savings_plan_savings_plan_effective_cost
              WHEN line_item_line_item_type = 'SavingsPlanRecurringFee'
                   THEN (savings_plan_total_commitment_to_date - savings_plan_used_commitment)
              WHEN line_item_line_item_type = 'SavingsPlanNegation' THEN 0
              WHEN line_item_line_item_type = 'SavingsPlanUpfrontFee' THEN 0
              WHEN line_item_line_item_type = 'DiscountedUsage' THEN reservation_effective_cost
              WHEN line_item_line_item_type = 'RIFee'
                   THEN (reservation_unused_amortized_upfront_fee_for_billing_period
                         + reservation_unused_recurring_fee)
              WHEN line_item_line_item_type = 'Fee'
                   AND COALESCE(reservation_reservation_a_r_n, '') <> '' THEN 0
              ELSE line_item_unblended_cost END) AS amortized_cost,
    DSUM(line_item_unblended_cost) AS unblended_cost,
    DSUM(line_item_usage_amount) AS usage_quantity
FROM {CUR}
WHERE bill_payer_account_id <> ''
GROUP BY 1, 2, 3, 4, 5, 6
"""

#: level-1: EBS / snapshot / S3 storage roll-ups (contracts:
#: kpi_tracker.sql:165-205; FIXTURES.md §5). gp2→gp3 savings uses the
#: public 0.2 price-gap factor; S3 standard→IA uses 0.3.
KPI_EBS_STORAGE_ALL = """
SELECT
    bill_billing_period_start_date AS billing_period,
    bill_payer_account_id AS payer_account_id,
    line_item_usage_account_id AS linked_account_id,
    '{}' AS tags_json,
    DSUM(line_item_unblended_cost) AS ebs_all_cost,
    DSUM(CASE WHEN line_item_usage_type LIKE '%VolumeUsage.gp2%'
              THEN line_item_unblended_cost ELSE 0 END) AS ebs_gp2_cost,
    DSUM(CASE WHEN line_item_usage_type LIKE '%VolumeUsage.gp3%'
              THEN line_item_unblended_cost ELSE 0 END) AS ebs_gp3_cost,
    DSUM(CASE WHEN line_item_usage_type LIKE '%VolumeUsage.gp2%'
              THEN line_item_unblended_cost * 0.2 ELSE 0 END) AS ebs_gp3_potential_savings
FROM {CUR}
WHERE line_item_usage_type LIKE '%EBS:VolumeUsage%'
  AND line_item_line_item_type LIKE '%Usage%'
  AND bill_payer_account_id <> ''
GROUP BY 1, 2, 3, 4
"""

KPI_EBS_SNAP = """
SELECT
    bill_billing_period_start_date AS billing_period,
    bill_payer_account_id AS payer_account_id,
    line_item_usage_account_id AS linked_account_id,
    '{}' AS tags_json,
    DSUM(CASE WHEN line_item_usage_start_date >= {NOW} - INTERVAL '12' MONTH
              THEN line_item_unblended_cost ELSE 0 END) AS ebs_snapshots_under_1yr_cost,
    DSUM(CASE WHEN line_item_usage_start_date < {NOW} - INTERVAL '12' MONTH
              THEN line_item_unblended_cost ELSE 0 END) AS ebs_snapshots_over_1yr_cost,
    DSUM(line_item_unblended_cost) AS ebs_snapshot_cost
FROM {CUR}
WHERE line_item_usage_type LIKE '%EBS:Snapshot%'
  AND line_item_line_item_type LIKE '%Usage%'
  AND bill_payer_account_id <> ''
GROUP BY 1, 2, 3, 4
"""

KPI_S3_STORAGE_ALL = """
SELECT
    bill_billing_period_start_date AS billing_period,
    bill_payer_account_id AS payer_account_id,
    line_item_usage_account_id AS linked_account_id,
    '{}' AS tags_json,
    DSUM(line_item_unblended_cost) AS s3_all_storage_cost,
    DSUM(CASE WHEN line_item_usage_type LIKE '%TimedStorage-ByteHrs%'
              THEN line_item_unblended_cost ELSE 0 END) AS s3_standard_storage_cost,
    DSUM(CASE WHEN line_item_usage_type LIKE '%TimedStorage-ByteHrs%'
              THEN line_item_unblended_cost * 0.3 ELSE 0 END)
        AS s3_standard_storage_potential_savings
FROM {CUR}
WHERE line_item_product_code = 'AmazonS3'
  AND line_item_usage_type LIKE '%TimedStorage%'
  AND line_item_line_item_type LIKE '%Usage%'
  AND bill_payer_account_id <> ''
GROUP BY 1, 2, 3, 4
"""

#: level-2: cur_all — the 26-dim pre-aggregation. The reference heads
#: every kpi view with SELECT DISTINCT on top of the GROUP BY
#: (kpi_instance_all.sql:9); after grouping by every non-aggregate
#: column that dedup is a no-op, and in Spark it planned an extra
#: ~60-key HashAggregate + full shuffle per view (and blew the 64 KB
#: codegen method limit). Dropped in BOTH dialect renderings —
#: identical results, one less shuffle per view.
#: (kpi_instance_all.sql:8-43, incl. the ~40-condition WHERE at :42)
#: The 26 dimension columns are computed in an inner projection and the
#: outer GROUP BY references them by name: as grouping *expressions* the
#: CASE ladders were all inlined into the generated
#: hashAgg_doAggregateWithKeys method, which exceeded the JVM's 64 KB
#: method limit (Janino error, interpreted fallback). Computed once below
#: the aggregate, the grouping keys are plain attributes and whole-stage
#: codegen compiles. Same rows either way.
_CUR_ALL = """
SELECT
    year, month, billing_period, usage_date, payer_account_id,
    linked_account_id, resource_id, tags_json, charge_type, purchase_option,
    product_code, commit_service_group, savings_plan_offering_type, region,
    operation, usage_type, instance_type_family, instance_type, platform,
    tenancy, processor, adjusted_processor, database_engine,
    deployment_option, license_model, cache_engine,
    DSUM(line_item_usage_amount) AS usage_quantity,
    DSUMQ(amortized_row) AS amortized_cost,
    DSUMQ(adjusted_amortized_row) AS adjusted_amortized_cost,
    DSUM(pricing_public_on_demand_cost) AS public_cost
FROM (
SELECT
    split_part(billing_period, '-', 1) AS year,
    split_part(billing_period, '-', 2) AS month,
    bill_billing_period_start_date AS billing_period,
    date_trunc('month', line_item_usage_start_date) AS usage_date,
    bill_payer_account_id AS payer_account_id,
    line_item_usage_account_id AS linked_account_id,
    line_item_resource_id AS resource_id,
    '{}' AS tags_json,
    COALESCE(line_item_line_item_type, '') AS charge_type,
    CASE WHEN COALESCE(savings_plan_savings_plan_a_r_n, '') <> '' THEN 'SavingsPlan'
         WHEN COALESCE(reservation_reservation_a_r_n, '') <> '' THEN 'Reserved'
         WHEN line_item_usage_type LIKE '%Spot%' THEN 'Spot'
         ELSE 'OnDemand' END AS purchase_option,
    line_item_product_code AS product_code,
    CASE WHEN line_item_product_code IN ('AmazonSageMaker', 'MachineLearningSavingsPlans')
              THEN 'Machine Learning'
         WHEN line_item_product_code IN ('AmazonEC2', 'AmazonECS', 'AmazonEKS',
                                         'AWSLambda', 'ComputeSavingsPlans')
              THEN 'Compute'
         WHEN line_item_product_code = 'AmazonElastiCache' THEN 'ElastiCache'
         WHEN line_item_product_code = 'AmazonES' THEN 'OpenSearch'
         WHEN line_item_product_code = 'AmazonRDS' THEN 'RDS'
         WHEN line_item_product_code = 'AmazonRedshift' THEN 'Redshift'
         WHEN line_item_product_code = 'AmazonDynamoDB'
              AND line_item_operation = 'CommittedThroughput' THEN 'DynamoDB'
         ELSE 'Other' END AS commit_service_group,
    COALESCE(savings_plan_offering_type, '') AS savings_plan_offering_type,
    product_region AS region,
    line_item_operation AS operation,
    line_item_usage_type AS usage_type,
    CASE WHEN line_item_product_code IN ('AmazonRDS', 'AmazonElastiCache')
         THEN lower(split_part(product_instance_type, '.', 2))
         ELSE lower(split_part(product_instance_type, '.', 1)) END AS instance_type_family,
    COALESCE(product_instance_type, '') AS instance_type,
    COALESCE(product_operating_system, '') AS platform,
    product_tenancy AS tenancy,
    product_physical_processor AS processor,
    CASE WHEN line_item_line_item_type LIKE '%Usage%'
              AND product_physical_processor LIKE '%Graviton%' THEN 'Graviton'
         WHEN line_item_line_item_type LIKE '%Usage%'
              AND product_physical_processor LIKE '%AMD%' THEN 'AMD'
         WHEN line_item_product_code IN ('AmazonES', 'AmazonElastiCache')
              AND (product_instance_type LIKE '%6g%' OR product_instance_type LIKE '%7g%'
                   OR product_instance_type LIKE '%4g%') THEN 'Graviton'
         WHEN line_item_product_code IN ('AWSLambda')
              AND line_item_usage_type LIKE '%ARM%' THEN 'Graviton'
         WHEN line_item_usage_type LIKE '%Fargate%'
              AND line_item_usage_type LIKE '%ARM%' THEN 'Graviton'
         ELSE 'Other' END AS adjusted_processor,
    product_database_engine AS database_engine,
    product_deployment_option AS deployment_option,
    product_license_model AS license_model,
    product_cache_engine AS cache_engine,
    line_item_usage_amount,
    pricing_public_on_demand_cost,
    CASE WHEN line_item_line_item_type = 'SavingsPlanCoveredUsage'
              THEN savings_plan_savings_plan_effective_cost
         WHEN line_item_line_item_type = 'SavingsPlanRecurringFee'
              THEN (savings_plan_total_commitment_to_date - savings_plan_used_commitment)
         WHEN line_item_line_item_type = 'SavingsPlanNegation' THEN 0
         WHEN line_item_line_item_type = 'SavingsPlanUpfrontFee' THEN 0
         WHEN line_item_line_item_type = 'DiscountedUsage' THEN reservation_effective_cost
         WHEN line_item_line_item_type = 'RIFee'
              THEN (reservation_unused_amortized_upfront_fee_for_billing_period
                    + reservation_unused_recurring_fee)
         WHEN line_item_line_item_type = 'Fee'
              AND COALESCE(reservation_reservation_a_r_n, '') <> '' THEN 0
         ELSE line_item_unblended_cost END AS amortized_row,
    CASE WHEN line_item_usage_type LIKE '%Spot%' AND pricing_public_on_demand_cost > 0
              THEN pricing_public_on_demand_cost
         WHEN line_item_line_item_type = 'SavingsPlanCoveredUsage'
              THEN pricing_public_on_demand_cost
         WHEN line_item_line_item_type = 'SavingsPlanRecurringFee'
              THEN (savings_plan_total_commitment_to_date - savings_plan_used_commitment)
         WHEN line_item_line_item_type = 'SavingsPlanNegation' THEN 0
         WHEN line_item_line_item_type = 'SavingsPlanUpfrontFee' THEN 0
         WHEN line_item_line_item_type = 'DiscountedUsage'
              THEN pricing_public_on_demand_cost
         WHEN line_item_line_item_type = 'RIFee'
              THEN (reservation_unused_amortized_upfront_fee_for_billing_period
                    + reservation_unused_recurring_fee)
         WHEN line_item_line_item_type = 'Fee'
              AND COALESCE(reservation_reservation_a_r_n, '') <> '' THEN 0
         ELSE line_item_unblended_cost END AS adjusted_amortized_row
FROM {CUR}
WHERE CAST(concat(billing_period, '-01') AS date)
          >= date_trunc('month', {NOW}) - INTERVAL '3' MONTH
  AND bill_payer_account_id <> ''
  AND line_item_resource_id <> ''
  AND product_servicecode <> 'AWSDataTransfer'
  AND NOT (COALESCE(line_item_usage_type, '') LIKE '%DataXfer%')
  AND (line_item_line_item_type LIKE '%Usage%'
       OR line_item_line_item_type = 'RIFee'
       OR line_item_line_item_type = 'SavingsPlanRecurringFee')
  AND ((line_item_product_code = 'AmazonEC2'
            AND COALESCE(product_instance_type, '') <> ''
            AND line_item_operation LIKE '%RunInstances%')
       OR (line_item_product_code = 'AmazonElastiCache'
            AND COALESCE(product_instance_type, '') <> '')
       OR (line_item_product_code = 'AmazonES'
            AND COALESCE(product_instance_type, '') <> '')
       OR (line_item_product_code = 'AmazonRDS'
            AND COALESCE(product_instance_type, '') <> '')
       OR (line_item_product_code = 'AmazonRedshift'
            AND COALESCE(product_instance_type, '') <> '')
       OR (line_item_product_code = 'AmazonDynamoDB'
            AND line_item_operation IN ('CommittedThroughput', 'PayPerRequestThroughput')
            AND (line_item_usage_type LIKE '%ReadCapacityUnit-Hrs%'
                 OR line_item_usage_type LIKE '%WriteCapacityUnit-Hrs%')
            AND NOT (COALESCE(line_item_usage_type, '') LIKE '%Repl%'))
       OR (line_item_product_code = 'AWSLambda'
            AND line_item_usage_type LIKE '%Lambda-Provisioned-GB-Second%')
       OR (line_item_product_code = 'AWSLambda'
            AND line_item_usage_type LIKE '%Lambda-GB-Second%')
       OR (line_item_product_code = 'AWSLambda'
            AND line_item_usage_type LIKE '%Lambda-Provisioned-Concurrency%')
       OR line_item_usage_type LIKE '%Fargate%'
       OR (line_item_product_code = 'AmazonSageMaker'
            AND COALESCE(product_instance_type, '') <> '')
       OR line_item_product_code = 'ComputeSavingsPlans'
       OR line_item_product_code = 'MachineLearningSavingsPlans')
) cur_rows
GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18,
         19, 20, 21, 22, 23, 24, 25, 26
"""

#: level-2: kpi_instance_all — cur_all ⋈ mapping + the ~60-column
#: conditional-cost ladder (kpi_instance_all.sql:45-118). The mapping
#: columns are prefixed map_* in the join layer so every CASE refers to
#: the JOIN input unambiguously (see module docstring).
_JOINED = """
SELECT cur_all.*,
       COALESCE(im.latest_graviton, '') AS map_latest_graviton,
       COALESCE(im.latest_amd, '') AS latest_amd,
       COALESCE(im.latest_intel, '') AS latest_intel,
       COALESCE(im.generation, '') AS generation,
       COALESCE(im.instance_processor, '') AS instance_processor
FROM cur_all
LEFT JOIN kpi_instance_mapping im ON cur_all.instance_type_family = im.family
"""

#: shared predicates + exact-decimal shared products, materialized once so
#: (a) each ladder CASE below stays tiny — the round-1 single-projection
#: form repeated every predicate inline and blew the JVM's 64 KB generated-
#: method limit (Janino fallback to interpreted projection), and (b) every
#: *_potential_savings product is computed ONCE in exact decimal
#: arithmetic: amortized_cost is DECIMAL(20,6) out of cur_all (DSUMQ), the
#: factors are <=2-decimal literals, so the products are exact scale-8
#: decimals — no double intermediate, no re-quantization, and therefore no
#: half-way rounding where Spark (HALF_UP) and DuckDB (ties-down) diverge
#: (the round-1 kpi_view_tracker 1e-6 oracle failure).
#: CollapseProject keeps this split because the aliases are non-trivial
#: expressions referenced multiple times downstream.
KPI_PREP_BODY = """
SELECT j.*,
  (charge_type LIKE '%Usage%') AS f_usage,
  (charge_type = 'Usage') AS f_usage_exact,
  (charge_type LIKE '%Usage%' AND product_code = 'AmazonEC2'
       AND instance_type <> '' AND operation LIKE '%RunInstances%') AS f_ec2run,
  (lower(platform) LIKE '%window%') AS f_windows,
  (purchase_option = 'OnDemand'
       OR savings_plan_offering_type = 'ComputeSavingsPlans') AS f_odcsp,
  (purchase_option IN ('Reserved', 'SavingsPlan')) AS f_commit,
  (purchase_option <> 'Spot' AND purchase_option <> 'Reserved'
       AND NOT (savings_plan_offering_type LIKE '%EC2%')) AS f_flexible,
  (adjusted_processor = 'Graviton') AS f_grav,
  (adjusted_processor = 'AMD') AS f_amd,
  (database_engine IN ('Aurora MySQL', 'Aurora PostgreSQL', 'MariaDB',
                       'PostgreSQL', 'MySQL')) AS f_rds_oss,
  (instance_type <> '') AS f_itype,
  (purchase_option = 'OnDemand') AS f_od,
  (purchase_option = 'Spot') AS f_spot,
  (map_latest_graviton <> '') AS f_grav_target,
  (latest_amd <> '') AS f_amd_target,
  MONEY8(adjusted_amortized_cost - amortized_cost) AS commit_gap,
  DMUL(amortized_cost, 0.05) AS amort_x05,
  DMUL(amortized_cost, 0.10) AS amort_x10,
  DMUL(amortized_cost, 0.20) AS amort_x20,
  DMUL(adjusted_amortized_cost, 0.55) AS adj_x55
FROM joined j
"""

KPI_INSTANCE_ALL_BODY = """
SELECT p.*,
  CASE WHEN product_code = 'AmazonEC2' AND NOT f_windows THEN map_latest_graviton
       WHEN product_code = 'AmazonRDS' AND f_rds_oss THEN map_latest_graviton
       WHEN product_code = 'AmazonES' THEN map_latest_graviton
       WHEN product_code = 'AmazonElastiCache' THEN map_latest_graviton
       END AS latest_graviton,
  MONEY8(CASE WHEN commit_service_group = 'Machine Learning'
              THEN adjusted_amortized_cost ELSE 0 END) AS sagemaker_all_cost,
  MONEY8(CASE WHEN f_usage AND commit_service_group = 'Machine Learning' AND f_itype
              THEN amortized_cost ELSE 0 END) AS sagemaker_usage_cost,
  MONEY8(CASE WHEN f_usage AND commit_service_group = 'Machine Learning'
                   AND f_itype AND f_od
              THEN adjusted_amortized_cost ELSE 0 END) AS sagemaker_ondemand_cost,
  MONEY8(CASE WHEN f_commit AND commit_service_group = 'Machine Learning'
              THEN commit_gap ELSE 0 END) AS sagemaker_commit_savings,
  MONEY8(CASE WHEN f_usage AND commit_service_group = 'Machine Learning'
                   AND f_itype AND f_od
              THEN amort_x20 ELSE 0 END) AS sagemaker_commit_potential_savings,
  MONEY8(CASE WHEN commit_service_group = 'Compute'
              THEN adjusted_amortized_cost ELSE 0 END) AS compute_all_cost,
  MONEY8(CASE WHEN f_usage AND commit_service_group = 'Compute'
              THEN adjusted_amortized_cost ELSE 0 END) AS compute_usage_cost,
  MONEY8(CASE WHEN f_usage AND commit_service_group = 'Compute' AND f_od
              THEN adjusted_amortized_cost ELSE 0 END) AS compute_ondemand_cost,
  MONEY8(CASE WHEN f_commit AND commit_service_group = 'Compute'
              THEN commit_gap ELSE 0 END) AS compute_commit_savings,
  MONEY8(CASE WHEN f_usage AND commit_service_group = 'Compute' AND f_od
              THEN amort_x20 ELSE 0 END) AS compute_commit_potential_savings,
  MONEY8(CASE WHEN product_code = 'AmazonEC2'
              THEN adjusted_amortized_cost ELSE 0 END) AS ec2_all_cost,
  MONEY8(CASE WHEN f_ec2run THEN amortized_cost ELSE 0 END) AS ec2_usage_cost,
  MONEY8(CASE WHEN f_ec2run AND f_spot
              THEN adjusted_amortized_cost ELSE 0 END) AS ec2_spot_cost,
  MONEY8(CASE WHEN f_ec2run AND generation IN ('Previous') AND f_flexible
              THEN amortized_cost ELSE 0 END) AS ec2_previous_generation_cost,
  MONEY8(CASE WHEN f_ec2run AND NOT f_windows
                   AND (f_grav OR (f_odcsp AND NOT f_grav AND f_grav_target))
              THEN amortized_cost ELSE 0 END) AS ec2_graviton_eligible_cost,
  MONEY8(CASE WHEN f_ec2run AND f_grav
              THEN amortized_cost ELSE 0 END) AS ec2_graviton_cost,
  MONEY8(CASE WHEN f_grav THEN 0
              WHEN f_ec2run AND (f_amd OR (f_odcsp AND NOT f_amd AND f_amd_target))
              THEN amortized_cost ELSE 0 END) AS ec2_amd_eligible_cost,
  MONEY8(CASE WHEN f_ec2run AND instance_processor = 'AMD'
              THEN amortized_cost ELSE 0 END) AS ec2_amd_cost,
  MONEY8(CASE WHEN f_ec2run AND f_flexible
              THEN adj_x55 ELSE 0 END) AS ec2_spot_potential_savings,
  MONEY8(CASE WHEN f_ec2run AND f_spot
              THEN commit_gap ELSE 0 END) AS ec2_spot_savings,
  MONEY8(CASE WHEN f_ec2run AND generation IN ('Previous') AND f_flexible
              THEN amort_x05 ELSE 0 END) AS ec2_previous_generation_potential_savings,
  MONEY8(CASE WHEN f_ec2run AND NOT f_windows
                   AND f_odcsp AND NOT f_grav AND f_grav_target AND NOT f_amd
              THEN amort_x20
              WHEN f_ec2run AND NOT f_windows
                   AND f_odcsp AND NOT f_grav AND f_grav_target AND f_amd
              THEN amort_x10
              ELSE 0 END) AS ec2_graviton_potential_savings,
  MONEY8(CASE WHEN f_ec2run AND f_odcsp AND NOT f_grav AND f_amd_target AND NOT f_amd
              THEN amort_x10 ELSE 0 END) AS ec2_amd_potential_savings,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonRDS' AND f_itype
              THEN adjusted_amortized_cost ELSE 0 END) AS rds_all_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonRDS' AND f_itype AND f_od
              THEN adjusted_amortized_cost ELSE 0 END) AS rds_ondemand_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonRDS' AND f_grav
              THEN amortized_cost
              WHEN f_usage_exact AND product_code = 'AmazonRDS' AND f_itype
                   AND f_rds_oss AND NOT f_grav AND f_grav_target
              THEN amortized_cost ELSE 0 END) AS rds_graviton_eligible_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonRDS' AND f_itype
                   AND f_rds_oss AND f_grav
              THEN amortized_cost ELSE 0 END) AS rds_graviton_cost,
  MONEY8(CASE WHEN NOT f_usage THEN 0
              WHEN product_code <> 'AmazonRDS' THEN 0
              WHEN f_grav THEN 0
              WHEN NOT f_grav_target THEN 0
              WHEN f_grav_target AND f_od AND f_rds_oss THEN amort_x10
              ELSE 0 END) AS rds_graviton_potential_savings,
  MONEY8(CASE WHEN f_commit AND product_code = 'AmazonRDS'
              THEN commit_gap ELSE 0 END) AS rds_commit_savings,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonRDS' AND f_itype AND f_od
              THEN amort_x20 ELSE 0 END) AS rds_commit_potential_savings,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonRDS' AND f_itype
                   AND database_engine IN ('Oracle')
              THEN adjusted_amortized_cost ELSE 0 END) AS rds_oracle_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonRDS' AND f_itype
                   AND database_engine IN ('SQL Server')
              THEN adjusted_amortized_cost ELSE 0 END) AS rds_sql_server_cost,
  MONEY8(CASE WHEN product_code = 'AmazonElastiCache'
              THEN adjusted_amortized_cost ELSE 0 END) AS elasticache_all_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonElastiCache' AND f_itype
              THEN amortized_cost ELSE 0 END) AS elasticache_usage_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonElastiCache' AND f_itype AND f_od
              THEN adjusted_amortized_cost ELSE 0 END) AS elasticache_ondemand_cost,
  MONEY8(CASE WHEN f_commit AND product_code = 'AmazonElastiCache'
              THEN commit_gap ELSE 0 END) AS elasticache_commit_savings,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonElastiCache' AND f_itype AND f_od
              THEN amort_x20 ELSE 0 END) AS elasticache_commit_potential_savings,
  MONEY8(CASE WHEN product_code = 'AmazonElastiCache' AND f_itype AND f_grav
              THEN amortized_cost
              WHEN f_usage_exact AND product_code = 'AmazonElastiCache' AND f_itype
                   AND f_grav_target
              THEN amortized_cost ELSE 0 END) AS elasticache_graviton_eligible_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonElastiCache' AND f_itype
                   AND instance_processor = 'Graviton'
              THEN amortized_cost ELSE 0 END) AS elasticache_graviton_cost,
  MONEY8(CASE WHEN f_grav THEN 0
              WHEN f_usage AND product_code = 'AmazonElastiCache' AND f_itype
                   AND f_grav_target
              THEN amort_x05 ELSE 0 END) AS elasticache_graviton_potential_savings,
  MONEY8(CASE WHEN product_code = 'AmazonES'
              THEN adjusted_amortized_cost ELSE 0 END) AS opensearch_all_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonES' AND f_itype
              THEN amortized_cost ELSE 0 END) AS opensearch_usage_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonES' AND f_itype AND f_od
              THEN adjusted_amortized_cost ELSE 0 END) AS opensearch_ondemand_cost,
  MONEY8(CASE WHEN f_commit AND product_code = 'AmazonES'
              THEN commit_gap ELSE 0 END) AS opensearch_commit_savings,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonES' AND f_itype AND f_od
              THEN amort_x20 ELSE 0 END) AS opensearch_commit_potential_savings,
  MONEY8(CASE WHEN product_code = 'AmazonES' AND f_itype AND f_grav
              THEN amortized_cost
              WHEN f_usage_exact AND product_code = 'AmazonES' AND f_itype
                   AND f_grav_target
              THEN amortized_cost ELSE 0 END) AS opensearch_graviton_eligible_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonES' AND f_itype AND f_grav
              THEN amortized_cost ELSE 0 END) AS opensearch_graviton_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonES' AND f_itype AND f_grav THEN 0
              WHEN f_usage_exact AND product_code = 'AmazonES' AND f_itype
                   AND f_grav_target
              THEN amort_x05 ELSE 0 END) AS opensearch_graviton_potential_savings,
  MONEY8(CASE WHEN product_code = 'AmazonRedshift'
              THEN adjusted_amortized_cost ELSE 0 END) AS redshift_all_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonRedshift' AND f_itype
              THEN amortized_cost ELSE 0 END) AS redshift_usage_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonRedshift' AND f_itype AND f_od
              THEN adjusted_amortized_cost ELSE 0 END) AS redshift_ondemand_cost,
  MONEY8(CASE WHEN f_commit AND product_code = 'AmazonRedshift'
              THEN commit_gap ELSE 0 END) AS redshift_commit_savings,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonRedshift' AND f_itype AND f_od
              THEN amort_x20 ELSE 0 END) AS redshift_commit_potential_savings,
  MONEY8(CASE WHEN product_code = 'AmazonDynamoDB'
              THEN adjusted_amortized_cost ELSE 0 END) AS dynamodb_all_cost,
  MONEY8(CASE WHEN f_usage AND commit_service_group = 'DynamoDB'
              THEN adjusted_amortized_cost ELSE 0 END) AS dynamodb_committed_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AmazonDynamoDB'
              THEN amortized_cost ELSE 0 END) AS dynamodb_usage_cost,
  MONEY8(CASE WHEN f_usage AND commit_service_group = 'DynamoDB' AND f_od
              THEN adjusted_amortized_cost ELSE 0 END) AS dynamodb_ondemand_cost,
  MONEY8(CASE WHEN f_commit AND commit_service_group = 'DynamoDB'
              THEN commit_gap ELSE 0 END) AS dynamodb_commit_savings,
  MONEY8(CASE WHEN f_usage AND commit_service_group = 'DynamoDB' AND f_od
              THEN amort_x20 ELSE 0 END) AS dynamodb_commit_potential_savings,
  MONEY8(CASE WHEN product_code = 'AWSLambda'
              THEN adjusted_amortized_cost ELSE 0 END) AS lambda_all_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AWSLambda'
              THEN amortized_cost ELSE 0 END) AS lambda_usage_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AWSLambda' AND f_grav
              THEN amortized_cost
              WHEN f_usage AND product_code = 'AWSLambda'
              THEN amortized_cost ELSE 0 END) AS lambda_graviton_eligible_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AWSLambda' AND f_grav
              THEN amortized_cost ELSE 0 END) AS lambda_graviton_cost,
  MONEY8(CASE WHEN f_usage AND product_code = 'AWSLambda' AND NOT f_grav
              THEN amort_x20 ELSE 0 END) AS lambda_graviton_potential_savings
FROM kpi_prep p
"""

#: money measures of kpi_instance_all consumed at aggregate grain by the
#: tracker's instance sub-query and the kpi_view_instance_all final select
_ROLLUP_MONEY_COLS: tuple[str, ...] = (
    "amortized_cost", "adjusted_amortized_cost",
    "sagemaker_all_cost", "sagemaker_usage_cost", "sagemaker_ondemand_cost",
    "sagemaker_commit_savings", "sagemaker_commit_potential_savings",
    "compute_all_cost", "compute_usage_cost", "compute_ondemand_cost",
    "compute_commit_savings", "compute_commit_potential_savings",
    "ec2_all_cost", "ec2_usage_cost", "ec2_spot_cost",
    "ec2_previous_generation_cost", "ec2_graviton_eligible_cost",
    "ec2_graviton_cost", "ec2_amd_eligible_cost", "ec2_amd_cost",
    "ec2_spot_potential_savings", "ec2_spot_savings",
    "ec2_previous_generation_potential_savings",
    "ec2_graviton_potential_savings", "ec2_amd_potential_savings",
    "rds_all_cost", "rds_ondemand_cost", "rds_graviton_eligible_cost",
    "rds_graviton_cost", "rds_graviton_potential_savings",
    "rds_commit_savings", "rds_commit_potential_savings",
    "rds_oracle_cost", "rds_sql_server_cost",
    "elasticache_all_cost", "elasticache_usage_cost",
    "elasticache_ondemand_cost", "elasticache_commit_savings",
    "elasticache_commit_potential_savings",
    "elasticache_graviton_eligible_cost", "elasticache_graviton_cost",
    "elasticache_graviton_potential_savings",
    "opensearch_all_cost", "opensearch_usage_cost",
    "opensearch_ondemand_cost", "opensearch_commit_savings",
    "opensearch_commit_potential_savings",
    "opensearch_graviton_eligible_cost", "opensearch_graviton_cost",
    "opensearch_graviton_potential_savings",
    "redshift_all_cost", "redshift_usage_cost", "redshift_ondemand_cost",
    "redshift_commit_savings", "redshift_commit_potential_savings",
    "dynamodb_all_cost", "dynamodb_committed_cost", "dynamodb_usage_cost",
    "dynamodb_ondemand_cost", "dynamodb_commit_savings",
    "dynamodb_commit_potential_savings",
    "lambda_all_cost", "lambda_usage_cost",
    "lambda_graviton_eligible_cost", "lambda_graviton_cost",
    "lambda_graviton_potential_savings",
)

#: level-2.5: kpi_instance_rollup — the materialization grain for every
#: aggregate consumer of kpi_instance_all. Keys are the UNION of the
#: tracker sub-query's 4 spine keys and kpi_view_instance_all's extra
#: dimensions; measures are DECIMAL(38,8) PARTIAL sums (never cast back
#: to double), so any downstream DSUM8 over the rollup equals the same
#: DSUM8 over the detail rows exactly — decimal addition is associative
#: and CAST(DECIMAL(38,8) AS DECIMAL(38,8)) is the identity. license
#: counts ride along as BIGINT partials for the tracker's two COUNT-CASE
#: columns. At 100 TB this is the classic pre-aggregation cube: the
#: 26-key detail never has to be rescanned (or even materialized) for
#: dashboard-grain queries.
KPI_INSTANCE_ROLLUP_BODY = (
    "SELECT billing_period, payer_account_id, linked_account_id, tags_json,\n"
    "       product_code, purchase_option, adjusted_processor,\n"
    + ",\n".join(
        f"  CAST(SUM(CAST({c} AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS {c}"
        for c in _ROLLUP_MONEY_COLS
    )
    + """,
  CAST(SUM(CASE WHEN license_model IN ('License included', 'Bring your own license')
           THEN 1 ELSE 0 END) AS BIGINT) AS rds_license_n,
  CAST(SUM(CASE WHEN license_model LIKE 'No license required' THEN 1 ELSE 0 END)
      AS BIGINT) AS rds_no_license_n
FROM kpi_instance_all
GROUP BY 1, 2, 3, 4, 5, 6, 7
"""
)

#: level-3: kpi_tracker spine — 4-column composite-key LEFT JOINs
#: (kpi_tracker.sql:84-230)
KPI_TRACKER_BODY = """
SELECT
  spend_all.billing_period, spend_all.payer_account_id, spend_all.linked_account_id,
  spend_all.spend_all_cost, spend_all.tags_json,
  instance_all.ec2_all_cost, instance_all.ec2_usage_cost, instance_all.ec2_spot_cost,
  instance_all.ec2_spot_potential_savings, instance_all.ec2_previous_generation_cost,
  instance_all.ec2_previous_generation_potential_savings,
  instance_all.ec2_graviton_eligible_cost, instance_all.ec2_graviton_cost,
  instance_all.ec2_graviton_potential_savings, instance_all.ec2_amd_eligible_cost,
  instance_all.ec2_amd_cost, instance_all.ec2_amd_potential_savings,
  instance_all.rds_all_cost, instance_all.rds_ondemand_cost,
  instance_all.rds_graviton_cost, instance_all.rds_graviton_eligible_cost,
  instance_all.rds_graviton_potential_savings, instance_all.rds_commit_potential_savings,
  instance_all.rds_commit_savings, instance_all.rds_license, instance_all.rds_no_license,
  instance_all.rds_sql_server_cost, instance_all.rds_oracle_cost,
  instance_all.elasticache_all_cost, instance_all.elasticache_ondemand_cost,
  instance_all.elasticache_graviton_cost, instance_all.elasticache_graviton_eligible_cost,
  instance_all.elasticache_graviton_potential_savings,
  instance_all.elasticache_commit_potential_savings, instance_all.elasticache_commit_savings,
  ebs_all.ebs_all_cost, ebs_all.ebs_gp_all_cost, ebs_all.ebs_gp2_cost,
  ebs_all.ebs_gp3_cost, ebs_all.ebs_gp3_potential_savings,
  snap.ebs_snapshots_under_1yr_cost, snap.ebs_snapshots_over_1yr_cost,
  snap.ebs_snapshot_cost,
  s3_all.s3_all_storage_cost, s3_all.s3_standard_storage_cost,
  s3_all.s3_standard_storage_potential_savings,
  instance_all.compute_all_cost, instance_all.compute_ondemand_cost,
  instance_all.compute_commit_potential_savings, instance_all.compute_commit_savings,
  instance_all.dynamodb_all_cost, instance_all.dynamodb_committed_cost,
  instance_all.dynamodb_ondemand_cost, instance_all.dynamodb_commit_potential_savings,
  instance_all.dynamodb_commit_savings,
  instance_all.opensearch_all_cost, instance_all.opensearch_ondemand_cost,
  instance_all.opensearch_graviton_cost, instance_all.opensearch_graviton_eligible_cost,
  instance_all.opensearch_graviton_potential_savings,
  instance_all.opensearch_commit_potential_savings, instance_all.opensearch_commit_savings,
  instance_all.redshift_all_cost, instance_all.redshift_ondemand_cost,
  instance_all.redshift_commit_potential_savings, instance_all.redshift_commit_savings,
  instance_all.sagemaker_all_cost, instance_all.sagemaker_ondemand_cost,
  instance_all.sagemaker_commit_potential_savings, instance_all.sagemaker_commit_savings,
  instance_all.lambda_all_cost, instance_all.lambda_graviton_cost,
  instance_all.lambda_graviton_eligible_cost, instance_all.lambda_graviton_potential_savings
FROM (
   SELECT billing_period, payer_account_id, linked_account_id, tags_json,
          DSUM(amortized_cost) AS spend_all_cost,
          DSUM(unblended_cost) AS unblended_cost
   FROM summary_view
   WHERE CAST(concat(year, '-', month, '-01') AS DATE)
             >= date_trunc('month', {NOW}) - INTERVAL '3' MONTH
   GROUP BY 1, 2, 3, 4
) spend_all
LEFT JOIN (
   SELECT billing_period, payer_account_id, linked_account_id, tags_json,
          DSUM8(ec2_all_cost) AS ec2_all_cost,
          DSUM8(ec2_usage_cost) AS ec2_usage_cost,
          DSUM8(ec2_spot_cost) AS ec2_spot_cost,
          DSUM8(ec2_spot_potential_savings) AS ec2_spot_potential_savings,
          DSUM8(ec2_previous_generation_cost) AS ec2_previous_generation_cost,
          DSUM8(ec2_previous_generation_potential_savings)
              AS ec2_previous_generation_potential_savings,
          DSUM8(ec2_graviton_eligible_cost) AS ec2_graviton_eligible_cost,
          DSUM8(ec2_graviton_cost) AS ec2_graviton_cost,
          DSUM8(ec2_graviton_potential_savings) AS ec2_graviton_potential_savings,
          DSUM8(ec2_amd_eligible_cost) AS ec2_amd_eligible_cost,
          DSUM8(ec2_amd_cost) AS ec2_amd_cost,
          DSUM8(ec2_amd_potential_savings) AS ec2_amd_potential_savings,
          DSUM8(rds_all_cost) AS rds_all_cost,
          DSUM8(rds_ondemand_cost) AS rds_ondemand_cost,
          DSUM8(rds_graviton_cost) AS rds_graviton_cost,
          DSUM8(rds_graviton_eligible_cost) AS rds_graviton_eligible_cost,
          DSUM8(rds_graviton_potential_savings) AS rds_graviton_potential_savings,
          DSUM8(rds_commit_potential_savings) AS rds_commit_potential_savings,
          DSUM8(rds_commit_savings) AS rds_commit_savings,
          CAST(SUM(rds_license_n) AS BIGINT) AS rds_license,
          CAST(SUM(rds_no_license_n) AS BIGINT) AS rds_no_license,
          DSUM8(rds_sql_server_cost) AS rds_sql_server_cost,
          DSUM8(rds_oracle_cost) AS rds_oracle_cost,
          DSUM8(elasticache_all_cost) AS elasticache_all_cost,
          DSUM8(elasticache_ondemand_cost) AS elasticache_ondemand_cost,
          DSUM8(elasticache_graviton_cost) AS elasticache_graviton_cost,
          DSUM8(elasticache_graviton_eligible_cost) AS elasticache_graviton_eligible_cost,
          DSUM8(elasticache_graviton_potential_savings)
              AS elasticache_graviton_potential_savings,
          DSUM8(elasticache_commit_potential_savings)
              AS elasticache_commit_potential_savings,
          DSUM8(elasticache_commit_savings) AS elasticache_commit_savings,
          DSUM8(compute_all_cost) AS compute_all_cost,
          DSUM8(compute_ondemand_cost) AS compute_ondemand_cost,
          DSUM8(compute_commit_potential_savings) AS compute_commit_potential_savings,
          DSUM8(compute_commit_savings) AS compute_commit_savings,
          DSUM8(opensearch_all_cost) AS opensearch_all_cost,
          DSUM8(opensearch_ondemand_cost) AS opensearch_ondemand_cost,
          DSUM8(opensearch_graviton_cost) AS opensearch_graviton_cost,
          DSUM8(opensearch_graviton_eligible_cost) AS opensearch_graviton_eligible_cost,
          DSUM8(opensearch_graviton_potential_savings)
              AS opensearch_graviton_potential_savings,
          DSUM8(opensearch_commit_potential_savings) AS opensearch_commit_potential_savings,
          DSUM8(opensearch_commit_savings) AS opensearch_commit_savings,
          DSUM8(redshift_all_cost) AS redshift_all_cost,
          DSUM8(redshift_ondemand_cost) AS redshift_ondemand_cost,
          DSUM8(redshift_commit_potential_savings) AS redshift_commit_potential_savings,
          DSUM8(redshift_commit_savings) AS redshift_commit_savings,
          DSUM8(dynamodb_all_cost) AS dynamodb_all_cost,
          DSUM8(dynamodb_committed_cost) AS dynamodb_committed_cost,
          DSUM8(dynamodb_ondemand_cost) AS dynamodb_ondemand_cost,
          DSUM8(dynamodb_commit_potential_savings) AS dynamodb_commit_potential_savings,
          DSUM8(dynamodb_commit_savings) AS dynamodb_commit_savings,
          DSUM8(sagemaker_all_cost) AS sagemaker_all_cost,
          DSUM8(sagemaker_ondemand_cost) AS sagemaker_ondemand_cost,
          DSUM8(sagemaker_commit_potential_savings) AS sagemaker_commit_potential_savings,
          DSUM8(sagemaker_commit_savings) AS sagemaker_commit_savings,
          DSUM8(lambda_all_cost) AS lambda_all_cost,
          DSUM8(lambda_graviton_cost) AS lambda_graviton_cost,
          DSUM8(lambda_graviton_eligible_cost) AS lambda_graviton_eligible_cost,
          DSUM8(lambda_graviton_potential_savings) AS lambda_graviton_potential_savings
   FROM kpi_instance_rollup
   GROUP BY 1, 2, 3, 4
) instance_all
  ON instance_all.linked_account_id = spend_all.linked_account_id
 AND instance_all.billing_period = spend_all.billing_period
 AND instance_all.payer_account_id = spend_all.payer_account_id
 AND instance_all.tags_json = spend_all.tags_json
LEFT JOIN (
   SELECT billing_period, payer_account_id, linked_account_id, tags_json,
          DSUM(ebs_all_cost) AS ebs_all_cost,
          DSUM(ebs_gp3_cost + ebs_gp2_cost) AS ebs_gp_all_cost,
          DSUM(ebs_gp3_cost) AS ebs_gp3_cost,
          DSUM(ebs_gp2_cost) AS ebs_gp2_cost,
          DSUM(ebs_gp3_potential_savings) AS ebs_gp3_potential_savings
   FROM kpi_ebs_storage_all
   GROUP BY 1, 2, 3, 4
) ebs_all
  ON ebs_all.linked_account_id = spend_all.linked_account_id
 AND ebs_all.billing_period = spend_all.billing_period
 AND ebs_all.payer_account_id = spend_all.payer_account_id
 AND ebs_all.tags_json = spend_all.tags_json
LEFT JOIN (
   SELECT billing_period, payer_account_id, linked_account_id, tags_json,
          DSUM(ebs_snapshots_under_1yr_cost) AS ebs_snapshots_under_1yr_cost,
          DSUM(ebs_snapshots_over_1yr_cost) AS ebs_snapshots_over_1yr_cost,
          DSUM(ebs_snapshot_cost) AS ebs_snapshot_cost
   FROM kpi_ebs_snap
   GROUP BY 1, 2, 3, 4
) snap
  ON snap.linked_account_id = spend_all.linked_account_id
 AND snap.billing_period = spend_all.billing_period
 AND snap.payer_account_id = spend_all.payer_account_id
 AND snap.tags_json = spend_all.tags_json
LEFT JOIN (
   SELECT billing_period, payer_account_id, linked_account_id, tags_json,
          DSUM(s3_all_storage_cost) AS s3_all_storage_cost,
          DSUM(s3_standard_storage_cost) AS s3_standard_storage_cost,
          DSUM(s3_standard_storage_potential_savings)
              AS s3_standard_storage_potential_savings
   FROM kpi_s3_storage_all
   GROUP BY 1, 2, 3, 4
) s3_all
  ON s3_all.linked_account_id = spend_all.linked_account_id
 AND s3_all.billing_period = spend_all.billing_period
 AND s3_all.payer_account_id = spend_all.payer_account_id
 AND s3_all.tags_json = spend_all.tags_json
WHERE spend_all.billing_period >= date_trunc('month', {NOW}) - INTERVAL '3' MONTH
"""

#: dependency-ordered (name, body) — the reference registered this chain
#: per query (kpi_summary.py:94-104); we register once per session.
VIEW_CHAIN: list[tuple[str, str]] = [
    ("kpi_instance_mapping", KPI_INSTANCE_MAPPING),
    ("summary_view", SUMMARY_VIEW),
    ("kpi_ebs_storage_all", KPI_EBS_STORAGE_ALL),
    ("kpi_ebs_snap", KPI_EBS_SNAP),
    ("kpi_s3_storage_all", KPI_S3_STORAGE_ALL),
    ("cur_all", _CUR_ALL),
    ("joined", _JOINED),
    ("kpi_prep", KPI_PREP_BODY),
    ("kpi_instance_all", KPI_INSTANCE_ALL_BODY),
    ("kpi_instance_rollup", KPI_INSTANCE_ROLLUP_BODY),
    ("kpi_tracker", KPI_TRACKER_BODY),
]


def view_sql(name: str, body: str, cur_table: str, now_expr: str, dialect: str) -> str:
    return render(
        body.replace("{CUR}", cur_table).replace("{NOW}", now_expr), dialect
    )


#: the views ``register_kpi_views(..., pin=...)`` writes as parquet and
#: serves from disk. Wave 1 is the five mutually independent level-1/2
#: views every final query reads, built concurrently so the cheap scans
#: overlap the instance ladder instead of queuing behind it; the instance
#: layer is pinned at ROLLUP grain, since every aggregate consumer reads the
#: small decimal-partial cube and never the ~70-column detail. Wave 2 is the
#: tracker, whose five sub-aggregates read every wave-1 view, and whose
#: ~100-column savings projection (the biggest codegen unit in the repo) is
#: then compiled once instead of per consumer. The detail views stay
#: virtual for ad-hoc queries.
PINNED_WAVE: tuple[str, ...] = (
    "summary_view",
    "kpi_ebs_storage_all",
    "kpi_ebs_snap",
    "kpi_s3_storage_all",
    "kpi_instance_rollup",
)


def register_kpi_views(
    spark: SparkSession,
    cur_table: str = "CUR",
    now: str | None = None,
    pin: str | None = None,
) -> list[str]:
    """Create the whole chain as temp views (dependency order).

    ``now`` ('YYYY-MM-DD') pins the trailing-3-month windows for tests;
    None uses real CURRENT_DATE. ``pin`` is an artifact directory: when
    given, the :data:`PINNED_WAVE` views and then ``kpi_tracker`` are
    published there as parquet (reused if present) and re-registered over
    the files. A temp view captures its inputs' plans when it is created,
    so the tracker is created only after wave 1 is pinned."""
    now_expr = f"DATE '{now}'" if now else "CURRENT_DATE"

    def create(name: str, body: str) -> None:
        sql = view_sql(name, body, cur_table, now_expr, "spark")
        spark.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS {sql}")

    def pinned(name: str) -> DataFrame:
        path = publish(
            os.path.join(pin, name), lambda tmp: spark.table(name).write.parquet(tmp)
        )
        return spark.read.parquet(path)

    for name, body in VIEW_CHAIN:
        if not (pin and name == "kpi_tracker"):
            create(name, body)
    if pin:
        with ThreadPoolExecutor(len(PINNED_WAVE)) as ex:
            for name, df in zip(PINNED_WAVE, ex.map(pinned, PINNED_WAVE)):
                df.createOrReplaceTempView(name)
        create("kpi_tracker", KPI_TRACKER_BODY)
        pinned("kpi_tracker").createOrReplaceTempView("kpi_tracker")
    return [name for name, _ in VIEW_CHAIN]


def chained_oracle(final_select: str, cur_cte: str, now_expr: str) -> str:
    """One DuckDB query embedding the whole chain as CTEs.

    ``cur_cte`` must be a complete ``WITH cur AS (...)`` prefix; views
    reference the table name ``cur``."""
    parts = [cur_cte.rstrip().rstrip(",")]
    for name, body in VIEW_CHAIN:
        rendered = view_sql(name, body, "cur", now_expr, "duckdb")
        parts.append(f", {name} AS (\n{rendered}\n)")
    return "".join(parts) + "\n" + final_select

