"""Oracle-checked CUR ⋈ pricing-table joins (SURVEY §2.3 last row;
reference README.md:555-651 example queries over the documented-but-
stubbed API tables).

Spark side: the pricing DataFrames are registered as temp views via
``SparkEngine.register_dataframe`` (sources/pricing.py) and joined
against the synthetic CUR — tiny dimensions, so AQE plans broadcast hash
joins. Oracle side: the SAME rows rendered as VALUES CTEs (single source
of truth is ``AWSPricingManager.get_pricing_matrix``), so the driver's
hash compare covers both the join semantics and the registration path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from de_polars_spark.engine.session import registered
from de_polars_spark.inventory.dialect_macros import render
from de_polars_spark.inventory.kpi_views import CUR_EXT_CTE, _ensure_cur_ext
from de_polars_spark.sources.pricing import (
    build_pricing_tables,
    pricing_values_sql,
    savings_plans_values_sql,
)

QUERIES: dict = {}
ORACLES: dict = {}


def _ensure_pricing_views(spark: SparkSession) -> None:
    def register() -> None:
        for name, df in build_pricing_tables(spark).items():
            df.createOrReplaceTempView(name)

    registered(spark, "pricing", None, register)


#: README.md:558-579 cost-efficiency join (actual vs theoretical on-demand)
_EFFICIENCY_SQL = """
SELECT /*+ BROADCAST(p) */
    c.product_instance_type AS instance_type,
    c.product_region AS region,
    DSUM(c.line_item_unblended_cost) AS actual_cost,
    CAST(ROUND(AVG(p.price_per_hour_usd), 6) AS DOUBLE) AS current_on_demand_rate,
    DSUM(c.line_item_usage_amount) AS usage_hours,
    DSUM(c.line_item_usage_amount * p.price_per_hour_usd) AS theoretical_cost
FROM cur c
LEFT JOIN aws_pricing p ON (
    c.product_instance_type = p.instance_type
    AND c.product_region = p.region_code
    AND c.product_operating_system = p.operating_system
)
WHERE c.line_item_product_code = 'AmazonEC2'
GROUP BY 1, 2
ORDER BY 1, 2
"""

#: README.md:640-652 savings-plans coverage via dimension join
_SP_COVERAGE_SQL = """
SELECT /*+ BROADCAST(sp) */
    MONTH_STR(c.bill_billing_period_start_date) AS billing_period,
    sp.offering_type,
    DSUM(c.line_item_unblended_cost) AS sp_covered_cost,
    COUNT(*) AS covered_line_items,
    CAST(MAX(sp.commitment_usd_per_hour) AS DOUBLE) AS max_commitment
FROM cur c
JOIN aws_savings_plans sp
  ON c.savings_plan_savings_plan_a_r_n = sp.savings_plan_arn
GROUP BY 1, 2
ORDER BY 1, 2
"""

#: pricing-model comparison over the pricing dimension alone
#: (aws_pricing_manager.py:555-628 compare_all_pricing_options, in SQL:
#: spot = 0.30x, RI-3yr = 0.40x, SP = 0.72x of on-demand)
_CHEAPEST_SQL = """
SELECT
    instance_type, region_code, operating_system,
    price_per_hour_usd AS ondemand,
    CAST(ROUND(price_per_hour_usd * 0.30, 6) AS DOUBLE) AS spot,
    CAST(ROUND(price_per_hour_usd * 0.40, 6) AS DOUBLE) AS reserved_3yr,
    CAST(ROUND(price_per_hour_usd * 0.72, 6) AS DOUBLE) AS savings_plan,
    CAST(ROUND(price_per_hour_usd * 0.30, 6) AS DOUBLE) AS cheapest_rate,
    'spot' AS cheapest_option
FROM aws_pricing
WHERE operating_system = 'Linux'
ORDER BY instance_type, region_code
"""


def _bind(name: str, body: str) -> None:
    spark_sql = render("WITH cur AS (SELECT * FROM cur_ext)\n" + body, "spark")
    oracle_sql = render(
        CUR_EXT_CTE
        + ", aws_pricing AS (\n" + pricing_values_sql() + "\n)"
        + ", aws_savings_plans AS (\n" + savings_plans_values_sql() + "\n)\n"
        + body,
        "duckdb",
    )

    def fn(spark: SparkSession, sf_dir: str, _sql: str = spark_sql) -> DataFrame:
        _ensure_cur_ext(spark, sf_dir)
        _ensure_pricing_views(spark)
        return spark.sql(_sql)

    fn.__name__ = f"q_{name}"
    QUERIES[name] = fn
    ORACLES[name] = oracle_sql


_bind("pricing_efficiency_join", _EFFICIENCY_SQL)
_bind("pricing_sp_coverage", _SP_COVERAGE_SQL)
_bind("pricing_cheapest_option", _CHEAPEST_SQL)
