"""KPI comprehensive-summary analytics (reference
de_polars/analytics/kpi_summary.py:26-450).

The reference re-created the whole view chain per call on a persistent
DuckDB connection, spliced WHERE filters into the view SQL as strings
(kpi_summary.py:290-320), then collected the tracker and assembled a
nested JSON response. Here the chain is registered ONCE per session as
temp views (views/kpi.py), filters are applied as parameterized
DataFrame filters on the tracker output, and only the final aggregated
row crosses to the driver.
"""

from __future__ import annotations

from datetime import datetime
from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from de_polars_spark.analytics.base import AnalyticsModule
from de_polars_spark.engine.session import registered
from de_polars_spark.views.kpi import VIEW_CHAIN, register_kpi_views

#: tracker money columns aggregated into the API response, grouped by
#: response section (kpi_summary.py:340-408)
_SECTIONS: dict[str, list[str]] = {
    "ec2_metrics": [
        "ec2_all_cost", "ec2_usage_cost", "ec2_spot_cost",
        "ec2_spot_potential_savings", "ec2_previous_generation_cost",
        "ec2_previous_generation_potential_savings",
        "ec2_graviton_eligible_cost", "ec2_graviton_cost",
        "ec2_graviton_potential_savings", "ec2_amd_eligible_cost",
        "ec2_amd_cost", "ec2_amd_potential_savings",
    ],
    "rds_metrics": [
        "rds_all_cost", "rds_ondemand_cost", "rds_graviton_cost",
        "rds_graviton_eligible_cost", "rds_graviton_potential_savings",
        "rds_commit_potential_savings", "rds_commit_savings",
        "rds_license", "rds_no_license", "rds_sql_server_cost",
        "rds_oracle_cost",
    ],
    "storage_metrics": [
        "ebs_all_cost", "ebs_gp_all_cost", "ebs_gp2_cost", "ebs_gp3_cost",
        "ebs_gp3_potential_savings", "ebs_snapshots_under_1yr_cost",
        "ebs_snapshots_over_1yr_cost", "ebs_snapshot_cost",
        "s3_all_storage_cost", "s3_standard_storage_cost",
        "s3_standard_storage_potential_savings",
    ],
    "compute_services": [
        "compute_all_cost", "compute_ondemand_cost",
        "compute_commit_potential_savings", "compute_commit_savings",
        "dynamodb_all_cost", "lambda_all_cost",
    ],
}

_INT_COLS = {"rds_license", "rds_no_license"}


class KPISummary(AnalyticsModule):
    """engine.kpi — the flagship dashboard view."""

    def _ensure_views(self) -> None:
        """Register the chain over this module's table and date in the
        session, again whenever something else (another engine sharing the
        session, or the inventory's pinned chain) registered its own under
        the same view names since."""
        spark = self.engine.spark
        registered(spark, "kpi_views", (self.table, self.now),
                   lambda: register_kpi_views(spark, self.table, now=self.now))

    def view_names(self) -> list[str]:
        return [name for name, _ in VIEW_CHAIN]

    def _tracker(
        self,
        billing_period: Optional[str] = None,
        payer_account_id: Optional[str] = None,
        linked_account_id: Optional[str] = None,
        tags_filter: Optional[dict[str, str]] = None,
    ) -> DataFrame:
        """Filtered kpi_tracker — parameterized filters, not SQL splicing
        (reference: kpi_summary.py:290-320)."""
        self._ensure_views()
        df = self.engine.spark.table("kpi_tracker")
        if billing_period:
            df = df.filter(
                F.date_format("billing_period", "yyyy-MM") == billing_period
            )
        if payer_account_id:
            df = df.filter(F.col("payer_account_id") == payer_account_id)
        if linked_account_id:
            df = df.filter(F.col("linked_account_id") == linked_account_id)
        for key, value in (tags_filter or {}).items():
            df = df.filter(F.col("tags_json").like(f"%{key}%{value}%"))
        return df

    def get_comprehensive_summary(
        self,
        billing_period: Optional[str] = None,
        payer_account_id: Optional[str] = None,
        linked_account_id: Optional[str] = None,
        tags_filter: Optional[dict[str, str]] = None,
    ) -> dict[str, Any]:
        """GET /api/v1/finops/kpi/summary (kpi_summary.py:26-78).

        One aggregation over the filtered tracker — totals across every
        account in scope — assembled into the reference's nested response
        shape (kpi_summary.py:338-408)."""
        df = self._tracker(
            billing_period, payer_account_id, linked_account_id, tags_filter
        )
        money = [c for cols in _SECTIONS.values() for c in cols]
        aggs = [F.count(F.lit(1)).alias("__rows"),
                F.sum("spend_all_cost").alias("spend_all_cost")]
        aggs += [F.sum(c).alias(c) for c in money]
        row = df.agg(*aggs).collect()[0].asDict()
        if not row["__rows"]:
            return self._empty_response()

        def val(col: str):
            v = row.get(col)
            if col in _INT_COLS:
                return int(v) if v is not None else 0
            return float(v) if v is not None else 0.0

        response: dict[str, Any] = {
            "summary_metadata": {
                "query_date": (self.now or datetime.now().date().isoformat()),
                "billing_periods": [billing_period] if billing_period else ["latest"],
                "records_analyzed": int(row["__rows"]),
                "data_source": "spark_parquet",
            },
            "overall_spend": {
                "billing_period": billing_period or "latest",
                "payer_account_id": payer_account_id or "all",
                "linked_account_id": linked_account_id or "all",
                "spend_all_cost": val("spend_all_cost"),
                # the reference tracker computes unblended_cost in its
                # spend_all sub-agg but never selects it out, so the API
                # row_dict.get("unblended_cost", 0) was always 0
                # (kpi_tracker.sql:90 vs :2-83 select list) — mirrored.
                "unblended_cost": 0.0,
                "tags_json": "{}",
            },
        }
        for section, cols in _SECTIONS.items():
            response[section] = {c: val(c) for c in cols}
        response["savings_summary"] = self._savings_summary(response)
        return response

    @staticmethod
    def _savings_summary(metrics: dict[str, Any]) -> dict[str, Any]:
        """Savings rollup (kpi_summary.py:411-450: same composition)."""
        ec2 = metrics["ec2_metrics"]
        rds = metrics["rds_metrics"]
        storage = metrics["storage_metrics"]
        compute = metrics["compute_services"]
        ec2_savings = (
            ec2["ec2_spot_potential_savings"]
            + ec2["ec2_previous_generation_potential_savings"]
            + ec2["ec2_graviton_potential_savings"]
            + ec2["ec2_amd_potential_savings"]
        )
        rds_savings = (
            rds["rds_graviton_potential_savings"]
            + rds["rds_commit_potential_savings"]
        )
        storage_savings = (
            storage["ebs_gp3_potential_savings"]
            + storage["s3_standard_storage_potential_savings"]
        )
        compute_savings = compute["compute_commit_potential_savings"]
        total = ec2_savings + rds_savings + storage_savings + compute_savings
        current = rds["rds_commit_savings"] + compute["compute_commit_savings"]
        return {
            "total_potential_savings": round(total, 2),
            "graviton_savings_potential": round(
                ec2["ec2_graviton_potential_savings"]
                + rds["rds_graviton_potential_savings"], 2
            ),
            "commitment_savings_potential": round(rds_savings + compute_savings, 2),
            "storage_optimization_potential": round(storage_savings, 2),
            "spot_instance_potential": round(ec2["ec2_spot_potential_savings"], 2),
            "current_monthly_savings": round(current, 2),
            "annualized_savings_opportunity": round(total * 12, 2),
        }

    def _empty_response(self) -> dict[str, Any]:
        out: dict[str, Any] = {
            "summary_metadata": {
                "query_date": (self.now or datetime.now().date().isoformat()),
                "billing_periods": [],
                "records_analyzed": 0,
                "data_source": "spark_parquet",
            },
            "overall_spend": {
                "billing_period": "none", "payer_account_id": "none",
                "linked_account_id": "none", "spend_all_cost": 0.0,
                "unblended_cost": 0.0, "tags_json": "{}",
            },
        }
        for section, cols in _SECTIONS.items():
            out[section] = {c: 0 if c in _INT_COLS else 0.0 for c in cols}
        out["savings_summary"] = self._savings_summary(out)
        return out
