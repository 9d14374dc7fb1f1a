"""Cost allocation — account hierarchy, tagging compliance, cost centers.

Capability parity with the reference's CostAllocation
(de_polars/analytics/allocation.py:23-468): the same tag-status CASE
buckets, the Project-tag regex extraction, and the driver-side
compliance roll-ups. The reference reads ``payer_account_id`` /
``linked_account_id`` (summary_view names); the raw CUR 2.0 columns are
``bill_payer_account_id`` / ``line_item_usage_account_id`` — we alias in
SQL so the module works on the raw table (the reference only worked when
pointed at the view).
"""

from __future__ import annotations

from typing import Any, Optional

from de_polars_spark.analytics.base import AnalyticsModule, RequestError

_HIERARCHY_SQL = """
WITH account_costs AS (
    SELECT bill_payer_account_id AS payer_account_id,
           line_item_usage_account_id AS linked_account_id,
           product_servicecode,
           SUM(line_item_unblended_cost) AS total_cost,
           COUNT(DISTINCT line_item_resource_id) AS resource_count
    FROM {table}
    WHERE line_item_unblended_cost > 0
      AND DATE_TRUNC('month', line_item_usage_start_date) = DATE_TRUNC('month', {now})
    GROUP BY 1, 2, 3
),
account_summary AS (
    SELECT payer_account_id, linked_account_id,
           SUM(total_cost) AS account_total_cost,
           SUM(resource_count) AS total_resources
    FROM account_costs
    GROUP BY 1, 2
)
SELECT payer_account_id, linked_account_id, account_total_cost, total_resources,
       CASE WHEN account_total_cost > 10000 THEN 'Large'
            WHEN account_total_cost > 1000 THEN 'Medium'
            ELSE 'Small' END AS account_size
FROM account_summary
ORDER BY account_total_cost DESC, linked_account_id
"""

_TAGGING_SQL = """
WITH resource_tagging AS (
    SELECT line_item_resource_id, product_servicecode, line_item_unblended_cost,
           CASE WHEN resource_tags IS NULL OR resource_tags = '' THEN 'untagged'
                WHEN resource_tags LIKE '%Environment%' AND resource_tags LIKE '%Team%'
                     THEN 'fully_tagged'
                WHEN resource_tags LIKE '%Environment%' OR resource_tags LIKE '%Team%'
                     THEN 'partially_tagged'
                ELSE 'custom_tagged' END AS tagging_status
    FROM {table}
    WHERE line_item_unblended_cost > 0
      AND line_item_resource_id IS NOT NULL
      AND DATE_TRUNC('month', line_item_usage_start_date) = DATE_TRUNC('month', {now})
),
tagging_summary AS (
    SELECT tagging_status, product_servicecode,
           COUNT(DISTINCT line_item_resource_id) AS resource_count,
           SUM(line_item_unblended_cost) AS total_cost
    FROM resource_tagging
    GROUP BY 1, 2
),
overall_stats AS (
    SELECT COUNT(DISTINCT line_item_resource_id) AS total_resources,
           SUM(line_item_unblended_cost) AS total_cost
    FROM resource_tagging
)
SELECT ts.tagging_status, ts.product_servicecode, ts.resource_count, ts.total_cost,
       ROUND((CAST(ts.resource_count AS FLOAT) / os.total_resources) * 100, 2)
           AS resource_percentage,
       ROUND((ts.total_cost / os.total_cost) * 100, 2) AS cost_percentage
FROM tagging_summary ts
CROSS JOIN overall_stats os
ORDER BY ts.total_cost DESC, ts.tagging_status, ts.product_servicecode
"""

# Project extraction: reference used SUBSTRING(resource_tags FROM
# 'Project[":]*([^,}}"]*)') (allocation.py:264-266) — the dialect shim
# rewrites that to regexp_extract; stated directly here.
_COST_CENTER_SQL = """
WITH tagged_costs AS (
    SELECT line_item_resource_id, line_item_unblended_cost, product_servicecode,
           CASE WHEN resource_tags LIKE '%Environment%prod%' THEN 'Production'
                WHEN resource_tags LIKE '%Environment%dev%' THEN 'Development'
                WHEN resource_tags LIKE '%Environment%test%' THEN 'Testing'
                ELSE 'Unallocated' END AS environment,
           CASE WHEN resource_tags LIKE '%Team%platform%' THEN 'Platform'
                WHEN resource_tags LIKE '%Team%data%' THEN 'Data'
                WHEN resource_tags LIKE '%Team%product%' THEN 'Product'
                ELSE 'Shared' END AS team,
           CASE WHEN resource_tags LIKE '%Project%'
                THEN regexp_extract(resource_tags, 'Project[":]*([^,}}"]*)', 1)
                ELSE 'General' END AS project
    FROM {table}
    WHERE line_item_unblended_cost > 0
      AND DATE_TRUNC('month', line_item_usage_start_date) = DATE_TRUNC('month', {now})
      {period_filter}
)
SELECT environment, team, project,
       COUNT(DISTINCT line_item_resource_id) AS resource_count,
       SUM(line_item_unblended_cost) AS allocated_cost,
       COUNT(DISTINCT product_servicecode) AS service_count
FROM tagged_costs
GROUP BY 1, 2, 3
ORDER BY allocated_cost DESC, environment, team, project
"""


class CostAllocation(AnalyticsModule):
    def get_account_hierarchy(self) -> dict[str, Any]:
        """GET /api/v1/finops/allocation/account-hierarchy
        (allocation.py:23-121)."""
        rows = self._rows(self._sql(_HIERARCHY_SQL))
        accounts, cost_centers = [], []
        for r in rows:
            cost = float(r["account_total_cost"])
            cc_name = f"cost-center-{str(r['linked_account_id'])[-4:]}"
            accounts.append(
                {
                    "account_id": r["linked_account_id"],
                    "payer_account_id": r["payer_account_id"],
                    "monthly_cost": cost,
                    "resource_count": int(r["total_resources"]),
                    "account_size": r["account_size"],
                    "cost_center": cc_name,
                }
            )
            existing = next((c for c in cost_centers if c["name"] == cc_name), None)
            if existing:
                existing["total_cost"] += cost
                existing["account_count"] += 1
            else:
                cost_centers.append(
                    {
                        "name": cc_name,
                        "total_cost": cost,
                        "account_count": 1,
                        "allocation_method": "account_based",
                    }
                )
        allocation_rules = [
            {
                "rule_id": "shared_services_allocation",
                "description": "Allocate shared services costs by usage percentage",
                "method": "proportional",
                "applies_to": ["ElasticLoadBalancing", "AmazonVPC"],
            },
            {
                "rule_id": "environment_allocation",
                "description": "Allocate by environment tags",
                "method": "tag_based",
                "tag_key": "Environment",
            },
        ]
        return {
            "accounts": accounts,
            "cost_centers": cost_centers,
            "allocation_rules": allocation_rules,
        }

    def get_tagging_compliance(self) -> dict[str, Any]:
        """GET /api/v1/finops/allocation/tagging-compliance
        (allocation.py:124-232)."""
        rows = self._rows(self._sql(_TAGGING_SQL))
        total = tagged = 0
        untagged, coverage = [], {}
        for r in rows:
            n = int(r["resource_count"])
            total += n
            if r["tagging_status"] != "untagged":
                tagged += n
            else:
                untagged.append(
                    {
                        "service": r["product_servicecode"],
                        "resource_count": n,
                        "cost_impact": float(r["total_cost"]),
                        "cost_percentage": float(r["cost_percentage"]),
                    }
                )
            svc = r["product_servicecode"]
            coverage.setdefault(svc, {"total": 0, "tagged": 0})
            coverage[svc]["total"] += n
            if r["tagging_status"] != "untagged":
                coverage[svc]["tagged"] += n
        score = (tagged / total * 100) if total else 0
        formatted = {
            svc: {
                "coverage_percentage": round(
                    (c["tagged"] / c["total"] * 100) if c["total"] else 0, 1
                ),
                "tagged_resources": c["tagged"],
                "total_resources": c["total"],
            }
            for svc, c in coverage.items()
        }
        return {
            "compliance_score": round(score, 1),
            "untagged_resources": untagged,
            "tag_coverage": formatted,
            "total_resources": total,
            "tagged_resources": tagged,
        }

    def get_cost_center_breakdown(self, period: Optional[str] = None) -> dict[str, Any]:
        """GET /api/v1/finops/allocation/cost-center-breakdown
        (allocation.py:234-390). ``period`` is a validated YYYY-MM filter
        on billing_period (reference spliced it raw)."""
        period_filter = ""
        if period is not None:
            if not (len(period) == 7 and period[4] == "-" and period.replace("-", "").isdigit()):
                raise RequestError(f"period={period!r} must be 'YYYY-MM'")
            period_filter = f"AND billing_period = '{period}'"
        rows = self._rows(self._sql(_COST_CENTER_SQL, period_filter=period_filter))
        cost_centers = [
            {
                "environment": r["environment"],
                "team": r["team"],
                "project": r["project"],
                "resource_count": int(r["resource_count"]),
                "allocated_cost": float(r["allocated_cost"]),
                "service_count": int(r["service_count"]),
            }
            for r in rows
        ]
        total = sum(c["allocated_cost"] for c in cost_centers)
        unallocated = sum(
            c["allocated_cost"] for c in cost_centers if c["environment"] == "Unallocated"
        )
        return {
            "cost_centers": cost_centers,
            "total_allocated_cost": round(total, 2),
            "unallocated_cost": round(unallocated, 2),
            "allocation_coverage": round(
                ((total - unallocated) / total * 100) if total else 0, 1
            ),
        }

    def get_third_party_integration_status(self) -> dict[str, Any]:
        """GET /api/v1/finops/allocation/third-party-integrations
        (allocation.py:393-468) — static integration catalog in the
        reference; same here."""
        integrations = [
            {"name": "CloudHealth", "status": "available", "sync_frequency": "daily"},
            {"name": "Cloudability", "status": "available", "sync_frequency": "daily"},
            {"name": "Apptio", "status": "available", "sync_frequency": "weekly"},
        ]
        return {
            "integrations": integrations,
            "active_count": 0,
            "available_count": len(integrations),
        }
