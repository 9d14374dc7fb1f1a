"""Spend analytics — invoice trends, top regions/services, breakdown.

Capability parity with the reference's SpendAnalytics
(de_polars/analytics/spend_analytics.py:22-357): same four endpoints,
same SQL semantics, same response envelopes, plus the naive next-month
forecast (spend_analytics.py:338-357). Differences by design:
DataFrames stay lazy until the envelope edge, and the scalar
percent-of-total CROSS JOIN is kept in SQL where Catalyst broadcast-joins
the single-row side automatically.
"""

from __future__ import annotations

from typing import Any, Optional

from de_polars_spark.analytics.base import AnalyticsModule, RequestError

_INVOICE_SQL = """
WITH monthly_spend AS (
    SELECT DATE_TRUNC('month', line_item_usage_start_date) AS month,
           SUM(line_item_unblended_cost) AS total_spend
    FROM {table}
    WHERE line_item_unblended_cost > 0
      AND line_item_usage_start_date >= {now} - INTERVAL '{months_back}' MONTH
    GROUP BY 1
),
spend_with_changes AS (
    SELECT month, total_spend,
           LAG(total_spend, 1) OVER (ORDER BY month) AS prev_month_spend,
           LAG(total_spend, 12) OVER (ORDER BY month) AS prev_year_spend
    FROM monthly_spend
)
SELECT month, total_spend,
       CASE WHEN prev_month_spend > 0
            THEN ROUND(((total_spend - prev_month_spend) / prev_month_spend) * 100, 2)
       END AS mom_change,
       CASE WHEN prev_year_spend > 0
            THEN ROUND(((total_spend - prev_year_spend) / prev_year_spend) * 100, 2)
       END AS yoy_change
FROM spend_with_changes
ORDER BY month DESC
"""

_TOP_REGIONS_SQL = """
WITH current_month AS (
    SELECT product_region, SUM(line_item_unblended_cost) AS current_spend
    FROM {table}
    WHERE line_item_unblended_cost > 0
      AND DATE_TRUNC('month', line_item_usage_start_date) = DATE_TRUNC('month', {now})
    GROUP BY 1
),
prev_month AS (
    SELECT product_region, SUM(line_item_unblended_cost) AS prev_spend
    FROM {table}
    WHERE line_item_unblended_cost > 0
      AND DATE_TRUNC('month', line_item_usage_start_date)
          = DATE_TRUNC('month', {now}) - INTERVAL '1' MONTH
    GROUP BY 1
),
total_spend AS (SELECT SUM(current_spend) AS total FROM current_month)
SELECT c.product_region AS region_name,
       c.current_spend AS spend,
       ROUND((c.current_spend / t.total) * 100, 2) AS percentage,
       CASE WHEN p.prev_spend > 0
            THEN ROUND(((c.current_spend - p.prev_spend) / p.prev_spend) * 100, 2)
       END AS mom_change
FROM current_month c
CROSS JOIN total_spend t
LEFT JOIN prev_month p ON c.product_region = p.product_region
WHERE c.product_region IS NOT NULL
ORDER BY c.current_spend DESC, region_name
LIMIT {limit}
"""

_TOP_SERVICES_SQL = """
WITH service_spend AS (
    SELECT product_servicecode AS service_name,
           SUM(line_item_unblended_cost) AS total_spend,
           COUNT(DISTINCT line_item_resource_id) AS resource_count
    FROM {table}
    WHERE line_item_unblended_cost > 0
      AND DATE_TRUNC('month', line_item_usage_start_date) = DATE_TRUNC('month', {now})
    GROUP BY 1
),
total_spend AS (SELECT SUM(total_spend) AS total FROM service_spend)
SELECT s.service_name, s.total_spend AS spend,
       ROUND((s.total_spend / t.total) * 100, 2) AS percentage,
       s.resource_count
FROM service_spend s
CROSS JOIN total_spend t
WHERE s.service_name IS NOT NULL
ORDER BY s.total_spend DESC, service_name
LIMIT {limit}
"""


class SpendAnalytics(AnalyticsModule):
    def get_invoice_summary(self, months_back: int = 12) -> dict[str, Any]:
        """GET /api/v1/finops/spend/invoice/summary
        (spend_analytics.py:22-98)."""
        rows = self._rows(self._sql(_INVOICE_SQL, months_back=int(months_back)))
        if not rows:
            return {
                "invoice_total": 0, "mom_change": 0, "yoy_change": 0,
                "trend_data": [], "forecast": {"next_month": 0, "confidence": 0},
            }
        latest = rows[0]
        trend_data = [
            {"month": str(r["month"])[:7], "spend": float(r["total_spend"])}
            for r in rows
        ]
        return {
            "invoice_total": float(latest["total_spend"]),
            "mom_change": float(latest["mom_change"]) if latest["mom_change"] else 0,
            "yoy_change": float(latest["yoy_change"]) if latest["yoy_change"] else 0,
            "trend_data": trend_data,
            "forecast": self._calculate_forecast(trend_data),
        }

    def get_top_regions(self, limit: int = 10) -> dict[str, Any]:
        """GET /api/v1/finops/spend/regions/top
        (spend_analytics.py:100-167)."""
        rows = self._rows(self._sql(_TOP_REGIONS_SQL, limit=int(limit)))
        return {
            "regions": [
                {
                    "name": r["region_name"],
                    "spend": float(r["spend"]),
                    "percentage": float(r["percentage"]),
                    "mom_change": float(r["mom_change"]) if r["mom_change"] else 0,
                    "details": {},
                }
                for r in rows
            ]
        }

    def get_top_services(self, limit: int = 10) -> dict[str, Any]:
        """GET /api/v1/finops/spend/services/top
        (spend_analytics.py:169-222)."""
        rows = self._rows(self._sql(_TOP_SERVICES_SQL, limit=int(limit)))
        return {
            "services": [
                {
                    "name": r["service_name"],
                    "spend": float(r["spend"]),
                    "percentage": float(r["percentage"]),
                    "trend": "stable",
                    "resources": [{"count": int(r["resource_count"])}],
                }
                for r in rows
            ]
        }

    def get_spend_breakdown(
        self, dimensions: Optional[list[str]] = None
    ) -> dict[str, Any]:
        """GET /api/v1/finops/spend/breakdown
        (spend_analytics.py:224-283). Dimensions validated against a
        whitelist instead of spliced free-form."""
        dims = dimensions if dimensions is not None else ["region", "service"]
        colmap = {"region": "product_region", "service": "product_servicecode"}
        bad = [d for d in dims if d not in colmap]
        if bad:
            raise RequestError(f"unsupported dimensions {bad}; choose from {list(colmap)}")
        select = ", ".join(f"{colmap[d]} AS {d}" for d in dims) or "'All' AS dimension"
        group = ", ".join(colmap[d] for d in dims)
        sql = f"""
        SELECT {select},
               SUM(line_item_unblended_cost) AS spend,
               COUNT(DISTINCT line_item_resource_id) AS resource_count
        FROM {{table}}
        WHERE line_item_unblended_cost > 0
          AND DATE_TRUNC('month', line_item_usage_start_date) = DATE_TRUNC('month', {{now}})
        {f'GROUP BY {group}' if group else ''}
        ORDER BY spend DESC
        LIMIT 50
        """
        rows = self._rows(self._sql(sql))
        breakdown = []
        for r in rows:
            item: dict[str, Any] = {
                "spend": float(r["spend"]),
                "resources": [{"count": int(r["resource_count"])}],
            }
            for d in dims:
                if d in r:
                    item[d] = r[d]
            breakdown.append(item)
        return {"breakdown": breakdown}

    @staticmethod
    def _calculate_forecast(trend_data: list[dict]) -> dict[str, Any]:
        """Naive last-3-month trend extrapolation, fixed confidence 75
        (spend_analytics.py:338-357)."""
        if len(trend_data) < 2:
            return {"next_month": 0, "confidence": 0}
        recent = [t["spend"] for t in trend_data[:3]]
        if len(recent) >= 2 and recent[1] > 0:
            trend = (recent[0] - recent[1]) / recent[1]
            forecast = recent[0] * (1 + trend)
        else:
            forecast = sum(recent) / len(recent)
        return {"next_month": round(forecast, 2), "confidence": 75}
