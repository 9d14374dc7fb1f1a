"""Optimization analytics — idle detection, rightsizing, migration, VPC.

Capability parity with the reference's OptimizationEngine
(de_polars/analytics/optimization.py:22-430): same SQL CASE thresholds
(idle <θ → 90% savings, underutilized <2θ → 30%; size-downgrade string
rewrites with the 50%-cost estimate) and the same driver-side risk /
confidence roll-ups.
"""

from __future__ import annotations

from typing import Any

from de_polars_spark.analytics.base import AnalyticsModule, RequestError

_IDLE_SQL = """
WITH resource_utilization AS (
    SELECT line_item_resource_id AS resource_id,
           product_servicecode AS service,
           product_instance_type AS instance_type,
           SUM(line_item_unblended_cost) AS monthly_cost,
           COUNT(*) AS usage_records,
           AVG(CASE WHEN line_item_usage_amount > 0 THEN line_item_usage_amount ELSE 0 END)
               AS avg_utilization
    FROM {table}
    WHERE line_item_unblended_cost > 0
      AND product_servicecode IN ('AmazonEC2', 'AmazonRDS', 'ElasticLoadBalancing')
      AND DATE_TRUNC('month', line_item_usage_start_date) = DATE_TRUNC('month', {now})
    GROUP BY 1, 2, 3
)
SELECT resource_id, service, instance_type, monthly_cost, avg_utilization,
       CASE WHEN avg_utilization < {threshold} THEN 'idle'
            WHEN avg_utilization < {threshold2} THEN 'underutilized'
            ELSE 'active' END AS status,
       CASE WHEN avg_utilization < {threshold} THEN monthly_cost * 0.9
            WHEN avg_utilization < {threshold2} THEN monthly_cost * 0.3
            ELSE 0 END AS potential_savings
FROM resource_utilization
WHERE avg_utilization < {threshold2}
ORDER BY potential_savings DESC, resource_id
LIMIT 50
"""

_RIGHTSIZING_SQL = """
WITH instance_analysis AS (
    SELECT line_item_resource_id AS resource_id,
           product_instance_type AS current_instance_type,
           SUM(line_item_unblended_cost) AS monthly_cost,
           AVG(line_item_usage_amount) AS avg_usage,
           COUNT(*) AS usage_records
    FROM {table}
    WHERE line_item_unblended_cost > 0
      AND product_servicecode = 'AmazonEC2'
      AND product_instance_type IS NOT NULL
      AND DATE_TRUNC('month', line_item_usage_start_date) = DATE_TRUNC('month', {now})
    GROUP BY 1, 2
    HAVING COUNT(*) > 10
)
SELECT resource_id, current_instance_type, monthly_cost, avg_usage,
       CASE WHEN current_instance_type LIKE '%xlarge%' AND avg_usage < 50
                 THEN REPLACE(current_instance_type, 'xlarge', 'large')
            WHEN current_instance_type LIKE '%large%' AND avg_usage < 30
                 THEN REPLACE(current_instance_type, 'large', 'medium')
            WHEN current_instance_type LIKE '%medium%' AND avg_usage < 20
                 THEN REPLACE(current_instance_type, 'medium', 'small')
            ELSE current_instance_type END AS recommended_instance_type,
       CASE WHEN current_instance_type LIKE '%xlarge%' AND avg_usage < 50 THEN monthly_cost * 0.5
            WHEN current_instance_type LIKE '%large%' AND avg_usage < 30 THEN monthly_cost * 0.5
            WHEN current_instance_type LIKE '%medium%' AND avg_usage < 20 THEN monthly_cost * 0.5
            ELSE monthly_cost END AS estimated_new_cost
FROM instance_analysis
WHERE avg_usage < 60
ORDER BY (monthly_cost - estimated_new_cost) DESC, resource_id
LIMIT 20
"""

_MIGRATION_SQL = """
WITH ec2_lambda_candidates AS (
    SELECT 'EC2_to_Lambda' AS migration_type,
           COUNT(DISTINCT line_item_resource_id) AS resource_count,
           SUM(line_item_unblended_cost) AS current_monthly_cost,
           SUM(line_item_unblended_cost) * 0.3 AS estimated_lambda_cost
    FROM {table}
    WHERE product_servicecode = 'AmazonEC2'
      AND product_instance_type LIKE '%micro%'
      AND line_item_unblended_cost > 0
      AND DATE_TRUNC('month', line_item_usage_start_date) = DATE_TRUNC('month', {now})
)
SELECT migration_type, resource_count, current_monthly_cost, estimated_lambda_cost,
       (current_monthly_cost - estimated_lambda_cost) AS potential_monthly_savings
FROM ec2_lambda_candidates
WHERE resource_count > 0
"""

_VPC_SQL = """
WITH data_transfer_costs AS (
    SELECT product_region,
           product_location AS availability_zone,
           SUM(CASE WHEN line_item_usage_type LIKE '%DataTransfer%'
                    THEN line_item_unblended_cost ELSE 0 END) AS transfer_cost,
           COUNT(DISTINCT line_item_resource_id) AS resource_count
    FROM {table}
    WHERE line_item_unblended_cost > 0
      AND (line_item_usage_type LIKE '%DataTransfer%' OR line_item_usage_type LIKE '%Data%')
      AND DATE_TRUNC('month', line_item_usage_start_date) = DATE_TRUNC('month', {now})
    GROUP BY 1, 2
)
SELECT product_region, availability_zone, transfer_cost, resource_count,
       transfer_cost * 0.7 AS potential_savings
FROM data_transfer_costs
WHERE transfer_cost > {min_cost}
ORDER BY transfer_cost DESC, product_region, availability_zone
"""


class OptimizationEngine(AnalyticsModule):
    def get_idle_resources(self, utilization_threshold: float = 5.0) -> dict[str, Any]:
        """GET /api/v1/finops/optimization/idle-resources
        (optimization.py:22-103)."""
        rows = self._rows(
            self._sql(
                _IDLE_SQL,
                threshold=float(utilization_threshold),
                threshold2=float(utilization_threshold) * 2,
            )
        )
        idle, total = [], 0.0
        for r in rows:
            savings = float(r["potential_savings"])
            total += savings
            idle.append(
                {
                    "resource_id": r["resource_id"],
                    "service": r["service"],
                    "instance_type": r["instance_type"],
                    "monthly_cost": float(r["monthly_cost"]),
                    "utilization": float(r["avg_utilization"]),
                    "status": r["status"],
                    "potential_savings": savings,
                    "risk_level": self._assess_termination_risk(r["service"], r["status"]),
                }
            )
        return {
            "idle_resources": idle,
            "total_potential_savings": round(total, 2),
            "risk_levels": self._calculate_risk_distribution(idle),
        }

    def get_rightsizing_recommendations(self) -> dict[str, Any]:
        """GET /api/v1/finops/optimization/rightsizing
        (optimization.py:105-199)."""
        rows = self._rows(self._sql(_RIGHTSIZING_SQL))
        recs, total = [], 0.0
        for r in rows:
            cur, new = float(r["monthly_cost"]), float(r["estimated_new_cost"])
            savings = cur - new
            if r["recommended_instance_type"] == r["current_instance_type"]:
                continue
            total += savings
            recs.append(
                {
                    "resource_id": r["resource_id"],
                    "current_instance_type": r["current_instance_type"],
                    "recommended_instance_type": r["recommended_instance_type"],
                    "current_monthly_cost": cur,
                    "estimated_monthly_cost": new,
                    "monthly_savings": round(savings, 2),
                    "avg_usage": float(r["avg_usage"]),
                    "confidence_score": self._calculate_confidence_score(
                        float(r["avg_usage"])
                    ),
                }
            )
        return {
            "recommendations": recs,
            "total_savings_potential": round(total, 2),
            "implementation_effort": self._calculate_implementation_effort(recs),
        }

    def get_cross_service_migration_opportunities(self) -> dict[str, Any]:
        """GET /api/v1/finops/optimization/cross-service-migration
        (optimization.py:201-264)."""
        rows = self._rows(self._sql(_MIGRATION_SQL))
        opportunities = []
        for r in rows:
            savings = float(r["potential_monthly_savings"])
            if savings > 0:
                opportunities.append(
                    {
                        "migration_type": r["migration_type"],
                        "affected_resources": int(r["resource_count"]),
                        "current_monthly_cost": float(r["current_monthly_cost"]),
                        "estimated_new_cost": float(r["estimated_lambda_cost"]),
                        "monthly_savings": round(savings, 2),
                        "annual_savings": round(savings * 12, 2),
                        "implementation_complexity": "medium",
                        "business_impact": "low_risk",
                    }
                )
        return {
            "migration_opportunities": opportunities,
            "business_case": self._create_migration_business_case(opportunities),
            "roadmap": self._create_migration_roadmap(opportunities),
        }

    def get_vpc_optimization_recommendations(self, min_cost: float = 100.0) -> dict[str, Any]:
        """GET /api/v1/finops/optimization/vpc-charges
        (optimization.py:266-366)."""
        if "product_location" not in self.engine.spark.table(self.table).columns:
            raise RequestError(
                f"VPC charges need the column product_location, which table "
                f"{self.table} does not have"
            )
        rows = self._rows(self._sql(_VPC_SQL, min_cost=float(min_cost)))
        analysis, total = [], 0.0
        for r in rows:
            savings = float(r["potential_savings"])
            total += savings
            analysis.append(
                {
                    "region": r["product_region"],
                    "availability_zone": r["availability_zone"],
                    "monthly_transfer_cost": float(r["transfer_cost"]),
                    "resource_count": int(r["resource_count"]),
                    "optimization_potential": savings,
                }
            )
        return {
            "transfer_analysis": analysis,
            "optimization_recommendations": [
                {
                    "recommendation": "Consolidate resources within same AZ",
                    "potential_savings": round(total * 0.4, 2),
                    "complexity": "medium",
                },
                {
                    "recommendation": "Implement VPC peering optimization",
                    "potential_savings": round(total * 0.3, 2),
                    "complexity": "high",
                },
            ],
            "total_optimization_potential": round(total, 2),
        }

    # ---- driver-side helpers (optimization.py:368-430) ---------------- #
    @staticmethod
    def _assess_termination_risk(service: str, status: str) -> str:
        if status == "idle":
            return "low" if service == "AmazonEC2" else "medium"
        return "medium" if service == "AmazonEC2" else "high"

    @staticmethod
    def _calculate_confidence_score(utilization: float) -> int:
        if utilization < 10:
            return 95
        if utilization < 25:
            return 85
        if utilization < 40:
            return 75
        return 60

    @staticmethod
    def _calculate_risk_distribution(resources: list[dict]) -> dict[str, int]:
        dist = {"low": 0, "medium": 0, "high": 0}
        for r in resources:
            dist[r["risk_level"]] = dist.get(r["risk_level"], 0) + 1
        return dist

    @staticmethod
    def _calculate_implementation_effort(recommendations: list[dict]) -> str:
        n = len(recommendations)
        if n == 0:
            return "none"
        if n <= 5:
            return "low"
        if n <= 15:
            return "medium"
        return "high"

    @staticmethod
    def _create_migration_business_case(opportunities: list[dict]) -> list[dict]:
        return [
            {
                "migration_type": o["migration_type"],
                "annual_savings": o["annual_savings"],
                "payback_months": 3,
                "effort_estimate": o["implementation_complexity"],
            }
            for o in opportunities
        ]

    @staticmethod
    def _create_migration_roadmap(opportunities: list[dict]) -> list[dict]:
        return [
            {
                "phase": i + 1,
                "migration_type": o["migration_type"],
                "duration_weeks": 4 + 2 * i,
                "resources": o["affected_resources"],
            }
            for i, o in enumerate(opportunities)
        ]
