"""FinOpsEngine — the unified client facade (reference
de_polars/finops_engine.py:18-374).

One object tying the SparkEngine core to the seven analytics modules with
lazy construction, plus the cross-module roll-ups (dashboard, cost health
check, executive summary). ``now`` is injectable and propagated to every
module so CURRENT_DATE-relative analytics are deterministic under test.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from de_polars_spark.analytics.ai import AIRecommendations
from de_polars_spark.analytics.allocation import CostAllocation
from de_polars_spark.analytics.discounts import DiscountTracking
from de_polars_spark.analytics.kpi import KPISummary
from de_polars_spark.analytics.mcp import MCPIntegration
from de_polars_spark.analytics.optimization import OptimizationEngine
from de_polars_spark.analytics.spend import SpendAnalytics
from de_polars_spark.config import DataConfig, DataExportType
from de_polars_spark.engine.core import SparkEngine
from de_polars_spark.engine.session import get_spark


class FinOpsEngine:
    """Primary user entry point (finops_engine.py:18-44 usage contract):

        config = DataConfig(local_data_path="./data", ...)
        engine = FinOpsEngine(config)
        engine.kpi.get_comprehensive_summary()
        engine.query("SELECT * FROM CUR LIMIT 10")
    """

    def __init__(
        self,
        config: DataConfig,
        spark: Optional[SparkSession] = None,
        now: Optional[str] = None,
    ):
        self.spark = spark or get_spark("finops-engine")
        self.engine = SparkEngine(self.spark, config)
        self.config = config
        self.now = now
        self._modules: dict[str, Any] = {}

    def data_version(self) -> Optional[tuple[str, str]]:
        """What the answers over ``config.table_name`` depend on: ``(file
        manifest of its root, effective date)``, or ``None`` when the root is
        not a local path. ``SparkEngine.refresh()`` first reads again every
        engine view whose files changed, the CUR among them. The date is
        ``now``, or today in the session time zone, the clock Spark's
        ``CURRENT_DATE`` reads."""
        self.engine.refresh()
        tag = self.engine.version(self.config.table_name)
        return None if tag is None else (tag, self.now or self._session_today())

    def _session_today(self) -> str:
        jvm = self.spark._jvm
        zone = jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
            self.spark.conf.get("spark.sql.session.timeZone")
        )
        return jvm.java.time.LocalDate.now(zone).toString()

    # ------------------------------------------------------------------ #
    # lazy analytics modules (finops_engine.py:66-113)                    #
    # ------------------------------------------------------------------ #
    def _module(self, name: str, cls):
        """Module ``name``, built once per engine. A CUR read again needs no
        rebuild: the modules read the table by name at each call, and the
        KPI chain is SQL-text temp views, which Spark resolves again at
        each use."""
        module = self._modules.get(name)
        if module is None:
            module = self._modules[name] = cls(self.engine, now=self.now)
        return module

    @property
    def kpi(self) -> KPISummary:
        return self._module("kpi", KPISummary)

    @property
    def spend(self) -> SpendAnalytics:
        return self._module("spend", SpendAnalytics)

    @property
    def optimization(self) -> OptimizationEngine:
        return self._module("optimization", OptimizationEngine)

    @property
    def allocation(self) -> CostAllocation:
        return self._module("allocation", CostAllocation)

    @property
    def discounts(self) -> DiscountTracking:
        return self._module("discounts", DiscountTracking)

    @property
    def ai(self) -> AIRecommendations:
        return self._module("ai", AIRecommendations)

    @property
    def mcp(self) -> MCPIntegration:
        return self._module("mcp", MCPIntegration)

    # ------------------------------------------------------------------ #
    # direct engine access (finops_engine.py:116-200)                     #
    # ------------------------------------------------------------------ #
    def query(self, sql_or_file: str, force_s3: bool = False) -> DataFrame:
        """SQL text or .sql file; force_s3 re-registers the table from the
        S3 root first (reference duckdb_engine.py:246-266 routing).

        Money-sum determinism note: the built-in analytics views and the
        ``DSUM``/``DAVG`` macros accumulate float cost columns through
        DECIMAL(38,6) — an order-independent sum that is reproducible
        across runs, partitionings, and engines, at the cost of
        quantizing each addend at 1e-6. A FinOps feed whose individual
        line items are meaningful below $0.000001 would see those
        sub-microdollar tails dropped per addend (the reference's plain
        double SUM instead gives partition-order-dependent float error).
        See inventory/dialect_macros.py:26-33 for the full rationale.
        """
        if force_s3:
            self.engine.register(self.config, force_s3=True)
        return self.engine.query(sql_or_file)

    def query_plan(self, plan, force_s3: bool = False) -> DataFrame:
        """A plan parsed by ``SparkEngine.validate_select_only`` as a
        DataFrame, with :meth:`query`'s ``force_s3`` routing."""
        if force_s3:
            self.engine.register(self.config, force_s3=True)
        return self.engine.query_plan(plan)

    def has_local_data(self) -> bool:
        import os

        return bool(
            self.config.local_data_path
            and os.path.isdir(self.config.local_data_path)
        )

    def list_available_partitions(self) -> list[str]:
        """Partition census (finops_engine.py:182-184)."""
        return self.engine.list_partitions()

    def download_data_locally(
        self, overwrite: bool = False, show_progress: bool = True
    ) -> dict:
        """S3 -> local cache mirror (finops_engine.py:174-176)."""
        from de_polars_spark.sources.downloader import DataDownloader

        return DataDownloader(self.config).download_data_locally(
            overwrite=overwrite, show_progress=show_progress
        )

    def check_local_data_status(self) -> dict:
        """Local cache census (finops_engine.py:178-180)."""
        from de_polars_spark.sources.downloader import check_local_data_status

        return check_local_data_status(self.config.local_data_path)

    def schema(self) -> dict[str, str]:
        return self.engine.get_schema()

    def catalog(self) -> dict:
        return self.engine.catalog()

    def sample(self, n: int = 10) -> DataFrame:
        return self.engine.sample(n)

    def info(self) -> dict:
        """Data-source summary (reference printed; returning the dict is
        more useful and the API layer serializes it)."""
        return {
            "table_name": self.config.table_name,
            "export_type": self.config.export_type.value,
            "data_source": "local" if self.has_local_data() else "s3",
            "local_data_path": self.config.local_data_path,
            "s3_root": self.config.s3_root,
            "columns": len(self.schema()),
        }

    # ------------------------------------------------------------------ #
    # cross-module roll-ups (finops_engine.py:203-332)                    #
    # ------------------------------------------------------------------ #
    def get_dashboard_data(self) -> dict[str, Any]:
        """Composite dashboard payload (finops_engine.py:203-233)."""
        try:
            data = {
                "kpi_summary": self.kpi.get_comprehensive_summary(),
                "spend_summary": self.spend.get_invoice_summary(),
                "top_services": self.spend.get_top_services(limit=5),
                "top_regions": self.spend.get_top_regions(limit=5),
                "optimization_opportunities": self.optimization.get_idle_resources(),
                "tagging_compliance": self.allocation.get_tagging_compliance(),
                "discount_agreements": self.discounts.get_current_agreements(),
                "ai_insights": self.ai.get_optimization_insights(),
            }
            data["metadata"] = {
                "data_source": "local" if self.has_local_data() else "s3",
                "data_freshness": "current_month",
            }
            return data
        except Exception as exc:
            return {"error": str(exc)}

    def run_cost_health_check(self) -> dict[str, Any]:
        """Health scores per category + findings (finops_engine.py:235-291):
        cost_efficiency = min(100, savings_ratio * 2); resource_optimization
        deducts 5 points per idle resource; tagging_compliance passes
        through; overall = mean."""
        out: dict[str, Any] = {
            "overall_score": 0,
            "category_scores": {},
            "findings": [],
            "recommendations": [],
        }
        try:
            kpi = self.kpi.get_comprehensive_summary()
            total_spend = kpi.get("overall_spend", {}).get("spend_all_cost", 0)
            savings = kpi.get("savings_summary", {}).get("total_potential_savings", 0)
            savings_ratio = (savings / total_spend * 100) if total_spend > 0 else 0
            out["category_scores"]["cost_efficiency"] = round(
                min(100, savings_ratio * 2), 1
            )

            idle = self.optimization.get_idle_resources()
            idle_count = len(idle.get("idle_resources", []))
            out["category_scores"]["resource_optimization"] = round(
                max(0, 100 - idle_count * 5), 1
            )

            compliance = self.allocation.get_tagging_compliance()
            compliance_score = compliance.get("compliance_score", 0)
            out["category_scores"]["tagging_compliance"] = compliance_score

            scores = list(out["category_scores"].values())
            out["overall_score"] = round(sum(scores) / len(scores), 1) if scores else 0

            if compliance_score < 70:
                out["findings"].append("Low tagging compliance detected")
                out["recommendations"].append("Implement automated tagging policies")
            if idle_count > 5:
                out["findings"].append(f"{idle_count} idle resources found")
                out["recommendations"].append("Review and terminate unused resources")
            if savings_ratio > 20:
                out["findings"].append("High optimization potential identified")
                out["recommendations"].append(
                    "Prioritize cost optimization initiatives"
                )
            return out
        except Exception as exc:
            out["error"] = str(exc)
            return out

    def generate_executive_summary(self) -> dict[str, Any]:
        """Leadership roll-up (finops_engine.py:293-332)."""
        try:
            kpi = self.kpi.get_comprehensive_summary()
            spend = self.spend.get_invoice_summary()
            health = self.run_cost_health_check()
            current_spend = kpi.get("overall_spend", {}).get("spend_all_cost", 0)
            mom_change = spend.get("mom_change", 0)
            savings = kpi.get("savings_summary", {}).get("total_potential_savings", 0)
            score = health.get("overall_score", 0)
            return {
                "summary_date": kpi.get("summary_metadata", {}).get("query_date"),
                "key_metrics": {
                    "current_monthly_spend": current_spend,
                    "month_over_month_change": mom_change,
                    "optimization_potential": savings,
                    "cost_health_score": score,
                },
                "executive_insights": [
                    f"Current monthly spend: ${current_spend:,.2f}",
                    f"Month-over-month change: {mom_change:+.1f}%",
                    f"Optimization opportunity: ${savings:,.2f} potential monthly savings",
                    f"Cost health score: {score:.1f}/100",
                ],
                "priority_actions": health.get("recommendations", [])[:3],
                "detailed_findings": health.get("findings", []),
            }
        except Exception as exc:
            return {
                "error": str(exc),
                "message": "Unable to generate executive summary",
            }

    # ------------------------------------------------------------------ #
    # convenience constructors (finops_engine.py:334-374)                 #
    # ------------------------------------------------------------------ #
    @classmethod
    def from_s3_config(
        cls, s3_bucket: str, s3_data_prefix: str, data_export_type: str, **kwargs
    ) -> "FinOpsEngine":
        now = kwargs.pop("now", None)
        spark = kwargs.pop("spark", None)
        config = DataConfig(
            s3_bucket=s3_bucket,
            s3_data_prefix=s3_data_prefix,
            export_type=DataExportType(data_export_type),
            **kwargs,
        )
        return cls(config, spark=spark, now=now)

    @classmethod
    def from_local_config(
        cls,
        local_data_path: str,
        data_export_type: str = "GENERIC",
        s3_bucket: Optional[str] = None,
        s3_data_prefix: str = "",
        **kwargs,
    ) -> "FinOpsEngine":
        now = kwargs.pop("now", None)
        spark = kwargs.pop("spark", None)
        config = DataConfig(
            local_data_path=local_data_path,
            s3_bucket=s3_bucket,
            s3_data_prefix=s3_data_prefix,
            export_type=DataExportType(data_export_type),
            prefer_local_data=True,
            **kwargs,
        )
        return cls(config, spark=spark, now=now)
