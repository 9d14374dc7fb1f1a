"""FastAPI application factory (reference de_polars/api/fastapi_app.py:
36-226). Optional: fastapi/uvicorn are extras, exactly as in the
reference's deployment docs; the handler core (handlers.py) carries the
whole serving contract and is what the tests exercise.
"""

from __future__ import annotations

from typing import Optional

from fastapi import Body, FastAPI, HTTPException, Query
from fastapi.middleware.cors import CORSMiddleware

from de_polars_spark.api.handlers import ApiError, FinOpsHandlers
from de_polars_spark.client import FinOpsEngine
from de_polars_spark.config import DataConfig, DataExportType


def _wrap(handler):
    def call(**kwargs):
        try:
            return handler(**kwargs)
        except ApiError as exc:
            raise HTTPException(status_code=exc.status_code, detail=exc.detail)

    return call


def build_app(engine: FinOpsEngine) -> FastAPI:
    """Wire the framework-free handlers onto FastAPI routes
    (fastapi_app.py:36-117: same paths, prefix, CORS, health/root)."""
    handlers = FinOpsHandlers(engine)
    app = FastAPI(
        title="FinOps Cost Analytics API (Spark)",
        description="AWS cost analytics and optimization platform on Spark.",
        version="1.0.0",
        docs_url="/docs",
        redoc_url="/redoc",
    )
    app.add_middleware(
        CORSMiddleware,
        allow_origins=["*"],
        allow_credentials=True,
        allow_methods=["*"],
        allow_headers=["*"],
    )

    p = "/api/v1/finops"

    @app.get("/health", tags=["Health"])
    async def health():
        return handlers.health()

    @app.get("/", tags=["Root"])
    async def root():
        return handlers.root()

    @app.post(f"{p}/sql/query", tags=["SQL Queries"])
    async def sql_query(payload: dict = Body(...)):
        return _wrap(handlers.sql_query)(
            sql=payload.get("sql", ""),
            limit=payload.get("limit", 1000),
            force_s3=payload.get("force_s3", False),
            format=payload.get("format", "json"),
        )

    @app.get(f"{p}/sql/schema", tags=["SQL Queries"])
    async def sql_schema():
        return _wrap(handlers.sql_schema)()

    @app.get(f"{p}/sql/tables", tags=["SQL Queries"])
    async def sql_tables():
        return _wrap(handlers.sql_tables)()

    @app.get(f"{p}/kpi/summary", tags=["KPI Summary"])
    async def kpi_summary(
        billing_period: Optional[str] = Query(None),
        payer_account_id: Optional[str] = Query(None),
        linked_account_id: Optional[str] = Query(None),
    ):
        return _wrap(handlers.kpi_summary)(
            billing_period=billing_period,
            payer_account_id=payer_account_id,
            linked_account_id=linked_account_id,
        )

    @app.get(f"{p}/kpi/health-check", tags=["KPI Summary"])
    async def kpi_health_check():
        return _wrap(handlers.kpi_health_check)()

    @app.get(f"{p}/kpi/executive-summary", tags=["KPI Summary"])
    async def kpi_executive_summary():
        return _wrap(handlers.kpi_executive_summary)()

    @app.get(f"{p}/kpi/dashboard-data", tags=["KPI Summary"])
    async def kpi_dashboard_data():
        return _wrap(handlers.kpi_dashboard_data)()

    @app.get(f"{p}/spend/invoice/summary", tags=["Spend Analytics"])
    async def spend_invoice_summary(months_back: int = Query(12)):
        return _wrap(handlers.spend_invoice_summary)(months_back=months_back)

    @app.get(f"{p}/spend/regions/top", tags=["Spend Analytics"])
    async def spend_top_regions(limit: int = Query(10)):
        return _wrap(handlers.spend_top_regions)(limit=limit)

    @app.get(f"{p}/spend/services/top", tags=["Spend Analytics"])
    async def spend_top_services(limit: int = Query(10)):
        return _wrap(handlers.spend_top_services)(limit=limit)

    @app.get(f"{p}/spend/breakdown", tags=["Spend Analytics"])
    async def spend_breakdown(dimensions: Optional[str] = Query(None)):
        return _wrap(handlers.spend_breakdown)(dimensions=dimensions)

    @app.get(f"{p}/optimization/idle-resources", tags=["Optimization"])
    async def optimization_idle(utilization_threshold: float = Query(5.0)):
        return _wrap(handlers.optimization_idle_resources)(
            utilization_threshold=utilization_threshold
        )

    @app.get(f"{p}/optimization/rightsizing", tags=["Optimization"])
    async def optimization_rightsizing():
        return _wrap(handlers.optimization_rightsizing)()

    @app.get(f"{p}/optimization/cross-service-migration", tags=["Optimization"])
    async def optimization_migration():
        return _wrap(handlers.optimization_cross_service_migration)()

    @app.get(f"{p}/optimization/vpc-charges", tags=["Optimization"])
    async def optimization_vpc(min_cost: float = Query(100.0)):
        return _wrap(handlers.optimization_vpc_charges)(min_cost=min_cost)

    @app.get(f"{p}/allocation/account-hierarchy", tags=["Allocation"])
    async def allocation_hierarchy():
        return _wrap(handlers.allocation_account_hierarchy)()

    @app.get(f"{p}/allocation/tagging-compliance", tags=["Allocation"])
    async def allocation_tagging():
        return _wrap(handlers.allocation_tagging_compliance)()

    @app.get(f"{p}/allocation/cost-center-breakdown", tags=["Allocation"])
    async def allocation_cost_center(period: Optional[str] = Query(None)):
        return _wrap(handlers.allocation_cost_center_breakdown)(period=period)

    @app.get(f"{p}/allocation/third-party-integration", tags=["Allocation"])
    async def allocation_third_party():
        return _wrap(handlers.allocation_third_party_integration)()

    @app.get(f"{p}/discounts/current-agreements", tags=["Discounts"])
    async def discounts_agreements():
        return _wrap(handlers.discounts_current_agreements)()

    @app.get(f"{p}/discounts/negotiation-opportunities", tags=["Discounts"])
    async def discounts_negotiation(min_spend: float = Query(10000.0)):
        return _wrap(handlers.discounts_negotiation_opportunities)(min_spend=min_spend)

    @app.get(f"{p}/discounts/usage-forecasting", tags=["Discounts"])
    async def discounts_forecast(forecast_months: int = Query(12)):
        return _wrap(handlers.discounts_usage_forecasting)(
            forecast_months=forecast_months
        )

    @app.post(f"{p}/discounts/commitment-planning", tags=["Discounts"])
    async def discounts_commitment(payload: dict = Body(...)):
        return _wrap(handlers.discounts_commitment_planning)(
            commitment_amount=payload.get("commitment_amount", 0.0),
            term_years=payload.get("term_years", 3),
        )

    @app.get(f"{p}/ai/anomaly-detection", tags=["AI Recommendations"])
    async def ai_anomalies(
        sensitivity: float = Query(2.0), lookback_days: int = Query(30)
    ):
        return _wrap(handlers.ai_anomaly_detection)(
            sensitivity=sensitivity, lookback_days=lookback_days
        )

    @app.get(f"{p}/ai/optimization-insights", tags=["AI Recommendations"])
    async def ai_insights(min_spend: float = Query(1000.0)):
        return _wrap(handlers.ai_optimization_insights)(min_spend=min_spend)

    @app.post(f"{p}/ai/custom-analysis", tags=["AI Recommendations"])
    async def ai_custom(payload: dict = Body(...)):
        return _wrap(handlers.ai_custom_analysis)(
            query=payload.get("query", ""), focus=payload.get("focus", "cost")
        )

    @app.get(f"{p}/ai/forecasting", tags=["AI Recommendations"])
    async def ai_forecast(forecast_months: int = Query(6)):
        return _wrap(handlers.ai_forecasting)(forecast_months=forecast_months)

    @app.get(f"{p}/mcp/resources", tags=["MCP Integration"])
    async def mcp_resources():
        return _wrap(handlers.mcp_resources)()

    @app.get(f"{p}/mcp/tools", tags=["MCP Integration"])
    async def mcp_tools():
        return _wrap(handlers.mcp_tools)()

    @app.post(f"{p}/mcp/query", tags=["MCP Integration"])
    async def mcp_query(payload: dict = Body(...)):
        return _wrap(handlers.mcp_query)(
            query=payload.get("query", ""),
            query_type=payload.get("query_type", "natural_language"),
        )

    @app.get(f"{p}/mcp/stream-config", tags=["MCP Integration"])
    async def mcp_stream_config():
        return _wrap(handlers.mcp_stream_config)()

    return app


def create_finops_app(
    local_data_path: Optional[str] = None,
    s3_bucket: Optional[str] = None,
    s3_data_prefix: str = "",
    data_export_type: str = "GENERIC",
    **config_kwargs,
) -> FastAPI:
    """Factory (fastapi_app.py:127-173)."""
    config = DataConfig(
        local_data_path=local_data_path,
        s3_bucket=s3_bucket,
        s3_data_prefix=s3_data_prefix,
        export_type=DataExportType(data_export_type),
        **config_kwargs,
    )
    return build_app(FinOpsEngine(config))


def create_finops_app_from_env() -> FastAPI:
    """Env-driven factory (fastapi_app.py:176-226): ``DataConfig.from_env``."""
    config = DataConfig.from_env()
    if config is None:
        raise ValueError("set FINOPS_LOCAL_PATH and/or FINOPS_S3_BUCKET")
    return build_app(FinOpsEngine(config))
