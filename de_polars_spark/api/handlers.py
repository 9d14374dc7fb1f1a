"""Framework-free endpoint handlers (reference de_polars/api/endpoints/*,
8 routers + health/root: fastapi_app.py:36-117).

Each handler returns a JSON-serializable dict; errors raise ``ApiError``
with an HTTP status. A route's parameters, their types and defaults are
declared once, in its method's signature: every route is wrapped to bind
its call against it, coerce string values to the hinted ``int``, ``float``
or ``bool`` and answer a bind or coercion failure with 422.
``FinOpsHandlers.handle`` is the HTTP edge both servers (``start_api.py``
and ``fastapi_app.py``) adapt: it looks the request up in ``ROUTES``, reads
the JSON body and maps exceptions to statuses. Tests drive the handlers
directly, so the full serving contract is exercised without the optional
web dependency.

Every GET route but ``health`` and ``root``, and ad-hoc SQL, answer from
one response memo when they can: dashboard users repeat the same requests.
A GET is keyed by the handler, its bound arguments and
``FinOpsEngine.data_version()`` (the CUR files' manifest and the effective
date), so new data or a new day is a new key; nothing expires on a timer.
A SQL statement is keyed by its ``sources/artifacts.plan_version`` (Spark's
optimized plan, the manifest of every file root it reads, the session's SQL
conf) and its output schema (``FinOpsHandlers._sql_key``). The other POST
routes are never memoized. The memo is one ``sources/artifacts.Memo`` of
``MEMO_SIZE`` entries per ``FinOpsHandlers``; it stores and returns deep
copies, so no caller can change an entry.
"""

from __future__ import annotations

import copy
import functools
import inspect
import io
import json
import logging
import time
import typing
from typing import Any, Callable, Optional

from de_polars_spark.analytics.base import RequestError
from de_polars_spark.client import FinOpsEngine
from de_polars_spark.sources.artifacts import Memo, plan_version

DEFAULT_LIMIT = 1000
MAX_LIMIT = 10_000
MAX_SQL_LENGTH = 10_000
#: responses the memo keeps (least recently used out first); a dashboard
#: session repeats a handful of distinct GETs and SQL statements
MEMO_SIZE = 64

log = logging.getLogger(__name__)


class ApiError(Exception):
    """Carries an HTTP status + structured detail (FastAPI HTTPException
    equivalent for the framework-free core)."""

    def __init__(self, status_code: int, detail: Any):
        super().__init__(str(detail))
        self.status_code = status_code
        self.detail = detail


def _classify_error(message: str) -> str:
    """Error taxonomy by message sniffing (sql_endpoints.py:214-233),
    extended with Spark's analyzer vocabulary."""
    lowered = message.lower()
    if (
        "not found" in lowered
        or "does not exist" in lowered
        or "table_or_view_not_found" in lowered
    ):
        return "TABLE_NOT_FOUND"
    if (
        "syntax error" in lowered
        or "parser error" in lowered
        or "parse_syntax_error" in lowered
    ):
        return "SQL_SYNTAX_ERROR"
    if "bind" in lowered or "unresolved_column" in lowered or "cannot be resolved" in lowered:
        return "COLUMN_NOT_FOUND"
    return "EXECUTION_ERROR"


def _result_part(pdf, format: str) -> dict:
    """The part of a SQL answer the memo keeps: rows, dtypes, row count."""
    if format.lower() == "csv":
        buf = io.StringIO()
        pdf.to_csv(buf, index=False)
        data: Any = buf.getvalue()
    else:
        data = json.loads(pdf.to_json(orient="records", date_format="iso"))
    schema = {c: str(t) for c, t in zip(pdf.columns, pdf.dtypes)}
    return {"data": data, "schema": schema, "row_count": len(pdf)}


def _coerce(param: str, value: Any, types: tuple) -> Any:
    """``value`` as the ``bool``, ``int`` or ``float`` in ``types`` (a
    parameter's hint, unpacked): a string (query string or JSON) is parsed,
    any other value must already be one, or ``None`` where ``types`` allows
    it; 422 otherwise. Parameters hinted otherwise take ``value`` as given."""
    to = next((t for t in (bool, int, float) if t in types), None)
    if to is None or (value is None and type(None) in types):
        return value
    if isinstance(value, str):
        if to is bool and value.lower() in ("true", "false", "1", "0"):
            return value.lower() in ("true", "1")
        if to is not bool:
            try:
                return to(value)
            except ValueError:
                pass
    elif isinstance(value, to) or (to is float and isinstance(value, int)):
        return value
    raise ApiError(422, f"{param}={value!r} is not a valid {to.__name__}")


def _json_object(body: bytes) -> dict:
    """The members of a JSON object request body (none for an empty body);
    400 for anything else."""
    if not body:
        return {}
    try:
        payload = json.loads(body)
    except ValueError as exc:
        raise ApiError(400, f"body is not valid JSON: {exc}") from None
    if not isinstance(payload, dict):
        raise ApiError(400, "body must be a JSON object")
    return payload


class FinOpsHandlers:
    """All routes over one FinOpsEngine (the app factory's engine)."""

    def __init__(self, engine: FinOpsEngine):
        self.engine = engine
        self._responses = Memo(MEMO_SIZE)
        for (method, _), name in ROUTES.items():
            memoize = method == "GET" and name not in ("health", "root")
            setattr(self, name, self._route(name, getattr(self, name), memoize))

    def memo_info(self) -> dict:
        return self._responses.info()

    def handle(self, method: str, path: str, params: dict, body: bytes = b"") -> tuple[int, Any]:
        """One HTTP request's ``(status, JSON-able body)``, for every server.

        ``params`` are the query string's values; the members of a JSON
        object ``body`` are added over them. 404 for a route not in
        ``ROUTES``, 400 for a body that is not a JSON object, an
        ``ApiError``'s own status, and 500 for any other exception. The
        route is looked up on the instance, so a wrapper set on it sees
        the call."""
        name = ROUTES.get((method, path))
        if name is None:
            return 404, {"detail": "Not Found"}
        try:
            return 200, getattr(self, name)(**{**params, **_json_object(body)})
        except ApiError as exc:
            return exc.status_code, {"detail": exc.detail}
        except Exception as exc:  # noqa: BLE001 — the server answers every request
            log.exception("%s %s failed", method, path)
            return 500, {"detail": str(exc)}

    def _route(self, name: str, fn: Callable, memoize: bool) -> Callable:
        """``fn`` with its arguments bound against its signature, string
        values coerced to the hinted ``int``, ``float`` or ``bool``, and a
        bind, coercion or request error answered as 422. For GET routes its
        responses are memoized under ``(name, bound arguments, data
        version)``. Exceptions, and responses that report a swallowed
        failure (a top-level ``error``), are never stored. Two concurrent
        misses may both compute; both answers are right."""
        sig = inspect.signature(fn)
        hints = typing.get_type_hints(fn)
        types = {p: typing.get_args(hints.get(p)) or (hints.get(p),) for p in sig.parameters}

        def bind(args, kwargs) -> inspect.BoundArguments:
            try:
                bound = sig.bind(*args, **kwargs)
            except TypeError as exc:
                raise ApiError(422, f"{name}: {exc}") from None
            for param, value in bound.arguments.items():
                bound.arguments[param] = _coerce(param, value, types[param])
            bound.apply_defaults()
            return bound

        def call(bound: inspect.BoundArguments):
            try:
                return fn(*bound.args, **bound.kwargs)
            except RequestError as exc:
                raise ApiError(422, str(exc)) from exc

        @functools.wraps(fn)
        def route(*args, **kwargs):
            bound = bind(args, kwargs)
            if not memoize:
                return call(bound)
            version = self.engine.data_version()
            if version is None:
                return call(bound)
            key = (name, tuple(bound.arguments.items()), version)
            hit = self._responses.get(key)
            if hit is not None:
                return copy.deepcopy(hit)
            result = call(bound)
            if not (isinstance(result, dict) and "error" in result):
                self._responses.put(key, copy.deepcopy(result))
            return result

        return route

    # ------------------------------------------------------------------ #
    # health / root (fastapi_app.py:95-115)                               #
    # ------------------------------------------------------------------ #
    def health(self) -> dict:
        return {
            "status": "healthy",
            "version": "1.0.0",
            "engine_status": "operational",
            "data_source": "local" if self.engine.has_local_data() else "s3",
        }

    def root(self) -> dict:
        return {
            "message": "FinOps Cost Analytics API",
            "version": "1.0.0",
            "docs": "/docs",
            "health": "/health",
            "api_base": "/api/v1/finops",
        }

    # ------------------------------------------------------------------ #
    # SQL router (sql_endpoints.py:89-325)                                #
    # ------------------------------------------------------------------ #
    def _table_suggestions(self) -> list[str]:
        return [
            self.engine.config.table_name,
            "summary_view",
            "kpi_instance_all",
            "kpi_ebs_storage_all",
            "kpi_ebs_snap",
            "kpi_s3_storage_all",
            "kpi_instance_mapping",
        ]

    def sql_query(
        self,
        sql: str,
        limit: Optional[int] = DEFAULT_LIMIT,
        force_s3: bool = False,
        format: str = "json",
    ) -> dict:
        """POST /sql/query — guarded ad-hoc SQL (sql_endpoints.py:89-233).

        Validation is the engine's parser-based allow-list
        (SparkEngine.validate_select_only) instead of the reference's
        keyword regex; the row cap is always a real ``.limit()`` on the
        result (default 1000, at most 10000), whatever LIMIT the text has.

        The text is translated and parsed once; the guard checks that plan,
        and the same plan is analyzed and optimized (so a text ending in
        ``.sql`` is a statement, never a file path). Its rows come from the
        response memo when ``_sql_key`` gives a key that is stored, and
        then no Spark job runs. ``data_version()`` runs before the analysis,
        so every engine-registered view whose files changed (the CUR among
        them) is read again before the statement is planned. ``force_s3``, a CUR root that is not local, a
        ``data_version()`` that fails and a statement ``_sql_key`` refuses
        are answered fresh; errors are never stored.
        The metadata and timing are each request's own."""
        started = time.time()
        if not sql or not sql.strip():
            raise ApiError(400, "sql must be a non-empty string")
        if len(sql) > MAX_SQL_LENGTH:
            raise ApiError(400, f"sql exceeds {MAX_SQL_LENGTH} characters")
        if limit is not None:
            limit = int(limit)
            if limit < 1 or limit > MAX_LIMIT:
                raise ApiError(
                    400, f"limit must be between 1 and {MAX_LIMIT}"
                )
        try:
            plan = self.engine.engine.validate_select_only(sql)
        except PermissionError as exc:
            raise ApiError(400, str(exc))
        except Exception as exc:  # parse failure
            raise ApiError(
                400,
                {
                    "success": False,
                    "error": str(exc)[:500],
                    "error_type": "SQL_SYNTAX_ERROR",
                    "query_metadata": self._error_metadata(sql, started),
                },
            )

        cap = min(limit or MAX_LIMIT, MAX_LIMIT)
        try:
            version = None if force_s3 else self.engine.data_version()
        except Exception:
            version = None
        try:
            df = self.engine.query_plan(plan, force_s3=force_s3)
            key = self._sql_key(df, cap, format) if version else None
            part = self._responses.get(key) if key else None
            if part is None:
                part = _result_part(df.limit(cap).toPandas(), format)
                if key:
                    self._responses.put(key, copy.deepcopy(part))
            else:
                part = copy.deepcopy(part)
        except ApiError:
            raise
        except Exception as exc:
            message = str(exc)
            raise ApiError(
                400,
                {
                    "success": False,
                    "error": message[:500],
                    "error_type": _classify_error(message),
                    "query_metadata": self._error_metadata(sql, started),
                },
            )
        return {
            "success": True,
            "query_metadata": {
                "query_timestamp": time.strftime(
                    "%Y-%m-%d %H:%M:%S UTC", time.gmtime()
                ),
                "data_source": "local_parquet"
                if self.engine.has_local_data()
                else "s3_parquet",
                "data_export_type": self.engine.config.export_type.value,
                "table_name": self.engine.config.table_name,
                "available_tables": self._table_suggestions(),
                "query_length": len(sql),
                "format": format,
                "limit_applied": limit,
            },
            **part,
            "execution_time_ms": round((time.time() - started) * 1000, 2),
        }

    @staticmethod
    def _sql_key(df, cap: int, format: str) -> Optional[tuple]:
        """The memo key of ``df``'s capped answer, or ``None`` when it must
        be computed fresh: the statement's ``plan_version`` (optimized plan,
        manifest and listing of every file it reads, SQL conf digest) and
        the output schema, since equal plans may name their columns apart."""
        version = plan_version(df)
        if version is None:
            return None
        return ("sql_query", version, df.schema.simpleString(), cap, format.lower())

    def _error_metadata(self, sql: str, started: float) -> dict:
        return {
            "query_timestamp": time.strftime("%Y-%m-%d %H:%M:%S UTC", time.gmtime()),
            "table_name": self.engine.config.table_name,
            "available_tables": self._table_suggestions(),
            "query_length": len(sql),
            "execution_time_ms": round((time.time() - started) * 1000, 2),
        }

    def sql_schema(self) -> dict:
        """GET /sql/schema (sql_endpoints.py:236-285)."""
        table = self.engine.config.table_name
        try:
            schema = self.engine.schema()
            try:
                sample = self.engine.sample(3).toPandas().to_dict("records")
            except Exception:
                sample = []
            return {
                "main_table": {
                    "name": table,
                    "schema": schema,
                    "sample_data": sample,
                    "row_count_estimate": "Run: SELECT COUNT(*) FROM table_name",
                },
                "available_tables": self._table_suggestions(),
                "data_export_type": self.engine.config.export_type.value,
                "query_examples": [
                    {
                        "name": "Top Services by Cost",
                        "sql": (
                            "SELECT product_servicecode, SUM(line_item_unblended_cost)"
                            f" AS total_cost FROM {table} GROUP BY 1"
                            " ORDER BY total_cost DESC LIMIT 10"
                        ),
                    },
                    {
                        "name": "Monthly Cost Trends",
                        "sql": (
                            "SELECT billing_period, SUM(line_item_unblended_cost)"
                            f" AS monthly_cost FROM {table} GROUP BY 1 ORDER BY 1"
                        ),
                    },
                ],
            }
        except Exception as exc:
            raise ApiError(500, f"Error retrieving schema: {exc}")

    def sql_tables(self) -> dict:
        """GET /sql/tables (sql_endpoints.py:288-325)."""
        export = self.engine.config.export_type.value
        return {
            "available_tables": [
                {
                    "name": self.engine.config.table_name,
                    "type": "main_table",
                    "description": f"Main {export} cost data export",
                    "suggested_columns": [
                        "product_servicecode", "line_item_unblended_cost",
                        "billing_period", "line_item_usage_account_id",
                    ],
                },
                {
                    "name": "summary_view",
                    "type": "view",
                    "description": "Pre-aggregated cost summary data",
                    "suggested_columns": [
                        "billing_period", "unblended_cost", "amortized_cost",
                    ],
                },
                {
                    "name": "kpi_instance_all",
                    "type": "view",
                    "description": "Instance-level cost metrics and optimization opportunities",
                    "suggested_columns": [
                        "ec2_all_cost", "rds_all_cost", "compute_all_cost",
                    ],
                },
            ],
            "data_export_type": export,
            "main_table": self.engine.config.table_name,
        }

    # ------------------------------------------------------------------ #
    # KPI router (kpi_endpoints.py:25-115)                                #
    # ------------------------------------------------------------------ #
    def kpi_summary(
        self,
        billing_period: Optional[str] = None,
        payer_account_id: Optional[str] = None,
        linked_account_id: Optional[str] = None,
    ) -> dict:
        return self.engine.kpi.get_comprehensive_summary(
            billing_period=billing_period,
            payer_account_id=payer_account_id,
            linked_account_id=linked_account_id,
        )

    def kpi_health_check(self) -> dict:
        return self.engine.run_cost_health_check()

    def kpi_executive_summary(self) -> dict:
        return self.engine.generate_executive_summary()

    def kpi_dashboard_data(self) -> dict:
        return self.engine.get_dashboard_data()

    # ------------------------------------------------------------------ #
    # Spend router (spend_endpoints.py:33-113)                            #
    # ------------------------------------------------------------------ #
    def spend_invoice_summary(self, months_back: int = 12) -> dict:
        return self.engine.spend.get_invoice_summary(months_back=months_back)

    def spend_top_regions(self, limit: int = 10) -> dict:
        return self.engine.spend.get_top_regions(limit=limit)

    def spend_top_services(self, limit: int = 10) -> dict:
        return self.engine.spend.get_top_services(limit=limit)

    def spend_breakdown(self, dimensions: Optional[str] = None) -> dict:
        dims = dimensions.split(",") if dimensions else None
        return self.engine.spend.get_spend_breakdown(dimensions=dims)

    # ------------------------------------------------------------------ #
    # Optimization router (optimization_endpoints.py:28-120)              #
    # ------------------------------------------------------------------ #
    def optimization_idle_resources(self, utilization_threshold: float = 5.0) -> dict:
        return self.engine.optimization.get_idle_resources(
            utilization_threshold=utilization_threshold
        )

    def optimization_rightsizing(self) -> dict:
        return self.engine.optimization.get_rightsizing_recommendations()

    def optimization_cross_service_migration(self) -> dict:
        return self.engine.optimization.get_cross_service_migration_opportunities()

    def optimization_vpc_charges(self, min_cost: float = 100.0) -> dict:
        return self.engine.optimization.get_vpc_optimization_recommendations(
            min_cost=min_cost
        )

    # ------------------------------------------------------------------ #
    # Allocation router (allocation_endpoints.py:14-115)                  #
    # ------------------------------------------------------------------ #
    def allocation_account_hierarchy(self) -> dict:
        return self.engine.allocation.get_account_hierarchy()

    def allocation_tagging_compliance(self) -> dict:
        return self.engine.allocation.get_tagging_compliance()

    def allocation_cost_center_breakdown(self, period: Optional[str] = None) -> dict:
        return self.engine.allocation.get_cost_center_breakdown(period=period)

    def allocation_third_party_integration(self) -> dict:
        return self.engine.allocation.get_third_party_integration_status()

    # ------------------------------------------------------------------ #
    # Discounts router (discounts_endpoints.py:14-110)                    #
    # ------------------------------------------------------------------ #
    def discounts_current_agreements(self) -> dict:
        return self.engine.discounts.get_current_agreements()

    def discounts_negotiation_opportunities(self, min_spend: float = 10000.0) -> dict:
        return self.engine.discounts.get_negotiation_opportunities(min_spend=min_spend)

    def discounts_usage_forecasting(self, forecast_months: int = 12) -> dict:
        return self.engine.discounts.get_usage_forecasting(
            forecast_months=forecast_months
        )

    def discounts_commitment_planning(
        self, commitment_amount: float, term_years: int = 3
    ) -> dict:
        return self.engine.discounts.simulate_commitment_roi(
            commitment_amount=commitment_amount, term_years=term_years
        )

    # ------------------------------------------------------------------ #
    # AI router (ai_endpoints.py:14-110)                                  #
    # ------------------------------------------------------------------ #
    def ai_anomaly_detection(
        self, sensitivity: float = 2.0, lookback_days: int = 30
    ) -> dict:
        return self.engine.ai.get_anomaly_detection(
            sensitivity=sensitivity, lookback_days=lookback_days
        )

    def ai_optimization_insights(self, min_spend: float = 1000.0) -> dict:
        return self.engine.ai.get_optimization_insights(min_spend=min_spend)

    def ai_custom_analysis(self, query: str, focus: str = "cost") -> dict:
        return self.engine.ai.analyze_custom_query(query, analysis_type=focus)

    def ai_forecasting(self, forecast_months: int = 6) -> dict:
        return self.engine.ai.get_forecasting(forecast_months=forecast_months)

    # ------------------------------------------------------------------ #
    # MCP router (mcp_endpoints.py:14-115)                                #
    # ------------------------------------------------------------------ #
    def mcp_resources(self) -> dict:
        return self.engine.mcp.get_mcp_resources()

    def mcp_tools(self) -> dict:
        return self.engine.mcp.get_mcp_tools()

    def mcp_query(self, query: str, query_type: str = "natural_language") -> dict:
        return self.engine.mcp.process_mcp_query(query, query_type=query_type)

    def mcp_stream_config(self) -> dict:
        return self.engine.mcp.get_mcp_stream_config()


#: (method, path) -> handler attribute: the one list of paths, which
#: ``FinOpsHandlers.handle``, the FastAPI factory and the tests read (route
#: census mirrors the reference's 8 routers under /api/v1/finops,
#: fastapi_app.py:85-92).
ROUTES: dict[tuple[str, str], str] = {
    ("GET", "/health"): "health",
    ("GET", "/"): "root",
    ("POST", "/api/v1/finops/sql/query"): "sql_query",
    ("GET", "/api/v1/finops/sql/schema"): "sql_schema",
    ("GET", "/api/v1/finops/sql/tables"): "sql_tables",
    ("GET", "/api/v1/finops/kpi/summary"): "kpi_summary",
    ("GET", "/api/v1/finops/kpi/health-check"): "kpi_health_check",
    ("GET", "/api/v1/finops/kpi/executive-summary"): "kpi_executive_summary",
    ("GET", "/api/v1/finops/kpi/dashboard-data"): "kpi_dashboard_data",
    ("GET", "/api/v1/finops/spend/invoice/summary"): "spend_invoice_summary",
    ("GET", "/api/v1/finops/spend/regions/top"): "spend_top_regions",
    ("GET", "/api/v1/finops/spend/services/top"): "spend_top_services",
    ("GET", "/api/v1/finops/spend/breakdown"): "spend_breakdown",
    ("GET", "/api/v1/finops/optimization/idle-resources"): "optimization_idle_resources",
    ("GET", "/api/v1/finops/optimization/rightsizing"): "optimization_rightsizing",
    ("GET", "/api/v1/finops/optimization/cross-service-migration"):
        "optimization_cross_service_migration",
    ("GET", "/api/v1/finops/optimization/vpc-charges"): "optimization_vpc_charges",
    ("GET", "/api/v1/finops/allocation/account-hierarchy"): "allocation_account_hierarchy",
    ("GET", "/api/v1/finops/allocation/tagging-compliance"): "allocation_tagging_compliance",
    ("GET", "/api/v1/finops/allocation/cost-center-breakdown"):
        "allocation_cost_center_breakdown",
    ("GET", "/api/v1/finops/allocation/third-party-integration"):
        "allocation_third_party_integration",
    ("GET", "/api/v1/finops/discounts/current-agreements"): "discounts_current_agreements",
    ("GET", "/api/v1/finops/discounts/negotiation-opportunities"):
        "discounts_negotiation_opportunities",
    ("GET", "/api/v1/finops/discounts/usage-forecasting"): "discounts_usage_forecasting",
    ("POST", "/api/v1/finops/discounts/commitment-planning"):
        "discounts_commitment_planning",
    ("GET", "/api/v1/finops/ai/anomaly-detection"): "ai_anomaly_detection",
    ("GET", "/api/v1/finops/ai/optimization-insights"): "ai_optimization_insights",
    ("POST", "/api/v1/finops/ai/custom-analysis"): "ai_custom_analysis",
    ("GET", "/api/v1/finops/ai/forecasting"): "ai_forecasting",
    ("GET", "/api/v1/finops/mcp/resources"): "mcp_resources",
    ("GET", "/api/v1/finops/mcp/tools"): "mcp_tools",
    ("POST", "/api/v1/finops/mcp/query"): "mcp_query",
    ("GET", "/api/v1/finops/mcp/stream-config"): "mcp_stream_config",
}
