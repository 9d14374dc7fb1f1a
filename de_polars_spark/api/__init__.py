"""REST serving layer (reference de_polars/api/).

``handlers`` is the framework-free core: every endpoint is a plain
method returning a JSON-serializable dict (errors raise ``ApiError``),
testable without any web framework, and ``FinOpsHandlers.handle`` turns
one HTTP request into ``(status_code, payload)``. ``start_api.py``'s
stdlib server and ``fastapi_app`` are thin adapters over ``handle``;
``fastapi_app`` imports only when the optional dependency is installed
(uvicorn/fastapi are optional extras, as in the reference's
requirements).
"""

from de_polars_spark.api.handlers import ApiError, FinOpsHandlers, ROUTES

try:  # optional dependency
    from de_polars_spark.api.fastapi_app import create_finops_app
except ImportError:  # pragma: no cover - fastapi not installed here
    create_finops_app = None  # type: ignore[assignment]

__all__ = ["FinOpsHandlers", "ApiError", "ROUTES", "create_finops_app"]
