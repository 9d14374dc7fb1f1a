"""FastAPI application factory (reference de_polars/api/fastapi_app.py:
36-226). Optional: fastapi/uvicorn are extras, exactly as in the
reference's deployment docs; the handler core (handlers.py) carries the
whole serving contract and is what the tests exercise.

Each route in ``ROUTES`` is one endpoint that passes the request to
``FinOpsHandlers.handle``, the edge the stdlib server uses too, so a
route's parameters are declared only in its handler method. ``/docs``
lists every path and method, but no per-parameter schema.
"""

from __future__ import annotations

from typing import Optional

from fastapi import FastAPI, Request
from fastapi.concurrency import run_in_threadpool
from fastapi.encoders import jsonable_encoder
from fastapi.middleware.cors import CORSMiddleware
from fastapi.responses import JSONResponse

from de_polars_spark.api.handlers import ROUTES, FinOpsHandlers
from de_polars_spark.client import FinOpsEngine
from de_polars_spark.config import DataConfig, DataExportType


def build_app(engine: FinOpsEngine) -> FastAPI:
    """Serve the framework-free handlers through FastAPI
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

    def endpoint(method: str, path: str):
        async def call(request: Request) -> JSONResponse:
            body = await request.body()
            # the handlers block on Spark: keep them off the event loop
            status, payload = await run_in_threadpool(
                handlers.handle, method, path, dict(request.query_params), body
            )
            return JSONResponse(jsonable_encoder(payload), status_code=status)

        return call

    for (method, path), name in ROUTES.items():
        app.add_api_route(path, endpoint(method, path), methods=[method], name=name,
                          tags=[name.split("_")[0]])
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
