#!/usr/bin/env python3
"""Quick-start script for the FinOps API server.

Parity with the reference's ``start_api.py`` (``/root/reference/
start_api.py``): check the environment, explain the configuration,
start the server. Two serving paths:

- **FastAPI + uvicorn** when installed (production path, identical to
  the reference: ``uvicorn main:app``).
- A **stdlib fallback server** otherwise: a threaded ``http.server``
  that hands each request's method, path, query string and body to
  ``FinOpsHandlers.handle``, the HTTP edge the FastAPI app calls too
  (route lookup in ``ROUTES``, parameter binding and coercion, status
  mapping). Every JSON endpoint — ``/health``, spend, KPI, optimization,
  allocation, discounts, AI, MCP — serves for real; only the OpenAPI docs
  UI needs the FastAPI path.

Usage::

    python start_api.py                 # serve on $FINOPS_API_PORT or 8000
    FINOPS_LOCAL_PATH=/data python start_api.py
"""

from __future__ import annotations

import json
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlsplit


def check_environment() -> None:
    """Report how the app will be configured (never blocks startup —
    the env-less fallback serves the bundled sample data)."""
    if os.getenv("FINOPS_S3_BUCKET"):
        print(f"config: S3 bucket {os.getenv('FINOPS_S3_BUCKET')!r} "
              f"prefix {os.getenv('FINOPS_S3_PREFIX', '')!r}")
    elif os.getenv("FINOPS_LOCAL_PATH"):
        print(f"config: local data path {os.getenv('FINOPS_LOCAL_PATH')!r}")
    else:
        print("config: no FINOPS_* env set — serving bundled sample data "
              "(/root/testdata/sf0.001). Set FINOPS_S3_BUCKET/"
              "FINOPS_S3_PREFIX or FINOPS_LOCAL_PATH for real data.")


def build_engine():
    """The engine ``DataConfig.from_env()`` describes; with no data source
    set, the demo engine over the synthesized sample CUR."""
    from de_polars_spark.client import FinOpsEngine
    from de_polars_spark.config import DataConfig

    config = DataConfig.from_env()
    if config is not None:
        return FinOpsEngine(config)
    # demo mode: synthesize the sample CUR table so every finops
    # route (spend/kpi/optimization/...) serves real rows, not just
    # /health — same bootstrap the API tests use
    from de_polars_spark.engine.session import get_spark
    from de_polars_spark.inventory.kpi_views import _ensure_cur_ext

    spark = get_spark("finops-engine")
    return FinOpsEngine(
        DataConfig(local_data_path=_ensure_cur_ext(spark, "/root/testdata/sf0.001"),
                   table_name="CUR"),
        spark=spark,
        # the sample CUR derives from TPC-H's 1992-1998 dates; pin
        # "now" inside that window so trailing-month endpoints
        # return rows instead of empty frames
        now="1998-10-01",
    )


def make_handler_class(handlers):
    """A ``BaseHTTPRequestHandler`` that passes each request's query string
    and body to ``handlers.handle`` and writes out its answer as JSON."""

    class Handler(BaseHTTPRequestHandler):
        def _dispatch(self) -> None:
            split = urlsplit(self.path)
            length = int(self.headers.get("Content-Length") or 0)
            status, payload = handlers.handle(
                self.command, split.path, dict(parse_qsl(split.query)),
                self.rfile.read(length) if length > 0 else b"",
            )
            body = json.dumps(payload, default=str).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        do_GET = do_POST = do_PUT = do_DELETE = _dispatch

        def log_message(self, fmt, *args):  # quiet access log
            pass

    return Handler


def serve_stdlib(host: str, port: int) -> ThreadingHTTPServer:
    from de_polars_spark.api.handlers import FinOpsHandlers

    handlers = FinOpsHandlers(build_engine())
    httpd = ThreadingHTTPServer((host, port), make_handler_class(handlers))
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    return httpd


def main() -> None:
    check_environment()
    host = os.getenv("FINOPS_API_HOST", "127.0.0.1")
    port = int(os.getenv("FINOPS_API_PORT", "8000"))
    try:
        import uvicorn
        from main import app  # FastAPI app (requires fastapi installed)
    except ImportError:
        uvicorn = None
    if uvicorn is not None:
        print(f"serving with uvicorn on http://{host}:{port} "
              f"(docs at /docs, health at /health)")
        uvicorn.run(app, host=host, port=port)
        return
    print(f"uvicorn/fastapi not installed — stdlib fallback server on "
          f"http://{host}:{port} (health at /health)")
    httpd = serve_stdlib(host, port)
    try:
        threading.Event().wait()
    except KeyboardInterrupt:
        httpd.shutdown()
        sys.exit(0)


if __name__ == "__main__":
    main()
