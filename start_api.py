#!/usr/bin/env python3
"""Quick-start script for the FinOps API server.

Parity with the reference's ``start_api.py`` (``/root/reference/
start_api.py``): check the environment, explain the configuration,
start the server. Two serving paths:

- **FastAPI + uvicorn** when installed (production path, identical to
  the reference: ``uvicorn main:app``).
- A **stdlib fallback server** otherwise (this container ships
  neither): a threaded ``http.server`` dispatching the framework-free
  route table (``de_polars_spark.api.handlers.ROUTES``) straight to the
  same ``FinOpsHandlers`` methods the FastAPI routes call. Every JSON
  endpoint — ``/health``, spend, KPI, optimization, allocation,
  discounts, AI, MCP — serves for real; only the OpenAPI docs UI needs
  the FastAPI path.

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


def _coerce(v: str, annotation=None):
    """Query-string params arrive as strings; convert them to the
    handler's DECLARED parameter type (FastAPI behavior). String-typed
    (or unannotated) params pass through untouched — numeric-looking
    ids like '0123' must not be mangled to 123."""
    import typing

    targets = set()
    for t in typing.get_args(annotation) or (annotation,):
        if t in (int, float, bool):
            targets.add(t)
    if bool in targets and v.lower() in ("true", "false", "1", "0"):
        return v.lower() in ("true", "1")
    if int in targets:
        try:
            return int(v)
        except ValueError:
            pass
    if float in targets:
        try:
            return float(v)
        except ValueError:
            pass
    return v


def make_handler_class(handlers):
    from de_polars_spark.api.handlers import ApiError, ROUTES

    class Handler(BaseHTTPRequestHandler):
        def _respond(self, status: int, payload) -> None:
            body = json.dumps(payload, default=str).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _dispatch(self) -> None:
            import typing

            split = urlsplit(self.path)
            name = ROUTES.get((self.command, split.path))
            if name is None:
                self._respond(404, {"detail": "Not Found"})
                return
            fn = getattr(handlers, name)
            try:
                # handlers.py uses `from __future__ import annotations`,
                # so resolve the string annotations to real types
                hints = typing.get_type_hints(fn)
            except Exception:  # unresolvable hints -> treat as untyped
                hints = {}
            kwargs = {
                k: _coerce(v, hints.get(k))
                for k, v in parse_qsl(split.query)
            }
            if self.command == "POST":
                length = int(self.headers.get("Content-Length") or 0)
                if length:
                    payload = json.loads(self.rfile.read(length) or b"{}")
                    if isinstance(payload, dict):
                        kwargs.update(payload)
            try:
                self._respond(200, getattr(handlers, name)(**kwargs))
            except ApiError as exc:
                self._respond(exc.status_code, {"detail": exc.detail})
            except TypeError as exc:  # bad/missing params
                self._respond(422, {"detail": str(exc)})
            except Exception as exc:  # noqa: BLE001 — server must not die
                self._respond(500, {"detail": str(exc)})

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
