"""FastAPI FinOps server module — uvicorn entry point.

Mirrors the reference's ``main.py`` (``/root/reference/main.py``):
expose an ``app`` for ``uvicorn main:app``. The engine comes from
``start_api.build_engine`` and every request goes through
``FinOpsHandlers.handle`` — the SAME factory and HTTP edge the stdlib
fallback server uses, so the two serving paths cannot drift: with FINOPS_* env
set it builds the configured engine (and FAILS LOUDLY on a bad
configuration instead of silently serving sample data); with no env it
bootstraps the demo engine (synthesized sample CUR, clock pinned
inside the sample's date window) so every analytics route returns real
rows out of the box.

Usage::

    uvicorn main:app --host 0.0.0.0 --port 8000        # production
    python start_api.py                                 # guided start
"""

from __future__ import annotations

from de_polars_spark.api.fastapi_app import build_app
from start_api import build_engine

app = build_app(build_engine())
