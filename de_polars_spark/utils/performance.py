"""Query profiling (reference de_polars/utils/performance.py:11-137).

Driver-side and thread-safe, matching the reference's lock discipline,
because FastAPI serves it from worker threads. The reference's TTL result
cache is not carried over: the API's response memo (api/handlers.py) is
invalidated by the data, not by a timer.
"""

from __future__ import annotations

import functools
import threading
import time
from datetime import datetime
from typing import Callable


class QueryProfiler:
    """Execution-time statistics per named query (performance.py:11-137)."""

    def __init__(self) -> None:
        self._stats: dict[str, dict] = {}
        self._lock = threading.Lock()

    def profile_query(self, query_name: str | None = None):
        """Decorator recording wall time + success/failure per call."""

        def decorator(func: Callable) -> Callable:
            @functools.wraps(func)
            def wrapper(*args, **kwargs):
                name = query_name or f"{func.__module__}.{func.__name__}"
                started = time.time()
                try:
                    result = func(*args, **kwargs)
                except Exception as exc:
                    self.record(name, time.time() - started, success=False, error=str(exc))
                    raise
                self.record(name, time.time() - started, success=True)
                return result

            return wrapper

        return decorator

    def record(
        self, name: str, elapsed: float, success: bool, error: str | None = None
    ) -> None:
        with self._lock:
            stats = self._stats.setdefault(
                name,
                {
                    "total_executions": 0,
                    "successful_executions": 0,
                    "failed_executions": 0,
                    "total_time": 0.0,
                    "min_time": float("inf"),
                    "max_time": 0.0,
                    "last_execution": None,
                    "last_error": None,
                },
            )
            stats["total_executions"] += 1
            stats["total_time"] += elapsed
            stats["min_time"] = min(stats["min_time"], elapsed)
            stats["max_time"] = max(stats["max_time"], elapsed)
            stats["last_execution"] = datetime.now().isoformat()
            if success:
                stats["successful_executions"] += 1
                stats["last_error"] = None
            else:
                stats["failed_executions"] += 1
                stats["last_error"] = error

    @staticmethod
    def _derived(stats: dict) -> dict:
        n = stats["total_executions"]
        out = dict(stats)
        out["avg_time"] = stats["total_time"] / n if n else 0
        out["success_rate"] = stats["successful_executions"] / n * 100 if n else 0
        return out

    def get_query_stats(self, query_name: str | None = None) -> dict:
        with self._lock:
            if query_name is not None:
                if query_name not in self._stats:
                    return {}
                return {query_name: self._derived(self._stats[query_name])}
            return {name: self._derived(s) for name, s in self._stats.items()}

    def get_performance_summary(self) -> dict:
        """Aggregate roll-up incl. slowest / fastest-average queries
        (performance.py:107-137)."""
        with self._lock:
            if not self._stats:
                return {"message": "No query statistics available"}
            executions = sum(s["total_executions"] for s in self._stats.values())
            total_time = sum(s["total_time"] for s in self._stats.values())
            ok = sum(s["successful_executions"] for s in self._stats.values())
            slowest = max(self._stats.items(), key=lambda kv: kv[1]["max_time"])
            fastest = min(
                self._stats.items(),
                key=lambda kv: kv[1]["total_time"] / kv[1]["total_executions"]
                if kv[1]["total_executions"]
                else float("inf"),
            )
            f_n = fastest[1]["total_executions"]
            return {
                "total_queries": len(self._stats),
                "total_executions": executions,
                "total_time": round(total_time, 3),
                "avg_execution_time": round(total_time / executions, 3) if executions else 0,
                "success_rate": round(ok / executions * 100, 1) if executions else 0,
                "slowest_query": {
                    "name": slowest[0],
                    "max_time": round(slowest[1]["max_time"], 3),
                },
                "fastest_avg_query": {
                    "name": fastest[0],
                    "avg_time": round(fastest[1]["total_time"] / f_n, 3) if f_n else 0,
                },
            }


#: module-level conveniences (performance.py:280-281)
query_profiler = QueryProfiler()
