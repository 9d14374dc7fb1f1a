"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, request id, thread). Spans live in a
list until the run ends, then go out as a trace-event JSON file (the
format chrome://tracing and Perfetto read). ``self_times`` gives each
span name's self time: its duration minus the part of it that child
spans cover.

Spans are recorded only while ``TRACER.on`` is set, so the same wrapped
code serves the untraced and the traced window of one run. Each span also
carries the phase it ran in (set-up, warm-up, measured window).
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.on = False
        self.phase = "setup"
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- request context ----------------------------------------------- #
    @property
    def request_id(self) -> str | None:
        return getattr(self._local, "rid", None)

    @request_id.setter
    def request_id(self, rid: str | None) -> None:
        self._local.rid = rid

    # -- spans ---------------------------------------------------------- #
    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            rec = {"id": sid, "name": name, "start": start, "end": end,
                   "parent": parent, "rid": self.request_id, "phase": self.phase,
                   "tid": threading.get_ident()}
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, n: float = 1) -> None:
        if self.on:
            with self._lock:
                self.counts[name] += n

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned version (classmethods stay
        classmethods); ``after(result)`` may record counts from the
        call's result."""
        static = inspect.getattr_static(owner, attr)
        is_cm = isinstance(static, classmethod)
        fn = static.__func__ if is_cm else getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            if not self.on:
                return fn(*args, **kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        setattr(owner, attr, classmethod(spanned) if is_cm else spanned)

    # -- reporting ------------------------------------------------------ #
    def write_trace_events(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        events = [
            {"name": s["name"], "cat": s["name"].split(".")[0], "ph": "X",
             "ts": round((s["start"] - t0) * 1e6, 1),
             "dur": round((s["end"] - s["start"]) * 1e6, 1),
             "pid": 1, "tid": s["tid"],
             "args": {"id": s["id"], "parent": s["parent"], "request_id": s["rid"]}}
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"traceEvents": events, "displayTimeUnit": "ms"}, fh)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, dict]:
    """``{name: {"n", "total_s", "self_s"}}``: per span name, the count,
    the summed duration and the summed self time."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, dict] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        kids = [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])]
        own = dur - _covered([k for k in kids if k[1] > k[0]])
        agg = out.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
        agg["n"] += 1
        agg["total_s"] += dur
        agg["self_s"] += own
    return out


TRACER = Tracer()
