"""The benchmark's own tests: seeded generators, self-time accounting,
where a measured window ends, the bare-directory refusal, and a smoke run
of every workload at a tiny scale (the SQL guard's view of the generated
statements is in ``test_guard.py``).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
from spans import Tracer, self_times  # noqa: E402

STREAMS = {
    "dashboard": lambda seed: gen.dashboard_blocks(seed, 6),
    "adhoc_sql": lambda seed: gen.sql_blocks(seed, 6),
    "materialize": lambda seed: gen.sql_library(seed),
    "corpus": lambda seed: gen.corpus_passes(seed, 4, 500, 200, 40, 8, [[1, 7], [3, 9, 400]]),
}


@pytest.mark.parametrize("name", sorted(STREAMS))
def test_same_seed_gives_byte_identical_stream(name):
    assert gen.dump(STREAMS[name](11)) == gen.dump(STREAMS[name](11))


@pytest.mark.parametrize("name", sorted(STREAMS))
def test_different_seeds_give_different_streams(name):
    assert gen.dump(STREAMS[name](11)) != gen.dump(STREAMS[name](12))


def test_request_mix_is_fixed_per_block():
    for block in gen.sql_blocks(3, 20):
        assert len(block) == gen.SQL_BLOCK
        assert sum(r["kind"] == "refused" for r in block) == 1
    for block in gen.dashboard_blocks(3, 20):
        assert len(block) == gen.DASHBOARD_BLOCK
        assert sum(r["kind"] == "kpi" for r in block) == gen.KPI_PER_BLOCK
        assert sum(r["kind"] == "sql" for r in block) == 1
        assert sum(r["kind"] == "refused" for r in block) == 1
        gets = [r["path"] for r in block if r["method"] == "GET"]
        assert len(set(gets)) == len(gets)


def test_corpus_batches_hold_whole_duplicate_groups():
    groups = [[1, 7], [3, 9, 400], [20, 21], [50, 60], [70, 80], [90, 95]]
    for p in gen.corpus_passes(5, 10, 500, 200, 40, 8, groups):
        assert len(p["doc_ids"]) == len(set(p["doc_ids"])) == 40
        held = [g for g in groups if set(g) <= set(p["doc_ids"])]
        assert len(held) >= gen.DUP_GROUPS_PER_PASS


def test_input_tables_are_shipped_with_the_benchmark():
    import worker

    for tables in worker.TABLES.values():
        for name, scale in tables.items():
            for sf in (scale, "sf0.001"):  # the gated runs' and the smoke runs'
                assert os.path.isfile(os.path.join(worker.DATA, sf, f"{name}.parquet"))


def test_self_time_subtracts_child_coverage():
    spans = [
        {"id": 1, "name": "a", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 2, "name": "b", "start": 1.0, "end": 4.0, "parent": 1},
        {"id": 3, "name": "b", "start": 3.0, "end": 6.0, "parent": 1},  # overlaps 2
        {"id": 4, "name": "c", "start": 2.0, "end": 3.0, "parent": 2},
    ]
    st = self_times(spans)
    assert st["a"]["self_s"] == pytest.approx(10 - 5)
    assert st["b"]["n"] == 2 and st["b"]["total_s"] == pytest.approx(6)
    assert st["b"]["self_s"] == pytest.approx(6 - 1)
    assert st["c"]["self_s"] == pytest.approx(1)


def test_tracer_records_only_while_on(tmp_path):
    t = Tracer()
    with t.span("off"):
        pass
    t.on = True
    t.request_id = "r1"
    with t.span("outer"):
        with t.span("inner"):
            time.sleep(0.001)
    assert [s["name"] for s in t.spans] == ["inner", "outer"]
    inner, outer = t.spans
    assert inner["parent"] == outer["id"] and inner["rid"] == "r1"
    out = tmp_path / "trace.json"
    t.write_trace_events(str(out))
    events = json.loads(out.read_text())["traceEvents"]
    assert {e["name"] for e in events} == {"inner", "outer"} and events[0]["ph"] == "X"


def test_window_serves_whole_blocks_and_at_least_the_minimum():
    """A window that is over before it starts still serves
    MIN_WINDOW_UNITS whole blocks; an open-ended one serves every block."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    import run

    class Echo(BaseHTTPRequestHandler):
        def do_GET(self):
            self.rfile.read(int(self.headers.get("Content-Length") or 0))
            self.send_response(200)
            self.send_header("Content-Length", "2")
            self.end_headers()
            self.wfile.write(b"{}")

        do_POST = do_GET

        def log_message(self, *args):
            pass

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Echo)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        blocks = gen.dashboard_blocks(1, 5)
        port = httpd.server_address[1]
        records, _, _ = run.closed_loop(port, blocks, 2, 0, "t")
        assert len(records) == run.MIN_WINDOW_UNITS * len(blocks[0])
        records, _, _ = run.closed_loop(port, blocks, 2, 60, "t")
        assert len(records) == sum(map(len, blocks))
        assert {r["status"] for r in records} == {200}
    finally:
        httpd.shutdown()
        httpd.server_close()


def _run(args, cwd, timeout):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "dashboard", "--seed", "1", "--seconds", "1", "--trace", "0"],
             tmp_path, 60)
    assert p.returncode != 0 and not p.stdout.strip()


@pytest.mark.parametrize("workload", ["dashboard", "adhoc_sql", "materialize", "corpus"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_every_workload(workload, trace):
    """The shipped sf0.001 tables, the least warm-up and a 1 s window; each
    run ends within about a minute on a 4-core machine (the limit allows
    120 s for a shared one)."""
    if trace and workload in ("dashboard", "materialize"):
        pytest.skip("one traced FinOps HTTP run and one traced library run suffice")
    t0 = time.monotonic()
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
              "--smoke"], ROOT, 170)
    assert p.returncode == 0, p.stderr[-2000:]
    assert time.monotonic() - t0 < 120
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = {m["name"] for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))[
        "per_layer" if trace else "end_to_end"]}
    assert set(result["metrics"]) == names
