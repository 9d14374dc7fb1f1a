"""FinOps engine benchmark: one command per workload run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. Workloads (see perfbench/README.md):
``dashboard``, ``adhoc_sql``, ``materialize``, ``corpus``.

The run starts ``perfbench/worker.py`` (the Spark process: data set-up,
then the FinOps HTTP server or the library loop), drives it for S
seconds, checks every output, and prints two JSON lines: a detail record
(named metrics with sample counts, session sizing, machine state) and,
last, the result ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` an
untraced and a traced window run back to back and the metrics are the
per-layer ones plus the tracing overhead. A traced run also writes a
trace-event file and a per-layer self-time summary to ``.perfbench_out/``.

Exit code: 0 when every output checked out, 1 on any mismatch or failed
request, 2 when the run could not be made at all.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import http.client
import json
import math
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from urllib.parse import urlencode

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("dashboard", "adhoc_sql", "materialize", "corpus")
RUN_BUDGET_S = 170  # the whole run, set-up and checks included
#: untimed warm-up before the first window, in blocks (HTTP) or passes.
#: A fixed amount of warm-up WORK, not time: the JVM keeps compiling hot
#: paths for minutes, so a time-based warm-up would start each window at a
#: different point of that curve on a faster or slower machine.
WARM = {"dashboard": 1, "adhoc_sql": 3, "materialize": 1, "corpus": 1}
#: smoke runs (tiny inputs): one HTTP block, whose responses are the
#: references the others are checked against, or one corpus pass; no
#: materialize pass (one costs ~10 s at any input size)
SMOKE_WARM = {"dashboard": 1, "adhoc_sql": 1, "materialize": 0, "corpus": 1}
#: a window holds at least this many blocks or passes, however slow the
#: machine. With a --seconds shorter than this many units take, every
#: window serves the same amount of work: one that may end after one or
#: after two units moves the per-request cost with the JIT's progress
MIN_WINDOW_UNITS = 2
#: JVM thread names (as /proc shows them) of the JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")
#: units of the end-to-end and per-layer metrics (BENCHMARK.json)
END_TO_END = {"setup_s": "s", "cpu_ms_per_op": "ms", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "api.http_overhead_ms": "ms", "api.sql_guard_ms": "ms", "api.result_collect_ms": "ms",
    "api.refused_ratio": "ratio",
    "engine.translate_ms": "ms", "engine.query_ms": "ms", "engine.jobs_per_request": "count",
    "engine.stages_per_request": "count", "sources.register_ms": "ms",
    "analytics.kpi_ms": "ms", "analytics.spend_ms": "ms", "analytics.optimization_ms": "ms",
    "analytics.allocation_ms": "ms", "analytics.discounts_ms": "ms", "analytics.ai_ms": "ms",
    "analytics.rows_collected": "count",
    "views.register_ms": "ms", "views.jobs_per_kpi_request": "count",
    "views.materialize_ms": "ms", "views.artifact_mb": "MB",
    "sources.run_sql_file_ms": "ms", "sources.files_written": "count",
    "sources.mb_written": "MB", "sources.write_amplification": "ratio",
    "functions.text_ms": "ms", "operators.dedup_ms": "ms", "operators.chunking_ms": "ms",
    "operators.similarity_ms": "ms", "operators.dedup_pair_precision": "ratio",
    "operators.ivf_candidates_per_query": "count",
    "trace.throughput_overhead_per_s": "1/s", "trace.cpu_overhead_ms_per_op": "ms",
}


# --------------------------------------------------------------------- #
# machine state (recorded the way bench.py records it)                  #
# --------------------------------------------------------------------- #
def cpu_calibration() -> float:
    """Single-thread md5 over 256 MB, in seconds."""
    buf = b"\0" * (1 << 20)
    h = hashlib.md5()
    t0 = time.perf_counter()
    for _ in range(256):
        h.update(buf)
    return time.perf_counter() - t0


def steal_jiffies() -> int | None:
    """Cumulative hypervisor steal time from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


# --------------------------------------------------------------------- #
# the worker process                                                    #
# --------------------------------------------------------------------- #
class WorkerError(RuntimeError):
    pass


class Worker:
    """``worker.py`` as a child process: commands on its stdin, one JSON
    reply line per command on a dedicated pipe, logs to a file."""

    def __init__(self, root: str, tmp: str, args, deadline: float, trace_out: str | None):
        self.deadline = deadline
        self.jvm_pid = None
        r, w = os.pipe()
        local = os.path.join(tmp, "spark-local")
        os.makedirs(local, exist_ok=True)
        # every JVM the worker starts (the launcher's too) keeps its temp
        # and perf-counter files out of the machine's /tmp
        env = dict(os.environ, TMPDIR=local, SPARK_LOCAL_DIRS=local,
                   JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={local}",
                   PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])))
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
               "--tmp", tmp, "--seed", str(args.seed), "--reply-fd", str(w),
               "--trace", str(args.trace)] + (["--smoke"] if args.smoke else [])
        if trace_out:
            cmd += ["--trace-out", trace_out]
        self.log_path = os.path.join(tmp, "worker.log")
        with open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=log,
                                         stderr=subprocess.STDOUT, pass_fds=(w,),
                                         cwd=tmp, env=env, text=True)
        os.close(w)
        self.replies = os.fdopen(r)

    def recv(self) -> dict:
        left = self.deadline - time.monotonic()
        ready, _, _ = select.select([self.replies], [], [], max(0.0, left))
        line = self.replies.readline() if ready else None
        if not line:
            raise WorkerError("worker timed out" if ready == [] else "worker exited early")
        return json.loads(line)

    def send(self, command: str) -> dict:
        self.proc.stdin.write(command + "\n")
        self.proc.stdin.flush()
        return self.recv()

    def cpu_s(self) -> dict[str, float]:
        """User + system CPU time used so far, in seconds: ``program`` by
        the worker and its JVM, all threads but the JIT compilers'; ``jit``
        by those. CPU time is the program's own work, without the time the
        machine's other tenants take from it. The JIT compilers are the
        runtime warming up: on a server a minute old they take 40-65% of the
        JVM's CPU, and how much varies from run to run (the worker keeps
        their threads alive, so none of their time leaves with an exited
        thread)."""
        ticks = jit = 0
        for pid in (self.proc.pid, self.jvm_pid):
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
        for tid in os.listdir(f"/proc/{self.jvm_pid}/task"):
            try:
                with open(f"/proc/{self.jvm_pid}/task/{tid}/stat") as fh:
                    comm, fields = fh.read().rsplit(")", 1)
            except OSError:
                continue
            if comm.split("(", 1)[1].startswith(JIT_THREADS):
                fields = fields.split()
                jit += int(fields[11]) + int(fields[12])
        hz = os.sysconf("SC_CLK_TCK")
        return {"program": (ticks - jit) / hz, "jit": jit / hz}

    def log_tail(self, n: int = 40) -> str:
        with open(self.log_path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])

    def close(self) -> None:
        """Stop the worker and wait until it and its JVM have ended."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.replies.close()
        if self.jvm_pid:
            for _ in range(200):
                if not os.path.exists(f"/proc/{self.jvm_pid}"):
                    break
                time.sleep(0.1)
            else:
                try:
                    os.kill(self.jvm_pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


# --------------------------------------------------------------------- #
# closed-loop HTTP load                                                 #
# --------------------------------------------------------------------- #
def http_call(port: int, req: dict, rid: str) -> tuple[int, object, float]:
    path = req["path"] + ("?" + urlencode(req["params"]) if req["params"] else "")
    body = json.dumps(req["body"]) if req["body"] is not None else None
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    t0 = time.perf_counter()
    try:
        conn.request(req["method"], path, body=body,
                     headers={"X-Request-Id": rid, "Content-Type": "application/json"})
        resp = conn.getresponse()
        data = resp.read()
        rtt = time.perf_counter() - t0
    finally:
        conn.close()
    try:
        payload = json.loads(data)
    except ValueError:
        payload = None
    return resp.status, payload, rtt


def closed_loop(port: int, blocks: list[list[dict]], clients: int, seconds: float,
                tag: str, cpu_s=lambda: {}) -> tuple[list[dict], float, dict]:
    """``clients`` threads, each sending its next request when the last one
    returns, in stream order. Once ``seconds`` have passed no new block is
    started; the block in progress finishes, so every window serves whole
    blocks (a fixed request mix), and at least ``MIN_WINDOW_UNITS`` of
    them. Returns the records, the wall time and the server CPU time
    (``cpu_s``) the window took."""
    flat = [(b, i, r) for b, block in enumerate(blocks) for i, r in enumerate(block)]
    state = {"next": 0, "done": False}
    lock = threading.Lock()
    records: list[dict] = []
    cpu0, t_start = cpu_s(), time.perf_counter()
    deadline = t_start + seconds

    def client() -> None:
        while True:
            with lock:
                if state["done"] or state["next"] >= len(flat):
                    return
                b, i, req = flat[state["next"]]
                if i == 0 and b >= MIN_WINDOW_UNITS and time.perf_counter() >= deadline:
                    state["done"] = True
                    return
                state["next"] += 1
            rid = f"{tag}-{b}-{i}"
            try:
                status, payload, rtt = http_call(port, req, rid)
            except OSError as exc:
                status, payload, rtt = 599, {"detail": str(exc)}, float("nan")
            with lock:
                records.append({"rid": rid, "req": req, "status": status,
                                "payload": payload, "rtt": rtt})

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, time.perf_counter() - t_start, cpu_delta(cpu0, cpu_s())


# --------------------------------------------------------------------- #
# workloads                                                             #
# --------------------------------------------------------------------- #
def p50(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def p90(values: list[float]) -> float:
    """Nearest-rank 90th percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(0.9 * len(s)) - 1)] if s else float("nan")


def cpu_delta(start: dict, end: dict) -> dict:
    return {k: end[k] - start[k] for k in end}


def per_op(cpu: dict, ops: int) -> dict:
    """CPU milliseconds per request or pass: the program's (the gated
    figure) and the JIT compilers' (reported beside it)."""
    return {"cpu_ms_per_op": 1000 * cpu["program"] / ops, "jit_ms_per_op": 1000 * cpu["jit"] / ops}


def run_http(worker: Worker, ready: dict, args, clients: int, n_warm: int) -> dict:
    port = ready["port"]
    n = max(50, args.seconds * 10)
    blocks = (gen.dashboard_blocks if args.workload == "dashboard" else gen.sql_blocks)(
        args.seed, n_warm + 2 * n)
    # the first block holds every distinct dashboard request once: its
    # responses are the references the later ones are checked against.
    # Warm-up runs one client per core: it is untimed, and JIT/codegen
    # warm-up is CPU-bound
    t_warm = time.monotonic()
    if args.trace:
        worker.send("trace 1 warm")
    # the KPI request goes first: it is the slowest cold, so the block
    # ends when it does instead of when it ends a chain of others
    warm_blocks = [sorted(b, key=lambda r: r["kind"] != "kpi") for b in blocks[:n_warm]]
    warm, _, _ = closed_loop(port, warm_blocks, ready["session"]["nproc"], math.inf, "warm")
    if args.trace:
        worker.send("trace 0")
    warm_s = time.monotonic() - t_warm
    windows = {}
    first = n_warm
    windows["untraced"] = closed_loop(port, blocks[first:first + n], clients, args.seconds, "w0",
                                      worker.cpu_s)
    if args.trace:
        worker.send("trace 1 window")
        windows["traced"] = closed_loop(port, blocks[first + n:], clients, args.seconds, "w1",
                                        worker.cpu_s)
        worker.send("trace 0")
    checker = checks.HttpChecker(ready["cur"], warm)
    out = {"windows": {}, "bad": [], "warm_s": warm_s}
    for name, (records, elapsed, cpu) in windows.items():
        bad = [checker.check(r) for r in records]
        out["bad"] += [b for b in bad if b]
        served = [r for r in records if r["req"]["kind"] != "refused"]
        out["windows"][name] = {
            "records": records, "elapsed": elapsed, "attempted": len(records),
            "failed": sum(1 for b in bad if b),
            "p50_ms": 1000 * p50([r["rtt"] for r in served]), "p50_n": len(served),
            # closed loop, no think time: X = clients / mean latency
            # (Little's law). Counting requests over the wall window instead
            # adds the tail where one client idles while the other finishes
            # the last block, which is most of a dashboard window's noise.
            "throughput_per_s": clients * len(records) / sum(r["rtt"] for r in records),
            **per_op(cpu, len(records)),
        }
    out["warm_failed"] = [b for b in map(checker.check, warm) if b]
    out["bad"] += out["warm_failed"]
    return out


def run_library(worker: Worker, ready: dict, args, n_warm: int) -> dict:
    checker = (checks.MaterializeChecker(ready, args.seed) if args.workload == "materialize"
               else checks.CorpusChecker(ready))
    t_warm = time.monotonic()
    if args.trace:
        worker.send("trace 1 warm")
    warm = worker.send(f"passes {n_warm}")["passes"]
    if args.trace:
        worker.send("trace 0")
    warm_s = time.monotonic() - t_warm

    def window() -> tuple[list[dict], float]:
        cpu0 = worker.cpu_s()
        passes = worker.send(f"loop {args.seconds} {MIN_WINDOW_UNITS}")["passes"]
        return passes, cpu_delta(cpu0, worker.cpu_s())

    windows = {"untraced": window()}
    if args.trace:
        worker.send("trace 1 window")
        windows["traced"] = window()
        worker.send("trace 0")
    out = {"windows": {}, "bad": [], "warm_s": warm_s,
           "warm_failed": [b for b in map(checker.check, warm) if b]}
    out["bad"] += out["warm_failed"]
    for name, (passes, cpu) in windows.items():
        bad = [checker.check(p) for p in passes]
        out["bad"] += [b for b in bad if b]
        total = sum(p["seconds"] for p in passes)
        work = sum(checker.work(p) for p in passes)
        out["windows"][name] = {
            "passes": passes, "elapsed": total, "attempted": len(passes),
            "failed": sum(1 for b in bad if b),
            "p50_ms": 1000 * statistics.median(p["seconds"] for p in passes),
            "p50_n": len(passes),
            "throughput_per_s": work / total,
            **per_op(cpu, len(passes)),
        }
    out["checker"] = checker
    return out


# --------------------------------------------------------------------- #
# reporting                                                             #
# --------------------------------------------------------------------- #
def detail_metrics(workload: str, res: dict) -> dict:
    """Named metrics per workload (README), each timing with its sample count."""
    w = res["windows"]["untraced"]
    d: dict = {"failed_ratio": w["failed"] / w["attempted"], "jit_ms_per_op": w["jit_ms_per_op"],
               "p50_ms": {"value": w["p50_ms"], "n": w["p50_n"]}}
    if workload in ("dashboard", "adhoc_sql"):
        recs = w["records"]
        groups = ({"kpi": [r for r in recs if r["req"]["kind"] == "kpi"],
                   "analytics": [r for r in recs if r["req"]["kind"] != "kpi"]}
                  if workload == "dashboard" else
                  {"sql": [r for r in recs if r["req"]["kind"] == "sql"]})
        for g, rs in groups.items():
            rtts = [r["rtt"] for r in rs]
            d[f"{g}_p50_ms"] = {"value": 1000 * p50(rtts), "n": len(rtts)}
            if g != "kpi":
                d[f"{g}_p90_ms"] = {"value": 1000 * p90(rtts), "n": len(rtts)}
        d["requests_per_s"] = w["throughput_per_s"]
    elif workload == "materialize":
        d["materialize_s"] = {"value": w["p50_ms"] / 1000, "n": w["attempted"]}
        d["write_mb_s"] = w["throughput_per_s"]
    else:
        d["corpus_docs_per_s"] = w["throughput_per_s"]
    return d


def mean(xs) -> float:
    xs = [x for x in xs if x is not None]
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(workload: str, res: dict, report: dict, written: dict | None) -> dict:
    """Per-layer metrics of the traced window (set-up spans for the
    registration and the write path), plus the tracing overhead.
    ``written`` is what the set-up's write path left on disk."""
    st = report["self_times"]
    win = st.get("window", {})
    every: dict = {}
    for phase in st.values():
        for name, agg in phase.items():
            e = every.setdefault(name, {"n": 0, "total_s": 0.0, "self_s": 0.0})
            for k in e:
                e[k] += agg[k]

    def per_call_ms(name: str, spans=win, key: str = "total_s") -> float:
        agg = spans.get(name)
        return 1000 * agg[key] / agg["n"] if agg and agg["n"] else 0.0

    tw, uw = res["windows"]["traced"], res["windows"]["untraced"]
    m = {
        "api.sql_guard_ms": per_call_ms("api.sql_guard"),
        "api.result_collect_ms": per_call_ms("api.result_collect"),
        "engine.translate_ms": per_call_ms("engine.translate"),
        "engine.query_ms": per_call_ms("engine.query", key="self_s"),
        "sources.register_ms": per_call_ms("sources.register", st.get("setup", {})),
        "views.register_ms": per_call_ms("views.register", every),
        # set-up (and, on materialize, every pass) runs the write path
        "views.materialize_ms": per_call_ms("views.materialize", every),
        "sources.run_sql_file_ms": per_call_ms("sources.run_sql_file", every),
        "functions.text_ms": per_call_ms("functions.text"),
        "operators.dedup_ms": per_call_ms("operators.dedup"),
        "operators.chunking_ms": per_call_ms("operators.chunking"),
        "operators.similarity_ms": per_call_ms("operators.similarity"),
        "trace.throughput_overhead_per_s": uw["throughput_per_s"] - tw["throughput_per_s"],
        "trace.cpu_overhead_ms_per_op": tw["cpu_ms_per_op"] - uw["cpu_ms_per_op"],
    }
    for fam in ("kpi", "spend", "optimization", "allocation", "discounts", "ai"):
        m[f"analytics.{fam}_ms"] = per_call_ms(f"analytics.{fam}")
    recs = tw.get("records", [])
    reqs = report["requests"]
    traced = [(r, reqs.get(r["rid"], {})) for r in recs]
    m["api.http_overhead_ms"] = 1000 * mean(
        r["rtt"] - q["handler_s"] for r, q in traced if q.get("handler_s") is not None)
    m["api.refused_ratio"] = (
        sum(1 for r in recs if r["req"]["kind"] == "refused" and r["status"] == 400) / len(recs)
        if recs else 0.0)
    m["engine.jobs_per_request"] = mean(q.get("jobs") for _, q in traced)
    m["engine.stages_per_request"] = mean(q.get("stages") for _, q in traced)
    m["views.jobs_per_kpi_request"] = mean(
        q.get("jobs") for r, q in traced if r["req"]["kind"] == "kpi")
    analytics_reqs = sum(1 for r in recs if r["req"]["kind"] not in ("sql", "refused"))
    m["analytics.rows_collected"] = (
        report["counts"].get("analytics.rows_collected", 0) / analytics_reqs
        if analytics_reqs else 0.0)
    passes = tw.get("passes", [])
    written = passes if workload == "materialize" else [written] if written else []
    m["views.artifact_mb"] = mean(w["artifact_mb"] for w in written)
    m["sources.files_written"] = mean(w["files_written"] for w in written)
    m["sources.mb_written"] = mean(w["mb_written"] for w in written)
    m["sources.write_amplification"] = mean(w["mb_written"] / w["cur_mb"] for w in written)
    if workload == "corpus":
        m.update(res["checker"].ratios(passes))
    else:
        m.update({"operators.dedup_pair_precision": 0.0, "operators.ivf_candidates_per_query": 0.0})
    return m


def cleanup(root: str, tmp: str) -> None:
    """Remove the run's scratch directory and the repo caches it created
    (the KPI view and synthetic-CUR artifacts are keyed by its name)."""
    tag = os.path.basename(tmp)
    for path in glob.glob(os.path.join(root, ".cache", f"*_sf-{tag}-*")):
        shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(tmp))
    except OSError:
        pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="the shipped sf0.001 tables and the least warm-up (tests)")
    args = ap.parse_args()
    n_warm = (SMOKE_WARM if args.smoke else WARM)[args.workload]

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "de_polars_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "start_api.py"))):
        print("perfbench: the program (de_polars_spark/, start_api.py) is not in the "
              "current directory; run from the root of a checkout", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))
    t_start = time.monotonic()
    deadline = t_start + RUN_BUDGET_S
    phases = {}
    calibration, steal0 = cpu_calibration(), steal_jiffies()
    os.makedirs(os.path.join(root, ".perfbench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(root, ".perfbench_tmp"))
    trace_out = None
    if args.trace:
        os.makedirs(os.path.join(root, ".perfbench_out"), exist_ok=True)
        trace_out = os.path.join(root, ".perfbench_out",
                                 f"trace-{args.workload}-seed{args.seed}.json")
    worker = Worker(root, tmp, args, deadline, trace_out)
    try:
        ready = worker.recv()
        phases["ready"] = time.monotonic() - t_start
        worker.jvm_pid = ready["jvm_pid"]
        if args.workload in ("dashboard", "adhoc_sql"):
            clients = 2 if args.workload == "dashboard" else ready["session"]["nproc"]
            res = run_http(worker, ready, args, clients, n_warm)
        else:
            res = run_library(worker, ready, args, n_warm)
        phases["warmed"] = phases["ready"] + res["warm_s"]
        phases["measured"] = time.monotonic() - t_start
        # the library outputs the set-up (or materialize's last pass) wrote
        lib_bad = checks.check_library(ready, args.seed) if "outputs_dir" in ready else []
        res["bad"] += lib_bad
        report = worker.send("stop")
    except WorkerError as exc:
        print(f"perfbench: {exc}\n{worker.log_tail()}", file=sys.stderr)
        return 2
    finally:
        worker.close()
        cleanup(root, tmp)
        phases["stopped"] = time.monotonic() - t_start

    w = res["windows"]["untraced"]
    attempted = sum(x["attempted"] for x in res["windows"].values())
    failed = (sum(x["failed"] for x in res["windows"].values()) + len(res["warm_failed"])
              + len(lib_bad))
    correct = not res["bad"]
    steal1 = steal_jiffies()
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "named": detail_metrics(args.workload, res),
        "setup_times_s": ready["setup_times_s"], "session_start_s": ready["session_s"],
        "kpi_views_rebuild_s": ready["kpi_views_rebuild_s"], "written": ready.get("written"),
        "run_phases_s": phases, "peak_rss_parts_mb": report["peak_rss_mb"],
        "session": ready["session"], "pyspark": ready["pyspark"], "jdk": ready["jdk"],
        "calibration_md5_sec": calibration,
        "steal_jiffies_delta": None if steal0 is None or steal1 is None else steal1 - steal0,
        "mismatches": res["bad"][:5],
    }
    if args.trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in sorted(layer_metrics(args.workload, res, report,
                                                    ready.get("written")).items())}
        summary = os.path.join(root, ".perfbench_out",
                               f"selftime-{args.workload}-seed{args.seed}.json")
        with open(summary, "w") as fh:
            json.dump(report["self_times"], fh, indent=1, sort_keys=True)
        detail["trace_files"] = [os.path.relpath(p, root) for p in (trace_out, summary)
                                 if os.path.exists(p)]
    else:
        rss = report["peak_rss_mb"]
        # the driver heap is resident whole from the start; count the part
        # of it that was ever used instead, so heap growth shows
        values = {"setup_s": ready["setup_s"], "cpu_ms_per_op": w["cpu_ms_per_op"],
                  "peak_rss_mb": (rss["python"] + rss["jvm"] - rss["heap_committed"]
                                  + rss["heap_peak_used"])}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
