"""Spark side of the benchmark: the one process that owns a SparkSession.

``run.py`` starts it as::

    python3 perfbench/worker.py --workload W --tmp DIR --seed N --reply-fd FD

with the checkout root on ``PYTHONPATH``. The worker sizes a session to
the machine, copies the input tables into the run's scratch directory
(untimed), sets the workload up ``SETUP_REPS`` times (timing each), then
either serves the FinOps API over HTTP (``dashboard``, ``adhoc_sql``) or
runs library passes on command (``materialize``, ``corpus``). Commands arrive one per line on stdin; each gets one JSON
reply line on the reply fd:

- ``trace 0|1``    switch span recording off/on
- ``passes N``     N untimed library passes (warm-up)
- ``loop SECONDS MIN`` library passes until SECONDS have passed and at
  least MIN passes ran (whole passes)
- ``stop``         final report (spans, per-request counts, peak RSS), exit

It only calls public surfaces of the program: the HTTP handler class from
``start_api.make_handler_class``, ``FinOpsEngine``/``SparkEngine``,
``inventory.kpi_views``, ``sources.partitioner.DataPartitioner`` and the
``operators``/``functions`` entry points. Probes wrap those from here.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from http.server import ThreadingHTTPServer

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from spans import TRACER, self_times  # noqa: E402

NOW = "1998-10-01"
SETUP_REPS = 3
#: input tables: copies of the repo's shipped test tables (README), by
#: scale factor. ``--smoke`` takes every table from sf0.001
DATA = os.path.join(HERE, "data")
TABLES = {"finops": {"lineitem": "sf0.01"},
          "corpus": {"documents": "sf0.1", "embeddings": "sf0.1"}}
DOCS_PER_PASS = {False: 200, True: 40}
QUERIES_PER_PASS = 16
IVF_NLIST, IVF_K, IVF_NPROBE = 8, 5, 4
LSH = dict(n_hashes=8, band_size=2, shingle_n=2)
FINOPS = ("dashboard", "adhoc_sql", "materialize")


def session_plan() -> dict:
    """Session size for this machine: one task slot per usable core and a
    driver heap of an eighth of RAM, capped at 1 GiB (the inputs are small
    and the host is shared)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    mem_mb = max(512, min(1024, total_mb // 8))
    return {"nproc": cpus, "master": f"local[{cpus}]", "shuffle_partitions": cpus,
            "driver_memory": f"{mem_mb}m", "host_mem_mb": total_mb}


def start_session(tmp: str, plan: dict):
    from de_polars_spark.engine.session import get_spark

    local = os.path.join(tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        "perfbench", master=plan["master"], shuffle_partitions=plan["shuffle_partitions"],
        extra_conf={
            "spark.driver.memory": plan["driver_memory"],
            "spark.local.dir": local,
            # the whole heap committed and touched at start, as on a server:
            # peak RSS then does not depend on when the collector chose to
            # grow the heap (measured: +-15% between identical runs). The
            # JIT compiler threads stay alive, so run.py can tell their CPU
            # time from the program's
            "spark.driver.extraJavaOptions":
                f"-Xms{plan['driver_memory']} -XX:+AlwaysPreTouch "
                "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# --------------------------------------------------------------------- #
# set-up                                                                #
# --------------------------------------------------------------------- #
def stage_inputs(tmp: str, rep: int, tables: dict, smoke: bool) -> str:
    """Copy the input tables into a directory of their own for one
    set-up (untimed). The repo keys its derived-data caches by that
    directory's name, so each set-up pays for them, and the run can clear
    them afterwards without touching anyone else's."""
    sf = os.path.join(tmp, f"sf-{os.path.basename(tmp)}-{rep}")
    os.makedirs(sf)
    for name, scale in tables.items():
        shutil.copy(os.path.join(DATA, "sf0.001" if smoke else scale, f"{name}.parquet"), sf)
    return sf


def write_library(tmp: str, seed: int) -> str:
    """The seeded ``.sql`` library DataPartitioner runs (untimed)."""
    lib_dir = os.path.join(tmp, "sql-library")
    for rel, text in gen.sql_library(seed).items():
        os.makedirs(os.path.dirname(os.path.join(lib_dir, rel)), exist_ok=True)
        with open(os.path.join(lib_dir, rel), "w") as fh:
            fh.write(text)
    return lib_dir


def setup_finops(spark, tmp: str, rep: int, sf: str, lib_dir: str) -> dict:
    """The repo's synthetic CUR (``inventory.kpi_views.CUR_EXT_CTE`` over
    lineitem) written by the engine as a hive ``billing_period=YYYY-MM``
    dataset, one file per month as an export lands; the engine over it,
    registered as a FOCUS 1.0 export (partition discovery runs on the
    measured path); the handlers the server uses; and the write path:
    ``DataPartitioner.run_sql_files`` over the seeded library."""
    from de_polars_spark.api.handlers import FinOpsHandlers
    from de_polars_spark.client import FinOpsEngine
    from de_polars_spark.config import DataConfig, DataExportType
    from de_polars_spark.inventory.dialect_macros import render
    from de_polars_spark.inventory.kpi_views import CUR_EXT_CTE
    from de_polars_spark.sources.partitioner import DataPartitioner
    from de_polars_spark.sources.registry import register_testdata

    register_testdata(spark, sf)
    cur = os.path.join(tmp, f"cur-{rep}")
    (spark.sql(render(CUR_EXT_CTE, "spark") + "\nSELECT * FROM cur")
     .repartition("billing_period").write.partitionBy("billing_period").parquet(cur))
    engine = FinOpsEngine(
        DataConfig(export_type=DataExportType.FOCUS_1_0, local_data_path=cur,
                   table_name="CUR"),
        spark=spark, now=NOW,
    )
    part = DataPartitioner(engine.engine, os.path.join(tmp, f"materialized-{rep}"), lib_dir)
    files = [f for fs in part.discover_sql_files().values() for f in fs]
    written = part.run_sql_files(files)
    return {"sf": sf, "cur": cur, "engine": engine, "handlers": FinOpsHandlers(engine),
            "part": part, "files": files, "written": written}


def setup_corpus(spark, tmp: str, rep: int, sf: str, lib_dir: str) -> dict:
    from de_polars_spark.operators import similarity
    from de_polars_spark.sources.registry import register_testdata

    frames = register_testdata(spark, sf)
    cents = similarity.fit_centroids_sample(
        frames["embeddings"], "vec_id", "embedding", nlist=IVF_NLIST)
    return {"sf": sf, "docs": frames["documents"], "emb": frames["embeddings"],
            "cents": cents}


# --------------------------------------------------------------------- #
# write path and library passes                                         #
# --------------------------------------------------------------------- #
def _du(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's markers and checksums
    are not data files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def rebuild_kpi_views(spark, sf: str) -> None:
    """Clear the KPI view artifacts over ``sf`` and rebuild them
    (``inventory.kpi_views``): the synthetic CUR and five view results
    written as parquet, then the tracker over them."""
    from de_polars_spark.inventory import kpi_views as KV

    with TRACER.span("views.materialize"):
        KV.clear_kpi_artifacts(sf)
        KV._KPI_VIEWS_READY.pop(spark.sparkContext.applicationId, None)
        KV._ensure_kpi_views(spark, sf)


def written_stats(ctx: dict, kpi_sf: str | None) -> dict:
    """What the last write path left on disk: the library outputs, the
    CUR they read, and the KPI view artifacts built over ``kpi_sf``."""
    from de_polars_spark.inventory import kpi_views as KV

    files, size = _du(ctx["part"].output_base_dir)
    return {"files_written": files, "mb_written": size / 1e6, "cur_mb": _du(ctx["cur"])[1] / 1e6,
            "artifact_mb": _du(KV._kpi_artifact_dir(kpi_sf))[1] / 1e6 if kpi_sf else 0.0}


class Materialize:
    """One pass: rebuild the KPI view artifacts, run the generated SQL
    library through DataPartitioner again, read every output back."""

    def __init__(self, spark, ctx: dict):
        self.spark, self.ctx = spark, ctx

    def run(self) -> dict:
        from pyspark.sql import functions as F

        spark, ctx = self.spark, self.ctx
        t0 = time.perf_counter()
        rebuild_kpi_views(spark, ctx["sf"])
        shutil.rmtree(ctx["part"].output_base_dir, ignore_errors=True)
        written = ctx["part"].run_sql_files(ctx["files"])
        readback = {}
        for rel, out in written.items():
            if not out.startswith("ERROR"):
                row = spark.read.parquet(out).agg(F.count("*"), F.sum("cost")).first()
                readback[rel] = [row[0], row[1]]
        return {"seconds": time.perf_counter() - t0, "outputs": written,
                "readback": readback, **written_stats(ctx, ctx["sf"])}


class Corpus:
    """One pass over a seeded doc / query-vector sample: text quality and
    language ID, exact + capped MinHash-LSH dedup, chunking, IVF top-k."""

    def __init__(self, spark, ctx: dict, seed: int, docs_per_pass: int):
        self.spark, self.ctx = spark, ctx
        docs = pq.read_table(os.path.join(ctx["sf"], "documents.parquet"),
                             columns=["doc_id", "text"]).to_pydict()
        copies: dict[str, list[int]] = {}
        for i, text in zip(docs["doc_id"], docs["text"]):
            copies.setdefault(text, []).append(i)
        n_emb = pq.read_metadata(os.path.join(ctx["sf"], "embeddings.parquet")).num_rows
        self.samples = gen.corpus_passes(
            seed, 64, len(docs["doc_id"]), n_emb, docs_per_pass, QUERIES_PER_PASS,
            sorted(g for g in copies.values() if len(g) > 1))
        self.i = 0

    def run(self) -> dict:
        from pyspark.sql import functions as F

        from de_polars_spark.functions import text as TX
        from de_polars_spark.operators import chunking, dedup, similarity

        spark, ctx = self.spark, self.ctx
        sample = self.samples[self.i % len(self.samples)]
        self.i += 1
        ids = spark.createDataFrame([(i,) for i in sample["doc_ids"]], "doc_id long")
        docs = ctx["docs"].join(ids, "doc_id", "left_semi")
        qids = spark.createDataFrame([(i,) for i in sample["query_ids"]], "vec_id long")
        queries = ctx["emb"].join(qids, "vec_id", "left_semi")
        t0 = time.perf_counter()
        with TRACER.span("functions.text"):
            text = docs.select(
                TX.predict_lang(F.col("text")).alias("lang"),
                TX.quality_score(F.col("text")).alias("q"),
            ).groupBy("lang").agg(F.count("*").alias("n"), F.sum("q").alias("q")).collect()
        with TRACER.span("operators.dedup"):
            exact = dedup.exact_dup_groups(docs, "doc_id", F.col("text")).filter(
                "group_size > 1").select("keep_id", "group_size").collect()
            pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", **LSH).collect()
            dedup.release_cached()
        with TRACER.span("operators.chunking"):
            chunks = chunking.chunk_documents(docs, "doc_id", "text", window=64, overlap=16).agg(
                F.count("*"), F.countDistinct("doc_id")).first()
        with TRACER.span("operators.similarity"):
            top = similarity.ivf_topk(ctx["emb"], queries, "vec_id", "embedding", ctx["cents"],
                                      k=IVF_K, nprobe=IVF_NPROBE).collect()
            similarity.release_cached()
        return {
            "seconds": time.perf_counter() - t0, "sample": sample,
            "text": {r["lang"]: [r["n"], r["q"]] for r in text},
            "exact": sorted([r["keep_id"], r["group_size"]] for r in exact),
            "pairs": sorted([r["id_a"], r["id_b"]] for r in pairs),
            "chunks": [chunks[0], chunks[1]],
            "topk": sorted([r["query_id"], r["neighbor_id"], r["rank"]] for r in top),
        }


# --------------------------------------------------------------------- #
# probes (active only while TRACER.on)                                  #
# --------------------------------------------------------------------- #
def install_probes() -> None:
    from pyspark.sql.classic.dataframe import DataFrame

    from de_polars_spark.analytics import ai, allocation, discounts, kpi, optimization, spend
    from de_polars_spark.analytics.base import AnalyticsModule
    from de_polars_spark.engine import core
    from de_polars_spark.sources.partitioner import DataPartitioner

    TRACER.wrap(core.SparkEngine, "query", "engine.query")
    TRACER.wrap(core, "translate_duckdb_sql", "engine.translate")
    TRACER.wrap(core.SparkEngine, "validate_select_only", "api.sql_guard")
    TRACER.wrap(core.SparkEngine, "register", "sources.register")
    TRACER.wrap(DataFrame, "toPandas", "api.result_collect")
    TRACER.wrap(AnalyticsModule, "_rows", "analytics.collect",
                after=lambda rows: TRACER.count("analytics.rows_collected", len(rows)))
    families = {"kpi": kpi.KPISummary, "spend": spend.SpendAnalytics,
                "optimization": optimization.OptimizationEngine,
                "allocation": allocation.CostAllocation,
                "discounts": discounts.DiscountTracking, "ai": ai.AIRecommendations}
    for fam, cls in families.items():
        for name in list(vars(cls)):
            if name.startswith(("get_", "simulate_", "analyze_")):
                TRACER.wrap(cls, name, f"analytics.{fam}")
    TRACER.wrap(kpi, "register_kpi_views", "views.register")
    TRACER.wrap(DataPartitioner, "run_sql_file", "sources.run_sql_file")


def make_server(spark, handlers, requests: dict):
    """The stdlib server from start_api, with a per-request job group and
    span when tracing is on (the client sends X-Request-Id)."""
    from start_api import make_handler_class

    sc = spark.sparkContext
    base = make_handler_class(handlers)

    class Handler(base):
        def _dispatch(self):
            if not TRACER.on:
                return base._dispatch(self)
            rid = self.headers.get("X-Request-Id", "")
            TRACER.request_id = rid
            sc.setJobGroup(rid, rid)
            try:
                with TRACER.span("api.request"):
                    base._dispatch(self)
            finally:
                TRACER.request_id = None
                tracker = sc.statusTracker()
                jobs = tracker.getJobIdsForGroup(rid)
                infos = [tracker.getJobInfo(j) for j in jobs]
                requests[rid] = {"jobs": len(jobs),
                                 "stages": sum(len(i.stageIds) for i in infos if i)}

        do_GET = do_POST = _dispatch

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    httpd.daemon_threads = True
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    return httpd


# --------------------------------------------------------------------- #
# reporting                                                             #
# --------------------------------------------------------------------- #
def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def jvm_pid() -> int | None:
    return next((p for p in _descendants(os.getpid()) if _comm(p) == "java"), None)


def jvm_heap_mb(spark) -> dict[str, float]:
    """The driver heap: committed (all of it is resident from the start,
    see ``start_session``) and the peak the collector's pools reached."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    peak = sum(pool.getPeakUsage().getUsed() for pool in mf.getMemoryPoolMXBeans()
               if pool.getType().toString() == "Heap memory")
    return {"committed": mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20,
            "peak_used": peak / 2**20}


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak RSS of this process and of the Spark driver JVM, and the
    driver heap's share of the latter."""
    jvm = jvm_pid()
    return {"python": _hwm_mb(os.getpid()), "jvm": _hwm_mb(jvm) if jvm else 0.0,
            **{f"heap_{k}": v for k, v in jvm_heap_mb(spark).items()}}


def final_report(spark, requests: dict, trace_path: str | None) -> dict:
    spans = TRACER.spans
    handler_s = {s["rid"]: s["end"] - s["start"] for s in spans
                 if s["name"] == "api.handler" and s["rid"]}
    for rid, rec in requests.items():
        rec["handler_s"] = handler_s.get(rid)
    if trace_path and spans:
        TRACER.write_trace_events(trace_path)
    by_phase: dict[str, list] = {}
    for s in spans:
        by_phase.setdefault(s["phase"], []).append(s)
    return {
        "peak_rss_mb": peak_rss_mb(spark),
        "requests": requests,
        "self_times": {ph: self_times(ss) for ph, ss in by_phase.items()},
        "counts": dict(TRACER.counts),
    }


# --------------------------------------------------------------------- #
# main                                                                  #
# --------------------------------------------------------------------- #
def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--reply-fd", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--trace-out")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    reply = os.fdopen(args.reply_fd, "w", buffering=1)

    def send(obj) -> None:
        reply.write(json.dumps(obj, default=str) + "\n")

    plan = session_plan()
    t0 = time.perf_counter()
    spark = start_session(args.tmp, plan)
    session_s = time.perf_counter() - t0
    install_probes()

    finops = args.workload in FINOPS
    setup = setup_finops if finops else setup_corpus
    tables = TABLES["finops" if finops else "corpus"]
    lib_dir = write_library(args.tmp, args.seed) if finops else None
    setup_times, ctx, kpi_views = [], None, None
    TRACER.on = bool(args.trace)
    if args.workload == "dashboard":
        # the KPI view artifacts' write path, once and untimed. It goes
        # first: it also pays the session's first-query costs, which would
        # otherwise land on one timed set-up; and the KPI route registers
        # its own view chain (same view names) when it is first called
        kpi_views = {"sf": stage_inputs(args.tmp, SETUP_REPS, tables, args.smoke)}
        t0 = time.perf_counter()
        rebuild_kpi_views(spark, kpi_views["sf"])
        kpi_views["seconds"] = time.perf_counter() - t0
    for rep in range(SETUP_REPS):
        sf = stage_inputs(args.tmp, rep, tables, args.smoke)
        t0 = time.perf_counter()
        ctx = setup(spark, args.tmp, rep, sf, lib_dir)
        setup_times.append(time.perf_counter() - t0)
    TRACER.on = False

    requests: dict = {}
    ready = {
        "session_s": session_s, "setup_times_s": setup_times,
        "setup_s": statistics.median(setup_times),
        "kpi_views_rebuild_s": kpi_views and kpi_views["seconds"],
        "session": plan, "pyspark": __import__("pyspark").__version__,
        "jdk": spark._jvm.java.lang.System.getProperty("java.version"),
        "sf": ctx["sf"], "cur": ctx.get("cur"), "jvm_pid": jvm_pid(),
    }
    if finops:
        ready.update(outputs_dir=ctx["part"].output_base_dir, outputs=ctx["written"],
                     written=written_stats(ctx, kpi_views and kpi_views["sf"]))
    loop = None
    if args.workload in ("dashboard", "adhoc_sql"):
        from de_polars_spark.api.handlers import ROUTES

        for name in set(ROUTES.values()):
            TRACER.wrap(ctx["handlers"], name, "api.handler")
        ready["port"] = make_server(spark, ctx["handlers"], requests).server_address[1]
    elif args.workload == "materialize":
        loop = Materialize(spark, ctx)
    else:
        loop = Corpus(spark, ctx, args.seed, DOCS_PER_PASS[args.smoke])
        ready.update(cents=ctx["cents"], ivf_k=IVF_K, ivf_nprobe=IVF_NPROBE)
    send(ready)

    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        if cmd[0] == "trace":
            TRACER.on = cmd[1] == "1"
            TRACER.phase = cmd[2] if len(cmd) > 2 else "window"
            send({"ok": True})
        elif cmd[0] == "passes":
            send({"passes": [loop.run() for _ in range(int(cmd[1]))]})
        elif cmd[0] == "loop":
            deadline = time.perf_counter() + float(cmd[1])
            passes = []
            while len(passes) < int(cmd[2]) or time.perf_counter() < deadline:
                passes.append(loop.run())
            send({"passes": passes})
        elif cmd[0] == "stop":
            TRACER.on = False
            send(final_report(spark, requests, args.trace_out))
            break
    reply.close()
    spark.stop()


if __name__ == "__main__":
    main()
