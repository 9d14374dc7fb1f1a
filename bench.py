"""Benchmark harness — times the full operator inventory on Spark.

Runs every ``queries()`` entry at ``$SPARK_GRAFT_SF_DIR`` (default: the
sf0.1 test data) on ``local[N]`` (N and the driver heap from
``engine.session.session_size``) and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec},
"sf": ...}.

Timing covers the full query lifecycle: plan construction + execution +
result collection (results are small aggregates; collect cost is the
API-edge cost a user pays too).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _cpu_calibration() -> float:
    """Fixed single-thread workload (md5 over 256 MB) in seconds.

    Recorded in every bench artifact so a cross-round uniform timing
    shift can be attributed: same code + same calibration = real
    regression; same code + shifted calibration = machine state (the
    r8->r9 floor question — r8's uniform 1.115x was adjudicated as
    session floor but could not be *measured* as such retroactively).
    """
    import hashlib
    import time as _t

    buf = b"\0" * (1 << 20)
    h = hashlib.md5()
    t0 = _t.perf_counter()
    for _ in range(256):
        h.update(buf)
    return round(_t.perf_counter() - t0, 4)


def _steal_jiffies() -> int | None:
    """Cumulative hypervisor steal time (jiffies) — VM-host contention."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except Exception:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from de_polars_spark.engine.session import session_size

    cpus, driver_mem = session_size()
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    calibration = _cpu_calibration()
    steal0 = _steal_jiffies()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("de_polars_spark-bench")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # static conf, default 100: a 145-query suite of large generated
        # classes evicts mid-suite, so late big plans (the KPI view wave,
        # ngram Jaccard) pay multi-second recompiles — measured up to
        # +20s of pure jitter on the wave when it lands at position ~80
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        # same raise as tools/audit_plans.py: at sf1 the exact n-gram
        # anchor's AQE broadcast build serializes ~1047 MiB of task
        # results — flaky against the 1 GiB default cap (observed r7:
        # two silent sf1 failures at 1047.4 MiB vs 1024 MiB)
        .config("spark.driver.maxResultSize", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    # run the KPI family's wave absorber first: the one-time KPI view
    # materialization (paid by whichever KPI query runs first) compiles
    # its ~100-column codegen units on a fresh JVM here (~13s at sf0.1)
    # instead of mid-suite under codegen-cache pressure (measured 23-43s
    # for the same work). Correctness head ordering (__spark_entry__)
    # is driver-sample territory and stays independent of this.
    if "kpi_view_tracker" in qs:
        qs = {"kpi_view_tracker": qs.pop("kpi_view_tracker")} | qs

    # optional subset run (e.g. the sf1 exact-anchor slice): comma-list
    # of query names; unknown names are reported, not silently dropped
    full_qs = qs
    only_raw = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").strip()
    if only_raw:
        only = [n.strip() for n in only_raw.split(",") if n.strip()]
        unknown = [n for n in only if n not in qs]
        if unknown:
            print(f"WARNING: unknown SPARK_GRAFT_BENCH_ONLY names: {unknown}",
                  file=sys.stderr)
        qs = {n: qs[n] for n in only if n in qs}
        if not qs:
            print("ERROR: SPARK_GRAFT_BENCH_ONLY matched no queries",
                  file=sys.stderr)
            sys.exit(2)

    # warm-up: JVM/codegen spin-up is a constant, not a per-query cost.
    # Warm with a known-cheap artifact-free query (r7 ADVICE: the old
    # "first query not in the subset" fallback could land on
    # kpi_view_tracker and silently pay the whole KPI wave untimed).
    # Prefer one OUTSIDE the timed subset — warming with a subset member
    # would skew its own first-rep timing favorably.
    _WARM_CANDIDATES = (
        "pricing_summary",            # 1.4s at sf0.1, plain scan+agg
        "distinct_months",            # 0.09s
        "scalar_functions_showcase",  # 0.07s
    )
    if only_raw:
        warm_fn = next(
            (full_qs[n] for n in _WARM_CANDIDATES
             if n in full_qs and n not in qs),
            None,
        )
        if warm_fn is None:
            # all candidates are inside the timed subset: warm with ANY
            # full-inventory query outside it before reusing a subset
            # member (r8 ADVICE — a subset member absorbing the JIT
            # warm-up untimed skews its own first-rep row favorably)
            warm_fn = next(
                (fn for n, fn in full_qs.items()
                 if n not in qs and not n.startswith("artifact:")),
                None,
            )
        if warm_fn is None:
            print("bench: WARNING warm-up reuses a timed subset member "
                  "(subset covers the whole inventory)", file=sys.stderr)
            warm_fn = next(iter(qs.values()))
    else:
        warm_fn = qs.get("pricing_summary", next(iter(qs.values())))
    warm_fn(spark, sf_dir).collect()
    # ... and so is Python/Arrow worker spin-up (one trivial mapInPandas
    # round trip): without it the first multimodal/mapInPandas query in
    # run order absorbs ~2s of worker fork cost, which moved between
    # queries whenever the head rotation changed run order (r6 verdict:
    # multimodal_resize "10x regression" that was pure relocation)
    spark.range(1).mapInPandas(lambda it: it, "id long").collect()
    # one-time synthetic-CUR materialization is shared test-data prep for
    # the whole kpi/finops/pricing family, not any single query's cost
    from de_polars_spark.inventory.kpi_views import _ensure_cur_ext, clear_kpi_artifacts

    _ensure_cur_ext(spark, sf_dir)
    # likewise the documents-as-JSONL fixture: the round-trip query
    # measures the line-splittable INGEST, not the one-time fixture copy
    from de_polars_spark.sources.jsonl import ensure_documents_jsonl

    ensure_documents_jsonl(spark, sf_dir)
    # drop any pre-existing KPI view artifacts: the materialization wave
    # must be paid (and measured) inside this run, not inherited from a
    # previous session's .cache
    clear_kpi_artifacts(sf_dir)
    # same honesty rule for the shared MinHash pair-graph artifact and
    # the persisted IVF index: cleared here, then rebuilt under their
    # own "artifact:*" rows below so the cost is measured under a
    # stable name instead of by whichever consumer runs first
    from de_polars_spark.inventory.llm_ops import (
        clear_dedup_pair_artifacts,
        clear_ivf_index_artifacts,
        clear_pq_artifacts,
    )

    clear_dedup_pair_artifacts(sf_dir)
    clear_ivf_index_artifacts(sf_dir)
    clear_pq_artifacts(sf_dir)
    # and the bucketed-table layouts: the shuffle-once write is measured
    # by the first bucketed-join query in the run
    from de_polars_spark.operators.bucketing import clear_bucketed_artifacts

    clear_bucketed_artifacts(spark, sf_dir)

    # Shared-artifact builds are timed as their OWN named rows (below,
    # "artifact:*") instead of being absorbed by whichever consumer
    # happens to run first: r5->r6 showed nine phantom ">1.5x
    # regressions" that were all build costs relocating to new
    # first-consumers after the correctness head rotated run order.
    # Consumers therefore measure WARM and stay comparable round over
    # round; the builds stay measured, just under stable names.
    import time as _t

    artifact_builds: dict[str, float] = {}

    def _pay(name: str, fn) -> None:
        t0 = _t.perf_counter()
        fn()
        artifact_builds[f"artifact:{name}"] = round(_t.perf_counter() - t0, 4)

    # Subset runs (SPARK_GRAFT_BENCH_ONLY) pay the SAME artifact rows as
    # full runs (r7 verdict: the sf3 subset artifact's empty
    # artifact_builds map folded the KPI wave / pair-graph / components
    # builds into their first consumers, so the committed scaling table
    # printed build-cost relocations — kpi_view_tracker "566x" — as
    # scaling numbers). Consumers now measure warm in every run shape.
    from de_polars_spark.inventory import llm_ops as _L
    from de_polars_spark.inventory.kpi_views import _ensure_kpi_views

    _pay("kpi_views", lambda: _ensure_kpi_views(spark, sf_dir))
    _pay(
        "dedup_pair_graph",
        lambda: _L._dedup_pair_graph(spark, sf_dir).count(),
    )
    _pay(
        "dedup_components",
        lambda: _L._dedup_components(spark, sf_dir).count(),
    )
    _pay("ivf_index", lambda: _L._ensure_ivf_index(spark, sf_dir))
    _pay("pq_codebooks", lambda: _L._ensure_pq_codebooks(spark, sf_dir))

    # Shared exact-rank probes (sampled bounds + exact bucket counts,
    # operators/quantiles.py): the probe collects run EAGERLY inside the
    # operators, so constructing the consumer plans and discarding them
    # pays exactly the probe jobs and nothing else. Consumers
    # (quantile_price_profile, median_abs_deviation pass 1,
    # embedding_norm_profile, histogram_equidepth_price) then measure
    # warm in every run shape, same honesty rule as the rows above.
    from de_polars_spark.operators.quantiles import clear_probe_memo

    clear_probe_memo()

    def _warm_quantile_probes() -> None:
        from de_polars_spark.inventory import QUERIES as _Q

        for _name in (
            "quantile_price_profile",
            "embedding_norm_profile",
            "histogram_equidepth_price",
        ):
            _Q[_name](spark, sf_dir)

    _pay("quantile_probe", _warm_quantile_probes)

    from de_polars_spark.operators.similarity import clear_ivf_cache
    from de_polars_spark.sources.artifacts import release_cached

    release_cached()  # builds persist shingle relations; queries start clean

    import gc

    # single pass by default (the driver's recording). Individual query
    # timings vary up to ~2.4x between contended and uncontended runs
    # while totals agree within ~15%; SPARK_GRAFT_BENCH_REPS=2 (or more)
    # times each query that many times and reports the per-query MIN.
    # NOTE on artifacts: the multi-consumer caches (KPI wave, pair
    # graph, components, IVF index, PQ codebooks) are cleared AND
    # rebuilt above under their own "artifact:*" rows, so every rep of
    # every consumer measures warm. Single-consumer builds (bucketed
    # layouts, recall fixtures) still land in their owning query's
    # first rep; ``timings_first`` preserves that build-paying number
    # while the MIN reports steady state.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "1")))
    timings: dict[str, float] = {}
    timings_first: dict[str, float] = {}
    for name, fn in qs.items():
        best = None
        for rep in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            elapsed = time.perf_counter() - t0
            if rep == 0:
                timings_first[name] = round(elapsed, 4)
            best = elapsed if best is None else min(best, elapsed)
            release_cached()  # operators persist per-call intermediates; no cross-query reuse
            # each query pays for its own IVF cell assignment, as before the cache
            clear_ivf_cache()
            # drop py4j refs promptly so ContextCleaner can release finished
            # queries' RDDs/broadcasts — a 100-query session otherwise carries
            # a cleanup backlog into the tail queries (measured as multi-second
            # jitter on the late KPI queries)
            gc.collect()
        timings[name] = round(best, 4)

    total = round(sum(timings.values()) + sum(artifact_builds.values()), 4)
    record = {
        "metric": "inventory_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "artifact_builds": artifact_builds,
        "sf": sf,
        "n_queries": len(timings),
    }
    # always recorded (even at reps=1, where it equals `queries`) so
    # first-rep diffs across artifacts are symmetric regardless of the
    # run shape (r7 verdict optional-hardening a)
    record["queries_first_rep"] = timings_first
    # tag exact-anchor / eval rows IN the artifact (r8 verdict optional
    # hardening c): a reader of the raw JSON sees which rows are
    # deliberately super-linear without cross-referencing the rendered
    # SCALING markdown
    from de_polars_spark.inventory.anchors import EXACT_ANCHORS

    record["anchor_kinds"] = {
        n: EXACT_ANCHORS[n]["kind"] for n in timings if n in EXACT_ANCHORS
    }
    # machine-state provenance: single-thread calibration + steal delta
    record["calibration_md5_sec"] = calibration
    steal1 = _steal_jiffies()
    if steal0 is not None and steal1 is not None:
        record["steal_jiffies_delta"] = steal1 - steal0
    if reps > 1:
        record["min_of"] = reps
    # flush: stdout is block-buffered when piped, so without it a hang or
    # kill in the artifact writes / spark.stop() below would lose the
    # record line the driver parses
    print(json.dumps(record), flush=True)
    # Persist the FULL per-query map to a committed artifact: the driver's
    # BENCH_r0N.json keeps only a truncated tail + top-10, which made the
    # r3->r4 regression diff nearly blind (6 of 142 queries comparable).
    # The round number is inferred as 1 + the highest existing driver
    # artifact (the driver writes BENCH_r0N.json AFTER this run), and the
    # stable -latest name feeds tools/bench_compare.py.
    #
    # Provenance split (r6 verdict item): single-pass runs — the
    # driver's recording — write to BENCH_full_driver_*, so they never
    # overwrite the builder's committed min-of-N artifacts; only reps>1
    # builder runs own the BENCH_full_rNN / BENCH_full_latest names.
    # Subset runs (SPARK_GRAFT_BENCH_ONLY) and non-default scale factors
    # get their own names so sf0.1 artifacts are never clobbered either.
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for f in os.listdir(here)
        if (m := re.match(r"BENCH_r(\d+)\.json$", f))
    ]
    nxt = (max(rounds) + 1) if rounds else 1
    sf_part = "" if sf == 0.1 else f"sf{sf:g}_".replace(".", "p")
    subset_part = "subset_" if only_raw else ""
    if reps == 1 and sf == 0.1 and not only_raw:
        # the driver's recording shape: single pass, default sf, full
        # inventory — its own name so it never clobbers committed maps
        names = (f"BENCH_full_driver_r{nxt:02d}.json",)
    else:
        names = (
            f"BENCH_full_{sf_part}{subset_part}r{nxt:02d}.json",
            f"BENCH_full_{sf_part}{subset_part}latest.json",
        )
    for fname in names:
        with open(os.path.join(here, fname), "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
            fh.write("\n")
    # The detailed line above is ~4 KB at 110 queries and overflows a
    # 2000-char tail capture (round 2's BENCH artifact recorded
    # parsed:null because of exactly this). Emit a compact summary LAST,
    # with only the slowest 10 per-query timings, so the final 2 KB of
    # stdout always contain one complete parseable JSON record.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    compact = {
        "metric": "inventory_suite_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries": slowest,
    }
    if reps > 1:
        compact["min_of"] = reps
    print(json.dumps(compact), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
