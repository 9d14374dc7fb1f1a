"""Physical-plan audit: the scale-design evidence behind every query.

For each ``queries()`` entry, render the formatted plan and extract the
facts that matter at 100 TB:

- scan width (ReadSchema column count) and pushed filters — is column
  pruning / predicate pushdown reaching the parquet scan?
- join strategies (broadcast vs sort-merge vs nested-loop/cartesian)
- shuffle count (Exchange nodes)
- whole-stage-codegen coverage (interpreted spans are a scale cliff)

Writes PLANS.md (markdown table + flag list). Run after plan-affecting
changes: ``python tools/audit_plans.py``.

Flags raised:
- ``cartesian``/``bnl-join`` on anything not whitelisted as an
  intentional scalar cross join
- a scan reading >30 columns (projection pruning failure)
- zero WholeStageCodegen spans (fully interpreted plan)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

#: Every BroadcastNestedLoopJoin / CartesianProduct must carry a written
#: justification here — the audit FAILS (exit 1) on any BNL without one,
#: and PLANS.md renders this table so a new scale-killer cannot hide
#: behind "Flags: None" (VERDICT r4 #8). Categories:
#:   broadcast-scalar — 1-row (or k-row literal) aggregate/codebook
#:     crossJoined into a projection; BuildRight on a handful of rows.
#:   eval-baseline — an exact brute-force relation that exists to GRADE
#:     an approximate path's recall; run on bounded query samples.
#:   algorithmic — the dense relation IS the algorithm (k-means
#:     assignment, un-pruned ADC); a documented scale path exists.
BNL_JUSTIFIED: dict[str, str] = {
    "forecast_linear_seasonal": "broadcast-scalar: VALUES list of forecast horizons",
    "ann_cosine_topk": (
        "eval-baseline: brute-force exact ANN baseline — broadcast query set x "
        "full corpus scan IS the algorithm; scale paths are ann_lsh/ann_ivf"
    ),
    "tfidf_top_terms": "broadcast-scalar: 1-row N/avgdl corpus aggregates",
    "bm25_search": "broadcast-scalar: 1-row N/avgdl corpus aggregates",
    "kmeans_embeddings": (
        "algorithmic: every vector scores all k centroids by construction — "
        "1-row k x dim centroid-array broadcast, map-side argmin"
    ),
    "vocab_coverage": "broadcast-scalar: 1-row token-total + vocab-size scalars",
    "basket_copurchase_lift": "broadcast-scalar: 1-row distinct-order count (lift denominator)",
    "text_unigram_logprob": "broadcast-scalar: 1-row token-total + vocab-size scalars",
    "dedup_semantic": (
        "algorithmic: k-means assignment centroid broadcast (operators/kmeans.py "
        "_with_assignment); the pair join itself is a cid SortMergeJoin"
    ),
    "quality_logreg_score": "broadcast-scalar: 1-row model weight vector",
    "ann_recall_eval": "eval-baseline: composes ann_cosine_topk's exact BNL to grade IVF recall",
    "dedup_graph_stats": "broadcast-scalar: three 1-row aggregates assembled (nodes x edges x triangles)",
    "zorder_clustering_stats": "broadcast-scalar: 1-row min/max key + z-value bounds",
    "freshness_lag_report": "broadcast-scalar: 1-row global-max-timestamp scalar",
    "negative_pair_sample": (
        "broadcast-scalar: 1-row corpus-count scalar sizing the bucket space "
        "(GREATEST(32, n/64)) into both join sides; the candidate join itself "
        "is a bucket equi-join with O(1) candidates per anchor"
    ),
    "histogram_equidepth_price": (
        "broadcast-scalar: the global (no-group) distributed rank crossJoins "
        "the 1-row sampled min/max range into the counts pass and the rank "
        "pass (operators/quantiles.with_global_rank); bucket offsets join by "
        "equi-key"
    ),
    "ann_pq_topk": (
        "algorithmic: 1-row m x ksub x dsub codebook broadcast; un-pruned ADC is "
        "by design a full-corpus pass (PQ without an IVF in front)"
    ),
    "ann_pq_recall_eval": "eval-baseline: exact baseline + un-pruned ADC, both documented BNL shapes",
    "ann_ivfpq_topk": (
        "broadcast-scalar: 1-row codebook/centroid broadcasts; the candidate join "
        "is a broadcast HASH join on the cell key"
    ),
    "dsir_importance_select": "broadcast-scalar: 1-row corpus/target token totals (pct_of_total pattern)",
    "psi_drift_report": "broadcast-scalar: 1-row grand totals into the 10-row PSI projection",
    "mixture_token_budget_plan": "broadcast-scalar: two 1-row scalar crossJoins on the 20-row source aggregate",
    "hard_negative_mining": (
        "eval-baseline: ann_cosine_topk's brute shape with a label-inequality "
        "predicate; scale path filters the persisted IVF probe output"
    ),
    "embedding_centroid_silhouette": "algorithmic: labels-row centroid-array broadcast (kmeans shape)",
    "timeseries_gapfill": "broadcast-scalar: 1-row (min,max) bounds x hour spine x distinct types — bounded by hours x types",
    "retrieval_mrr_ndcg": "eval-baseline: exact truth side grading the IVF probe path",
    "user_overlap_theta_sketch": "broadcast-scalar: non-equi (a<b) pair spine over the per-event-type theta table, bounded by C(groups,2)",
    "sequence_packing_plan": "broadcast-scalar: 1-row total-token scalar",
    "matryoshka_recall_eval": "eval-baseline: two exact brute relations (full-dim truth + truncated ranking)",
    "bitext_margin_mining": (
        "eval-baseline: exact A x B margin relation kept as the oracle/recall "
        "anchor; the production scale path is bitext_margin_mining_ivf "
        "(cell-bucketed, per-cell quadratic)"
    ),
    # round-6 clustered/near-dup recall fixtures (recall_clustered.py):
    # each composes an already-justified eval-baseline over a derived
    # corpus; the derivation itself is a 10-row (or N/4-leader)
    # broadcast join, never a BNL
    "ann_recall_eval_clustered": (
        "eval-baseline: ann_recall_eval's exact-BNL shape over the clustered "
        "fixture — grades the IVF operating point (measured recall 0.983)"
    ),
    "ann_pq_recall_eval_clustered": (
        "eval-baseline: ann_pq_recall_eval's exact + un-pruned ADC shapes over "
        "the clustered fixture (recall-ladder midpoint, 0.40)"
    ),
    "ann_pq_recall_eval_neardup": (
        "eval-baseline: same shapes over the near-dup fixture — PQ's designed "
        "regime (measured recall 0.933)"
    ),
    "bitext_ivf_pair_recall_clustered": (
        "eval-baseline: runs the exact miner (documented BNL anchor) AND the "
        "cell-bucketed IVF miner over the paired fixture to measure pair "
        "recall (1.0 over 100 true pairs)"
    ),
}
#: legacy alias used by older docs
CROSS_JOIN_OK = set(BNL_JUSTIFIED)

#: queries whose widest scan legitimately reads >30 columns: the CUR
#: amortized ladder consumes ~31 cost/attribute columns by construction
#: (reference kpi_instance_all.sql:19-115)
WIDE_SCAN_OK = {"kpi_view_instance_all", "kpi_view_tracker", "kpi_view_summary"}


def _explain(df, mode: str) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def audit(name: str, df) -> dict:
    # Execute first: AQE only finalizes join strategies / coalescing at
    # runtime, and codegen markers only exist on the final plan.
    df.collect()
    plan = _explain(df, "formatted")
    simple = _explain(df, "simple")
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    scan_widths = [len(s.split(",")) if s else 0 for s in scans]
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    n_pushed = sum(1 for p in pushed if p.strip())
    return {
        "name": name,
        "scans": len(scans),
        "max_scan_cols": max(scan_widths, default=0),
        "pushed_scans": n_pushed,
        # "(7) Exchange" detail headers are shuffle exchanges; broadcast
        # exchanges are the distinct "BroadcastExchange" node
        "shuffles": len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnl": plan.count("BroadcastNestedLoopJoin") + plan.count("CartesianProduct"),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", simple))),
        "plan": plan,
    }


def main() -> None:
    from pyspark.sql import SparkSession

    # mirror bench.py's session shape (local[cpus], shuffle partitions =
    # cpus, both from session_size): AQE finalizes join strategies from runtime
    # partition stats, so an audit session shaped differently from the
    # bench session audits DIFFERENT plans than the ones measured — at
    # sf1 the 8-partition shape even flipped a verification join to a
    # broadcast whose array-heavy build OOM'd while the bench shape ran
    # the same query clean
    from de_polars_spark.engine.session import session_size

    cpus, driver_mem = session_size()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("de_polars_spark-plan-audit")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        # artifact-building query constructors (pair graph, KPI wave,
        # IVF index) execute real jobs before the plan is explained —
        # at sf1 those OOM the 1g default heap
        .config("spark.driver.memory", driver_mem)
        # audit() executes each plan (AQE finalizes strategies at
        # runtime); at sf1 a broadcast-side build can exceed the 1g
        # default result cap mid-session even when the query's own
        # result is rows-small
        .config("spark.driver.maxResultSize", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    only = set(sys.argv[1:])
    rows, flags, justified = [], [], []
    from de_polars_spark.sources.artifacts import release_cached

    qs = entry_mod.queries()
    # run the heaviest spillers FIRST: a 200-plan sf1 session accumulates
    # tens of GB of shuffle files in spark.local.dir before ContextCleaner
    # catches up, and the exact n-gram anchor's own sort spill then hits
    # ENOSPC mid-audit even though the same plan runs clean standalone
    # (observed r7). Plan shapes are order-independent; disk headroom
    # isn't.
    for heavy in ("dedup_ngram_jaccard", "dedup_minhash_lsh",
                  "dedup_simhash_hamming"):
        if heavy in qs:
            qs = {heavy: qs.pop(heavy)} | qs

    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            info = audit(name, fn(spark, SF_DIR))
        except Exception as exc:  # pragma: no cover - audit robustness
            flags.append(f"- `{name}`: PLAN FAILED — {exc}")
            continue
        finally:
            # same hygiene as bench.py: dedup/similarity ops persist
            # internally; 200 executed plans otherwise accumulate
            # cached postings until the storage pressure distorts (or
            # kills) late queries
            release_cached()
            # and drop py4j refs promptly (same rationale as bench.py):
            # ContextCleaner can only release finished plans' broadcast
            # blocks once the driver-side references are GC'd — at sf1
            # the accumulated broadcast pressure otherwise OOMs a late
            # broadcast build (observed: dedup_ngram_jaccard PLAN FAILED
            # in the 202-plan audit session while the same query runs
            # clean standalone). Python gc alone is not enough when two
            # broadcast-heavy plans run back-to-back: the JVM may not
            # collect between them, so the prior plan's broadcast blocks
            # still occupy driver memory when the next build starts —
            # force a JVM GC and give the async cleaner a moment.
            import gc
            import time as _time

            gc.collect()
            spark._jvm.System.gc()
            _time.sleep(1.0)
        rows.append(info)
        if info["bnl"]:
            if name in BNL_JUSTIFIED:
                justified.append(
                    f"- `{name}` ({info['bnl']} BNL): {BNL_JUSTIFIED[name]}"
                )
            else:
                flags.append(
                    f"- `{name}`: {info['bnl']} UNJUSTIFIED nested-loop/"
                    "cartesian join(s) — add a BNL_JUSTIFIED entry or fix "
                    "the plan (audit FAILS on this)"
                )
        if info["max_scan_cols"] > 30 and name not in WIDE_SCAN_OK:
            flags.append(
                f"- `{name}`: widest scan reads {info['max_scan_cols']} columns — "
                "check projection pruning"
            )
        if info["codegen"] == 0 and info["scans"] > 0:
            # scans == 0 means the whole result is a driver-computed
            # LocalTableScan (e.g. nl_intent_router's parsed rows via
            # values_df) — there is nothing to codegen, by design
            flags.append(f"- `{name}`: no WholeStageCodegen span (interpreted plan)")
    if not only:
        audited = {r["name"] for r in rows}
        with_bnl = {r["name"] for r in rows if r["bnl"]}
        for s in sorted(set(BNL_JUSTIFIED) & audited - with_bnl):
            flags.append(
                f"- `{s}`: BNL_JUSTIFIED entry is STALE (plan has no "
                "nested-loop join anymore) — remove it"
            )

    out_name = os.environ.get("SPARK_GRAFT_PLANS_OUT", "PLANS.md")
    with open(os.path.join(REPO, out_name), "w") as f:
        f.write(
            "# Physical-plan audit\n\n"
            f"Generated by `tools/audit_plans.py` at `{SF_DIR}`. Facts that\n"
            "matter at 100 TB: pruned scans, pushed filters, broadcast joins\n"
            "for small dims, bounded shuffle count, codegen coverage.\n\n"
            "| query | scans | widest scan (cols) | pushed | shuffles | "
            "broadcast joins | sort-merge joins | nested-loop | codegen spans |\n"
            "|---|---|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write(
                f"| {r['name']} | {r['scans']} | {r['max_scan_cols']} | "
                f"{r['pushed_scans']} | {r['shuffles']} | {r['bhj']} | "
                f"{r['smj']} | {r['bnl']} | {r['codegen']} |\n"
            )
        f.write("\n## Justified nested-loop joins\n\n")
        f.write(
            "Every BroadcastNestedLoopJoin/CartesianProduct in the suite,\n"
            "with its written justification (an UNJUSTIFIED one is a flag\n"
            "and fails the audit):\n\n"
        )
        f.write("\n".join(justified) if justified else "None.")
        f.write("\n\n## Flags\n\n")
        f.write("\n".join(flags) if flags else "None — every plan is the intended shape.")
        f.write("\n")
    print(
        f"{out_name} written: {len(rows)} plans, {len(justified)} justified-BNL, "
        f"{len(flags)} flags"
    )
    for fl in flags:
        print(fl)
    spark.stop()
    if any(
        "UNJUSTIFIED" in fl or "STALE" in fl or "PLAN FAILED" in fl
        for fl in flags
    ):
        sys.exit(1)


if __name__ == "__main__":
    main()
