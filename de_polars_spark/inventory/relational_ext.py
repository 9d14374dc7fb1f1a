"""Extended relational operator inventory (beyond the reference surface).

Operator families the reference never uses but a complete analytics
engine must have — each bound to the testdata tables with a DuckDB
oracle, same contract as core_sql:

- multi-dimensional aggregation: ROLLUP / CUBE / GROUPING SETS with
  GROUPING() disambiguation (SURVEY.md §2.4 "Not present" list);
- exact interpolated percentiles (percentile_cont / quantile_cont);
- explicit window frames (ROWS BETWEEN n PRECEDING);
- semi/anti joins via EXISTS / NOT EXISTS (planned by Catalyst as
  LeftSemi/LeftAnti hash joins — SURVEY.md §2.3 "Not present");
- as-of (backward) join and bounded range join (operators/asof.py:
  single-shuffle union-sort plan / bucketed equi-join plan, vs the
  DuckDB ASOF JOIN and inequality-join oracles);
- corpus text ranking: TF-IDF top terms, BM25 retrieval, inverted
  index (operators/textrank.py);
- skew-salted two-phase aggregation (operators/skew.py), verified
  bit-identical to the direct groupBy oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_polars_spark.functions.local_relation import values_df
from de_polars_spark.inventory.dialect_macros import render
from de_polars_spark.operators import textrank
from de_polars_spark.operators.asof import asof_join_backward, range_count_join
from de_polars_spark.operators.merge import merge_snapshot
from de_polars_spark.operators.skew import salted_sum_count
from de_polars_spark.sources.registry import register_testdata

QUERIES: dict = {}
ORACLES: dict = {}


def _common(name: str, sql: str) -> None:
    """Register a query whose Spark and oracle forms render from one text."""

    def fn(spark: SparkSession, sf_dir: str, _sql: str = sql) -> DataFrame:
        register_testdata(spark, sf_dir)
        return spark.sql(render(_sql, "spark"))

    fn.__name__ = f"q_{name}"
    QUERIES[name] = fn
    ORACLES[name] = render(sql, "duckdb")


# --------------------------------------------------------------------- #
# ROLLUP — subtotal hierarchy with GROUPING() disambiguation             #
# --------------------------------------------------------------------- #
_common(
    "rollup_returnflag_status",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           DSUM(l_quantity) AS sum_qty,
           DSUM(l_extendedprice) AS sum_price,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)

# --------------------------------------------------------------------- #
# CUBE — all 4 grouping combinations in one pass                         #
# --------------------------------------------------------------------- #
_common(
    "cube_orders_status_priority",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           DSUM(o_totalprice) AS total_price,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)

# --------------------------------------------------------------------- #
# GROUPING SETS — explicit set list incl. grand total                    #
# --------------------------------------------------------------------- #
_common(
    "grouping_sets_lineitem",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           DSUM(l_extendedprice * (1 - l_discount)) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)

# --------------------------------------------------------------------- #
# Exact interpolated percentiles per group — distributed rank            #
# interpolation (operators/quantiles.py) instead of the built-in         #
# percentile_cont, whose per-group value buffer is O(group size); the    #
# DuckDB quantile_cont oracle pins the SQL-standard semantics            #
# --------------------------------------------------------------------- #
def q_quantile_price_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.quantiles import exact_quantiles

    t = register_testdata(spark, sf_dir)
    return exact_quantiles(
        t["lineitem"], ["l_returnflag"], "l_extendedprice", [0.25, 0.5, 0.75, 0.95]
    )


QUERIES["quantile_price_profile"] = q_quantile_price_profile
ORACLES["quantile_price_profile"] = render(
    """
    SELECT l_returnflag,
           ROUND(PCTL(l_extendedprice, 0.25), 6) AS p25,
           ROUND(PCTL(l_extendedprice, 0.5), 6) AS p50,
           ROUND(PCTL(l_extendedprice, 0.75), 6) AS p75,
           ROUND(PCTL(l_extendedprice, 0.95), 6) AS p95,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    """,
    "duckdb",
)

# --------------------------------------------------------------------- #
# Explicit ROWS frame — trailing-7-row moving average over daily sums    #
# --------------------------------------------------------------------- #
_common(
    "rolling_frame_avg",
    """
    WITH daily AS (
        SELECT event_type, DAY_STR(ts) AS day, DSUM(value) AS day_value
        FROM events GROUP BY event_type, DAY_STR(ts)
    )
    SELECT event_type, day, day_value,
           ROUND(SUM(day_value) OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                 / COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS avg_7d
    FROM daily
    """,
)

# --------------------------------------------------------------------- #
# Semi + anti join via EXISTS / NOT EXISTS                               #
# --------------------------------------------------------------------- #
_common(
    "semi_anti_open_only_customers",
    """
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey
                        AND o2.o_orderstatus = 'F')
    """,
)


# --------------------------------------------------------------------- #
# Window-function suite: the ranking/distribution functions the          #
# reference never uses (SURVEY §2.5 "No ROW_NUMBER/DENSE_RANK/NTILE/    #
# lead") — all over one named window with a total order                  #
# --------------------------------------------------------------------- #
_common(
    "window_rank_suite",
    """
    SELECT o_custkey, o_orderkey,
           CAST(DENSE_RANK() OVER w AS INT) AS dense_rk,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           LEAD(o_orderkey, 1) OVER w AS next_order,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume_dist
    FROM orders
    WHERE o_custkey < 300
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    """,
)


# --------------------------------------------------------------------- #
# PIVOT: status columns out of rows (Spark-native pivot operator vs the  #
# conditional-aggregation relational equivalent as oracle)               #
# --------------------------------------------------------------------- #
def q_pivot_orders_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    money = F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double")
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(money)
        .select(
            "o_orderpriority",
            F.col("O").alias("open_total"),
            F.col("F").alias("finished_total"),
            F.col("P").alias("pending_total"),
        )
    )


QUERIES["pivot_orders_status"] = q_pivot_orders_status
# no ELSE branch: an empty (priority, status) cell must be NULL in both
# engines, exactly as a pivot leaves holes
ORACLES["pivot_orders_status"] = """
    SELECT o_orderpriority,
           CAST(SUM(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END
                AS DECIMAL(38,6))) AS DOUBLE) AS open_total,
           CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END
                AS DECIMAL(38,6))) AS DOUBLE) AS finished_total,
           CAST(SUM(CAST(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END
                AS DECIMAL(38,6))) AS DOUBLE) AS pending_total
    FROM orders GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------- #
# UNPIVOT: wide per-flag sums back to (metric, value) long form          #
# --------------------------------------------------------------------- #
def q_unpivot_revenue_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)

    def dsum(c: str) -> F.Column:
        return F.sum(F.col(c).cast("decimal(38,6)")).cast("double").alias(c)

    wide = t["lineitem"].groupBy("l_returnflag").agg(
        dsum("l_extendedprice"), dsum("l_discount"), dsum("l_tax")
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )


QUERIES["unpivot_revenue_metrics"] = q_unpivot_revenue_metrics
ORACLES["unpivot_revenue_metrics"] = """
    WITH wide AS (
        SELECT l_returnflag,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS sum_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE)
                   AS sum_disc,
               CAST(SUM(CAST(l_tax AS DECIMAL(38,6))) AS DOUBLE) AS sum_tax
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'l_extendedprice' AS metric, sum_price AS value
    FROM wide
    UNION ALL
    SELECT l_returnflag, 'l_discount', sum_disc FROM wide
    UNION ALL
    SELECT l_returnflag, 'l_tax', sum_tax FROM wide
"""


# --------------------------------------------------------------------- #
# As-of join: attribute each purchase to the latest prior view           #
# --------------------------------------------------------------------- #
def q_asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    ev = t["events"]
    # dedup right side per (key, ts) -> "latest at or before" is total
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = asof_join_backward(
        purch, views, ["user_id"], "ts", "ts",
        {"view_event_id": "view_event_id", "view_ts": "ts"},
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return j.select(
        "event_id",
        "user_id",
        us("ts").alias("purchase_us"),
        "view_event_id",
        (us("ts") - us("view_ts")).alias("gap_us"),
    )


QUERIES["asof_purchase_attribution"] = q_asof_purchase_attribution
ORACLES["asof_purchase_attribution"] = """
    WITH v AS (
        SELECT user_id, ts, MAX(event_id) AS view_event_id
        FROM events WHERE event_type = 'view' GROUP BY 1, 2
    ),
    p AS (
        SELECT event_id, user_id, ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           epoch_us(p.ts) AS purchase_us,
           v.view_event_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND p.ts >= v.ts
"""


# --------------------------------------------------------------------- #
# Bounded range join: errors within 24h after each signup                #
# --------------------------------------------------------------------- #
def q_range_join_error_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    ev = t["events"]
    signups = ev.where(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.where(F.col("event_type") == "error").select("user_id", "ts")
    rc = range_count_join(
        signups, errors, ["user_id"], "ts", "ts", 86400, "n_errors_24h"
    )
    return rc.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("signup_us"),
        "n_errors_24h",
    )


QUERIES["range_join_error_burst"] = q_range_join_error_burst
ORACLES["range_join_error_burst"] = """
    SELECT s.event_id, s.user_id,
           epoch_us(s.ts) AS signup_us,
           COUNT(e.ts) AS n_errors_24h
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'signup') s
    LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'error') e
      ON e.user_id = s.user_id
     AND e.ts >= s.ts AND e.ts < s.ts + INTERVAL 24 HOUR
    GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------- #
# TF-IDF top terms per document (corpus-wide stats)                      #
# --------------------------------------------------------------------- #
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return textrank.tfidf_top_terms(
        t["documents"], "doc_id", "text", k=3,
        doc_filter=F.col("doc_id") < 30,
    )


QUERIES["tfidf_top_terms"] = q_tfidf_top_terms
ORACLES["tfidf_top_terms"] = """
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    tok AS (
        SELECT doc_id, len(toks) AS doc_len, unnest(toks) AS term FROM base
    ),
    tf AS (
        SELECT doc_id, doc_len, term, COUNT(*) AS tf
        FROM tok GROUP BY 1, 2, 3
    ),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND((CAST(tf.tf AS DOUBLE) / tf.doc_len)
                     * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
        WHERE tf.doc_id < 30
    )
    SELECT doc_id, term, tfidf, CAST(rk AS INT) AS rk FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
        FROM scored
    ) WHERE rk <= 3
"""


# --------------------------------------------------------------------- #
# BM25 retrieval: top-10 docs for a fixed bag-of-words query             #
# --------------------------------------------------------------------- #
_BM25_TERMS = ["spark", "merge", "window"]


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return textrank.bm25_topk(
        t["documents"], "doc_id", "text", _BM25_TERMS, k=10
    )


_terms_sql = ", ".join(f"'{t}'" for t in _BM25_TERMS)
ORACLES["bm25_search"] = f"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    tok AS (
        SELECT doc_id, len(toks) AS doc_len, unnest(toks) AS term FROM base
    ),
    tf AS (
        SELECT doc_id, doc_len, term, COUNT(*) AS tf
        FROM tok WHERE term IN ({_terms_sql}) GROUP BY 1, 2, 3
    ),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl
        FROM base
    ),
    scored AS (
        SELECT tf.doc_id,
               ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.doc_len / stats.avgdl))
               AS part
        FROM tf JOIN df USING (term) CROSS JOIN stats
    )
    SELECT doc_id,
           ROUND(CAST(SUM(CAST(part AS DECIMAL(38,6))) AS DOUBLE), 6)
               AS bm25,
           COUNT(*) AS n_terms_hit
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 10
"""
QUERIES["bm25_search"] = q_bm25_search


# --------------------------------------------------------------------- #
# Inverted index: term -> df + sorted postings                           #
# --------------------------------------------------------------------- #
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    idx = textrank.inverted_index(t["documents"], "doc_id", "text", min_df=25)
    # the operator's array<bigint> postings column is its real API; the
    # inventory edge serializes it to a csv string because the driver's
    # canonicalizer hashes scalar cells only (r4's lone red row)
    return idx.select(
        "term",
        "df",
        F.array_join(F.col("postings").cast("array<string>"), ",").alias(
            "postings"
        ),
    )


QUERIES["inverted_index"] = q_inverted_index
ORACLES["inverted_index"] = """
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS term
        FROM documents
    )
    SELECT term,
           COUNT(DISTINCT doc_id) AS df,
           array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
    FROM tok GROUP BY term
    HAVING COUNT(DISTINCT doc_id) >= 25
    ORDER BY term
"""


# --------------------------------------------------------------------- #
# Engine-reproducible HyperLogLog: approximate distinct counting whose   #
# sketch is EXACTLY reproducible across engines. Register index and      #
# leading-zero rank come from the md5-derived 60-bit hash; register      #
# sums are scaled to integers (2^(53-rho)) so the harmonic-mean          #
# accumulation is order-independent and bit-exact — the approximate      #
# estimate itself hash-matches the oracle. m=256 registers -> ~6.5%      #
# relative error; the exact COUNT(DISTINCT) rides along for comparison. #
# At 100 TB this is the mergeable one-pass alternative to the exact      #
# distinct's full shuffle (256 longs per group vs all distinct values). #
# --------------------------------------------------------------------- #
_common(
    "approx_distinct_hll",
    """
    WITH hashed AS (
        SELECT event_type, user_id,
               BITAND(HASH60(TO_STR(user_id)), 255) AS reg,
               SHIFTR(HASH60(TO_STR(user_id)), 8) AS w
        FROM events
    ),
    regs AS (
        -- rho via integer bit-length: floor(log2(w)) = length(bin(w))-1.
        -- libm float log is not correctly-rounded at exact powers of two,
        -- so JVM and DuckDB could disagree by 1; bin() is integer-exact.
        SELECT event_type, reg,
               MAX(CASE WHEN w = 0 THEN 53
                        ELSE 53 - CAST(LENGTH(bin(w)) AS INT)
                   END) AS rho
        FROM hashed GROUP BY event_type, reg
    ),
    sums AS (
        SELECT event_type,
               SUM(SHIFTL(1, 53 - rho))
                   + (256 - COUNT(*)) * 9007199254740992 AS s,
               COUNT(*) AS n_registers
        FROM regs GROUP BY event_type
    ),
    exact AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
        FROM events GROUP BY event_type
    ),
    raw AS (
        SELECT event_type, n_registers,
               0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
                   * 9007199254740992.0 / s AS e_raw
        FROM sums
    )
    SELECT r.event_type,
           ROUND(CASE WHEN r.e_raw <= 640.0 AND r.n_registers < 256
                      THEN 256.0 * ln(256.0 / (256 - r.n_registers))
                      ELSE r.e_raw END, 3) AS hll_estimate,
           r.n_registers,
           e.exact_distinct
    FROM raw r
    JOIN exact e ON r.event_type = e.event_type
    """,
)

# --------------------------------------------------------------------- #
# Count-Min sketch heavy-hitter estimates: 4 hash rows x 512 cells of    #
# pure integer counts (bit-exact in any engine), point-queried for a    #
# fixed key set with the exact counts alongside. The sketch table is    #
# 2048 longs per group — mergeable and constant-size at any data scale. #
# --------------------------------------------------------------------- #
_CMS_DEPTH, _CMS_WIDTH = 4, 512
_CMS_KEYS = (0, 7, 42, 99, 149)


def _cms_sql() -> str:
    cell = "(HASH60(TO_STR(user_id) || '#{j}') % {w})"
    hashed = "\n        UNION ALL ".join(
        f"SELECT {j} AS j, {cell.format(j=j, w=_CMS_WIDTH)} AS cell FROM events"
        for j in range(_CMS_DEPTH)
    )
    thash = "\n        UNION ALL ".join(
        f"SELECT user_id, {j} AS j, {cell.format(j=j, w=_CMS_WIDTH)} AS cell "
        "FROM targets"
        for j in range(_CMS_DEPTH)
    )
    targets = " UNION ALL ".join(f"SELECT {k} AS user_id" for k in _CMS_KEYS)
    keys_in = ", ".join(str(k) for k in _CMS_KEYS)
    return f"""
    WITH cms AS (
        SELECT j, cell, COUNT(*) AS c FROM (
        {hashed}
        ) h GROUP BY j, cell
    ),
    targets AS ({targets}),
    thash AS (
        {thash}
    ),
    est AS (
        SELECT t.user_id, MIN(COALESCE(c.c, 0)) AS cms_estimate
        FROM thash t LEFT JOIN cms c ON t.j = c.j AND t.cell = c.cell
        GROUP BY t.user_id
    ),
    exact AS (
        SELECT user_id, COUNT(*) AS exact_count
        FROM events WHERE user_id IN ({keys_in})
        GROUP BY user_id
    )
    SELECT e.user_id, e.cms_estimate, COALESCE(x.exact_count, 0) AS exact_count
    FROM est e LEFT JOIN exact x ON e.user_id = x.user_id
    """


# Spark side: ONE scan of events with a 4-struct explode (the oracle's
# UNION ALL form re-reads the table once per hash row — fine for DuckDB,
# but at scale the single-pass sketch build is the point). Hash text is
# rendered from the same HASH60 macro, so the cells are bit-identical.
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    ev = t["events"]

    def cell(j: int) -> F.Column:
        return F.expr(
            render(f"(HASH60(TO_STR(user_id) || '#{j}') % {_CMS_WIDTH})", "spark")
        )

    hashes = F.array(
        *[
            F.struct(F.lit(j).alias("j"), cell(j).alias("cell"))
            for j in range(_CMS_DEPTH)
        ]
    )
    cms = (
        ev.select(F.explode(hashes).alias("h"))
        .groupBy(F.col("h.j").alias("j"), F.col("h.cell").alias("cell"))
        .agg(F.count("*").alias("c"))
    )
    targets = values_df(spark, [(k,) for k in _CMS_KEYS], "user_id bigint")
    thash = targets.select(
        "user_id", F.explode(hashes).alias("h")
    ).select("user_id", F.col("h.j").alias("j"), F.col("h.cell").alias("cell"))
    est = (
        thash.join(F.broadcast(cms), ["j", "cell"], "left")
        .groupBy("user_id")
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("cms_estimate"))
    )
    exact = (
        ev.where(F.col("user_id").isin(list(_CMS_KEYS)))
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_count"))
    )
    return est.join(exact, "user_id", "left").select(
        "user_id",
        "cms_estimate",
        F.coalesce("exact_count", F.lit(0)).alias("exact_count"),
    )


QUERIES["heavy_hitters_cms"] = q_heavy_hitters_cms
ORACLES["heavy_hitters_cms"] = render(_cms_sql(), "duckdb")

# --------------------------------------------------------------------- #
# Equal-width histogram: manual bucketing (identical arithmetic in both  #
# engines; one map-side-combinable aggregation)                          #
# --------------------------------------------------------------------- #
_common(
    "histogram_price",
    """
    SELECT CAST(LEAST(FLOOR(l_extendedprice / 5000.0), 23) AS INT) AS bucket,
           COUNT(*) AS n_items,
           DSUM(l_extendedprice) AS bucket_total
    FROM lineitem
    GROUP BY 1
    """,
)

# --------------------------------------------------------------------- #
# Correlation / covariance from exact decimal co-moments: corr() built   #
# from order-independent sums so both engines compute identical doubles  #
# (a one-pass corr over floats is partial-agg-order sensitive)           #
# --------------------------------------------------------------------- #
_common(
    "corr_qty_price",
    """
    WITH moments AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               DSUM(l_quantity) AS sx,
               DSUM(l_extendedprice) AS sy,
               DSUM(l_quantity * l_quantity) AS sxx,
               DSUM(l_extendedprice * l_extendedprice) AS syy,
               DSUM(l_quantity * l_extendedprice) AS sxy
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy) / (n * (n - 1)), 6) AS covar_samp,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 6) AS corr
    FROM moments
    """,
)


# --------------------------------------------------------------------- #
# Snapshot MERGE: corpus refresh with upserts, inserts, and deletes      #
# (Delta-style MERGE semantics on plain parquet — anti join + union)     #
# --------------------------------------------------------------------- #
def q_merge_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text", "source")
    # deterministic synthetic change set: re-crawls, arrivals, takedowns
    recrawled = (
        docs.where(F.col("doc_id") % 7 == 0)
        .withColumn("text", F.concat(F.lit("v2 "), F.col("text")))
        .withColumn("op", F.lit("upsert"))
    )
    arrivals = (
        docs.where(F.col("doc_id") % 13 == 0)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("op", F.lit("upsert"))
    )
    takedowns = (
        docs.where(F.col("doc_id") % 29 == 1)
        .withColumn("text", F.lit(None).cast("string"))
        .withColumn("op", F.lit("delete"))
    )
    changes = recrawled.unionByName(arrivals).unionByName(takedowns)
    merged = merge_snapshot(docs, changes, ["doc_id"], "op")
    return merged.select(
        "doc_id", F.md5("text").alias("text_md5"), "source"
    )


QUERIES["merge_upsert_snapshot"] = q_merge_upsert_snapshot
ORACLES["merge_upsert_snapshot"] = """
    WITH docs AS (SELECT doc_id, text, source FROM documents),
    changes AS (
        SELECT doc_id, 'v2 ' || text AS text, source, 'upsert' AS op
        FROM docs WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 100000, text, source, 'upsert'
        FROM docs WHERE doc_id % 13 = 0
        UNION ALL
        SELECT doc_id, NULL, source, 'delete'
        FROM docs WHERE doc_id % 29 = 1
    )
    SELECT d.doc_id, md5(d.text) AS text_md5, d.source
    FROM docs d
    WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.doc_id = d.doc_id)
    UNION ALL
    SELECT doc_id, md5(text), source FROM changes WHERE op = 'upsert'
"""


# --------------------------------------------------------------------- #
# Skew-salted two-phase aggregation (== direct groupBy, bit-identical)   #
# --------------------------------------------------------------------- #
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    return salted_sum_count(
        t["events"], ["event_type"], F.col("value"), F.col("event_id"),
        n_salts=32, sum_alias="total_value", count_alias="n_events",
    )


QUERIES["skew_salted_agg"] = q_skew_salted_agg
ORACLES["skew_salted_agg"] = """
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------- #
# Data-quality report as a single-pass query: the metrics behind         #
# utils/validators.validate_cost_data (negatives, critical nulls,        #
# staleness, duplicates), one conditional aggregation over the CUR       #
# --------------------------------------------------------------------- #
def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.inventory.kpi_views import _ensure_cur_ext

    _ensure_cur_ext(spark, sf_dir)
    return spark.sql(
        """
        SELECT COUNT(*) AS total_rows,
               COUNT_IF(line_item_unblended_cost < 0) AS n_negative_cost,
               COUNT_IF(line_item_product_code IS NULL
                        OR line_item_product_code = '') AS n_missing_code,
               COUNT_IF(line_item_usage_account_id IS NULL
                        OR line_item_usage_account_id = '') AS n_missing_account,
               unix_micros(CAST(MAX(line_item_usage_start_date) AS TIMESTAMP))
                   AS latest_usage_us,
               COUNT(*) - COUNT(DISTINCT md5(concat_ws('|',
                   line_item_usage_account_id, line_item_product_code,
                   line_item_usage_start_date, line_item_unblended_cost)))
                   AS n_duplicate_keys
        FROM cur_ext
        """
    )


QUERIES["data_quality_report"] = q_data_quality_report
from de_polars_spark.inventory.kpi_views import CUR_EXT_CTE as _CUR_CTE  # noqa: E402

ORACLES["data_quality_report"] = render(_CUR_CTE, "duckdb") + """
    SELECT COUNT(*) AS total_rows,
           COUNT(*) FILTER (line_item_unblended_cost < 0) AS n_negative_cost,
           COUNT(*) FILTER (line_item_product_code IS NULL
                            OR line_item_product_code = '') AS n_missing_code,
           COUNT(*) FILTER (line_item_usage_account_id IS NULL
                            OR line_item_usage_account_id = '') AS n_missing_account,
           epoch_us(MAX(line_item_usage_start_date)) AS latest_usage_us,
           COUNT(*) - COUNT(DISTINCT md5(concat_ws('|',
               line_item_usage_account_id, line_item_product_code,
               line_item_usage_start_date, line_item_unblended_cost)))
               AS n_duplicate_keys
    FROM cur
"""


# --------------------------------------------------------------------- #
# ANALYZE-style column statistics: the min/max/NDV/null profile a        #
# cost-based optimizer ingests, one pass per table                       #
# --------------------------------------------------------------------- #
_common(
    "column_stats_profile",
    """
    WITH s AS (
        SELECT COUNT(*) AS n_rows,
               CAST(MIN(l_quantity) AS DOUBLE) AS qty_min,
               CAST(MAX(l_quantity) AS DOUBLE) AS qty_max,
               COUNT(DISTINCT l_quantity) AS qty_ndv,
               COUNT(*) - COUNT(l_quantity) AS qty_nulls,
               CAST(MIN(l_extendedprice) AS DOUBLE) AS price_min,
               CAST(MAX(l_extendedprice) AS DOUBLE) AS price_max,
               COUNT(DISTINCT l_extendedprice) AS price_ndv,
               COUNT(*) - COUNT(l_extendedprice) AS price_nulls,
               CAST(MIN(l_suppkey) AS DOUBLE) AS supp_min,
               CAST(MAX(l_suppkey) AS DOUBLE) AS supp_max,
               COUNT(DISTINCT l_suppkey) AS supp_ndv,
               COUNT(*) - COUNT(l_suppkey) AS supp_nulls
        FROM lineitem
    )
    SELECT 'l_quantity' AS column_name, qty_min AS min_val, qty_max AS max_val,
           qty_ndv AS ndv, qty_nulls AS n_nulls, n_rows FROM s
    UNION ALL
    SELECT 'l_extendedprice', price_min, price_max, price_ndv, price_nulls,
           n_rows FROM s
    UNION ALL
    SELECT 'l_suppkey', supp_min, supp_max, supp_ndv, supp_nulls, n_rows
    FROM s
    """,
)


# --------------------------------------------------------------------- #
# Incremental aggregate maintenance: merge a delta's partial aggregates  #
# into a base aggregate instead of recomputing — the IVM identity for    #
# distributive aggregates (SUM/COUNT merge; AVG derives). Verified by    #
# the oracle computing the same totals over the full table directly.     #
# --------------------------------------------------------------------- #
def q_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    ev = t["events"]

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.sum(F.col("value").cast("decimal(38,6)")).alias("__s"),
            F.count("*").alias("__n"),
        )

    base = partial(ev.where(F.col("event_id") % 5 != 0))
    delta = partial(ev.where(F.col("event_id") % 5 == 0))
    merged = (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(F.sum("__s").alias("__s"), F.sum("__n").alias("__n"))
    )
    return merged.select(
        "event_type",
        F.col("__s").cast("double").alias("total_value"),
        F.col("__n").alias("n_events"),
        (F.col("__s").cast("double") / F.col("__n")).alias("avg_value"),
    )


QUERIES["incremental_agg_maintenance"] = q_incremental_agg_maintenance
ORACLES["incremental_agg_maintenance"] = """
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
               AS avg_value
    FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------- #
# Snapshot diff (CDC derivation): classify rows between two snapshot     #
# versions as inserted / deleted / changed / unchanged — the inverse of  #
# merge_snapshot, one full-outer join on the key                         #
# --------------------------------------------------------------------- #
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_testdata(spark, sf_dir)
    old = t["documents"].select("doc_id", "text")
    # deterministic synthetic v2: edits, deletes, inserts
    new = (
        t["documents"]
        .where(F.col("doc_id") % 11 != 3)  # deletes
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 2,
                F.concat(F.lit("edited "), F.col("text")),
            ).otherwise(F.col("text")),
        )
        .select("doc_id", "text")
        .unionByName(
            t["documents"]
            .where(F.col("doc_id") % 13 == 5)  # inserts
            .select((F.col("doc_id") + 200000).alias("doc_id"), "text")
        )
    )
    j = old.withColumnRenamed("text", "__old").join(
        new.withColumnRenamed("text", "__new"), "doc_id", "full_outer"
    )
    classified = j.select(
        "doc_id",
        F.when(F.col("__old").isNull(), F.lit("inserted"))
        .when(F.col("__new").isNull(), F.lit("deleted"))
        .when(F.col("__old") != F.col("__new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )
    return classified.groupBy("change").agg(
        F.count("*").alias("n_rows"), F.sum("doc_id").alias("id_checksum")
    )


QUERIES["snapshot_diff"] = q_snapshot_diff
ORACLES["snapshot_diff"] = """
    WITH old AS (SELECT doc_id, text FROM documents),
    new AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 2 THEN 'edited ' || text ELSE text END
                   AS text
        FROM documents WHERE doc_id % 11 != 3
        UNION ALL
        SELECT doc_id + 200000, text FROM documents WHERE doc_id % 13 = 5
    ),
    j AS (
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'inserted'
                    WHEN n.doc_id IS NULL THEN 'deleted'
                    WHEN o.text != n.text THEN 'changed'
                    ELSE 'unchanged' END AS change
        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT change, COUNT(*) AS n_rows,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM j GROUP BY change
"""


# --------------------------------------------------------------------- #
# Sequential funnel: users progressing view -> click -> purchase IN      #
# ORDER. Each stage's entry time is the MIN event time after the         #
# previous stage's entry — three chained conditional aggregations over   #
# the same events relation, each one shuffle on user_id (AQE reuses the  #
# partitioning). The classic ordered-pattern query family.               #
# --------------------------------------------------------------------- #
_common(
    "funnel_view_click_purchase",
    """
    WITH s1 AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        FROM events GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id,
               MIN(CASE WHEN e.event_type = 'click' AND e.ts > s1.t_view
                        THEN e.ts END) AS t_click,
               MIN(s1.t_view) AS t_view
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE s1.t_view IS NOT NULL
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id,
               MIN(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t_click
                        THEN e.ts END) AS t_purchase,
               MIN(s2.t_click) AS t_click,
               MIN(s2.t_view) AS t_view
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE s2.t_click IS NOT NULL
        GROUP BY e.user_id
    )
    SELECT COUNT(*) AS n_viewed,
           COUNT(t_click) AS n_clicked_after_view,
           COUNT(t_purchase) AS n_purchased_after_click,
           EPOCH_US(MIN(t_purchase)) AS first_completion_us,
           CAST(SUM(CASE WHEN t_purchase IS NOT NULL
                    THEN EPOCH_US(t_purchase) - EPOCH_US(t_view) END)
                AS BIGINT) AS total_funnel_us
    FROM (
        SELECT s1.user_id, s2.t_click, s3.t_purchase, s1.t_view
        FROM s1
        LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
        WHERE s1.t_view IS NOT NULL
    )
    """,
)


# --------------------------------------------------------------------- #
# Top-k WITH TIES: RANK-based cut keeps every row tied at the boundary   #
# (row_number top-k silently drops tied peers — a different operator)    #
# --------------------------------------------------------------------- #
_common(
    "topk_with_ties",
    """
    SELECT o_orderpriority, o_custkey, o_orderkey, bucket_price,
           CAST(rk AS INT) AS rk
    FROM (
        SELECT o_orderpriority, o_custkey, o_orderkey,
               CAST(FLOOR(o_totalprice / 10000.0) * 10000 AS DOUBLE)
                   AS bucket_price,
               RANK() OVER (PARTITION BY o_orderpriority
                            ORDER BY FLOOR(o_totalprice / 10000.0) DESC)
                   AS rk
        FROM orders
    )
    WHERE rk <= 3
    """,
)


# --------------------------------------------------------------------- #
# Median absolute deviation: robust dispersion via two chained exact     #
# medians (operators/quantiles.py both times — no per-group buffers)     #
# --------------------------------------------------------------------- #
def q_median_abs_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators.quantiles import exact_quantiles, probe_bounds

    t = register_testdata(spark, sf_dir)
    # same probe as quantile_price_profile (same data, keys and value):
    # the median pass reuses it; the deviation pass below probes its own
    # derived column.
    med_q = exact_quantiles(
        t["lineitem"], ["l_returnflag"], "l_extendedprice", [0.5]
    ).select("l_returnflag", F.col("p50").alias("__med"))
    # materialize the G-row median (bounded: one row per return flag)
    # so the second exact_quantiles pass doesn't re-run the first
    # pipeline once per downstream branch (a local relation: memoizable)
    med_rows = med_q.collect()
    med = values_df(spark, med_rows, "l_returnflag string, __med double")
    dev = (
        t["lineitem"]
        .join(F.broadcast(med), "l_returnflag")
        .select(
            "l_returnflag",
            F.abs(F.col("l_extendedprice") - F.col("__med")).alias("__dev"),
        )
    )
    # the deviation pass's range bounds derive ARITHMETICALLY from the
    # median pass's (now-memoized) sampled price bounds — |x - med| per
    # group spans [0, max(hi - med, med - lo)] — so the second probe's
    # full sample scan is skipped (guide §1.2: one fewer pass). Bounds
    # only balance buckets, never a quantile (operators/quantiles.py
    # contract), so this cannot change the MAD.
    price_bounds = probe_bounds(t["lineitem"], ["l_returnflag"], "l_extendedprice")
    dev_bounds = None
    if price_bounds is not None:
        med_by_key = {r["l_returnflag"]: r["__med"] for r in med_rows}
        dev_bounds = []
        for r in price_bounds:
            m = med_by_key.get(r["l_returnflag"])
            lo, hi = r["__blo"], r["__bhi"]
            if m is None or lo is None or hi is None:
                continue  # group missed by sample/median: single-bucket path
            dev_bounds.append(
                (r["l_returnflag"], 0.0, max(float(hi) - m, m - float(lo)))
            )
    mad = exact_quantiles(
        dev, ["l_returnflag"], "__dev", [0.5], bounds_rows=dev_bounds
    )
    return mad.select(
        "l_returnflag",
        F.col("p50").alias("mad"),
        F.col("n_items").alias("n_items"),
    ).join(med.select("l_returnflag", F.col("__med").alias("median")), "l_returnflag")


QUERIES["median_abs_deviation"] = q_median_abs_deviation
ORACLES["median_abs_deviation"] = """
    WITH med AS (
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           ROUND(quantile_cont(abs(l.l_extendedprice - m.median), 0.5), 6)
               AS mad,
           COUNT(*) AS n_items,
           m.median
    FROM lineitem l JOIN med m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag, m.median
"""


# --------------------------------------------------------------------- #
# Mergeable approximate quantiles: fixed 128-bin equi-width histogram    #
# over a known value range + linear interpolation inside the hit bin.    #
# The 100 TB alternative to exact percentiles (which need a full sort /  #
# two-phase global rank): histogram state is 128 integer counts per      #
# group — map-side combinable, mergeable across partitions/streams, and  #
# integer-exact in any engine, so the approximate answer itself          #
# hash-matches the oracle. Error <= bin width (range/128).               #
# --------------------------------------------------------------------- #
_HB_N = 128


def _hist_quantile_sql() -> str:
    # o_totalprice at any SF is bounded by [0, 600000) for TPC-H-ish data;
    # the bin formula clamps so range drift degrades accuracy, not safety
    return f"""
    WITH binned AS (
        SELECT o_orderpriority,
               LEAST({_HB_N - 1},
                     CAST(FLOOR(o_totalprice / (600000.0 / {_HB_N})) AS INT))
                   AS bin
        FROM orders
    ),
    hist AS (
        SELECT o_orderpriority, bin, COUNT(*) AS c
        FROM binned GROUP BY o_orderpriority, bin
    ),
    cum AS (
        SELECT o_orderpriority, bin, c,
               SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum_c,
               SUM(c) OVER (PARTITION BY o_orderpriority) AS n
        FROM hist
    ),
    hit AS (
        SELECT o_orderpriority, bin, c, cum_c, n,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY bin) AS rk
        FROM cum
        WHERE cum_c >= 0.5 * n
    )
    SELECT o_orderpriority,
           CAST(n AS BIGINT) AS n_orders,
           ROUND(CAST((bin + (CAST(n AS DOUBLE) * 0.5 - (cum_c - c)) / c)
                      * (600000.0 / {_HB_N}) AS DOUBLE), 6) AS p50_estimate
    FROM hit WHERE rk = 1
    """


_common("histogram_median_mergeable", _hist_quantile_sql())


# --------------------------------------------------------------------- #
# Incremental dedup: a NEW batch of documents arrives; which survive     #
# exact-dedup against the fingerprints of the EXISTING corpus AND        #
# within the batch itself? The production shape: the corpus fingerprint  #
# table is the only state touched (anti join on the hash — broadcast or  #
# shuffle-on-hash, never a text comparison), so the check scales with    #
# the BATCH, not the corpus. Base = even doc_ids, batch = odd (a         #
# deterministic split of the test table standing in for "yesterday's     #
# corpus" and "today's crawl").                                          #
# --------------------------------------------------------------------- #
_common(
    "dedup_incremental_batch",
    """
    WITH base_fp AS (
        SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 2 = 0
    ),
    batch AS (
        SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 1
    ),
    fresh AS (
        SELECT b.doc_id, b.fp FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM base_fp e WHERE e.fp = b.fp)
    ),
    kept AS (
        SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_batch_copies
        FROM fresh GROUP BY fp
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(keep_id) AS BIGINT) AS keep_id_sum,
           CAST(SUM(n_batch_copies - 1) AS BIGINT) AS n_batch_dups,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM batch)
               - CAST(COUNT(*) AS BIGINT)
               - CAST(SUM(n_batch_copies - 1) AS BIGINT) AS n_vs_base_dups
    FROM kept
    """,
)


# --------------------------------------------------------------------- #
# Cohort retention: users grouped by first-activity month, tracked       #
# across subsequent months. Two aggregations (first-touch per user, then #
# cohort x month rollup) joined on user_id — both shuffles on the user   #
# key, AQE reuses the partitioning; the retention denominator rides a    #
# window MAX over the cohort partition instead of a third self-join.     #
# --------------------------------------------------------------------- #
_common(
    "cohort_retention",
    """
    WITH first_touch AS (
        SELECT user_id, MIN(MONTH_STR(ts)) AS cohort_month
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, MONTH_STR(ts) AS activity_month
        FROM events
    ),
    cells AS (
        SELECT f.cohort_month, a.activity_month,
               COUNT(*) AS n_active
        FROM first_touch f
        JOIN activity a ON f.user_id = a.user_id
        GROUP BY f.cohort_month, a.activity_month
    )
    SELECT cohort_month, activity_month, n_active,
           CAST(MAX(CASE WHEN activity_month = cohort_month
                         THEN n_active END)
                OVER (PARTITION BY cohort_month) AS BIGINT) AS cohort_size,
           ROUND(n_active / CAST(MAX(CASE WHEN activity_month = cohort_month
                                          THEN n_active END)
                                 OVER (PARTITION BY cohort_month) AS DOUBLE),
                 6) AS retention
    FROM cells
    """,
)


# --------------------------------------------------------------------- #
# RFM segmentation: recency / frequency / monetary quartiles per         #
# customer. One orders aggregation, then NTILE windows over a TOTAL      #
# order (metric + custkey tiebreak) so bucket assignment is              #
# deterministic and engine-independent.                                  #
# --------------------------------------------------------------------- #
_common(
    "rfm_segmentation",
    """
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(MAX(o_orderdate) AS DATE) AS last_order,
               COUNT(*) AS frequency,
               DSUM(o_totalprice) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey,
               CAST(NTILE(4) OVER (ORDER BY last_order DESC, o_custkey)
                    AS INT) AS r_quartile,
               CAST(NTILE(4) OVER (ORDER BY frequency DESC, o_custkey)
                    AS INT) AS f_quartile,
               CAST(NTILE(4) OVER (ORDER BY monetary DESC, o_custkey)
                    AS INT) AS m_quartile
        FROM per_cust
    )
    SELECT r_quartile, f_quartile, m_quartile,
           COUNT(*) AS n_customers,
           CAST(SUM(o_custkey) AS BIGINT) AS custkey_checksum
    FROM scored
    GROUP BY r_quartile, f_quartile, m_quartile
    """,
)


# --------------------------------------------------------------------- #
# Co-purchase lift: brand pairs inside one order, support counted over   #
# distinct (order, brand) rows, lift vs independent brand frequencies.   #
# The within-order self-join is an equi-join on the order key (order     #
# sizes are bounded, so the pair expansion is too); the brand totals     #
# are a tiny dimension cross-joined as scalars.                          #
# --------------------------------------------------------------------- #
_common(
    "basket_copurchase_lift",
    """
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n_orders AS (SELECT COUNT(DISTINCT okey) AS n FROM ob),
    brand_freq AS (SELECT brand, COUNT(*) AS nb FROM ob GROUP BY brand),
    pair_support AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS support
        FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
        GROUP BY a.brand, b.brand
    )
    SELECT p.brand_a, p.brand_b, p.support,
           ROUND(CAST(p.support AS DOUBLE) * n.n
                 / (fa.nb * CAST(fb.nb AS DOUBLE)), 6) AS lift
    FROM pair_support p
    JOIN brand_freq fa ON p.brand_a = fa.brand
    JOIN brand_freq fb ON p.brand_b = fb.brand
    CROSS JOIN n_orders n
    WHERE p.support >= 5
    """,
)


# --------------------------------------------------------------------- #
# Time-to-event: order -> first ship latency. One orders ⋈ lineitem      #
# equi-join, a per-order MIN, then exact interpolated percentiles over   #
# the latency (PCTL macro) — the fulfillment-SLA profile every ops       #
# dashboard carries.                                                     #
# --------------------------------------------------------------------- #
_common(
    "ship_latency_profile",
    """
    WITH first_ship AS (
        SELECT o.o_orderkey, o.o_orderpriority,
               DAYS_BETWEEN(MIN(l.l_shipdate), o.o_orderdate) AS days_to_ship
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(MIN(days_to_ship) AS BIGINT) AS min_days,
           ROUND(PCTL(CAST(days_to_ship AS DOUBLE), 0.5), 6) AS p50_days,
           ROUND(PCTL(CAST(days_to_ship AS DOUBLE), 0.95), 6) AS p95_days,
           CAST(MAX(days_to_ship) AS BIGINT) AS max_days
    FROM first_ship
    GROUP BY o_orderpriority
    """,
)


# --------------------------------------------------------------------- #
# Bloom-filter join pre-filter (operators/bloom.py): build the bit set   #
# over the filtered dim's keys, flag the probe side map-side, and audit  #
# the filter against true membership. n_missed MUST be 0 — a Bloom       #
# filter has no false negatives — and the oracle recomputes the exact    #
# same md5-derived bit set, so n_false_positives matches exactly too.    #
# --------------------------------------------------------------------- #
_BLOOM_M, _BLOOM_K = 4096, 3


def q_bloom_join_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from de_polars_spark.operators import bloom

    t = register_testdata(spark, sf_dir)
    dim = (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("key"))
        .distinct()
    )
    bits = bloom.bloom_bits(dim, "key", m=_BLOOM_M, k=_BLOOM_K)
    flagged = bloom.bloom_flag(
        t["orders"].select("o_orderkey", "o_custkey"),
        "o_custkey",
        bits,
        m=_BLOOM_M,
        k=_BLOOM_K,
    )
    actual = dim.select(F.col("key").alias("o_custkey"), F.lit(1).alias("__in_dim"))
    out = flagged.join(F.broadcast(actual), "o_custkey", "left")
    return out.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probe"),
        F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
        F.sum(F.when(F.col("__in_dim").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_matches"),
        F.sum(
            F.when(F.col("__in_dim").isNotNull() & ~F.col("bloom_hit"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_missed"),
        F.sum(
            F.when(F.col("bloom_hit") & F.col("__in_dim").isNull(), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_false_positives"),
    )


def _bloom_pos_sql(arg: str, i: int) -> str:
    return (
        f"CAST('0x' || substring(md5(CAST({arg} AS VARCHAR) || '#b{i}'), 1, 15)"
        f" AS BIGINT) % {_BLOOM_M}"
    )


QUERIES["bloom_join_prefilter"] = q_bloom_join_prefilter
ORACLES["bloom_join_prefilter"] = f"""
    WITH dim AS (
        SELECT DISTINCT c_custkey AS key FROM customer
        WHERE c_mktsegment = 'BUILDING'
    ),
    bits AS (
        {" UNION ".join(f"SELECT DISTINCT {_bloom_pos_sql('key', i)} AS pos FROM dim" for i in range(_BLOOM_K))}
    ),
    probe AS (
        SELECT o_orderkey, o_custkey,
               {" AND ".join(f"({_bloom_pos_sql('o_custkey', i)}) IN (SELECT pos FROM bits)" for i in range(_BLOOM_K))}
                   AS bloom_hit,
               o_custkey IN (SELECT key FROM dim) AS in_dim
        FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
           CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN in_dim THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
           CAST(SUM(CASE WHEN in_dim AND NOT bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_missed,
           CAST(SUM(CASE WHEN bloom_hit AND NOT in_dim THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_positives
    FROM probe
"""


# --------------------------------------------------------------------- #
# SCD2 / gaps-and-islands: event-sourced dimension history. Collapse    #
# each user's consecutive runs of the same event_type into validity     #
# intervals (valid_from / valid_to, NULL = current) via the classic     #
# rn-difference island key — two windows + one aggregation, all on the  #
# same user_id shuffle key. The warehouse "type-2 slowly changing       #
# dimension build from a change log" primitive.                         #
# --------------------------------------------------------------------- #
_SCD2_SQL = """
    WITH ordered AS (
        SELECT user_id, ts, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rns
        FROM events
    ),
    islands AS (
        SELECT user_id, event_type, grp,
               MIN(ts) AS valid_from,
               MIN(rn) AS first_rn,
               MAX(ts) AS last_seen,
               COUNT(*) AS n_events
        FROM (SELECT user_id, ts, event_type, rn, rn - rns AS grp FROM ordered) g
        GROUP BY user_id, event_type, grp
    )
    SELECT user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY valid_from, first_rn) AS INT)
               AS version,
           event_type, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from, first_rn) AS valid_to,
           CASE WHEN LEAD(valid_from) OVER (PARTITION BY user_id
                                            ORDER BY valid_from, first_rn)
                     IS NULL
                THEN 1 ELSE 0 END AS is_current,
           CAST(n_events AS BIGINT) AS n_events
    FROM islands
    """

_common("scd2_history", _SCD2_SQL)


# --------------------------------------------------------------------- #
# KMV/theta bottom-k sketch with set-INTERSECTION estimates: the         #
# distinct-overlap question HLL cannot answer ("how many unique users    #
# do event types A and B share?"). Sketch = the K smallest 60-bit       #
# hashes per group (order statistics are deterministic, so the sketch   #
# — and therefore the ESTIMATE itself — is engine-reproducible and      #
# hash-matches the oracle, same standard as the HLL/CMS family).        #
# Estimator: intersect the two bottom-k sets below θ = min(θ_a, θ_b);   #
# E[|A∩B|] = ρ / (θ / 2^60). Groups with fewer than K distinct values   #
# have exact sketches (θ = full range). Scale shape: one distinct       #
# shuffle + one per-group top-K window builds every sketch; all pair    #
# work runs on the K×groups sketch table. The exact intersection rides  #
# along as the eval baseline (ann_recall_eval pattern) — at 100 TB you  #
# drop that branch and keep the sketch-only plan.                       #
# --------------------------------------------------------------------- #
_THETA_K = 64
_H60_RANGE = 1152921504606846976  # 2^60

_common(
    "user_overlap_theta_sketch",
    f"""
    WITH h AS (
        SELECT DISTINCT event_type, HASH60(TO_STR(user_id)) AS hv
        FROM events
    ),
    sk AS (
        SELECT event_type, hv,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        FROM h
    ),
    sketch AS (SELECT event_type, hv FROM sk WHERE rn <= {_THETA_K}),
    theta AS (
        SELECT event_type, COUNT(*) AS k,
               CASE WHEN COUNT(*) < {_THETA_K} THEN {_H60_RANGE}
                    ELSE MAX(hv) END AS th
        FROM sketch GROUP BY event_type
    ),
    p AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               LEAST(a.th, b.th) AS th
        FROM theta a JOIN theta b ON a.event_type < b.event_type
    ),
    common AS (
        SELECT sa.event_type AS type_a, sb.event_type AS type_b, sa.hv
        FROM sketch sa JOIN sketch sb
          ON sa.hv = sb.hv AND sa.event_type < sb.event_type
    ),
    rho AS (
        SELECT p.type_a, p.type_b, p.th,
               SUM(CASE WHEN c.hv IS NOT NULL AND c.hv < p.th
                        THEN 1 ELSE 0 END) AS n_common
        FROM p LEFT JOIN common c
          ON c.type_a = p.type_a AND c.type_b = p.type_b
        GROUP BY p.type_a, p.type_b, p.th
    ),
    du AS (SELECT DISTINCT event_type, user_id FROM events),
    exact AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_exact
        FROM du a JOIN du b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT r.type_a, r.type_b,
           CAST(r.n_common AS BIGINT) AS sketch_common,
           ROUND(CAST(r.n_common AS DOUBLE) * {_H60_RANGE} / r.th, 4)
               AS est_intersection,
           CAST(COALESCE(e.n_exact, 0) AS BIGINT) AS exact_intersection,
           CASE WHEN COALESCE(e.n_exact, 0) = 0 THEN NULL
                ELSE ROUND((CAST(r.n_common AS DOUBLE) * {_H60_RANGE} / r.th
                            - e.n_exact) / e.n_exact, 6)
           END AS rel_error
    FROM rho r LEFT JOIN exact e
      ON e.type_a = r.type_a AND e.type_b = r.type_b
    """,
)
