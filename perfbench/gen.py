"""Seeded workload inputs for the benchmark.

The base tables are not generated: the benchmark reads copies of the
repo's shipped test tables (``perfbench/data/``, see README). Everything
here comes from ``--seed``: request streams, SQL text, the SQL-file
library and the corpus samples. The same seed gives a byte-identical
stream; the program under test only ever sees the generated requests.

Pure Python: no Spark, no repo code.
"""

from __future__ import annotations

import json
import random

API = "/api/v1/finops"


# --------------------------------------------------------------------- #
# dashboard: GET mix over the analytics routes                          #
# --------------------------------------------------------------------- #
#: one route per analytics family at least: (path, {param: choices}).
#: Every block serves each of these once, so the mix's cost composition
#: is fixed and only parameters and order vary with the seed. The set is
#: kept small because a run must first warm every distinct request up.
_ANALYTICS_ROUTES: list[tuple[str, dict]] = [
    ("spend/invoice/summary", {"months_back": [3, 6, 12, 24]}),
    ("spend/regions/top", {"limit": [3, 5, 10]}),
    ("spend/breakdown", {"dimensions": ["region", "service", "region,service"]}),
    ("optimization/idle-resources", {"utilization_threshold": [2.0, 5.0, 10.0]}),
    ("allocation/tagging-compliance", {}),
    ("discounts/current-agreements", {}),
    ("ai/anomaly-detection", {"sensitivity": [1.5, 2.0, 3.0], "lookback_days": [30, 90]}),
    ("ai/forecasting", {"forecast_months": [3, 6]}),
]
#: one KPI request per block (with the 8 analytics ones, 1 in 11): the
#: KPI view chain costs ~16 Spark jobs per call, the other routes 2-7. It
#: always names a billing period: without one the call scans every month
#: and costs ~3x as much, and a seed that drew it would set the run's pace
_KPI_PARAMS = {
    "billing_period": ["1998-07", "1998-08", "1998-09"],
    "payer_account_id": [None, "payer_0", "payer_1"],
    "linked_account_id": [None, "acct_0", "acct_3", "acct_5"],
}
KPI_PER_BLOCK = 1
#: one ad-hoc SQL statement and one statement the guard must refuse per
#: block, so the SQL edge (guard, translate, collect) is on the path too
DASHBOARD_BLOCK = len(_ANALYTICS_ROUTES) + KPI_PER_BLOCK + 2


def _pick(rng: random.Random, choices: dict) -> dict:
    params = {k: rng.choice(v) for k, v in choices.items()}
    return {k: v for k, v in params.items() if v is not None}


def _get(path: str, params: dict, kind: str) -> dict:
    return {"method": "GET", "path": f"{API}/{path}", "params": params,
            "body": None, "kind": kind}


def dashboard_blocks(seed: int, n_blocks: int) -> list[list[dict]]:
    """``n_blocks`` blocks, each one dashboard refresh: every analytics
    route once, ``KPI_PER_BLOCK`` ``kpi/summary`` calls, one ad-hoc SQL
    query and one refused statement, shuffled. GET parameters are drawn
    once per seed, so blocks repeat the same requests (what a result cache
    would see from a returning user); the SQL query is drawn per block
    from a per-seed pool of one statement per template."""
    rng = random.Random(f"dashboard:{seed}")
    analytics = [_get(p, _pick(rng, c), p.split("/")[0]) for p, c in _ANALYTICS_ROUTES]
    kpis = [_get("kpi/summary", _pick(rng, _KPI_PARAMS), "kpi") for _ in range(KPI_PER_BLOCK)]
    pool = [t(rng) for t in SQL_TEMPLATES]
    blocks = []
    for _ in range(n_blocks):
        block = analytics + kpis + [_post_sql(rng.choice(pool), False),
                                    _post_sql(rng.choice(REFUSALS), True)]
        rng.shuffle(block)
        blocks.append([dict(r) for r in block])
    return blocks


# --------------------------------------------------------------------- #
# adhoc_sql: guarded POST /sql/query                                    #
# --------------------------------------------------------------------- #
_DIMS = [
    "product_region", "line_item_usage_account_id", "product_servicecode",
    "line_item_line_item_type", "bill_payer_account_id",
]
_SERVICES = [
    "AmazonEC2", "AmazonRDS", "AmazonS3", "AWSLambda", "AmazonDynamoDB",
    "AmazonElastiCache", "AmazonES", "AmazonRedshift",
]
_COST = "line_item_unblended_cost"


N_MONTHS = 83  # billing periods 1995-01 .. 2001-11


def _period(i: int) -> str:
    return f"{1995 + i // 12}-{i % 12 + 1:02d}"


def _month(rng: random.Random) -> str:
    return _period(rng.randrange(N_MONTHS))


def _month_range(rng: random.Random, months: int = 6) -> tuple[str, str]:
    """A range of ``months`` billing periods at a seeded position: the
    seed moves the range, not how many partitions it prunes to."""
    a = rng.randrange(N_MONTHS - months + 1)
    return _period(a), _period(a + months - 1)


def _t_group_by(rng):
    dims = ", ".join(rng.sample(_DIMS, 2))
    return (f"SELECT {dims}, SUM({_COST}) AS cost, COUNT(*) AS n FROM CUR "
            f"GROUP BY {dims} ORDER BY cost DESC LIMIT {rng.choice([5, 10, 20])}")


def _t_month_range(rng):
    a, b = _month_range(rng)
    return (f"SELECT billing_period, product_servicecode, SUM({_COST}) AS cost "
            f"FROM CUR WHERE billing_period BETWEEN '{a}' AND '{b}' "
            "GROUP BY billing_period, product_servicecode ORDER BY 1, 2")


def _t_top_k(rng):
    a, b = _month_range(rng, 12)
    return (f"SELECT line_item_resource_id, SUM({_COST}) AS cost, COUNT(*) AS n "
            f"FROM CUR WHERE billing_period BETWEEN '{a}' AND '{b}' "
            "AND line_item_resource_id <> '' GROUP BY line_item_resource_id "
            f"ORDER BY cost DESC LIMIT {rng.choice([5, 10, 25])}")


def _t_lag(rng):
    a, b = _month_range(rng)
    return (f"SELECT billing_period, SUM({_COST}) AS monthly_cost, "
            f"SUM({_COST}) - LAG(SUM({_COST})) OVER (ORDER BY billing_period) AS delta "
            f"FROM CUR WHERE product_servicecode = '{rng.choice(_SERVICES)}' "
            f"AND billing_period BETWEEN '{a}' AND '{b}' "
            "GROUP BY billing_period ORDER BY billing_period")


def _t_cte_rank(rng):
    a, b = _month_range(rng)
    return (f"WITH s AS (SELECT product_region, product_servicecode, SUM({_COST}) AS c "
            f"FROM CUR WHERE billing_period BETWEEN '{a}' AND '{b}' "
            "GROUP BY product_region, product_servicecode) "
            "SELECT product_region, product_servicecode, c, "
            "RANK() OVER (PARTITION BY product_region ORDER BY c DESC) AS rnk "
            "FROM s ORDER BY product_region, rnk")


def _t_cast(rng):
    return ("SELECT line_item_usage_account_id, "
            "SUM(line_item_usage_amount)::BIGINT AS units, COUNT(*)::INTEGER AS n, "
            "MAX(billing_period)::VARCHAR AS last_period "
            f"FROM CUR WHERE billing_period = '{_month(rng)}' "
            "GROUP BY line_item_usage_account_id ORDER BY 1")


def _t_qualify(rng):
    a, b = _month_range(rng)
    return ("SELECT product_region, line_item_usage_account_id, "
            f"SUM({_COST}) AS cost FROM CUR "
            f"WHERE billing_period BETWEEN '{a}' AND '{b}' "
            "GROUP BY product_region, line_item_usage_account_id "
            "QUALIFY ROW_NUMBER() OVER (PARTITION BY product_region "
            f"ORDER BY SUM({_COST}) DESC) "
            f"<= {rng.choice([1, 2, 3])} ORDER BY 1, 3 DESC")


def _t_strftime(rng):
    a, b = _month_range(rng, 24)
    return ("SELECT strftime(line_item_usage_start_date, '%Y') AS yr, "
            f"product_servicecode, SUM({_COST}) AS cost FROM CUR "
            f"WHERE billing_period BETWEEN '{a}' AND '{b}' "
            "GROUP BY 1, 2 ORDER BY 1, 2")


SQL_TEMPLATES = [_t_group_by, _t_month_range, _t_top_k, _t_lag, _t_cte_rank,
                 _t_cast, _t_qualify, _t_strftime]
REFUSALS = [
    "CREATE TABLE bench_copy AS SELECT * FROM CUR",
    "INSERT INTO CUR SELECT * FROM CUR LIMIT 1",
    "CACHE TABLE CUR",
    "DROP VIEW CUR",
    "CREATE OR REPLACE TEMP VIEW bench_v AS SELECT 1 AS x",
]
SQL_BLOCK = 17  # each template twice + 1 refusal: a refused share of 1/17 (5.9%)
SQL_POOL_PER_TEMPLATE = 4


def _post_sql(sql: str, refuse: bool) -> dict:
    return {"method": "POST", "path": f"{API}/sql/query", "params": {},
            "body": {"sql": sql}, "kind": "refused" if refuse else "sql"}


def sql_blocks(seed: int, n_blocks: int) -> list[list[dict]]:
    """Blocks of ``SQL_BLOCK`` requests drawn from a per-seed pool of
    ``SQL_POOL_PER_TEMPLATE`` statements per template (so statements
    recur across blocks); each block holds every template at least twice
    and exactly one statement the guard must refuse."""
    rng = random.Random(f"adhoc_sql:{seed}")
    pool = [[t(rng) for _ in range(SQL_POOL_PER_TEMPLATE)] for t in SQL_TEMPLATES]
    refusals = list(REFUSALS)
    blocks = []
    for _ in range(n_blocks):
        templates = list(range(len(SQL_TEMPLATES))) * 2
        block = [_post_sql(rng.choice(pool[t]), False) for t in templates]
        block.append(_post_sql(rng.choice(refusals), True))
        rng.shuffle(block)
        blocks.append(block)
    return blocks


# --------------------------------------------------------------------- #
# materialize: a generated .sql library for DataPartitioner             #
# --------------------------------------------------------------------- #
def sql_library(seed: int, n_files: int = 4) -> dict[str, str]:
    """``{relative path: sql text}``; files cycle through no
    ``-- Partitioning:`` header, a ``billing_period`` one and a
    ``product_region`` one, so both the plain and the hive ``partitionBy``
    write paths run. The seed picks the dimensions and month ranges."""
    rng = random.Random(f"materialize:{seed}")
    lib = {}
    for i in range(n_files):
        dims = rng.sample(_DIMS, rng.randint(1, 2))
        a, b = _month_range(rng)
        part = [None, "billing_period", "product_region"][i % 3]
        cols = ([part] if part and part not in dims else []) + dims
        keys = ", ".join(cols)
        header = [f"-- Description: spend by {keys}", f"-- Output: table_{i:02d}"]
        if part:
            header.append(f"-- Partitioning: {part}")
        lib[f"{rng.choice(['monthly', 'accounts', 'services'])}/table_{i:02d}.sql"] = (
            "\n".join(header) + "\n"
            f"SELECT {keys}, SUM({_COST}) AS cost, "
            "SUM(line_item_usage_amount) AS usage, COUNT(*) AS line_items\n"
            f"FROM CUR WHERE billing_period BETWEEN '{a}' AND '{b}'\n"
            f"GROUP BY {keys}\n"
        )
    return lib


# --------------------------------------------------------------------- #
# corpus: document and query-vector samples                             #
# --------------------------------------------------------------------- #
#: duplicate groups (every copy of one text) put into each corpus batch
DUP_GROUPS_PER_PASS = 4


def corpus_passes(seed: int, n_passes: int, n_docs: int, n_emb: int, docs_per_pass: int,
                  queries_per_pass: int, dup_groups: list[list[int]] = ()) -> list[dict]:
    """Per pass: a batch of ``docs_per_pass`` doc ids and a sorted
    query-vector sample. A batch holds every copy of
    ``DUP_GROUPS_PER_PASS`` of the corpus's duplicate groups (the shipped
    documents plant ~0.2% exact copies of random earlier ones, so a plain
    sample would almost never hold both halves of a pair and dedup would
    have nothing to find), the rest drawn from the other documents."""
    rng = random.Random(f"corpus:{seed}")
    passes = []
    for _ in range(n_passes):
        groups = rng.sample(list(dup_groups), min(DUP_GROUPS_PER_PASS, len(dup_groups)))
        ids = {i for g in groups for i in g}
        rest = [i for i in range(n_docs) if i not in ids]
        ids.update(rng.sample(rest, docs_per_pass - len(ids)))
        passes.append({"doc_ids": sorted(ids),
                       "query_ids": sorted(rng.sample(range(n_emb), queries_per_pass))})
    return passes


def dump(obj) -> bytes:
    """Canonical bytes of a generated input (stream equality in tests)."""
    return json.dumps(obj, sort_keys=True, separators=(",", ":")).encode()
