"""KPI view materialization + sf_dir switching.

The chain pinned as parquet artifacts (the reference's own pattern,
data_partitioner.py:105-142) must serve the same rows as the virtual
chain. And switching sf_dir A -> B -> A in one session must re-register
cur_ext + rebuild the views each time, not serve the previous dir's data.
Each test registers in a session of its own.
"""

from __future__ import annotations

import pytest

from de_polars_spark.engine.session import new_session
from de_polars_spark.inventory import kpi_views as kv
from de_polars_spark.testing import compare
from de_polars_spark.views.kpi import register_kpi_views

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


@pytest.fixture()
def spark(spark):
    """A session of this test's own on the shared one's context."""
    return new_session(spark)


def test_pinned_and_virtual_chains_agree(spark, tmp_path):
    kv._ensure_cur_ext(spark, SF_A)
    views = ("kpi_tracker", "summary_view")

    register_kpi_views(spark, "cur_ext", kv.NOW_DATE, pin=str(tmp_path / "kpi"))
    pinned = {v: spark.table(v).toPandas() for v in views}
    assert (tmp_path / "kpi" / "kpi_tracker").is_dir()
    register_kpi_views(spark, "cur_ext", kv.NOW_DATE)
    virtual = {v: spark.table(v).toPandas() for v in views}

    for v in views:
        assert len(pinned[v]) > 0, v
        problems = compare(pinned[v], virtual[v])
        assert not problems, f"{v}: " + "; ".join(problems)


def test_cur_ext_follows_sf_dir_switch(spark):
    kv._ensure_cur_ext(spark, SF_A)
    n_a = spark.table("cur_ext").count()
    kv._ensure_cur_ext(spark, SF_B)
    n_b = spark.table("cur_ext").count()
    assert n_b != n_a, "cur_ext still serving the previous sf_dir"
    # switch BACK: the regression was an early-return that left cur_ext
    # registered over B and the materialized KPI views marked ready
    kv._ensure_cur_ext(spark, SF_A)
    assert spark.table("cur_ext").count() == n_a


def test_kpi_views_rebuilt_on_sf_dir_switch(spark):
    kv._ensure_kpi_views(spark, SF_A)
    kv._ensure_cur_ext(spark, SF_B)
    kv._ensure_kpi_views(spark, SF_B)
    fresh = new_session(spark)
    kv._ensure_kpi_views(fresh, SF_B)
    got, want = (s.table("kpi_tracker").toPandas() for s in (spark, fresh))
    assert len(want) > 0
    problems = compare(got, want)
    assert not problems, "; ".join(problems)


def test_kpi_artifacts_follow_a_rewritten_lineitem(spark, tmp_path):
    """The synthetic CUR and the pinned views are keyed by the input's file
    manifest: rewriting lineitem under the same sf_dir must rebuild them,
    not serve the old answer."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    from de_polars_spark.sources.artifacts import cache_root

    sf = tmp_path / f"sf-{tmp_path.name}"
    sf.mkdir()
    shutil.copy(os.path.join(SF_A, "lineitem.parquet"), sf)
    query = kv.QUERIES["kpi_view_summary"]
    try:
        before = query(spark, str(sf)).toPandas()
        table = pq.read_table(sf / "lineitem.parquet")
        pq.write_table(table.slice(0, table.num_rows // 2), sf / "lineitem.parquet")
        after = query(spark, str(sf)).toPandas()
    finally:
        for path in glob.glob(os.path.join(cache_root(), f"*_{sf.name}_*")):
            shutil.rmtree(path, ignore_errors=True)
    assert len(before) > 0 and len(after) > 0
    assert compare(before, after), "kpi_view_summary still serves the old lineitem"


def test_rollup_is_incrementally_maintainable(spark):
    """The rollup grain's DECIMAL(38,8) partials merge EXACTLY: computing
    the rollup per billing_period and re-aggregating the partials equals
    the full-table rollup bit-for-bit (decimal addition is associative).

    This is the 100 TB refresh story: when a new month's CUR partition
    lands, the rollup artifact is updated by aggregating ONLY the new
    month and merging — never by rescanning history."""
    from pyspark.sql import functions as F

    from de_polars_spark.testing import compare

    kv._ensure_cur_ext(spark, SF_B)
    register_kpi_views(spark, "cur_ext", kv.NOW_DATE)
    full = spark.table("kpi_instance_rollup")
    keys = [
        "billing_period", "payer_account_id", "linked_account_id",
        "tags_json", "product_code", "purchase_option", "adjusted_processor",
    ]
    measure_cols = [c for c in full.columns if c not in keys]

    months = [r[0] for r in spark.table("cur_ext")
              .select("billing_period").distinct().collect()]
    assert len(months) >= 2, "need multiple months for an incremental test"

    partials = []
    for m in months:
        spark.table("cur_ext").where(
            F.col("billing_period") == m
        ).createOrReplaceTempView("cur_month")
        register_kpi_views(spark, "cur_month", kv.NOW_DATE)
        partials.append(spark.table("kpi_instance_rollup").toPandas())

    import pandas as pd

    merged_src = spark.createDataFrame(
        pd.concat(partials, ignore_index=True), schema=full.schema
    )
    merged = merged_src.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in measure_cols]
    )

    full_pdf = full.toPandas()
    merged_pdf = merged.select(*full.columns).toPandas()
    problems = compare(merged_pdf, full_pdf)
    assert not problems, "; ".join(problems)
