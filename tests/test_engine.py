"""SparkEngine behavior: registration, routing, querying, introspection."""

from __future__ import annotations

import os

import pytest

from de_polars_spark.config import DataConfig, DataExportType
from de_polars_spark.engine.core import SparkEngine


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    cfg = DataConfig(
        export_type=DataExportType.GENERIC,
        table_name="orders_t",
        local_data_path=os.path.join(sf_dir, "orders.parquet"),
    )
    return SparkEngine(spark, cfg)


def test_register_and_query(engine):
    n = engine.query("SELECT COUNT(*) AS n FROM orders_t").collect()[0]["n"]
    assert n > 0


def test_sql_file_dispatch(engine, tmp_path):
    p = tmp_path / "q.sql"
    p.write_text("SELECT COUNT(*) AS n FROM orders_t")
    assert engine.query(str(p)).collect()[0]["n"] > 0


def test_dialect_translation_in_query(engine):
    # '::' cast is DuckDB dialect; the engine shim rewrites it.
    row = engine.query(
        "SELECT o_orderdate::date AS d FROM orders_t LIMIT 1"
    ).collect()[0]
    assert row["d"] is not None


def test_register_dataframe_join(engine, spark):
    # reference documented-but-stubbed pricing registration
    # (duckdb_engine.py:184-196) — here it actually joins.
    pricing = spark.createDataFrame(
        [("1-URGENT", 1.0), ("2-HIGH", 2.0)], ["o_orderpriority", "rate"]
    )
    engine.register_dataframe("aws_pricing", pricing)
    out = engine.query(
        "SELECT COUNT(*) AS n FROM orders_t c JOIN aws_pricing p "
        "ON c.o_orderpriority = p.o_orderpriority"
    ).collect()[0]["n"]
    assert out > 0


def test_schema_and_sample_and_catalog(engine):
    schema = engine.get_schema()
    assert "o_orderkey" in schema
    assert engine.sample(5).count() == 5
    cat = engine.catalog()
    assert "orders_t" in cat["tables"]


def test_validate_select_only_rejects_ddl(engine):
    with pytest.raises(PermissionError):
        engine.validate_select_only("DROP TABLE orders_t")
    with pytest.raises(PermissionError):
        engine.validate_select_only("CREATE TABLE x AS SELECT 1")
    engine.validate_select_only("SELECT 1")  # must not raise


def test_date_range_pruning(spark, tmp_path):
    # hive-partitioned root: BILLING_PERIOD=YYYY-MM (CUR2.0 convention)
    src = spark.createDataFrame(
        [(1, "2024-01"), (2, "2024-02"), (3, "2024-03")], ["v", "BILLING_PERIOD"]
    )
    root = str(tmp_path / "cur")
    src.write.partitionBy("BILLING_PERIOD").parquet(root)
    cfg = DataConfig(
        export_type=DataExportType.CUR_2_0,
        table_name="cur_pruned",
        local_data_path=root,
        date_start="2024-02",
        date_end="2024-02",
    )
    eng = SparkEngine(spark, cfg)
    rows = eng.query("SELECT v FROM cur_pruned").collect()
    assert [r["v"] for r in rows] == [2]
    # the filter must reach the scan as a partition filter
    plan = spark.table("cur_pruned")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_config_validation():
    with pytest.raises(ValueError):
        DataConfig(local_data_path="/tmp", date_start="2024-13-99x")
    with pytest.raises(ValueError):
        DataConfig(local_data_path="/tmp", date_start="2024-05", date_end="2024-01")
    with pytest.raises(ValueError):
        DataConfig()  # no data root at all


def test_register_csv_gzip(spark, tmp_path):
    """gzip CSV source (SURVEY §2.1: declared in the reference, parsed here)."""
    import gzip

    from de_polars_spark.engine.core import SparkEngine

    path = tmp_path / "data.csv.gz"
    with gzip.open(path, "wt") as fh:
        fh.write("id,name\n1,a\n2,b\n")
    engine = SparkEngine(spark)
    df = engine.register_csv("gz_table", str(path))
    assert df.count() == 2
    assert spark.sql("SELECT SUM(id) FROM gz_table").collect()[0][0] == 3


def test_list_partitions(spark, tmp_path):
    from de_polars_spark.config import DataConfig, DataExportType
    from de_polars_spark.engine.core import SparkEngine

    src = spark.createDataFrame(
        [(1, "2024-01"), (2, "2024-02"), (3, "2024-02")],
        "v int, BILLING_PERIOD string",
    )
    root = str(tmp_path / "cur")
    src.write.partitionBy("BILLING_PERIOD").parquet(root)
    cfg = DataConfig(
        export_type=DataExportType.CUR_2_0, local_data_path=root, table_name="pcur"
    )
    engine = SparkEngine(spark, cfg)
    assert engine.list_partitions() == ["2024-01", "2024-02"]


def test_register_orc_roundtrip(spark, tmp_path):
    """ORC source + sink (beyond reference): write events slice as ORC,
    re-register, and query — pushdown/pruning parity with parquet."""
    from de_polars_spark.engine.core import SparkEngine
    from de_polars_spark.utils.exports import DataExporter

    src = spark.createDataFrame(
        [(1, "view", 2.5), (2, "click", 1.0), (3, "view", 4.0)],
        "event_id int, event_type string, value double",
    )
    path = str(tmp_path / "events_orc")
    DataExporter.export_to_orc(src, path, partition_by=["event_type"])
    engine = SparkEngine(spark)
    df = engine.register_orc("orc_events", path)
    assert df.count() == 3
    got = spark.sql(
        "SELECT SUM(value) FROM orc_events WHERE event_type = 'view'"
    ).collect()[0][0]
    assert got == 6.5
    # partition pruning: the filtered scan must read only the view/ dir
    plan = spark.sql(
        "SELECT * FROM orc_events WHERE event_type = 'view'"
    )._jdf.queryExecution().executedPlan().toString()
    assert "event_type" in plan


def test_register_json_lines(spark, tmp_path):
    from de_polars_spark.engine.core import SparkEngine

    path = tmp_path / "rows.jsonl"
    path.write_text('{"id": 1, "v": "a"}\n{"id": 2, "v": "b"}\n')
    engine = SparkEngine(spark)
    df = engine.register_json("json_table", str(path))
    assert df.count() == 2
    assert spark.sql("SELECT SUM(id) FROM json_table").collect()[0][0] == 3


def test_session_size_fits_this_machine(monkeypatch):
    from de_polars_spark.engine.session import session_size

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cpus, mem = session_size()
    assert cpus == len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert mem.endswith("m") and 1024 <= int(mem[:-1]) <= max(1024, phys_mb // 2)

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session_size() == (3, "2g")


@pytest.mark.parametrize(
    "script",
    ["bench.py", "tools/audit_plans.py", "tools/dump_plans.py", "tools/profile_phases.py"],
)
def test_scripts_take_their_session_size_from_session_size(script):
    # one sizing rule: the scripts must not hard-code their own default
    # cores or driver heap next to session_size's
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, script)) as fh:
        src = fh.read()
    assert "cpus, driver_mem = session_size()" in src
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"):
        assert f'os.environ.get("{var}"' not in src, var


def _write_ids(spark, fmt: str, path: str, lo: int, hi: int, mode: str) -> None:
    writer = spark.range(lo, hi).coalesce(1).write.mode(mode)
    getattr(writer.option("header", "true") if fmt == "csv" else writer, fmt)(path)


@pytest.mark.parametrize(
    "fmt, method",
    [("parquet", "register_path"), ("orc", "register_orc"),
     ("json", "register_json"), ("csv", "register_csv")],
)
def test_refresh_reads_again_a_view_whose_files_changed(spark, tmp_path, fmt, method):
    path, name = str(tmp_path / fmt), f"refreshed_{fmt}"
    _write_ids(spark, fmt, path, 0, 3, "error")
    engine = SparkEngine(spark)
    getattr(engine, method)(name, path)
    version = engine.version(name)
    total = f"SELECT SUM(id) FROM {name}"
    _write_ids(spark, fmt, path, 3, 10, "append")
    # the view keeps the listing Spark took when it was read
    assert spark.sql(total).first()[0] == 3
    assert engine.refresh() == {name}
    assert spark.sql(total).first()[0] == 45
    assert engine.version(name) not in (None, version)
    assert engine.refresh() == set()


def test_ad_hoc_sql_sees_files_appended_to_a_registered_view(spark, sf_dir, tmp_path):
    from de_polars_spark.api.handlers import FinOpsHandlers
    from de_polars_spark.client import FinOpsEngine

    h = FinOpsHandlers(FinOpsEngine(
        DataConfig(export_type=DataExportType.GENERIC, table_name="refreshed_cur",
                   local_data_path=os.path.join(sf_dir, "orders.parquet")),
        spark=spark, now="1998-10-01",
    ))
    side = str(tmp_path / "side")
    _write_ids(spark, "parquet", side, 0, 3, "error")
    h.engine.engine.register_path("refreshed_side", side)
    sql = "SELECT SUM(id) AS s FROM refreshed_side"
    assert h.sql_query(sql)["data"][0]["s"] == 3
    _write_ids(spark, "parquet", side, 3, 10, "append")
    # no GET and no registration in between
    assert h.sql_query(sql)["data"][0]["s"] == 45


def test_views_not_read_from_local_files_are_not_versioned(spark):
    engine = SparkEngine(spark)
    engine.register_dataframe("unversioned_rows", spark.range(3))
    assert engine.version("unversioned_rows") is None
    assert engine.version("never_registered") is None
    assert engine.refresh() == set()
    assert engine.catalog()["tables"] == {"unversioned_rows": "<dataframe>"}


@pytest.mark.parametrize("call", ["get_schema", "sample", "list_partitions"])
def test_default_table_without_one_registered_is_an_error(spark, call):
    with pytest.raises(ValueError, match="no table registered"):
        getattr(SparkEngine(spark), call)()
