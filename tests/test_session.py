"""Sessions: an engine built without one gets its own, and what the package
registers in a session (test tables, synthetic CUR, KPI chain, pricing
views) is kept per session object, in ``engine.session.registered``."""

from __future__ import annotations

import ast
import glob
import os

from de_polars_spark.api.handlers import FinOpsHandlers
from de_polars_spark.client import FinOpsEngine
from de_polars_spark.config import DataConfig
from de_polars_spark.engine.session import get_spark, new_session, registered, session_size
from de_polars_spark.inventory import kpi_views as kv
from de_polars_spark.inventory import pricing
from de_polars_spark.sources.artifacts import plan_version
from de_polars_spark.sources.registry import register_testdata

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "de_polars_spark")

#: the confs get_spark sets that a bare ``newSession()`` loses when
#: another builder made the SparkContext, and the package's values of them
SIZED = ("spark.sql.ansi.enabled", "spark.sql.shuffle.partitions",
         "spark.sql.codegen.methodSplitThreshold")
PACKAGE = ["false", str(session_size()[0]), "256"]


def _ids(spark, path: str, hi: int) -> str:
    spark.range(1, hi).coalesce(1).write.parquet(path)
    return path


def test_a_second_session_of_the_app_registers_its_own_views(spark, sf_dir):
    sessions = spark.newSession(), spark.newSession()
    for s in sessions:
        assert register_testdata(s, sf_dir)["lineitem"].sparkSession is s
        kv._ensure_cur_ext(s, sf_dir)
        pricing._ensure_pricing_views(s)
    for s in sessions:
        assert s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        assert s.table("lineitem").count() > 0 and s.table("cur_ext").count() > 0
        for name in ("aws_pricing", "aws_rds_pricing", "aws_savings_plans"):
            assert s.table(name).count() > 0, name


def test_registered_runs_again_only_for_a_new_source(spark):
    s, calls = spark.newSession(), []

    def register(value):
        return lambda: calls.append(value) or value

    assert registered(s, "k", "a", register(1)) == 1
    assert registered(s, "k", "a", register(2)) == 1
    assert registered(s, "k", "b", register(3)) == 3
    assert registered(s, "k", "a", register(4)) == 4
    assert registered(spark.newSession(), "k", "a", register(5)) == 5
    assert calls == [1, 3, 4, 5]


def test_new_session_sets_the_package_conf(spark):
    parent = spark.newSession()
    for key, value in zip(SIZED, ("true", "3", "1024")):
        parent.conf.set(key, value)
    child = new_session(parent)
    assert [child.conf.get(k) for k in SIZED] == PACKAGE
    child.conf.set("spark.sql.shuffle.partitions", "5")
    assert parent.conf.get("spark.sql.shuffle.partitions") == "3"


def test_get_spark_and_an_engine_leave_the_session_they_did_not_make_alone(spark, tmp_path):
    before = spark.conf.getAll
    assert get_spark("finops-engine") is spark
    FinOpsEngine(DataConfig(local_data_path=_ids(spark, str(tmp_path / "a"), 3)))
    assert spark.conf.getAll == before


def test_an_engine_built_without_a_session_has_its_own(built_spark, tmp_path):
    engine = FinOpsEngine(DataConfig(local_data_path=_ids(built_spark, str(tmp_path / "a"), 3),
                                     table_name="own_cur"))
    assert engine.spark is not built_spark
    assert not built_spark.catalog.tableExists("own_cur")
    assert [engine.spark.conf.get(k) for k in SIZED] == PACKAGE
    # the memo key's conf digest is the engine session's
    df = engine.query("SELECT SUM(id) AS s FROM own_cur")
    digest = plan_version(df).conf
    built_spark.conf.set("spark.sql.legacy.timeParserPolicy", "LEGACY")
    assert plan_version(df).conf == digest
    engine.spark.conf.set("spark.sql.legacy.timeParserPolicy", "LEGACY")
    assert plan_version(df).conf != digest


def test_engines_built_without_a_session_answer_from_their_own_cur(built_spark, tmp_path):
    ea, eb = (FinOpsEngine(DataConfig(local_data_path=_ids(built_spark, str(tmp_path / n), hi)))
              for n, hi in (("a", 3), ("b", 10)))
    sql = "SELECT SUM(id) AS s FROM CUR"
    assert ea.query(sql).first()[0] == 3 and eb.query(sql).first()[0] == 45
    ha, hb = FinOpsHandlers(ea), FinOpsHandlers(eb)
    answers = [h.sql_query(sql)["data"] for h in (ha, hb, ha, hb)]
    assert answers == [[{"s": 3}], [{"s": 45}]] * 2
    assert ha.memo_info()["hits"] == hb.memo_info()["hits"] == 1


def test_no_session_is_keyed_by_id_or_application():
    """Guard: per-session state goes through ``engine.session.registered``,
    keyed by the session object. ``id(spark)`` is reused once a session is
    collected, and an application id names every session of the app. The
    one application-scoped key is the IVF cache's: its persisted blocks are
    shared by every session of the app."""
    offenders = []
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, PKG)
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                    and node.func.id == "id"
                    and any(w in ast.unparse(node).lower() for w in ("spark", "session"))):
                offenders.append(f"{rel}:{node.lineno}")
            if (isinstance(node, ast.Attribute) and node.attr == "applicationId"
                    and rel != os.path.join("operators", "similarity.py")):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders
