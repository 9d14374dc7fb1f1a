"""Serving-layer tests: FinOpsEngine facade + framework-free API handlers.

Mirrors the reference's endpoint test coverage
(tests/test_14_sql_query_endpoint.py:48-101,232-282: simple aggregation,
LAG-over-aggregate with NULLIF pct change, CTE + CROSS JOIN + RANK,
blocklist rejection, LIMIT injection) driven through the same handler
code the FastAPI routes call.
"""

from __future__ import annotations

import pytest

import os
import shutil
import threading

from de_polars_spark.api import handlers as handlers_module
from de_polars_spark.api.handlers import MAX_LIMIT, ApiError, FinOpsHandlers, ROUTES
from de_polars_spark.client import FinOpsEngine
from de_polars_spark.config import DataConfig, DataExportType
from de_polars_spark.engine.session import new_session


@pytest.fixture(scope="module")
def finops(spark, sf_dir):
    from de_polars_spark.inventory.kpi_views import _ensure_cur_ext

    path = _ensure_cur_ext(spark, sf_dir)
    engine = FinOpsEngine(
        DataConfig(local_data_path=path, table_name="CUR"),
        spark=new_session(spark),
        now="1998-10-01",
    )
    return engine


@pytest.fixture(scope="module")
def handlers(finops):
    return FinOpsHandlers(finops)


class TestSqlEndpoint:
    def test_simple_aggregation(self, handlers):
        # test_14_sql_query_endpoint.py:56-66 shape
        out = handlers.sql_query(
            "SELECT product_servicecode, SUM(line_item_unblended_cost) AS total_cost "
            "FROM CUR GROUP BY 1 ORDER BY total_cost DESC LIMIT 5"
        )
        assert out["success"] and out["row_count"] == 5
        assert list(out["data"][0].keys()) == ["product_servicecode", "total_cost"]
        costs = [r["total_cost"] for r in out["data"]]
        assert costs == sorted(costs, reverse=True)
        assert out["query_metadata"]["table_name"] == "CUR"
        assert "summary_view" in out["query_metadata"]["available_tables"]

    def test_lag_over_aggregate(self, handlers):
        # test_14:232-255: LAG(SUM(...)) OVER + NULLIF pct change
        out = handlers.sql_query(
            """
            SELECT billing_period,
                   SUM(line_item_unblended_cost) AS monthly_cost,
                   ROUND((SUM(line_item_unblended_cost)
                          - LAG(SUM(line_item_unblended_cost))
                              OVER (ORDER BY billing_period))
                         / NULLIF(LAG(SUM(line_item_unblended_cost))
                              OVER (ORDER BY billing_period), 0) * 100, 2)
                       AS pct_change
            FROM CUR GROUP BY billing_period ORDER BY billing_period
            """
        )
        assert out["success"] and out["row_count"] > 10
        assert out["data"][0]["pct_change"] is None  # first month has no LAG
        assert any(r["pct_change"] is not None for r in out["data"][1:])

    def test_cte_cross_join_rank(self, handlers):
        # test_14:260-282: CTE + CROSS JOIN scalar total + RANK
        out = handlers.sql_query(
            """
            WITH totals AS (
                SELECT SUM(line_item_unblended_cost) AS grand_total FROM CUR
            ),
            by_service AS (
                SELECT product_servicecode,
                       SUM(line_item_unblended_cost) AS svc_cost
                FROM CUR GROUP BY 1
            )
            SELECT product_servicecode,
                   ROUND(svc_cost / t.grand_total * 100, 2) AS pct_of_total,
                   RANK() OVER (ORDER BY svc_cost DESC) AS cost_rank
            FROM by_service CROSS JOIN totals t
            ORDER BY cost_rank
            """
        )
        assert out["success"]
        assert out["data"][0]["cost_rank"] == 1
        total_pct = sum(r["pct_of_total"] for r in out["data"])
        assert 99.0 < total_pct < 101.0

    def test_limit_injection(self, handlers):
        out = handlers.sql_query("SELECT line_item_resource_id FROM CUR", limit=7)
        assert out["row_count"] == 7
        assert out["query_metadata"]["limit_applied"] == 7
        # explicit LIMIT in the text wins (no double limit)
        out = handlers.sql_query(
            "SELECT line_item_resource_id FROM CUR LIMIT 3", limit=1000
        )
        assert out["row_count"] == 3

    def test_row_cap_holds_whatever_limit_the_text_has(self, handlers):
        # a LIMIT in the text, however large or wherever it sits, used to
        # lift the cap on the collect
        out = handlers.sql_query(
            "SELECT line_item_resource_id FROM CUR LIMIT 10000000", limit=5
        )
        assert out["row_count"] == 5
        out = handlers.sql_query(
            "SELECT * FROM (SELECT line_item_resource_id FROM CUR LIMIT 100000) t",
            limit=4,
        )
        assert out["row_count"] == 4
        out = handlers.sql_query("SELECT id FROM range(20000)", limit=None)
        assert out["row_count"] == MAX_LIMIT

    @pytest.mark.parametrize(
        "bad",
        [
            "DROP TABLE CUR",
            "INSERT INTO CUR VALUES (1)",
            "CREATE TABLE x AS SELECT 1",
            "INSERT OVERWRITE DIRECTORY '/tmp/x' SELECT 1",
            "CREATE FUNCTION f AS 'com.example.F'",
            "CACHE TABLE t AS SELECT 1",
            "SET spark.sql.shuffle.partitions=1",
            "EXPLAIN SELECT 1",
        ],
    )
    def test_non_select_rejected(self, handlers, bad):
        with pytest.raises(ApiError) as err:
            handlers.sql_query(bad)
        assert err.value.status_code == 400

    def test_limit_cap_and_empty_sql(self, handlers):
        with pytest.raises(ApiError):
            handlers.sql_query("SELECT 1", limit=20000)
        with pytest.raises(ApiError):
            handlers.sql_query("   ")
        with pytest.raises(ApiError):
            handlers.sql_query("SELECT 1 " + "-- pad\n" * 3000)

    def test_error_taxonomy(self, handlers):
        with pytest.raises(ApiError) as err:
            handlers.sql_query("SELECT * FROM no_such_table_xyz")
        assert err.value.detail["error_type"] == "TABLE_NOT_FOUND"
        with pytest.raises(ApiError) as err:
            handlers.sql_query("SELECT no_such_column FROM CUR")
        assert err.value.detail["error_type"] == "COLUMN_NOT_FOUND"

    def test_csv_format(self, handlers):
        out = handlers.sql_query(
            "SELECT product_servicecode FROM CUR LIMIT 2", format="csv"
        )
        assert isinstance(out["data"], str)
        assert out["data"].startswith("product_servicecode")

    def test_schema_and_tables(self, handlers):
        schema = handlers.sql_schema()
        assert schema["main_table"]["name"] == "CUR"
        assert "line_item_unblended_cost" in schema["main_table"]["schema"]
        assert len(schema["main_table"]["sample_data"]) == 3
        tables = handlers.sql_tables()
        names = [t["name"] for t in tables["available_tables"]]
        assert "CUR" in names and "summary_view" in names


class TestOtherRouters:
    def test_health_and_root(self, handlers):
        assert handlers.health()["status"] == "healthy"
        assert handlers.root()["api_base"] == "/api/v1/finops"

    def test_kpi_summary(self, handlers):
        out = handlers.kpi_summary()
        assert out["summary_metadata"]["records_analyzed"] > 0
        assert out["savings_summary"]["total_potential_savings"] > 0
        # filtered to one payer account: fewer records
        filtered = handlers.kpi_summary(payer_account_id="payer_0")
        assert (
            0
            < filtered["summary_metadata"]["records_analyzed"]
            < out["summary_metadata"]["records_analyzed"]
        )

    def test_health_check_and_exec_summary(self, handlers):
        health = handlers.kpi_health_check()
        assert set(health["category_scores"]) == {
            "cost_efficiency", "resource_optimization", "tagging_compliance",
        }
        assert 0 <= health["overall_score"] <= 100
        execsum = handlers.kpi_executive_summary()
        assert "key_metrics" in execsum
        assert execsum["key_metrics"]["cost_health_score"] == health["overall_score"]

    def test_spend_router(self, handlers):
        assert handlers.spend_top_services(limit=3)["services"]
        assert handlers.spend_top_regions(limit=3)["regions"]
        summary = handlers.spend_invoice_summary()
        assert summary["invoice_total"] > 0

    def test_optimization_router(self, handlers):
        idle = handlers.optimization_idle_resources()
        assert "idle_resources" in idle
        rs = handlers.optimization_rightsizing()
        assert "recommendations" in rs or "rightsizing_recommendations" in rs

    def test_allocation_router(self, handlers):
        compliance = handlers.allocation_tagging_compliance()
        assert "compliance_score" in compliance

    def test_discounts_router(self, handlers):
        assert "agreements" in handlers.discounts_current_agreements()
        roi = handlers.discounts_commitment_planning(commitment_amount=10000.0)
        assert roi

    def test_ai_router(self, handlers):
        anomalies = handlers.ai_anomaly_detection()
        assert "anomalies" in anomalies or "anomalies_detected" in anomalies

    def test_mcp_router(self, handlers):
        assert handlers.mcp_tools()["total_tools"] == 5
        assert handlers.mcp_resources()["mcp_version"] == "0.4.0"
        stream = handlers.mcp_stream_config()
        assert stream["stream_config"]["websocket_url"].endswith("/mcp/stream")
        assert "cost_alert" in stream["event_schemas"]
        out = handlers.mcp_query("how can I optimize and save money")
        assert out["parsed_intent"]["intent"] == "optimization"

    @pytest.mark.parametrize(
        "route, kwargs, needle",
        [
            ("allocation_cost_center_breakdown", {"period": "2024-1"}, "YYYY-MM"),
            ("spend_breakdown", {"dimensions": "region,bogus"}, "bogus"),
            ("optimization_vpc_charges", {}, "product_location"),
        ],
    )
    def test_request_errors_are_422_and_not_memoized(self, handlers, route, kwargs, needle):
        size = handlers.memo_info()["size"]
        with pytest.raises(ApiError) as err:
            getattr(handlers, route)(**kwargs)
        assert err.value.status_code == 422
        assert needle in str(err.value.detail)
        assert handlers.memo_info()["size"] == size

    def test_route_census(self, handlers):
        # every declared route resolves to a real handler method
        for (method, path), attr in ROUTES.items():
            assert callable(getattr(handlers, attr)), (method, path, attr)
        # all 8 reference routers are represented under the api prefix
        prefixes = {p.split("/")[4] for (m, p) in ROUTES if p.startswith("/api/")}
        assert prefixes == {
            "sql", "kpi", "spend", "optimization",
            "allocation", "discounts", "ai", "mcp",
        }


def _http(server: str, method: str, path: str, params: dict | None = None,
          body: bytes | None = None) -> tuple[int, object]:
    """``(status, decoded body)`` of one request; GET parameters go in the
    query string, POST ones in a JSON body."""
    import json
    import urllib.error
    import urllib.parse
    import urllib.request

    url = f"{server}{path}"
    if method == "GET" and params:
        url += "?" + urllib.parse.urlencode(params)
    elif params is not None:
        body = json.dumps(params).encode()
    req = urllib.request.Request(url, data=body, method=method,
                                 headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as err:
        return err.code, json.loads(err.read())


def _serve(handlers):
    """start_api's stdlib server over ``handlers`` on a free port."""
    import http.server

    import start_api as launcher

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), launcher.make_handler_class(handlers))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


class TestStdlibLauncher:
    """start_api.py's fallback server: the route table over real HTTP."""

    @pytest.fixture(scope="class")
    def served(self, finops):
        return FinOpsHandlers(finops)

    @pytest.fixture(scope="class")
    def server(self, served):
        srv = _serve(served)
        yield f"http://127.0.0.1:{srv.server_address[1]}"
        srv.shutdown()
        srv.server_close()

    def test_health_and_query_over_http(self, server):
        import json
        import urllib.request

        r = urllib.request.urlopen(f"{server}/health", timeout=60)
        assert json.loads(r.read())["status"] == "healthy"
        req = urllib.request.Request(
            f"{server}/api/v1/finops/sql/query",
            data=json.dumps({"sql": "SELECT COUNT(*) AS n FROM CUR"}).encode(),
            headers={"Content-Type": "application/json"},
        )
        out = json.loads(urllib.request.urlopen(req, timeout=60).read())
        assert out["success"] and out["data"][0]["n"] > 0

    def test_errors_map_to_http_statuses(self, server):
        import json
        import urllib.error
        import urllib.request

        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{server}/nope", timeout=60)
        assert ei.value.code == 404
        req = urllib.request.Request(
            f"{server}/api/v1/finops/sql/query",
            data=json.dumps({"sql": "DROP TABLE CUR"}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(req, timeout=60)
        assert ei.value.code in (400, 403, 422)


    @pytest.mark.parametrize(
        "path, needle",
        [
            ("allocation/cost-center-breakdown?period=2024-1", "YYYY-MM"),
            ("spend/breakdown?dimensions=bogus", "bogus"),
            ("optimization/vpc-charges", "product_location"),
        ],
    )
    def test_client_errors_are_422_over_http(self, server, served, path, needle):
        import json
        import urllib.error
        import urllib.request

        size = served.memo_info()["size"]
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{server}/api/v1/finops/{path}", timeout=60)
        assert ei.value.code == 422
        assert needle in json.loads(ei.value.read())["detail"]
        assert served.memo_info()["size"] == size

    def test_custom_analysis_answers_over_http(self, server):
        status, out = _http(server, "POST", "/api/v1/finops/ai/custom-analysis",
                            {"query": "which services have the highest cost", "focus": "cost"})
        assert status == 200, out
        assert (out["analysis_type"], out["analysis_focus"]) == ("cost", "highest_cost_services")

    @pytest.mark.parametrize("body", [b"{not json", b"[1, 2]", b"\xff"])
    def test_a_malformed_body_is_400(self, server, body):
        status, out = _http(server, "POST", "/api/v1/finops/sql/query", body=body)
        assert status == 400 and "JSON" in out["detail"]

    @pytest.mark.parametrize("query", ["limit=abc", "limit=2.5"])
    def test_an_unparsable_parameter_is_422(self, server, query):
        status, out = _http(server, "GET", f"/api/v1/finops/spend/regions/top?{query}")
        assert status == 422 and "limit" in out["detail"]

    def test_repeated_get_is_served_from_the_memo(self, server, served):
        import json
        import urllib.request

        url = f"{server}/api/v1/finops/spend/regions/top?limit=3"
        first = json.loads(urllib.request.urlopen(url, timeout=60).read())
        hits = served.memo_info()["hits"]
        assert json.loads(urllib.request.urlopen(url, timeout=60).read()) == first
        assert served.memo_info()["hits"] == hits + 1

    def test_repeated_sql_is_served_from_the_memo(self, server, served):
        import json
        import urllib.request

        body = json.dumps({"sql": "SELECT product_servicecode, COUNT(*) AS n"
                                  " FROM CUR GROUP BY 1 ORDER BY 1"}).encode()

        def post() -> dict:
            req = urllib.request.Request(
                f"{server}/api/v1/finops/sql/query", data=body,
                headers={"Content-Type": "application/json"},
            )
            out = json.loads(urllib.request.urlopen(req, timeout=60).read())
            del out["query_metadata"]["query_timestamp"], out["execution_time_ms"]
            return out

        first = post()
        hits = served.memo_info()["hits"]
        assert post() == first and first["row_count"] > 0
        assert served.memo_info()["hits"] == hits + 1


def _stub_engine():
    """A ``FinOpsEngine`` with no Spark behind it: autospec'd, with each
    analytics module an autospec'd instance of its class, so a call that
    passes an argument its target does not take raises ``TypeError``."""
    import typing
    from unittest import mock

    import pandas as pd

    from de_polars_spark.engine.core import SparkEngine

    engine = mock.create_autospec(FinOpsEngine, instance=True)
    for name in ("kpi", "spend", "optimization", "allocation", "discounts", "ai", "mcp"):
        module = typing.get_type_hints(getattr(FinOpsEngine, name).fget)["return"]
        setattr(engine, name, mock.create_autospec(module, instance=True))
    engine.engine = mock.create_autospec(SparkEngine, instance=True)
    engine.config = DataConfig(local_data_path="/nonexistent", table_name="CUR")
    engine.data_version.return_value = None
    engine.query_plan.return_value.limit.return_value.toPandas.return_value = pd.DataFrame(
        {"n": [1]})
    return engine


def _required(name: str) -> dict:
    """A value for each parameter of route ``name`` that has no default."""
    import inspect
    import typing

    fn = getattr(FinOpsHandlers, name)
    hints = typing.get_type_hints(fn)
    sample = {str: "SELECT 1", float: 1000.0, int: 1}
    return {p: sample[hints[p]] for p, v in inspect.signature(fn).parameters.items()
            if p != "self" and v.default is v.empty}


class TestRouteContract:
    """Every ``ROUTES`` entry, called with its required parameters, reaches
    the engine with arguments the engine's methods take. No Spark runs."""

    @pytest.fixture(scope="class")
    def stub(self):
        return FinOpsHandlers(_stub_engine())

    @pytest.fixture(scope="class")
    def server(self, stub):
        srv = _serve(stub)
        yield f"http://127.0.0.1:{srv.server_address[1]}"
        srv.shutdown()
        srv.server_close()

    @pytest.mark.parametrize("route", sorted(ROUTES), ids="{0[0]} {0[1]}".format)
    def test_every_route_answers_with_its_required_parameters(self, stub, server, route):
        method, path = route
        params = _required(ROUTES[route])
        status, out = _http(server, method, path, params)
        assert status == 200, out
        status, out = stub.handle(method, path, params)
        assert status == 200, out

    def test_a_type_error_inside_a_route_is_500(self, stub, server, monkeypatch):
        monkeypatch.setattr(stub.engine.spend.get_top_regions, "side_effect",
                            TypeError("unsupported operand"))
        status, out = _http(server, "GET", "/api/v1/finops/spend/regions/top")
        assert status == 500 and "unsupported operand" in out["detail"]

    def test_a_missing_or_unknown_parameter_is_422(self, stub):
        assert stub.handle("POST", "/api/v1/finops/sql/query", {})[0] == 422
        assert stub.handle("GET", "/api/v1/finops/spend/regions/top", {"top": "3"})[0] == 422
        assert stub.handle("GET", "/api/v1/finops/nope", {})[0] == 404

    def test_parameters_are_coerced_to_their_hints(self, stub):
        stub.handle("GET", "/api/v1/finops/ai/anomaly-detection",
                    {"sensitivity": "1.5", "lookback_days": "90"})
        stub.engine.ai.get_anomaly_detection.assert_called_with(
            sensitivity=1.5, lookback_days=90)
        status, out = stub.handle("POST", "/api/v1/finops/sql/query", {"force_s3": "true"},
                                  b'{"sql": "SELECT 1", "limit": "5"}')
        assert status == 200 and out["query_metadata"]["limit_applied"] == 5
        assert stub.engine.query_plan.call_args.kwargs == {"force_s3": True}


class TestConfigFromEnv:
    """``DataConfig.from_env``, the one reader of the ``FINOPS_*`` variables
    (``start_api.build_engine`` and the FastAPI env factory call it)."""

    VALUES = {"FINOPS_LOCAL_PATH": "/data/cur", "FINOPS_S3_BUCKET": "bucket",
              "FINOPS_S3_PREFIX": "exports/cur", "FINOPS_DATA_TYPE": "FOCUS1.0",
              "FINOPS_AWS_REGION": "eu-west-1", "FINOPS_TABLE_NAME": "focus"}

    @pytest.fixture()
    def env(self, monkeypatch):
        for name in self.VALUES:
            monkeypatch.delenv(name, raising=False)
        return monkeypatch

    def test_every_variable_is_read(self, env):
        for name, value in self.VALUES.items():
            env.setenv(name, value)
        assert DataConfig.from_env() == DataConfig(
            local_data_path="/data/cur", s3_bucket="bucket", s3_data_prefix="exports/cur",
            export_type=DataExportType.FOCUS_1_0, aws_region="eu-west-1", table_name="focus")

    def test_unset_or_empty_variables_keep_the_defaults(self, env):
        assert DataConfig.from_env() is None
        env.setenv("FINOPS_S3_BUCKET", "bucket")
        env.setenv("FINOPS_TABLE_NAME", "")
        assert DataConfig.from_env() == DataConfig(s3_bucket="bucket")
        env.setenv("FINOPS_DATA_TYPE", "CUR3")
        with pytest.raises(ValueError):
            DataConfig.from_env()

    def test_start_api_serves_the_configured_data(self, env, built_spark, tmp_path):
        import start_api

        root = str(tmp_path / "cur")
        built_spark.range(1, 3).coalesce(1).write.parquet(root)
        env.setenv("FINOPS_LOCAL_PATH", root)
        env.setenv("FINOPS_TABLE_NAME", "env_cur")
        engine = start_api.build_engine()
        assert engine.config == DataConfig.from_env()
        assert engine.query("SELECT SUM(id) FROM env_cur").first()[0] == 3

    def test_start_api_demo_mode_serves_the_sample_cur(self, env, built_spark):
        import start_api

        engine = start_api.build_engine()
        assert engine.spark is built_spark and engine.now == "1998-10-01"
        assert os.path.basename(engine.config.local_data_path).startswith("cur_ext_")
        assert engine.query("SELECT COUNT(*) FROM CUR").first()[0] > 0


class TestFastApiRouteParity:
    """The FastAPI factory (api/fastapi_app.py) is the production path but
    fastapi is an optional extra: it builds one endpoint per ``ROUTES``
    entry, which this test checks wherever fastapi is importable."""

    def test_dynamic_route_parity_when_fastapi_present(self, finops):
        pytest.importorskip(
            "fastapi",
            reason="fastapi is an optional extra (reference parity); the "
            "static parity test above covers this sandbox",
        )
        from de_polars_spark.api.fastapi_app import build_app

        app = build_app(finops)
        live = set()
        for r in app.routes:
            methods = getattr(r, "methods", None) or set()
            for m in methods - {"HEAD", "OPTIONS"}:
                live.add((m, r.path))
        # FastAPI adds /docs, /redoc, /openapi.json infrastructure routes
        live = {(m, p) for m, p in live if not p.startswith(("/docs", "/redoc", "/openapi"))}
        assert live == set(ROUTES)


class TestAnalyticsEdgeGuard:
    """_rows() is the one collect-to-dicts site every analytics module
    funnels through — the row cap must hold locally (VERDICT r5 #8)."""

    def test_rows_under_cap_pass(self, spark):
        from de_polars_spark.analytics.base import AnalyticsModule

        out = AnalyticsModule._rows(spark.range(5).toDF("id"))
        assert [r["id"] for r in out] == [0, 1, 2, 3, 4]

    def test_unbounded_result_raises_instead_of_collecting(self, spark):
        from de_polars_spark.analytics.base import AnalyticsModule

        big = spark.range(AnalyticsModule.MAX_EDGE_ROWS + 7).toDF("id")
        with pytest.raises(ValueError, match="API edge cap"):
            AnalyticsModule._rows(big)


# ---------------------------------------------------------------------- #
# the GET response memo over a hive CUR directory that changes            #
# ---------------------------------------------------------------------- #
HELD_OUT = "billing_period=1998-09"


@pytest.fixture(scope="module")
def cur_partitions(spark, sf_dir, tmp_path_factory):
    """Two years of the synthetic CUR as a hive ``billing_period=YYYY-MM``
    dataset, one directory per month as an export lands."""
    from de_polars_spark.inventory.kpi_views import _ensure_cur_ext

    out = str(tmp_path_factory.mktemp("cur") / "staged")
    (spark.read.parquet(_ensure_cur_ext(spark, sf_dir))
     .where("billing_period BETWEEN '1997-01' AND '1998-12'")
     .repartition("billing_period").write.partitionBy("billing_period").parquet(out))
    return out


@pytest.fixture()
def cur_root(cur_partitions, tmp_path):
    """A served CUR root holding every staged month but ``HELD_OUT``."""
    root = str(tmp_path / "cur")
    os.makedirs(root)
    for name in os.listdir(cur_partitions):
        if name.startswith("billing_period=") and name != HELD_OUT:
            shutil.copytree(os.path.join(cur_partitions, name), os.path.join(root, name))
    return root


@pytest.fixture()
def memo_engines(spark):
    """Engines over ``memo_cur``, each in a session of its own: the views
    it registers (the KPI view chain among them) go with it."""

    def serve(root: str, now: str | None = "1998-10-01") -> FinOpsHandlers:
        return FinOpsHandlers(FinOpsEngine(
            DataConfig(export_type=DataExportType.FOCUS_1_0, local_data_path=root,
                       table_name="memo_cur"),
            spark=new_session(spark), now=now,
        ))

    return serve


def _part_file(root: str, partition: str) -> str:
    d = os.path.join(root, partition)
    return os.path.join(d, next(n for n in sorted(os.listdir(d)) if n.endswith(".parquet")))


def _crc(path: str) -> str:
    return os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")


class TestResponseMemo:
    def test_hit_equals_a_fresh_answer_and_is_a_private_copy(self, memo_engines, cur_root):
        h = memo_engines(cur_root)
        first = h.spend_top_regions(limit=3)
        first["regions"].clear()  # the caller's copy, not the memo's
        hit = h.spend_top_regions(3)  # positional binds to the same entry
        assert h.memo_info() == {"hits": 1, "misses": 1, "size": 1,
                                 "maxsize": handlers_module.MEMO_SIZE}
        assert hit == h.engine.spend.get_top_regions(limit=3) and hit["regions"]
        hit["regions"].clear()
        assert h.spend_top_regions(limit=3)["regions"]
        # an omitted default and the explicit default share one entry
        h.spend_top_services()
        h.spend_top_services(limit=10)
        assert h.memo_info()["hits"] == 3 and h.memo_info()["size"] == 2

    def test_appended_billing_period_changes_the_answer(self, memo_engines, cur_root,
                                                        cur_partitions):
        h = memo_engines(cur_root)
        before = h.spend_invoice_summary()
        assert h.spend_invoice_summary() == before
        shutil.copytree(os.path.join(cur_partitions, HELD_OUT),
                        os.path.join(cur_root, HELD_OUT))
        after = h.spend_invoice_summary()
        assert after != before
        assert "1998-09" in [t["month"] for t in after["trend_data"]]
        assert "1998-09" not in [t["month"] for t in before["trend_data"]]
        n = h.engine.query("SELECT COUNT(*) FROM memo_cur").first()[0]
        assert n == h.engine.spark.read.parquet(cur_root).count()

    def test_sql_sees_an_appended_billing_period(self, memo_engines, cur_root,
                                                 cur_partitions):
        # no GET in between: the SQL route itself must notice the new files
        h = memo_engines(cur_root)
        sql = "SELECT COUNT(*) AS n FROM memo_cur"
        before = h.sql_query(sql)["data"][0]["n"]
        shutil.copytree(os.path.join(cur_partitions, HELD_OUT),
                        os.path.join(cur_root, HELD_OUT))
        after = h.sql_query(sql)["data"][0]["n"]
        assert after == h.engine.spark.read.parquet(cur_root).count() > before

    def test_files_landing_mid_request_are_not_served_stale(
            self, memo_engines, cur_root, cur_partitions, monkeypatch):
        h = memo_engines(cur_root)
        walk = h.engine.data_version

        def files_land_after_the_walk():
            version = walk()
            shutil.copytree(os.path.join(cur_partitions, HELD_OUT),
                            os.path.join(cur_root, HELD_OUT))
            monkeypatch.setattr(h.engine, "data_version", walk)
            return version

        monkeypatch.setattr(h.engine, "data_version", files_land_after_the_walk)
        sql = "SELECT COUNT(*) AS n FROM memo_cur"
        before = h.sql_query(sql)["data"][0]["n"]  # over the listing without them
        after = h.sql_query(sql)["data"][0]["n"]
        assert after == h.engine.spark.read.parquet(cur_root).count() > before

    def test_file_rewritten_in_place_changes_the_answer(self, memo_engines, cur_root):
        h = memo_engines(cur_root)
        before = h.spend_invoice_summary()
        # August's file replaced by July's rows, under August's file name
        # (with its checksum, as a writer would leave it)
        src = _part_file(cur_root, "billing_period=1998-07")
        dst = _part_file(cur_root, "billing_period=1998-08")
        for a, b in ((src, dst), (_crc(src), _crc(dst))):
            shutil.copyfile(a, b)
        after = h.spend_invoice_summary()
        assert after != before
        assert "1998-08" not in [t["month"] for t in after["trend_data"]]

    def test_kpi_summary_reflects_new_data(self, memo_engines, cur_root, cur_partitions):
        h = memo_engines(cur_root)
        period = HELD_OUT.split("=")[1]
        assert h.kpi_summary(billing_period=period)["summary_metadata"]["records_analyzed"] == 0
        shutil.copytree(os.path.join(cur_partitions, HELD_OUT),
                        os.path.join(cur_root, HELD_OUT))
        assert h.kpi_summary(billing_period=period)["summary_metadata"]["records_analyzed"] > 0

    def test_an_append_reuses_the_kpi_view_chain(self, memo_engines, cur_root,
                                                 cur_partitions, monkeypatch):
        # the chain is SQL-text temp views, resolved again at each use, so
        # the CUR read again needs no second registration
        from de_polars_spark.analytics import kpi as kpi_module

        calls = []
        register = kpi_module.register_kpi_views
        monkeypatch.setattr(kpi_module, "register_kpi_views",
                            lambda *a, **k: calls.append(a) or register(*a, **k))
        h = memo_engines(cur_root)
        before = h.kpi_summary()["summary_metadata"]["records_analyzed"]
        shutil.copytree(os.path.join(cur_partitions, HELD_OUT),
                        os.path.join(cur_root, HELD_OUT))
        after = h.kpi_summary()
        assert len(calls) == 1, calls
        assert after["summary_metadata"]["records_analyzed"] > before
        assert after == memo_engines(cur_root).kpi_summary()

    def test_lru_evicts_the_least_recently_used_past_the_bound(
            self, memo_engines, cur_root, monkeypatch):
        monkeypatch.setattr(handlers_module, "MEMO_SIZE", 2)
        h = memo_engines(cur_root)
        h.mcp_tools()
        h.mcp_resources()
        h.mcp_tools()  # hit: mcp_resources is now the oldest
        h.sql_tables()  # third entry evicts mcp_resources
        assert h.memo_info()["size"] == 2
        misses = h.memo_info()["misses"]
        h.mcp_tools()
        h.sql_tables()
        assert h.memo_info()["misses"] == misses
        h.mcp_resources()
        assert h.memo_info()["misses"] == misses + 1

    def test_get_and_sql_entries_share_one_lru(self, memo_engines, cur_root, monkeypatch):
        monkeypatch.setattr(handlers_module, "MEMO_SIZE", 2)
        h = memo_engines(cur_root)
        count = "SELECT COUNT(*) AS n FROM memo_cur"
        h.mcp_tools()
        h.sql_query(count)
        h.mcp_tools()  # hit: the SQL entry is now the oldest
        h.sql_query("SELECT 1 AS one")  # third entry evicts the SQL count
        assert h.memo_info()["size"] == 2
        misses = h.memo_info()["misses"]
        h.mcp_tools()
        h.sql_query("SELECT 1 AS one")
        assert h.memo_info()["misses"] == misses
        h.sql_query(count)
        assert h.memo_info()["misses"] == misses + 1

    def test_racing_requests_agree_and_store_one_entry(self, memo_engines, cur_root):
        h = memo_engines(cur_root)
        n = 4
        start = threading.Barrier(n)
        answers, rows, errors = [], [], []

        def run():
            try:
                start.wait(timeout=30)
                answers.append(h.spend_top_services(limit=3))
                start.wait(timeout=300)
                rows.append(h.sql_query("SELECT COUNT(*) AS n FROM memo_cur")["data"])
            except Exception as exc:  # surfaced below
                errors.append(exc)

        threads = [threading.Thread(target=run) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not errors, errors
        assert len(answers) == n and all(a == answers[0] for a in answers)
        assert len(rows) == n and all(r == rows[0] for r in rows)
        assert h.memo_info()["size"] == 2

    def test_non_local_root_bypasses_the_memo(self, memo_engines, cur_root):
        h = memo_engines(cur_root)
        # as after a force_s3 request: the table's root is an object store
        h.engine.engine._registered["memo_cur"] = (("s3a://finops-bucket/cur",), None, None)
        assert h.engine.data_version() is None
        assert h.mcp_tools() == h.mcp_tools()
        assert h.memo_info() == {"hits": 0, "misses": 0, "size": 0,
                                 "maxsize": handlers_module.MEMO_SIZE}

    def test_unpinned_version_is_the_session_date(self, memo_engines, cur_root, spark):
        h = memo_engines(cur_root, now=None)
        _, today = h.engine.data_version()
        assert today == spark.sql("SELECT CAST(current_date() AS STRING)").first()[0]


def test_racing_data_versions_read_an_appended_cur_once(memo_engines, cur_root,
                                                       cur_partitions, monkeypatch):
    """More threads than cores ask for the data version right after one
    append: the CUR is read again once, they all get the same version, and
    the answers afterwards are a fresh engine's."""
    h = memo_engines(cur_root)
    before = h.engine.data_version()
    h.kpi_summary()  # modules built over the read without the new month
    h.spend_invoice_summary()
    shutil.copytree(os.path.join(cur_partitions, HELD_OUT), os.path.join(cur_root, HELD_OUT))
    engine, reads = h.engine.engine, []
    register = engine._register
    monkeypatch.setattr(engine, "_register", lambda *a: reads.append(a[0]) or register(*a))
    n = min(16, 4 * (os.cpu_count() or 1))
    start = threading.Barrier(n)
    versions, errors = [], []

    def run():
        try:
            start.wait(timeout=30)
            versions.append(h.engine.data_version())
        except Exception as exc:  # surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=run) for _ in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert reads == ["memo_cur"], reads
    assert len(versions) == n and len(set(versions)) == 1 and versions[0] != before
    answers = (h.kpi_summary(), h.spend_invoice_summary())
    assert "1998-09" in [t["month"] for t in answers[1]["trend_data"]]
    fresh = memo_engines(cur_root)
    assert answers == (fresh.kpi_summary(), fresh.spend_invoice_summary())


def test_engines_built_without_a_session_keep_their_own_kpi_views(
        built_spark, cur_root, cur_partitions):
    """Each engine's KPI chain reads its own CUR: A's summary, computed
    again after B's, is still A's."""
    ha, hb = (FinOpsHandlers(FinOpsEngine(
        DataConfig(export_type=DataExportType.FOCUS_1_0, local_data_path=root),
        now="1998-10-01")) for root in (cur_root, cur_partitions))
    a = ha.kpi_summary()
    assert hb.kpi_summary() != a
    assert ha.engine.kpi.get_comprehensive_summary() == a


def test_kpi_summary_survives_the_inventory_chain_in_its_session(memo_engines, cur_root,
                                                                 sf_dir):
    """The inventory's pinned chain over ``cur_ext`` registers the same view
    names: the engine's next summary registers its own chain again, and
    the inventory's next call its own."""
    from de_polars_spark.inventory.kpi_views import _ensure_kpi_views

    engine = memo_engines(cur_root).engine
    before = engine.kpi.get_comprehensive_summary()
    _ensure_kpi_views(engine.spark, sf_dir)
    pinned = engine.spark.table("kpi_tracker").count()
    assert engine.kpi.get_comprehensive_summary() == before
    assert engine.spark.table("kpi_tracker").count() != pinned
    _ensure_kpi_views(engine.spark, sf_dir)
    assert engine.spark.table("kpi_tracker").count() == pinned


def _jobs_run(spark, group: str, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestSqlMemo:
    """Which ad-hoc statements the memo serves (hit), computes and stores
    (miss), or answers fresh without a key (bypass)."""

    COUNT = "SELECT COUNT(*) AS n FROM memo_cur"

    @staticmethod
    def _twice_unmemoized(h, sql: str) -> list:
        outs = [h.sql_query(sql) for _ in range(2)]
        assert h.memo_info() == {"hits": 0, "misses": 0, "size": 0,
                                 "maxsize": handlers_module.MEMO_SIZE}
        return outs

    def test_repeated_statement_is_a_hit_that_runs_no_job(self, memo_engines, cur_root,
                                                          spark):
        h = memo_engines(cur_root)
        first, jobs = _jobs_run(spark, "sql-memo-miss", lambda: h.sql_query(self.COUNT))
        assert jobs > 0
        second, jobs = _jobs_run(spark, "sql-memo-hit", lambda: h.sql_query(self.COUNT))
        assert jobs == 0
        assert h.memo_info() == {"hits": 1, "misses": 1, "size": 1,
                                 "maxsize": handlers_module.MEMO_SIZE}
        assert second["data"] == first["data"] and first["data"][0]["n"] > 0
        second["data"].clear()  # the caller's copy, not the memo's
        assert h.sql_query(self.COUNT)["data"] == first["data"]

    def test_whitespace_variants_share_an_entry_and_echo_their_own_metadata(
            self, memo_engines, cur_root):
        h = memo_engines(cur_root)
        variant = "  SELECT  COUNT(*) AS n\n   FROM memo_cur  "
        a = h.sql_query(self.COUNT, limit=MAX_LIMIT)
        b = h.sql_query(variant, limit=None, format="JSON")
        assert h.memo_info()["hits"] == 1 and h.memo_info()["size"] == 1
        assert b["data"] == a["data"]
        meta_a, meta_b = a["query_metadata"], b["query_metadata"]
        assert (meta_a["query_length"], meta_b["query_length"]) == (len(self.COUNT),
                                                                    len(variant))
        assert (meta_a["limit_applied"], meta_b["limit_applied"]) == (MAX_LIMIT, None)
        assert (meta_a["format"], meta_b["format"]) == ("json", "JSON")

    @pytest.mark.parametrize(
        "first, second",
        [
            ("SELECT id AS a FROM range(3)", "SELECT id AS b FROM range(3)"),
            ("SELECT id FROM range(3)", "select ID from range(3)"),
        ],
    )
    def test_column_name_variants_miss(self, memo_engines, cur_root, first, second):
        h = memo_engines(cur_root)
        a, b = h.sql_query(first), h.sql_query(second)
        assert h.memo_info()["hits"] == 0 and h.memo_info()["size"] == 2
        assert list(a["schema"]) != list(b["schema"])
        for out in (a, b):
            assert list(out["data"][0]) == list(out["schema"])

    @pytest.mark.parametrize(
        "sql",
        [
            "SELECT current_timestamp() AS t",
            "SELECT rand() AS r",
            "SELECT memo_nondeterministic(id) AS v FROM range(3)",
        ],
    )
    def test_nondeterministic_statements_are_never_stored(self, memo_engines, cur_root, sql):
        from pyspark.sql import functions as F

        h = memo_engines(cur_root)
        h.engine.spark.udf.register("memo_nondeterministic",
                                    F.udf(lambda x: x, "bigint").asNondeterministic())
        self._twice_unmemoized(h, sql)

    def test_failed_execution_is_never_stored(self, memo_engines, cur_root):
        h = memo_engines(cur_root)
        for _ in range(2):
            with pytest.raises(ApiError) as err:
                h.sql_query("SELECT assert_true(id < 1) AS v FROM range(3)")
            assert err.value.status_code == 400
        assert h.memo_info()["hits"] == 0 and h.memo_info()["size"] == 0

    def test_table_read_only_by_a_scalar_subquery_is_versioned(
            self, memo_engines, cur_root, tmp_path):
        h = memo_engines(cur_root)
        spark = h.engine.spark
        side, other = str(tmp_path / "side"), str(tmp_path / "other")
        spark.range(3).coalesce(1).write.parquet(side)
        spark.range(10).coalesce(1).write.parquet(other)
        sql = "SELECT 1 AS one, (SELECT SUM(id) FROM memo_side) AS s"
        spark.read.parquet(side).createOrReplaceTempView("memo_side")
        assert h.sql_query(sql)["data"][0]["s"] == 3
        assert h.sql_query(sql)["data"][0]["s"] == 3
        assert h.memo_info()["hits"] == 1
        # the file rewritten in place; the view registered again over
        # the same path gives a plan that is sameResult with the old one
        src, dst = _part_file(other, ""), _part_file(side, "")
        for a, b in ((src, dst), (_crc(src), _crc(dst))):
            shutil.copyfile(a, b)
        spark.read.parquet(side).createOrReplaceTempView("memo_side")
        assert h.sql_query(sql)["data"][0]["s"] == 45
        assert h.memo_info()["hits"] == 1 and h.memo_info()["misses"] == 2

    def test_files_appended_before_the_table_is_listed_again_miss(
            self, memo_engines, cur_root, tmp_path):
        h = memo_engines(cur_root)
        spark = h.engine.spark
        side = str(tmp_path / "side")
        spark.range(3).coalesce(1).write.parquet(side)
        sql = "SELECT SUM(id) AS s FROM memo_side"
        spark.read.parquet(side).createOrReplaceTempView("memo_side")
        spark.range(3, 10).coalesce(1).write.mode("append").parquet(side)
        # Spark reads the listing taken when the view was registered
        assert h.sql_query(sql)["data"][0]["s"] == 3
        spark.read.parquet(side).createOrReplaceTempView("memo_side")
        assert h.sql_query(sql)["data"][0]["s"] == 45
        assert h.memo_info()["hits"] == 0

    def test_view_replaced_with_other_logic_misses(self, memo_engines, cur_root):
        h = memo_engines(cur_root)
        sql = "SELECT COUNT(*) AS n FROM memo_view"
        view = "CREATE OR REPLACE TEMP VIEW memo_view AS SELECT * FROM memo_cur WHERE "
        h.engine.spark.sql(view + "billing_period < '1998-01'")
        before = h.sql_query(sql)["data"][0]["n"]
        h.engine.spark.sql(view + "billing_period >= '1998-01'")
        after = h.sql_query(sql)["data"][0]["n"]
        assert h.memo_info()["hits"] == 0 and h.memo_info()["misses"] == 2
        total = h.sql_query(self.COUNT)["data"][0]["n"]
        assert before > 0 and after > 0 and before + after == total

    def test_changed_session_time_zone_misses(self, memo_engines, cur_root):
        h = memo_engines(cur_root)
        conf = h.engine.spark.conf
        sql = "SELECT date_format(timestamp_seconds(id), 'yyyy-MM-dd HH:mm') AS t FROM range(1)"
        conf.set("spark.sql.session.timeZone", "UTC")
        utc = h.sql_query(sql)["data"][0]["t"]
        conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        pacific = h.sql_query(sql)["data"][0]["t"]
        assert (utc, pacific) == ("1970-01-01 00:00", "1969-12-31 16:00")
        assert h.memo_info()["hits"] == 0 and h.memo_info()["misses"] == 2

    def test_changed_ansi_mode_misses(self, memo_engines, cur_root):
        h = memo_engines(cur_root)
        conf = h.engine.spark.conf
        sql = "SELECT CAST(concat('x', id) AS INT) AS v FROM range(1)"
        conf.set("spark.sql.ansi.enabled", "false")
        assert h.sql_query(sql)["data"] == [{"v": None}]
        conf.set("spark.sql.ansi.enabled", "true")
        with pytest.raises(ApiError) as err:
            h.sql_query(sql)
        assert "CAST_INVALID_INPUT" in err.value.detail["error"]
        assert h.memo_info()["hits"] == 0 and h.memo_info()["misses"] == 2

    def test_conf_the_plan_does_not_show_misses(self, memo_engines, cur_root):
        # the two plans are sameResult: only the conf digest tells them apart
        h = memo_engines(cur_root)
        conf = h.engine.spark.conf
        sql = "SELECT to_date(concat('2020-1-', id + 1), 'yyyy-MM-dd') AS v FROM range(1)"
        policy = "spark.sql.legacy.timeParserPolicy"
        conf.set("spark.sql.ansi.enabled", "false")
        conf.set(policy, "LEGACY")
        assert h.sql_query(sql)["data"] == [{"v": "2020-01-01T00:00:00.000"}]
        conf.set(policy, "CORRECTED")
        assert h.sql_query(sql)["data"] == [{"v": None}]
        assert h.memo_info()["hits"] == 0 and h.memo_info()["misses"] == 2

    def test_rdd_leaf_bypasses_the_memo(self, memo_engines, cur_root):
        h = memo_engines(cur_root)
        spark = h.engine.spark
        rdd = spark.sparkContext.parallelize([(1,), (2,)])
        spark.createDataFrame(rdd, "a int").createOrReplaceTempView("memo_rdd")
        outs = self._twice_unmemoized(h, "SELECT SUM(a) AS s FROM memo_rdd")
        assert [o["data"] for o in outs] == [[{"s": 3}]] * 2

    def test_cached_view_bypasses_the_memo(self, memo_engines, cur_root):
        h = memo_engines(cur_root)
        spark = h.engine.spark
        spark.sql("CACHE TABLE memo_cached AS SELECT id FROM range(5)")
        try:
            outs = self._twice_unmemoized(h, "SELECT SUM(id) AS s FROM memo_cached")
        finally:  # the cached blocks are the application's, not the session's
            spark.sql("UNCACHE TABLE memo_cached")
        assert [o["data"] for o in outs] == [[{"s": 10}]] * 2

    def test_force_s3_bypasses_the_memo(self, memo_engines, cur_root, monkeypatch):
        h = memo_engines(cur_root)
        # the S3 registration itself is not under test (and would need S3)
        registered = []
        monkeypatch.setattr(h.engine.engine, "register",
                            lambda config, force_s3=False: registered.append(force_s3))
        outs = [h.sql_query(self.COUNT, force_s3=True) for _ in range(2)]
        assert registered == [True, True] and outs[0]["data"] == outs[1]["data"]
        assert h.memo_info()["hits"] == h.memo_info()["misses"] == 0

    def test_non_local_root_bypasses_the_memo(self, memo_engines, cur_root):
        h = memo_engines(cur_root)
        h.engine.engine._registered["memo_cur"] = (("s3a://finops-bucket/cur",), None, None)
        self._twice_unmemoized(h, self.COUNT)

    @pytest.mark.parametrize("sql", ["DROP TABLE memo_cur", "SELEC COUNT(*) FROM"])
    def test_refused_or_unparsable_statement_leaves_the_memo_alone(
            self, memo_engines, cur_root, sql):
        h = memo_engines(cur_root)
        h.sql_query(self.COUNT)
        info = h.memo_info()
        with pytest.raises(ApiError) as err:
            h.sql_query(sql)
        assert err.value.status_code == 400
        assert h.memo_info() == info


class TestSqlParsedOnce:
    """The SQL route runs the statement its guard checked: the text is
    translated and parsed once, and that plan is the one analyzed."""

    TEXT = "SELECT 1 AS a -- see notes.sql"

    def test_text_ending_in_dot_sql_is_a_statement(self, memo_engines, cur_root):
        assert memo_engines(cur_root).sql_query(self.TEXT)["data"] == [{"a": 1}]

    def test_a_file_named_like_the_text_is_not_run(self, memo_engines, cur_root,
                                                   monkeypatch, tmp_path):
        monkeypatch.chdir(tmp_path)
        (tmp_path / self.TEXT).write_text("SELECT 2 AS a")
        assert memo_engines(cur_root).sql_query(self.TEXT)["data"] == [{"a": 1}]

    def test_translation_runs_once_per_request(self, memo_engines, cur_root, monkeypatch):
        from de_polars_spark.engine import core

        h = memo_engines(cur_root)
        calls = []
        translate = core.translate_duckdb_sql
        monkeypatch.setattr(core, "translate_duckdb_sql",
                            lambda sql: calls.append(sql) or translate(sql))
        sql = "SELECT '2024-01-02'::date AS d"
        for _ in range(2):  # a miss, then a memo hit
            assert h.sql_query(sql)["data"] == [{"d": "2024-01-02T00:00:00.000"}]
        assert calls == [sql, sql] and h.memo_info()["hits"] == 1
