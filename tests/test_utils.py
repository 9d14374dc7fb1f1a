"""Unit tests for de_polars_spark.utils (formatters/exports/validators)
— behavior contracts from reference de_polars/utils/."""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest

from de_polars_spark.utils import (
    DataExporter,
    ReportGenerator,
    format_billing_period,
    format_currency,
    format_large_currency,
    format_large_number,
    format_number,
    format_percentage,
    format_relative_date,
    get_date_range_description,
    validate_cost_data,
    validate_date_range,
    validate_local_path,
    validate_s3_config,
)

NOW = datetime(2025, 7, 15, 12, 0, 0)


class TestFormatters:
    def test_currency(self):
        assert format_currency(1234567.891) == "$1,234,567.89"
        assert format_currency(5, "EUR") == "5.00 EUR"
        assert format_currency(None) == "N/A"
        assert format_currency("x") == "Invalid Amount"
        assert format_currency(3.14159, precision=3, include_symbol=False) == "3.142"

    def test_large_currency(self):
        assert format_large_currency(1_250_000) == "$1.25M"
        assert format_large_currency(12_500_000) == "$12.5M"
        assert format_large_currency(125_000_000) == "$125M"
        assert format_large_currency(1_500) == "$1.50K"
        assert format_large_currency(2_000_000_000) == "$2.00B"
        assert format_large_currency(999) == "$999.00"
        assert format_large_currency(1_250_000, abbreviate=False) == "$1,250,000.00"

    def test_percentage(self):
        assert format_percentage(15.66) == "+15.7%"
        assert format_percentage(-3.2) == "-3.2%"
        assert format_percentage(15.66, include_sign=False) == "15.7%"
        assert format_percentage(None) == "N/A"

    def test_number(self):
        assert format_number(1234567) == "1,234,567"
        assert format_number(1234.5, precision=2, thousands_separator=False) == "1234.50"
        assert format_large_number(1_500_000) == "1.5M"
        assert format_large_number(25_000) == "25K"
        assert format_large_number(123) == "123"

    def test_billing_period(self):
        assert format_billing_period("2025-03-14") == "2025-03"
        assert format_billing_period("2025-03", display_format="Mon YYYY") == "Mar 2025"
        assert format_billing_period(datetime(2025, 3, 1), display_format="YYYY-MM-DD") == "2025-03-01"
        assert format_billing_period("garbage") == "garbage"
        assert format_billing_period(None) == "N/A"

    def test_relative_date(self):
        assert format_relative_date("2025-07-15", now=NOW) == "Today"
        assert format_relative_date("2025-07-14", now=NOW) == "Yesterday"
        assert format_relative_date("2025-07-12", now=NOW) == "3 days ago"
        assert format_relative_date("2025-07-01", now=NOW) == "2 weeks ago"
        assert format_relative_date("2025-05-15", now=NOW) == "2 months ago"
        assert format_relative_date("2023-07-15", now=NOW) == "2 years ago"

    def test_date_range_description(self):
        assert get_date_range_description(None, None) == "All available data"
        assert get_date_range_description("2025-01", "2025-03") == "Jan 2025 to Mar 2025"
        assert get_date_range_description("2025-01", "2025-01") == "Jan 2025"
        assert get_date_range_description("2025-01", None) == "From Jan 2025"
        assert get_date_range_description(None, "2025-03") == "Through Mar 2025"


class TestValidators:
    def test_cost_data_clean(self, spark):
        df = spark.createDataFrame(
            [(1.0, "AmazonEC2", NOW)],
            "line_item_unblended_cost double, product_servicecode string, "
            "line_item_usage_start_date timestamp",
        )
        out = validate_cost_data(df, now=NOW)
        assert out["valid"] and out["total_rows"] == 1
        assert out["data_quality_score"] == 100.0

    def test_cost_data_issues(self, spark):
        rows = [(-5.0, None, NOW)] + [(1.0, None, NOW)] * 9
        df = spark.createDataFrame(
            rows,
            "line_item_unblended_cost double, product_servicecode string, "
            "line_item_usage_start_date timestamp",
        )
        out = validate_cost_data(df, now=datetime(2025, 8, 30))
        assert not out["valid"]  # 100% nulls in product_servicecode
        assert any("negative" in w for w in out["warnings"])
        assert any("stale" in w for w in out["warnings"])
        assert any("duplicate" in w for w in out["warnings"])
        assert out["data_quality_score"] < 100

    def test_cost_data_empty(self, spark):
        df = spark.createDataFrame([], "line_item_unblended_cost double")
        out = validate_cost_data(df)
        assert out == {
            "valid": False,
            "issues": ["DataFrame is empty"],
            "recommendations": ["Check data source and filters"],
        }

    def test_date_range(self):
        assert validate_date_range("2025-01", "2025-03", "CUR2.0")["valid"]
        assert not validate_date_range("2025-01-15", None, "CUR2.0")["valid"]
        assert validate_date_range("2025-01-15", None, "COH")["valid"]
        assert not validate_date_range("2025-03", "2025-01", "CUR2.0")["valid"]

    def test_s3_config(self):
        assert validate_s3_config("my-bucket", "exports/cur", "CUR2.0")["valid"]
        assert not validate_s3_config("", "p", "CUR2.0")["valid"]
        assert not validate_s3_config("Bad_Bucket", "p", "CUR2.0")["valid"]
        assert not validate_s3_config("my-bucket", "p", "NOPE")["valid"]
        warn = validate_s3_config("my-bucket", "/lead", "CUR2.0")
        assert warn["valid"] and warn["warnings"]

    def test_local_path(self, tmp_path):
        assert validate_local_path(str(tmp_path))["valid"]
        missing = validate_local_path(str(tmp_path / "sub"))
        assert missing["valid"] and missing["warnings"]
        assert validate_local_path("")["valid"]


class TestExports:
    def test_json_roundtrip(self, spark, tmp_path):
        df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
        text = DataExporter.export_to_json(df)
        assert json.loads(text) == [{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]
        path = str(tmp_path / "out.json")
        assert DataExporter.export_to_json({"k": 1}, path) is None
        assert json.load(open(path)) == {"k": 1}

    def test_csv_string_and_sink(self, spark, tmp_path):
        df = spark.createDataFrame([(1, "a")], "id int, name string")
        assert DataExporter.export_to_csv(df) == "id,name\n1,a\n"
        out = str(tmp_path / "csvdir")
        DataExporter.export_to_csv(df, out)
        files = [f for f in os.listdir(out) if f.endswith(".csv")]
        assert len(files) == 1  # single_file coalesce
        assert open(os.path.join(out, files[0])).read() == "id,name\n1,a\n"

    def test_parquet_sink(self, spark, tmp_path):
        df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, part string")
        out = str(tmp_path / "pq")
        DataExporter.export_to_parquet(df, out, partition_by=["part"])
        back = spark.read.parquet(out)
        assert back.count() == 2 and set(back.columns) == {"id", "part"}

    def test_reports(self):
        data = {
            "total_cost": 1234.5,
            "growth_percentage": 7.25,
            "services": ["a", "b", "c", "d", "e", "f", "g"],
            "nested": {"monthly_cost": 10.0},
        }
        txt = DataExporter.export_summary_report(data, "txt")
        assert "FINOPS COST ANALYTICS REPORT" in txt
        assert "Total Cost: $1,234.50" in txt
        assert "Growth Percentage: 7.2%" in txt
        assert "... and 2 more" in txt  # txt caps lists at 5
        md = DataExporter.export_summary_report(data, "markdown")
        assert "# FinOps Cost Analytics Report" in md
        assert "**Total Cost:** $1,234.50" in md
        with pytest.raises(ValueError):
            DataExporter.export_summary_report(data, "yaml")

    def test_executive_summary(self):
        kpi = {
            "overall_spend": {"spend_all_cost": 1000.0},
            "savings_summary": {"total_potential_savings": 200.0},
        }
        spend = {"mom_change": 18.0}
        opt = {"idle_resources": list(range(12))}
        out = ReportGenerator.generate_executive_summary(kpi, spend, opt, now=NOW)
        summary = out["executive_summary"]
        assert summary["key_metrics"]["potential_savings_percentage"] == 20.0
        assert any("URGENT" in r for r in summary["recommendations"])
        assert any("idle" in r.lower() for r in summary["recommendations"])
        assert summary["risk_assessment"]["risk_level"] == "MEDIUM"
        # HIGH risk path
        high = ReportGenerator.generate_executive_summary(
            kpi, {"mom_change": 25.0}, {}, now=NOW
        )["executive_summary"]["risk_assessment"]
        assert high["risk_level"] == "HIGH"

