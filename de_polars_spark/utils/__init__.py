"""Display formatting, export sinks, data-quality validation, and
profiling utilities (reference: de_polars/utils/__init__.py:1-19).

Driver-side presentation stays pure Python; anything touching data is a
Spark DataFrame op with the collect confined to the API/report edge.
"""

from de_polars_spark.utils.exports import DataExporter, ReportGenerator
from de_polars_spark.utils.formatters import (
    format_billing_period,
    format_currency,
    format_large_currency,
    format_large_number,
    format_number,
    format_percentage,
    format_relative_date,
    get_date_range_description,
)
from de_polars_spark.utils.performance import QueryProfiler, query_profiler
from de_polars_spark.utils.validators import (
    validate_cost_data,
    validate_date_range,
    validate_local_path,
    validate_s3_config,
)

__all__ = [
    "DataExporter",
    "ReportGenerator",
    "format_currency",
    "format_large_currency",
    "format_percentage",
    "format_number",
    "format_large_number",
    "format_billing_period",
    "format_relative_date",
    "get_date_range_description",
    "QueryProfiler",
    "query_profiler",
    "validate_cost_data",
    "validate_date_range",
    "validate_local_path",
    "validate_s3_config",
]
