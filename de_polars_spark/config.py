"""Data-source configuration.

Capability parity with the reference's DataConfig (de_polars/data_config.py:
17-123): export types with per-type hive partition formats, local/S3 roots,
table naming, and date-range validation. The Spark engine consumes this to
build read paths and partition-pruning predicates; unlike the reference it
never eagerly materializes files into an in-memory table.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from enum import Enum
from typing import Optional


class DataExportType(str, Enum):
    """Supported export flavors and their hive partition conventions."""

    CUR_2_0 = "CUR2.0"
    FOCUS_1_0 = "FOCUS1.0"
    COH = "COH"
    CARBON_EMISSION = "CARBON_EMISSION"
    GENERIC = "GENERIC"  # plain (possibly unpartitioned) parquet datasets


#: partition column name + value format per export type
#: (reference: data_config.py:17-31 partition-format map)
PARTITION_FORMAT: dict[DataExportType, Optional[tuple[str, str]]] = {
    DataExportType.CUR_2_0: ("BILLING_PERIOD", "%Y-%m"),
    DataExportType.FOCUS_1_0: ("billing_period", "%Y-%m"),
    DataExportType.COH: ("date", "%Y-%m-%d"),
    DataExportType.CARBON_EMISSION: ("BILLING_PERIOD", "%Y-%m"),
    DataExportType.GENERIC: None,
}

_MONTH_RE = re.compile(r"^\d{4}-\d{2}$")
_DAY_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")


@dataclass
class DataConfig:
    """Where the data lives and how it is partitioned.

    Exactly one of ``local_data_path`` / ``s3_bucket``+``s3_data_prefix``
    is required; when both are present the engine prefers local unless
    ``prefer_local_data`` is False or a query forces S3
    (reference routing: duckdb_engine.py:246-266).
    """

    export_type: DataExportType = DataExportType.GENERIC
    table_name: str = "CUR"
    local_data_path: Optional[str] = None
    s3_bucket: Optional[str] = None
    s3_data_prefix: str = ""
    prefer_local_data: bool = True
    date_start: Optional[str] = None  # inclusive, "YYYY-MM" or "YYYY-MM-DD"
    date_end: Optional[str] = None  # inclusive
    aws_region: str = "us-east-1"
    extra_read_options: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        for label, value in (("date_start", self.date_start), ("date_end", self.date_end)):
            if value is not None and not (_MONTH_RE.match(value) or _DAY_RE.match(value)):
                raise ValueError(
                    f"{label}={value!r} must be 'YYYY-MM' or 'YYYY-MM-DD'"
                )
        if self.date_start and self.date_end and self.date_start > self.date_end:
            raise ValueError(
                f"date_start {self.date_start!r} is after date_end {self.date_end!r}"
            )
        if not self.local_data_path and not self.s3_bucket:
            raise ValueError("need local_data_path and/or s3_bucket")

    @classmethod
    def from_env(cls) -> Optional["DataConfig"]:
        """The config the ``FINOPS_*`` variables describe (reference
        fastapi_app.py:176-226), or ``None`` when neither
        ``FINOPS_LOCAL_PATH`` nor ``FINOPS_S3_BUCKET`` is set.
        ``FINOPS_S3_PREFIX``, ``FINOPS_DATA_TYPE``, ``FINOPS_AWS_REGION`` and
        ``FINOPS_TABLE_NAME`` replace the defaults when set."""
        env = os.environ
        if not (env.get("FINOPS_LOCAL_PATH") or env.get("FINOPS_S3_BUCKET")):
            return None
        optional = {"aws_region": env.get("FINOPS_AWS_REGION"),
                    "table_name": env.get("FINOPS_TABLE_NAME")}
        return cls(
            local_data_path=env.get("FINOPS_LOCAL_PATH"),
            s3_bucket=env.get("FINOPS_S3_BUCKET"),
            s3_data_prefix=env.get("FINOPS_S3_PREFIX", ""),
            export_type=DataExportType(env.get("FINOPS_DATA_TYPE", "GENERIC")),
            **{k: v for k, v in optional.items() if v},
        )

    @property
    def partition_column(self) -> Optional[str]:
        fmt = PARTITION_FORMAT[self.export_type]
        return fmt[0] if fmt else None

    @property
    def s3_root(self) -> Optional[str]:
        if not self.s3_bucket:
            return None
        prefix = self.s3_data_prefix.strip("/")
        return f"s3a://{self.s3_bucket}/{prefix}" if prefix else f"s3a://{self.s3_bucket}"
