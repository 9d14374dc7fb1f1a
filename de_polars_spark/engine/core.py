"""SparkEngine — the query core.

Capability parity with the reference's DuckDBEngine + FinOpsEngine.query
(de_polars/engine/duckdb_engine.py:138-376, de_polars/finops_engine.py:
147-168), redesigned for Spark's execution model:

- Registration is LAZY: ``spark.read.parquet(paths)`` + temp view. The
  reference eagerly copies every parquet file into an in-memory DuckDB
  table per query (duckdb_engine.py:151-157) — an anti-pattern at 100 TB;
  here Catalyst prunes partitions/columns and pushes filters to the scan.
- Each ``register*`` is one ``_register`` into one registry. A view keeps
  the file listing Spark took when it was read, so ``refresh()`` reads
  again each view whose local files changed (not a ``register_dataframe``).
- Date-range pruning is a WHERE on the hive partition column, which
  Catalyst turns into partition pruning (no file listing gymnastics;
  reference did string-compare pruning over S3 CommonPrefixes,
  s3_data_manager.py:101-162).
- ``query()`` accepts SQL text or a ``.sql`` file path (finops_engine.py:
  147-168) and runs the DuckDB→Spark dialect shim first.
- Results stay Spark DataFrames (lazy); ``.toPandas()`` only at edges.
"""

from __future__ import annotations

import os
import threading
from typing import Callable, Optional
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from de_polars_spark.config import PARTITION_FORMAT, DataConfig
from de_polars_spark.engine.dialect import translate_duckdb_sql
from de_polars_spark.sources.artifacts import manifest_tag


class SparkEngine:
    def __init__(self, spark: SparkSession, config: Optional[DataConfig] = None):
        self.spark = spark
        self.config = config
        # view name -> (roots, read, their manifest_tag or None if not local)
        self._registered: dict[str, tuple] = {}
        self._lock = threading.RLock()
        if config is not None:
            self.register(config)

    # ------------------------------------------------------------------ #
    # registration                                                        #
    # ------------------------------------------------------------------ #
    def _register(self, name: str, roots: tuple, read: Callable[[], DataFrame]) -> DataFrame:
        """``read()`` as the view ``name``; files that land during the read
        are a change the next :meth:`refresh` sees."""
        local = bool(roots) and all(urlsplit(r).scheme in ("", "file") for r in roots)
        with self._lock:
            manifest = manifest_tag(roots) if local else None
            df = read()
            df.createOrReplaceTempView(name)
            self._registered[name] = (roots, read, manifest)
        return df

    def refresh(self) -> set[str]:
        """Read again the views whose files changed; returns their names. The
        walk runs outside the lock; under it, a view is read again only if
        its manifest still differs, so racing callers read a change once."""
        walked = [(name, roots, tag)
                  for name, (roots, _, manifest) in list(self._registered.items())
                  if manifest is not None and (tag := manifest_tag(roots)) != manifest]
        changed = set()
        with self._lock:
            for name, roots, tag in walked:
                now_roots, read, manifest = self._registered[name]
                if now_roots == roots and manifest != tag:
                    self._register(name, roots, read)
                    changed.add(name)
        return changed

    def version(self, name: str) -> Optional[str]:
        """The manifest ``name`` was last read under (``None``: unversioned)."""
        entry = self._registered.get(name)
        return entry[2] if entry else None

    def register(self, config: DataConfig, force_s3: bool = False) -> DataFrame:
        """Register ``config.table_name`` as a temp view over its parquet root.

        Local-vs-S3 routing mirrors the reference (duckdb_engine.py:246-266):
        prefer local when present unless ``force_s3``.
        """
        root = self._resolve_root(config, force_s3)
        return self._register(config.table_name, (root,), lambda: self._apply_date_range(
            self.spark.read.options(**config.extra_read_options).parquet(root), config
        ))

    def register_path(self, name: str, *paths: str) -> DataFrame:
        """Register a view over one or more parquet paths (multi-path read
        is the reference's implicit UNION ALL, duckdb_engine.py:157)."""
        return self._register(name, paths, lambda: self.spark.read.parquet(*paths))

    def register_dataframe(self, name: str, df: DataFrame) -> DataFrame:
        """Register an API-built DataFrame (e.g. pricing tables) as a view —
        the reference documented this but stubbed it
        (duckdb_engine.py:184-196); here it actually works."""
        return self._register(name, (), lambda: df)

    def register_csv(self, name: str, *paths: str, **options: str) -> DataFrame:
        """CSV source incl. gzip (the reference discovered ``.gz`` files
        but never parsed them, s3_data_manager.py:56-58,206-216 — Spark's
        CSV reader decompresses by extension natively)."""
        options = {"header": "true", "inferSchema": "true", **options}
        return self._register(
            name, paths, lambda: self.spark.read.options(**options).csv(list(paths)))

    def register_orc(self, name: str, *paths: str) -> DataFrame:
        """ORC source (beyond reference, which was parquet/gz-only —
        s3_data_manager.py:56-58): Spark's native vectorized ORC reader,
        same pushdown/pruning as parquet."""
        return self._register(name, paths, lambda: self.spark.read.orc(*paths))

    def register_json(self, name: str, *paths: str, **options: str) -> DataFrame:
        """JSON-lines source (one object per line; Spark infers the
        schema and decompresses .gz by extension)."""
        return self._register(
            name, paths, lambda: self.spark.read.options(**options).json(list(paths)))

    def list_partitions(self, table_name: Optional[str] = None) -> list[str]:
        """Distinct partition values for the registered table's hive
        partition column (reference listed S3 CommonPrefixes,
        s3_data_manager.py:65-99; here the column IS the partition, so a
        distinct over it is partition-pruned metadata work)."""
        col = self.config.partition_column if self.config else None
        df = self.spark.table(self._table(table_name))
        if col is None or col not in df.columns:
            return []
        return sorted(
            r[0] for r in df.select(col).distinct().collect() if r[0] is not None
        )

    @staticmethod
    def _resolve_root(config: DataConfig, force_s3: bool) -> str:
        use_local = (
            not force_s3
            and config.prefer_local_data
            and config.local_data_path
            and os.path.isdir(config.local_data_path)
        )
        if use_local:
            return config.local_data_path  # type: ignore[return-value]
        if config.s3_root:
            return config.s3_root
        if config.local_data_path:
            return config.local_data_path
        raise ValueError("no resolvable data root")

    @staticmethod
    def _apply_date_range(df: DataFrame, config: DataConfig) -> DataFrame:
        """Partition-pruning date filter on the hive partition column.

        String comparison is correct for zero-padded YYYY-MM / YYYY-MM-DD
        (same trick the reference used on S3 prefixes,
        s3_data_manager.py:156-159) and Catalyst prunes partitions from it.
        """
        fmt = PARTITION_FORMAT[config.export_type]
        if fmt is None or fmt[0] not in df.columns:
            return df
        col = fmt[0]
        if config.date_start:
            df = df.filter(df[col] >= config.date_start)
        if config.date_end:
            df = df.filter(df[col] <= config.date_end)
        return df

    # ------------------------------------------------------------------ #
    # querying                                                            #
    # ------------------------------------------------------------------ #
    def query(self, sql_or_file: str, translate: bool = True) -> DataFrame:
        """Run SQL text, or the contents of a ``.sql`` file (absolute or
        relative path — reference dispatch: finops_engine.py:147-168)."""
        text = sql_or_file
        if sql_or_file.rstrip().lower().endswith(".sql"):
            path = sql_or_file.strip()
            if not os.path.isabs(path):
                path = os.path.join(os.getcwd(), path)
            with open(path, "r", encoding="utf-8") as fh:
                text = fh.read()
        if translate:
            text = translate_duckdb_sql(text)
        return self.spark.sql(text)

    def validate_select_only(self, sql: str):
        """Parser-based guard for the ad-hoc SQL API edge; returns the
        parsed plan it checked, for :meth:`query_plan` to run.

        The reference used a regex keyword blocklist
        (de_polars/api/sql_endpoints.py:42-69). A class-name deny-list is
        also insufficient (round-1 ADVICE: INSERT OVERWRITE DIRECTORY,
        CREATE FUNCTION, and CACHE TABLE all slipped through), so this is
        an allow-list: the parsed plan must be a pure query. Anything that
        is a Catalyst ``Command`` (every DDL/utility statement: CREATE/
        DROP/ALTER/CACHE/SET/EXPLAIN/ANALYZE/SHOW/...), a pre-analysis
        ``ParsedStatement``, or any ``InsertInto*`` node (InsertIntoDir is
        neither of the former two) is rejected. The text is always SQL,
        never a file path.

        The parser reads the SQL conf of the thread's active session (a
        CAST takes its ANSI mode there), so this engine's session is made
        active while it parses.
        """
        jvm = self.spark._jvm
        sessions = jvm.org.apache.spark.sql.SparkSession
        active = sessions.getActiveSession()
        sessions.setActiveSession(self.spark._jsparkSession)
        try:
            plan = self.spark._jsparkSession.sessionState().sqlParser().parsePlan(
                translate_duckdb_sql(sql)
            )
        finally:
            if active.isDefined():
                sessions.setActiveSession(active.get())
            else:
                sessions.clearActiveSession()
        name = plan.getClass().getSimpleName()
        for iface in (
            "org.apache.spark.sql.catalyst.plans.logical.Command",
            "org.apache.spark.sql.catalyst.plans.logical.ParsedStatement",
        ):
            try:
                if jvm.java.lang.Class.forName(iface).isInstance(plan):
                    raise PermissionError(
                        f"statement type {name} is not allowed; SELECT only"
                    )
            except PermissionError:
                raise
            except Exception:
                pass  # interface absent in this Spark build — other checks apply
        if name.startswith("InsertInto") or "Command" in name:
            raise PermissionError(
                f"statement type {name} is not allowed; SELECT only"
            )
        return plan

    def query_plan(self, plan) -> DataFrame:
        """The DataFrame of a parsed plan (:meth:`validate_select_only`),
        analyzed now, so views and tables resolve as they are at this
        call."""
        jss = self.spark._jsparkSession
        jdf = self.spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(jss, plan)
        return ClassicDataFrame(jdf, self.spark)

    # ------------------------------------------------------------------ #
    # introspection (duckdb_engine.py:315-376 parity)                     #
    # ------------------------------------------------------------------ #
    def _table(self, table_name: Optional[str]) -> str:
        name = table_name or (self.config.table_name if self.config else None)
        if not name:
            raise ValueError("no table registered")
        return name

    def get_schema(self, table_name: Optional[str] = None) -> dict[str, str]:
        df = self.spark.table(self._table(table_name))
        return {f.name: f.dataType.simpleString() for f in df.schema.fields}

    def sample(self, n: int = 10, table_name: Optional[str] = None) -> DataFrame:
        return self.spark.table(self._table(table_name)).limit(n)

    def catalog(self) -> dict:
        return {
            "tables": {name: ",".join(roots) or "<dataframe>"
                       for name, (roots, _, _) in self._registered.items()},
            "schemas": {t: self.get_schema(t) for t in self._registered},
        }
