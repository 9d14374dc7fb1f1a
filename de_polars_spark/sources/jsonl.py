"""JSONL (JSON Lines) source path — the LLM-pipeline interchange format.

Training corpora move between tools as JSONL far more often than as
parquet; an engine claiming to serve that pipeline needs a first-class
newline-delimited-JSON ingest with an EXPLICIT schema. Two rules embody
how this scales to 100 TB:

- **Schema on read, never inferred.** ``spark.read.json`` without a
  schema runs a full inference PASS over the data (twice the I/O) and
  silently widens types per-file. ``read_jsonl`` requires the DDL
  schema up front — one scan, stable types, and corrupt rows land in
  Spark's ``_corrupt_record`` handling rather than skewing inference.
- **Line-splittable.** JSONL (unlike a JSON array file) splits on
  newlines, so a 100 TB corpus parallelizes by byte ranges exactly
  like CSV — no single-reader bottleneck. ``multiLine`` stays off for
  this reason. Gzip members (``.jsonl.gz``, how corpora usually
  arrive) decompress transparently by extension but are NOT
  byte-range splittable — one reader per file — so a huge corpus must
  ship as MANY gz files sized near the target partition size, never
  one.

The content-addressed fixture writer (``ensure_documents_jsonl``)
renders the immutable ``documents`` parquet as a JSONL artifact once
per (corpus, implementation); the round-trip inventory query reads it
back on Spark while the DuckDB oracle reads the SAME files with
``read_json`` — a cross-engine check that the JSON encoding itself
(string escaping included) round-trips losslessly.
"""

from __future__ import annotations

import inspect
import os

from pyspark.sql import DataFrame, SparkSession

from de_polars_spark.sources.artifacts import artifact_path, publish

DOCUMENTS_JSONL_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def read_jsonl(
    spark: SparkSession, path: str, schema: str, mode: str = "FAILFAST"
) -> DataFrame:
    """Newline-delimited JSON scan with a REQUIRED explicit schema.

    ``mode`` follows Spark's JSON parse modes; the default FAILFAST
    makes a malformed line a loud job failure — for quarantine-style
    ingest pass ``PERMISSIVE`` and select ``_corrupt_record``."""
    return (
        spark.read.schema(schema)
        .option("mode", mode)
        .option("multiLine", "false")  # keep the scan byte-range splittable
        .json(path)
    )


def write_jsonl(df: DataFrame, path: str) -> None:
    """Render a DataFrame as JSONL part files (one JSON object per line)."""
    df.write.mode("overwrite").json(path)


def documents_jsonl_dir(sf_dir: str) -> str:
    """Content-addressed artifact path for the documents-as-JSONL fixture
    (``sources/artifacts.py``: corpus basename + implementation hash, so
    editing the writer invalidates the copy)."""
    return artifact_path(
        "documents_jsonl", sf_dir,
        inspect.getsource(write_jsonl) + DOCUMENTS_JSONL_SCHEMA,
    )


def ensure_documents_jsonl(spark: SparkSession, sf_dir: str) -> str:
    """Write the documents table as a JSONL artifact once per sf_dir
    (published, so interchangeable across concurrent sessions)."""
    def build(tmp: str) -> None:
        df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        write_jsonl(df.select("doc_id", "text", "lang", "source", "n_chars"), tmp)

    return publish(documents_jsonl_dir(sf_dir), build)
