"""Streaming per-source admission quota — the stateful counterpart of
the batch ``per_source_cap`` query (inventory/llm_ops.py).

Production shape: documents stream in; no source (domain/crawl/feed) may
contribute more than ``cap`` documents to the output corpus, ever.
Admission state is a plain parquet table of per-batch admitted counts —
not Spark operator state — so it survives restarts, is shared across
queries, and the per-batch cost is one broadcast-sized join against the
per-source totals (the state table has one row per (batch, source):
thousands of rows where the corpus has billions).

Within a batch, admission is deterministic: rows are ranked by id within
their source and admitted while ``already_used + rank <= cap`` — a
replayed batch recomputes the identical admitted set.

Exactly-once on replay: both writes go through the batch_id-committed
directory protocol of ``sink.idempotent_parquet_sink``. A crash between
the output write and the state write replays the SAME batch against
unchanged state, recomputing and committing the same rows — neither
double-admission nor quota leakage survives a restart.

State detection and the sinks' commit protocol both go through the
Hadoop FileSystem API of the path's scheme (``fsutil``), so a
restarted query against an hdfs:// or s3a:// ``state_dir`` sees its
committed history instead of silently resetting ``__used`` to 0 and
over-admitting past the lifetime cap (the failure mode the earlier
driver-local ``os.listdir`` check had). See fsutil's module docstring
for the object-store rename-atomicity caveat.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from de_polars_spark.streaming import fsutil
from de_polars_spark.streaming.sink import idempotent_parquet_sink


def quota_ingest_sink(
    id_col: str,
    source_col: str,
    cap: int,
    state_dir: str,
    out_dir: str,
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch(df, batch_id)`` callback enforcing a
    lifetime per-``source_col`` admission cap of ``cap`` rows."""
    write_out = idempotent_parquet_sink(out_dir)
    write_state = idempotent_parquet_sink(state_dir)

    def ingest(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        state_exists = any(
            name.startswith("batch_id=")
            for name in fsutil.child_names(spark, state_dir)
        )
        if state_exists:
            used = (
                spark.read.parquet(state_dir)
                .groupBy(source_col)
                .agg(F.sum("n_admitted").alias("__used"))
            )
            d = df.join(F.broadcast(used), source_col, "left").na.fill(
                {"__used": 0}
            )
        else:
            d = df.withColumn("__used", F.lit(0))
        w = Window.partitionBy(source_col).orderBy(id_col)
        admitted = (
            d.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__used") + F.col("__rk") <= cap)
            .drop("__rk", "__used")
            .localCheckpoint()
        )
        write_out(admitted, batch_id)
        write_state(
            admitted.groupBy(source_col).agg(
                F.count(F.lit(1)).alias("n_admitted")
            ),
            batch_id,
        )

    return ingest
