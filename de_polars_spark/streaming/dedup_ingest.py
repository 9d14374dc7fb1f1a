"""Streaming corpus ingestion with exact dedup against ALL history.

The production ingest shape for a training-data pipeline: documents
arrive as a stream; each micro-batch is exact-deduped (content hash)
against every previously ingested document AND within itself, and only
fresh documents land in the output corpus. The dedup state is a plain
parquet fingerprint table — not Spark operator state — so it survives
restarts, is shared across queries, scales past executor memory, and
the anti-join cost per batch is O(batch ⋈ state) on a fixed-width
hash key (broadcast the batch side at corpus scale).

Exactly-once content semantics on replay: both writes go through the
batch_id-committed directory protocol of ``sink.idempotent_parquet_sink``
— a replayed ``batch_id`` sees its committed output/state directories
and skips, and a half-written attempt is discarded and rewritten, so
neither duplicate documents nor duplicate fingerprints survive a crash
(state and output commit independently per batch; a crash between the
two rewrites the SAME batch deterministically on replay, converging to
one committed copy of each).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from de_polars_spark.streaming import fsutil
from de_polars_spark.streaming.sink import idempotent_parquet_sink


def dedup_ingest_sink(
    id_col: str,
    text_col: str,
    state_dir: str,
    out_dir: str,
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch(df, batch_id)`` callback.

    Per batch: fingerprint (md5 of the text), drop rows whose
    fingerprint exists in ``state_dir``, collapse within-batch
    duplicates to the min-id row, append survivors to ``out_dir`` and
    their fingerprints to ``state_dir`` — both via the committed
    batch-directory protocol.
    """
    write_out = idempotent_parquet_sink(out_dir)
    write_state = idempotent_parquet_sink(state_dir)

    def ingest(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        fp = df.withColumn("__fp", F.md5(F.col(text_col)))
        state_exists = any(
            name.startswith("batch_id=")
            for name in fsutil.child_names(spark, state_dir)
        )
        if state_exists:
            seen = spark.read.parquet(state_dir).select(
                F.col("fp").alias("__fp")
            )
            fp = fp.join(seen, "__fp", "left_anti")
        # collapse within-batch duplicates deterministically (min id wins)
        w_min = fp.groupBy("__fp").agg(F.min(F.col(id_col)).alias("__keep"))
        fresh = fp.join(w_min, "__fp").where(
            F.col(id_col) == F.col("__keep")
        ).drop("__keep")
        # one computation, two writes: the batch is re-derived inside each
        # write; checkpoint so the anti-join doesn't run twice
        fresh = fresh.localCheckpoint()
        write_out(fresh.drop("__fp"), batch_id)
        write_state(fresh.select(F.col("__fp").alias("fp")), batch_id)

    return ingest
