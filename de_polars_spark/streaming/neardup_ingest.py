"""Streaming corpus ingestion with NEAR-dup (MinHash-LSH) admission.

The online counterpart of the batch ``dedup.minhash_lsh_pairs`` pipeline
(and the near-dup upgrade of ``dedup_ingest``, which only rejects exact
content matches): documents stream in; each micro-batch computes per-doc
MinHash signatures, derives LSH band keys, and REJECTS any document
whose band key collides with the admitted history — the standard
"probably a near-duplicate of something we already kept" admission
rule — or with an admitted lower-id document inside its own batch.

State is the admitted corpus's band-key table ``(band_id, band_key)``,
a plain parquet table appended per batch: constant width per admitted
doc (``n_hashes / band_size`` rows), shared across queries, and the
per-batch cost is one semi-join of the batch's band keys against state
(broadcast the batch side at corpus scale — state is the big side).

Admission semantics (deterministic, replay-stable):

- history collision: ANY of the doc's band keys present in state ⇒
  reject (classic LSH candidate rule — same recall/precision trade-off
  as the batch banding, tuned by ``n_hashes`` / ``band_size``);
- within-batch: a doc sharing a band key with a LOWER-id doc of the
  same batch is rejected, regardless of whether that lower-id doc was
  itself admitted (the conservative closure-free rule: collision
  chains collapse to the minimum id without iterative propagation —
  at most one representative of each within-batch near-dup family is
  admitted, never two);
- docs with no shingles (fewer than ``shingle_n`` tokens) have no
  band keys and are always admitted.

Exactly-once on replay: both writes go through the batch_id-committed
directory protocol of ``sink.idempotent_parquet_sink``; a replayed
batch sees unchanged state (its own state write is keyed by batch_id)
and recomputes the identical admitted set.

State detection and the commit protocol go through the Hadoop
FileSystem API of the path's scheme (``fsutil``, shared with
``dedup_ingest`` / ``quota_ingest``), so state/out dirs may live on
any Hadoop-FS scheme; see fsutil for the object-store
rename-atomicity caveat.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from de_polars_spark.functions.local_relation import values_df
from de_polars_spark.operators.dedup import _minhash_sig_df
from de_polars_spark.streaming import fsutil
from de_polars_spark.streaming.sink import idempotent_parquet_sink


def _band_keys(
    df: DataFrame, id_col: str, text_col: str,
    n_hashes: int, band_size: int, shingle_n: int,
) -> DataFrame:
    """``(id, band_id, band_key)`` — one row per band per doc."""
    assert n_hashes % band_size == 0
    n_bands = n_hashes // band_size
    sig = _minhash_sig_df(df, id_col, text_col, n_hashes, shingle_n)
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(
                F.concat(
                    *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                )
            ).alias("band_key"),
        )
        for b in range(n_bands)
    ]
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("b")
    ).select(id_col, "b.band_id", "b.band_key")


def neardup_ingest_sink(
    id_col: str,
    text_col: str,
    state_dir: str,
    out_dir: str,
    n_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 2,
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch(df, batch_id)`` callback enforcing
    MinHash-LSH near-dup admission against all admitted history."""
    write_out = idempotent_parquet_sink(out_dir)
    write_state = idempotent_parquet_sink(state_dir)

    def ingest(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        bands = _band_keys(
            df, id_col, text_col, n_hashes, band_size, shingle_n
        ).localCheckpoint()
        state_exists = any(
            name.startswith("batch_id=")
            for name in fsutil.child_names(spark, state_dir)
        )
        hist_hits = (
            bands.join(
                spark.read.parquet(state_dir),
                ["band_id", "band_key"],
                "left_semi",
            ).select(id_col).distinct()
            if state_exists
            else values_df(spark, [], f"{id_col} long").select(
                F.col(id_col).cast(df.schema[id_col].dataType)
            )
        )
        # within-batch: reject ids sharing a band key with any lower id
        a = bands.alias("a")
        b = bands.select(
            F.col("band_id"), F.col("band_key"), F.col(id_col).alias("__lo")
        ).alias("b")
        batch_hits = (
            a.join(
                b,
                (F.col(f"a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("__lo") < F.col(f"a.{id_col}")),
                "left_semi",
            )
            .select(F.col(f"a.{id_col}").alias(id_col))
            .distinct()
        )
        rejected = hist_hits.unionByName(batch_hits).distinct()
        admitted = df.join(rejected, id_col, "left_anti").localCheckpoint()
        write_out(admitted, batch_id)
        write_state(
            bands.join(admitted.select(id_col), id_col, "left_semi")
            .select("band_id", "band_key")
            .distinct(),
            batch_id,
        )

    return ingest
