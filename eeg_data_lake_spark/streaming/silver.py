"""Streaming silver via foreachBatch: incremental normalization on
top of the streaming bronze ingest.

The silver z-score needs full per-(trial, channel) statistics, which
a purely row-streaming operator cannot provide — but trials arrive
whole (a raw file = complete trials), so the production pattern is
``foreachBatch``: each micro-batch of newly-ingested bronze rows runs
the *batch* silver transform (reused verbatim) and appends its
result. Exactly-once comes from the streaming checkpoint plus
idempotent per-batch writes keyed by batch id.

This is the standard lakehouse recipe for "stateless within a
batch-complete unit" transforms: stream the arrival, batch the math.
State that must span batches (e.g. session windows) uses the real
stateful operators instead (workload.streaming q53).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from eeg_data_lake_spark import schemas
from eeg_data_lake_spark.pipeline.silver import silver_from_bronze
from eeg_data_lake_spark.streaming.txpair import drain


def stream_silver_from_bronze_dir(
    spark: SparkSession,
    bronze_path: str,
    sink_path: str,
    checkpoint_path: str,
    z_threshold: float = 6.0,
) -> None:
    """Drain newly-arrived bronze parquet into the silver table:
    readStream over the bronze directory → foreachBatch(batch silver
    transform) → per-batch parquet directories, AvailableNow
    semantics. Read the result with
    ``spark.read.option("recursiveFileLookup", "true").parquet(sink)``
    (per-batch subdirectories keep replays idempotent)."""
    # the file source matches columns by name, so the canonical bronze
    # schema serves directly — an eager spark.read here would throw
    # PATH_NOT_FOUND when the drain is deployed before the first bronze
    # batch lands, and costs a full listing per invocation
    bronze_schema = schemas.BRONZE_SCHEMA

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = silver_from_bronze(batch_df, z_threshold=z_threshold)
        # overwrite a per-batch directory (plain name, not k=v, so no
        # phantom partition column on read): if the driver dies after
        # writing but before the checkpoint commit, the replayed batch
        # overwrites its own output instead of appending duplicates —
        # the idempotence Delta's txn log would otherwise provide.
        out.write.mode("overwrite").parquet(f"{sink_path}/b{batch_id:06d}")

    drain(spark, bronze_path, bronze_schema, process, checkpoint_path, None)
