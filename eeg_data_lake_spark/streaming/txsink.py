"""Exactly-once streaming sink into the transaction-logged table.

Structured Streaming's foreachBatch gives at-least-once delivery: if
the driver dies between running a batch and committing the streaming
checkpoint, the SAME batch_id is re-run on restart. Pairing that with
TxTable's txn-id idempotence (sources/txlog.py) upgrades it to
exactly-once — the replayed batch's append is a logged no-op. This is
precisely the (streaming checkpoint x transactional sink) contract
Delta sinks provide, reconstructed over plain parquet, and it replaces
the per-batch-directory overwrite trick in streaming/silver.py with a
real table (readable at any version, vacuumable, upsertable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from eeg_data_lake_spark.sources.txlog import TxTable
from eeg_data_lake_spark.streaming.txpair import chained_commit, drain


def txtable_batch_writer(table: TxTable, sink_id: str):
    """A foreachBatch function appending each micro-batch to ``table``
    with txn_id = (sink_id, batch_id): replays of a batch commit
    nothing. ``sink_id`` must be stable across restarts of the same
    logical stream (use the checkpoint path or a query name)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # a corpus with no index legs: chained_commit applies the
        # per-trigger schema contract (a mid-stream upstream schema
        # change fails THIS trigger loudly and replays clean after the
        # fix) and commits under batch_txn's "{sink_id}:batch-{batch_id}"
        chained_commit(table, batch_df, [], sink_id, batch_id)

    return process


def stream_to_txtable(
    spark: SparkSession,
    source_dir: str,
    schema,
    table: TxTable,
    checkpoint_path: str,
    sink_id: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain a file-source stream into ``table`` exactly-once
    (``txpair.drain``)."""
    drain(
        spark,
        source_dir,
        schema,
        txtable_batch_writer(table, sink_id),
        checkpoint_path,
        max_files_per_trigger,
    )
