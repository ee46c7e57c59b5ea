"""Incremental streaming CDC chunk-store ingestion: the online form of
batch z23 (functions/chunking.py), completing the incremental dedup
family on the BINARY path — MinHash-LSH (streaming/dedup.py),
ExactSubstr (streaming/exactsubstr.py), SimHash (streaming/simhash.py),
and now content-defined chunk storage dedup.

Semantics differ from the near-dup ingests on purpose: blobs are never
REJECTED — every document lands in the corpus — but chunk content is
stored ONCE. Each micro-batch is CDC-chunked (gear hash, boundaries
robust to edits), its chunk hashes are anti-joined against the
lake-wide chunk index, and only the NOVEL chunks append to the index;
re-ingesting near-identical blobs (new versions, crawl re-snapshots)
therefore costs only the edited regions — the dedup-storage primitive
object stores and backup systems run, here as lake tables.

Two-table exactly-once discipline (streaming/dedup.py's): corpus
append FIRST, chunk-index append second, each under its own
batch-keyed txn id. A crash between them replays the batch — the
corpus append no-ops on its txn id, and the index append recomputes
the identical novel set (index commits are strictly ordered by batch,
so the index state it anti-joins against cannot have advanced) and
completes. Until the replay the index lags the corpus, which only
means some chunks would be re-stored as "novel" by a LATER batch —
over-storage, never data loss — and the replay heals it before any
later batch can commit.

At 100 TB: per batch the chunker is a narrow Arrow-batched map
(per-row CPU — the flat 10x curve measured for z23/r45/q98); the
novelty anti-join probes the index on the 16-byte chunk hash —
O(batch chunks) against an index with one row per UNIQUE chunk, never
payload bytes. The index side of that anti-join grows with the LAKE,
so sources/indexproj.bucketize_index materializes it as a projection
bucketed on ``CHUNK_KEYS`` and the probe then reads the base
co-located — zero index-side exchange per trigger, only the
post-projection tail shuffling (sources/indexproj.py; plan pinned in
tests/test_indexproj.py).

Reference capability upgraded: the reference dedups whole files by
md5 in a batch rewrite loop (/root/reference/bronze-to-silver.py:74-76);
this dedups *within* blobs, across blobs, and online.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eeg_data_lake_spark.functions.chunking import chunk_rows
from eeg_data_lake_spark.sources.indexproj import index_frames
from eeg_data_lake_spark.sources.txlog import TxTable
from eeg_data_lake_spark.streaming.txpair import (
    backfill_index,
    drain,
    paired_commit,
)


def chunk_index_table(spark: SparkSession, table: TxTable) -> TxTable:
    """The corpus table's companion chunk store index: ONE row per
    unique chunk ever ingested — (chunk_md5, length, first_doc_id,
    first_batch) — append-only (a chunk's identity never changes;
    provenance records the first writer)."""
    return TxTable(spark, table.path + "_chunks")


#: the chunk index's probe key: pass with ``chunk_index_table(...)``
#: to sources/indexproj.bucketize_index / compact_index
CHUNK_KEYS = ("chunk_md5",)


def novel_against(batch_chunks: DataFrame, frames) -> DataFrame:
    """Chunks of the batch absent from EVERY index frame: the
    anti-joins CHAIN over the base+tail frames rather than joining
    their union, preserving the base's bucket co-location (joining a
    union would re-shuffle the whole index — the cost being removed)."""
    novel = batch_chunks
    for fr in frames:
        novel = novel.join(fr.select("chunk_md5"), "chunk_md5", "left_anti")
    return novel


def chunk_batch_writer(
    table: TxTable,
    sink_id: str,
    min_size: int = 64,
    avg_size: int = 256,
    max_size: int = 1024,
    bucketed_base: str | None = None,
):
    """foreachBatch function: append the batch to the corpus, then
    append only the chunks the lake has never stored (see module
    docstring for the crash-safety argument). ``bucketed_base`` names
    a projection bucketed on ``CHUNK_KEYS``: the novelty probe then
    reads the index base co-located (no index-side shuffle per
    trigger) plus the post-projection txlog tail."""

    def _index_rows(df: DataFrame, batch: int) -> DataFrame:
        """One index row per distinct chunk of ``df``, attributed to
        its smallest doc_id occurrence. ``batch`` = -1 marks rows
        backfilled from a corpus seeded before the stream."""
        return (
            chunk_rows(
                df, min_size=min_size, avg_size=avg_size, max_size=max_size
            )
            .groupBy("chunk_md5")
            .agg(
                F.min("length").alias("length"),
                F.min("doc_id").alias("first_doc_id"),
            )
            .select(
                "chunk_md5",
                "length",
                "first_doc_id",
                F.lit(batch).cast("long").alias("first_batch"),
            )
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        idx = chunk_index_table(spark, table)
        # corpus seeded outside the stream: index its chunks before
        # the first probe, or the "one row per unique chunk ever
        # ingested" invariant (and the dedup report) silently excludes
        # the seed forever. Set-semantics safe per streaming/txpair.py
        # EXCEPT for the first_batch provenance column: a first batch
        # that crashed between its legs is already in the corpus when
        # the replay backfills, and tagging ITS chunks -1 would
        # diverge from the uncrashed run — so the seed excludes the
        # replaying batch's docs (the exactsubstr discipline); their
        # chunks get first_batch=batch_id from the index leg below.
        backfill_index(
            table,
            idx,
            lambda corpus: _index_rows(
                corpus.join(
                    batch_df.select("doc_id").distinct(),
                    "doc_id",
                    "left_anti",
                ),
                -1,
            ),
            sink_id,
            "chunks",
        )
        chunks = chunk_rows(
            batch_df, min_size=min_size, avg_size=avg_size, max_size=max_size
        ).persist()
        try:
            # within-batch dedup + provenance: one row per distinct
            # chunk, attributed to its smallest (doc_id, chunk_idx)
            # occurrence
            batch_chunks = chunks.groupBy("chunk_md5").agg(
                F.min("length").alias("length"),
                F.min("doc_id").alias("first_doc_id"),
            )
            novel = novel_against(
                batch_chunks, index_frames(idx, bucketed_base)
            )
            paired_commit(
                table,
                batch_df,
                idx,
                novel.select(
                    "chunk_md5",
                    "length",
                    "first_doc_id",
                    F.lit(batch_id).cast("long").alias("first_batch"),
                ),
                sink_id,
                "chunks",
                batch_id,
            )
        finally:
            # a failed/retried micro-batch must not strand the persisted
            # chunk rows in executor memory for the session lifetime
            chunks.unpersist()

    return process


def stream_chunk_ingest(
    spark: SparkSession,
    source_dir: str,
    schema,
    table: TxTable,
    checkpoint_path: str,
    sink_id: str,
    max_files_per_trigger: int = 1,
    bucketed_base: str | None = None,
) -> None:
    """Drain a file-source blob stream into the corpus + chunk store
    (``txpair.drain``)."""
    drain(
        spark,
        source_dir,
        schema,
        chunk_batch_writer(table, sink_id, bucketed_base=bucketed_base),
        checkpoint_path,
        max_files_per_trigger,
    )


def dedup_report(table: TxTable) -> DataFrame:
    """One-row storage accounting for the ingested lake: documents and
    logical bytes in the corpus vs unique chunks and stored bytes in
    the chunk store — the dedup ratio a storage planner reads."""
    spark = table.spark
    idx = chunk_index_table(spark, table)
    corpus = table.read().agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum(F.length("payload")), F.lit(0))
        .cast("long")
        .alias("logical_bytes"),
    )
    store = idx.read().agg(
        F.count("*").alias("n_unique_chunks"),
        F.coalesce(F.sum("length"), F.lit(0)).cast("long").alias("stored_bytes"),
    )
    from eeg_data_lake_spark.sources.chunkstore import storage_accounting

    return storage_accounting(corpus, store)
