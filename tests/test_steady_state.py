"""Steady-state invariants of a maintained ingest family under the
NATURAL ``maybe_compact`` policy (no forced max_small_files=1) — the
deterministic pins behind probes/steady_state.py's measured soak:

1. live index files stay bounded by (policy threshold + one
   trigger's adds) across every trigger — the policy actually bounds
   small-file decay, it doesn't just fire eventually;
2. compaction does NOT fire on every trigger (the corpus-∝ rewrite
   is amortized over the cadence, the claim BASELINE.md's 100x table
   makes in prose);
3. after N natural-cadence triggers, the incremental removal pass
   still equals the batch recount over the accumulated corpus — the
   maintained-family oracles hold under the POLICY cadence, not just
   the forced one the z39-family queries use.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from eeg_data_lake_spark.sources.indexproj import bucketize_index, compact_index
from eeg_data_lake_spark.sources.txlog import TxTable
from eeg_data_lake_spark.streaming.exactsubstr import (
    GRAM_KEYS,
    exact_substring_removal,
    gram_index_table,
    ingest_batch_writer,
)
from eeg_data_lake_spark.workload.curation import (
    ESD_DUP_THRESHOLD,
    esd_grams,
    esd_remove,
)

N_TRIGGERS = 8
# above one trigger's adds (so the rewrite can't fire EVERY trigger)
# but low enough to trip within 8 triggers at 4 shuffle partitions
MAX_SMALL = 12
# a trigger lands <= 2 appends on the index (counts + promotion), each
# at most shuffle-partitions files
ADDS_PER_TRIGGER_BOUND = 2 * 4  # conftest pins shuffle_partitions=4


def _batch_recount(tbl: TxTable):
    docs = tbl.read().select("doc_id", F.split("text", " ").alias("w"))
    g = esd_grams(docs, hashed=True)
    dup = (
        g.groupBy("g")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") >= ESD_DUP_THRESHOLD)
        .select("g")
    )
    return esd_remove(docs, g.join(dup, "g").select("doc_id", "p"))


def test_natural_policy_cadence_bounds_files_and_keeps_oracle(
    spark, sf_dir
):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .cache()
    )
    d = tempfile.mkdtemp(prefix="steady_test_")
    tbl = TxTable(spark, f"{d}/corpus")
    idx = gram_index_table(spark, tbl)
    base = "steadytest"
    w = ingest_batch_writer(tbl, "soak-test", bucketed_base=base)

    fires, live_counts = [], []
    for i in range(N_TRIGGERS):
        batch = docs.filter(F.col("doc_id") % N_TRIGGERS == i).select(
            (F.col("doc_id") * 1000 + F.lit(2 * i)).alias("doc_id"), "text"
        )
        if i % 2 == 1:
            # re-send the previous slice's text under fresh ids so the
            # saturation-promotion leg runs under the policy cadence
            batch = batch.unionByName(
                docs.filter(F.col("doc_id") % N_TRIGGERS == i - 1).select(
                    (F.col("doc_id") * 1000 + F.lit(2 * i + 1)).alias(
                        "doc_id"
                    ),
                    "text",
                )
            )
        w(batch, i)
        if i == 0:
            bucketize_index(
                gram_index_table(spark, tbl), base, GRAM_KEYS, n_buckets=4
            )
        fires.append(
            compact_index(
                gram_index_table(spark, tbl),
                base,
                GRAM_KEYS,
                n_buckets=4,
                max_small_files=MAX_SMALL,
                vacuum_keep_versions=2,
            )
            is not None
        )
        live_counts.append(len(idx._replay().stats))

    # 1) bounded live files, every trigger
    assert max(live_counts) <= MAX_SMALL + ADDS_PER_TRIGGER_BOUND, (
        live_counts
    )
    # 2) amortized: the rewrite did not run every trigger (trigger 0's
    # adds alone cannot trip a 32-file threshold), but DID run at
    # least once across N_TRIGGERS (the cadence is live, not idle)
    assert not all(fires) and any(fires), fires
    # after a fired trigger the index is back to a handful of files
    post_fire = [
        live_counts[i] for i in range(N_TRIGGERS) if fires[i]
    ]
    assert min(post_fire) <= 4, (fires, live_counts)

    # 3) incremental removal == batch recount under the policy cadence
    inc = sorted(
        map(tuple, exact_substring_removal(tbl).collect())
    )
    bat = sorted(map(tuple, _batch_recount(tbl).collect()))
    assert inc == bat and inc


def test_chunk_family_natural_cadence_bounds_files_and_keeps_oracle(
    spark, sf_dir
):
    """The z40 family's analog of the gram-family pin above (measured
    at scale in probes/steady_state_chunks.py): under the NATURAL
    policy the chunk index's live files stay bounded, compaction is
    amortized over the cadence rather than firing per trigger, and
    the terminal dedup accounting equals re-chunking the accumulated
    corpus from scratch."""
    from eeg_data_lake_spark.functions.chunking import chunk_rows
    from eeg_data_lake_spark.functions.multimodal import (
        attach_binary_payload,
    )
    from eeg_data_lake_spark.streaming.chunkdedup import (
        CHUNK_KEYS,
        chunk_batch_writer,
        chunk_index_table,
        dedup_report,
    )

    blobs = (
        attach_binary_payload(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        )
        .select("doc_id", "payload")
        .cache()
    )
    d = tempfile.mkdtemp(prefix="steady_chunks_test_")
    tbl = TxTable(spark, f"{d}/corpus")
    idx = chunk_index_table(spark, tbl)
    base = "steadychunktest"
    w = chunk_batch_writer(tbl, "soak-test", bucketed_base=base)

    fires, live_counts = [], []
    for i in range(N_TRIGGERS):
        batch = blobs.filter(F.col("doc_id") % N_TRIGGERS == i).select(
            (F.col("doc_id") * 1000 + F.lit(2 * i)).alias("doc_id"),
            "payload",
        )
        if i % 2 == 1:
            # duplicate payloads under fresh ids keep the novelty
            # anti-join dropping chunks throughout
            batch = batch.unionByName(
                blobs.filter(F.col("doc_id") % N_TRIGGERS == i - 1).select(
                    (F.col("doc_id") * 1000 + F.lit(2 * i + 1)).alias(
                        "doc_id"
                    ),
                    "payload",
                )
            )
        w(batch, i)
        if i == 0:
            bucketize_index(
                chunk_index_table(spark, tbl), base, CHUNK_KEYS, n_buckets=4
            )
        fires.append(
            compact_index(
                chunk_index_table(spark, tbl),
                base,
                CHUNK_KEYS,
                n_buckets=4,
                max_small_files=MAX_SMALL,
                vacuum_keep_versions=2,
            )
            is not None
        )
        live_counts.append(len(idx._replay().stats))

    # the chunk writer lands ONE index append per trigger (novel
    # chunks only), each at most shuffle-partitions files
    assert max(live_counts) <= MAX_SMALL + 4, live_counts
    assert not all(fires) and any(fires), fires

    rep = dedup_report(tbl).collect()[0].asDict()
    corpus = tbl.read()
    recount = (
        chunk_rows(corpus)
        .groupBy("chunk_md5")
        .agg(F.min("length").alias("length"))
        .agg(
            F.count("*").alias("n"),
            F.sum("length").cast("long").alias("b"),
        )
        .collect()[0]
    )
    assert rep["n_unique_chunks"] == recount["n"]
    assert rep["stored_bytes"] == recount["b"]
    assert rep["dedup_ratio"] > 1.2  # the dup structure actually deduped
