"""Streaming twin of the composed z20 curation pipeline: exact dedup,
ExactSubstr gram counting, shingle decontamination state, and the
structural quality gate, maintained incrementally in ONE foreachBatch
over the chained exactly-once discipline (streaming/txpair.py), with a
terminal resolution pass that reaches batch z20's answer VERBATIM.

The composition problem, stated: z20's stages are GLOBAL —

- exact dedup keeps the MINIMUM doc_id per fingerprint over the whole
  corpus, but a greedy first-batch-wins stream keeps whichever
  duplicate arrived first;
- ExactSubstr duplication and benchmark contamination are corpus-wide
  properties a single batch cannot decide;
- the quality gate runs on the SCRUBBED text, which doesn't exist
  until duplication is known.

So every per-batch leg here maintains state whose FINAL RESOLUTION is
order-independent, and the batch-order-sensitive choices are deferred
to the terminal pass (``curated_rollup``) — the same shape
streaming/exactsubstr.py proved for z29, extended to the full
pipeline:

1. **Structural gate (expectations)**: NULL-text rows are dropped per
   batch (operators/expectations.enforce — a NULL-text doc contributes
   nothing to any z20 stage: its fingerprint is its own NULL group and
   its tokenization is NULL, so dropping it at the door is
   parity-exact). The STATISTICAL gate (scrubbed length/token floors)
   cannot run per batch — scrubbing is global — and runs in the
   terminal pass with z20's exact expressions.
2. **Exact-dedup candidates**: per batch, the per-fingerprint minimum
   doc_id, kept only if no already-indexed doc of the same fingerprint
   has a STRICTLY smaller id. The strictly-less anti-join makes the
   probe replay-stable (chained_commit's contract: the fingerprint
   index may already contain this batch's own minima when a crashed
   batch replays — a row never compares strictly-less than itself, so
   the candidate set is unchanged) and the final winner — the global
   minimum — is always a candidate: at its own batch no smaller id
   can exist anywhere. Cross-batch losers never reach the corpus, the
   gram index, or the shingle inventory.
3. **Gram counts at doc granularity**: (doc_id, g, c) rows per
   candidate (c = within-doc occurrences, xxhash64 keys — the z19
   scale mode). The terminal saturated set filters to the winning
   doc_ids BEFORE summing, so a candidate later beaten by a smaller
   id (its fingerprint's grams re-enter under the new winner's text)
   drops out exactly — no negative-delta bookkeeping, append-only
   legs throughout.
4. **Decontamination state, bidirectional by construction**: the
   shingle inventory of non-benchmark candidates and the distinct
   shingle hashes of ALL raw benchmark-slot docs (%50 == 0, dedup
   losers included — z20 probes contamination over the ORIGINAL
   corpus, so a benchmark doc that loses exact dedup still
   contaminates). Resolved at the end as one broadcast join; a doc
   arriving before its contaminating benchmark doc — or after — lands
   in the same final set.

Per-trigger cost is batch-sized: one fingerprint-index probe (an
equi-anti-join, co-locatable like every other streaming index probe
here), plus narrow gram/shingle extraction over the batch. Nothing
per-trigger aggregates or rescans the corpus.

Reference capability upgraded: the reference's whole batch cadence —
bronze→silver→gold rewrites per ingest
(/root/reference/main/combine_files.py, bronze-to-silver.py) — becomes
an online pipeline whose state advances per micro-batch and whose
rollup is exactly the batch answer (z31 shares z20's CTE oracle
verbatim; crash replay pinned in tests/test_streaming_curation.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eeg_data_lake_spark.operators.expectations import enforce
from eeg_data_lake_spark.sources.indexproj import (
    compact_index,
    index_frames,
)
from eeg_data_lake_spark.sources.txlog import TxTable, maybe_compact
from eeg_data_lake_spark.streaming.txpair import chained_commit, drain
from eeg_data_lake_spark.workload.curation import (
    ESD_DUP_THRESHOLD,
    _split_col,
    esd_grams,
    esd_intervals,
    esd_kept_tokens,
)
from eeg_data_lake_spark.workload.dedup import shingled


def _fingerprint() -> F.Column:
    """z20's exact-dedup key: md5(lower(trim(text))) — non-NULL for
    every row that passes the structural gate."""
    return F.md5(F.lower(F.trim(F.col("text"))))


def fp_index_table(spark: SparkSession, table: TxTable) -> TxTable:
    """(fingerprint, doc_id) candidate rows; winner = min per
    fingerprint, resolved at read — order-independent."""
    return TxTable(spark, table.path + "_fp")


def gram_index_table(spark: SparkSession, table: TxTable) -> TxTable:
    """(doc_id, g, c) per-candidate within-doc gram counts."""
    return TxTable(spark, table.path + "_grams")


def inv_index_table(spark: SparkSession, table: TxTable) -> TxTable:
    """(doc_id, h) shingle-hash inventory of non-benchmark candidates."""
    return TxTable(spark, table.path + "_shinv")


def bench_index_table(spark: SparkSession, table: TxTable) -> TxTable:
    """(h) distinct-per-batch shingle hashes of raw benchmark docs."""
    return TxTable(spark, table.path + "_bench")


#: the fingerprint index's probe key: pass with ``fp_index_table(...)``
#: to sources/indexproj.bucketize_index / compact_index
FP_KEYS = ("fingerprint",)


def compact_curation_state(
    table: TxTable,
    bucketed_base: str | None = None,
    max_small_files: int = 8,
    target_file_bytes: int = 128 << 20,
    small_file_bytes: int | None = None,
    vacuum_keep_versions: int | None = None,
    max_projection_files: int | None = None,
) -> str | None:
    """Post-drain maintenance for the WHOLE five-table curation state:
    the fingerprint index through compact_index (projection-aware —
    a stale bucketed projection refreshes at its live bucket count
    before any vacuum), plus policy compaction of the corpus and the
    gram/inventory/bench txlogs, which ALSO take an append per
    micro-batch and would otherwise accumulate small files without
    bound. Returns the refreshed fingerprint projection name, if any.

    ``small_file_bytes`` below ``target_file_bytes`` turns on
    graduation for EVERY leg (bin-packed outputs stop re-qualifying,
    so each fire rewrites the un-graduated tail, not the corpus — the
    amortization probes/steady_state.py measures)."""
    spark = table.spark
    refreshed = compact_index(
        fp_index_table(spark, table),
        bucketed_base,
        FP_KEYS,
        max_small_files=max_small_files,
        target_file_bytes=target_file_bytes,
        small_file_bytes=small_file_bytes,
        vacuum_keep_versions=vacuum_keep_versions,
        max_projection_files=max_projection_files,
    )
    others = [
        table,
        gram_index_table(spark, table),
        inv_index_table(spark, table),
        bench_index_table(spark, table),
    ]
    for t in others:
        if (
            maybe_compact(
                t,
                max_small_files=max_small_files,
                target_file_bytes=target_file_bytes,
                small_file_bytes=small_file_bytes,
            )
            is not None
            and vacuum_keep_versions is not None
        ):
            t.vacuum(keep_versions=vacuum_keep_versions)
    return refreshed


def _backfill_curation_state(
    table: TxTable, batch_df: DataFrame, sink_id: str
) -> None:
    """Corpus seeded outside the stream (batch bootstrap, plain txsink
    ingest): without backfills the terminal winner resolution would
    DROP every seeded doc (winners come from the fingerprint index)
    and the dedup probe would re-admit duplicates of seeded content.
    Seeds all four indices from the corpus, exactly-once under
    dedicated backfill txn ids (streaming/txpair.py discipline).

    The gram leg is COUNT semantics, so — as in
    streaming/exactsubstr.py — the currently replaying batch's rows
    are EXCLUDED from the seed (with the index absent, the only sink
    rows possibly already in the corpus are this batch's; its own leg
    counts them exactly once under its replayable txn id, and
    counting them here too would double them into false duplicate
    grams → over-removal). The fingerprint leg tolerates the overlap
    (min-resolution), but excluding keeps the seed one relation; the
    inventory/bench legs are set semantics (distinct at resolve).
    Precondition inherited from the whole pipeline: doc_ids are
    unique ACROSS seed and stream — a seeded doc sharing an id with
    an incoming doc would be excluded here as if it were a replay.

    Each index gates its own seed append (``version() < 0``, the
    append itself idempotent under its txn id): a crash between the
    four appends must leave the REMAINING backfills runnable on
    replay — gating them all on the first index would permanently
    skip them (the round-5 multi-step-commit crash class)."""
    if table.version() < 0:
        return
    spark = table.spark
    legs = [
        fp_index_table(spark, table),
        gram_index_table(spark, table),
        inv_index_table(spark, table),
        bench_index_table(spark, table),
    ]
    if all(idx.version() >= 0 for idx in legs):
        return
    fp_idx, gram_idx, inv_idx, bench_idx = legs
    # one derivation for four consumers: materialize the seed once
    # (per-batch localCheckpoint inside foreachBatch — the round-6
    # note: safe here, the hazard is construction-time checkpoints of
    # SHARED cached plans)
    seed = (
        table.read()
        .join(batch_df.select("doc_id").distinct(), "doc_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    seeded = seed.withColumn("fingerprint", _fingerprint())
    if fp_idx.version() < 0:
        fp_idx.append(
            seeded.select("fingerprint", "doc_id"),
            txn_id=f"{sink_id}:fp-backfill",
        )
    if gram_idx.version() < 0:
        gram_idx.append(
            esd_grams(
                seed.select("doc_id", F.split(F.col("text"), " ").alias("w")),
                hashed=True,
            )
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).cast("int").alias("c")),
            txn_id=f"{sink_id}:grams-backfill",
        )
    if inv_idx.version() < 0:
        inv_idx.append(
            shingled(seed.filter(F.col("doc_id") % 50 != 0))
            .select("doc_id", F.explode("sl").alias("shingle"))
            .select("doc_id", F.xxhash64("shingle").alias("h")),
            txn_id=f"{sink_id}:shinv-backfill",
        )
    if bench_idx.version() < 0:
        bench_idx.append(
            shingled(seed.filter(F.col("doc_id") % 50 == 0))
            .select(F.explode("sl").alias("shingle"))
            .select(F.xxhash64("shingle").alias("h"))
            .distinct(),
            txn_id=f"{sink_id}:bench-backfill",
        )


def curation_batch_writer(
    table: TxTable, sink_id: str, bucketed_base: str | None = None
):
    """foreachBatch function maintaining the five-table curation state
    (corpus + fingerprint/gram/inventory/bench indices) exactly-once
    per batch via ``chained_commit`` — see the module docstring for
    each leg's replay argument. ``bucketed_base`` names a
    projection bucketed on ``FP_KEYS``: the dedup probe then anti-joins
    the index base co-located (no index-side shuffle per trigger) plus
    the post-projection txlog tail."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fp_idx = fp_index_table(spark, table)
        gram_idx = gram_index_table(spark, table)
        inv_idx = inv_index_table(spark, table)
        bench_idx = bench_index_table(spark, table)
        _backfill_curation_state(table, batch_df, sink_id)

        valid, _ = enforce(
            batch_df, {"text_present": F.col("text").isNotNull()}, mode="drop"
        )
        fps = valid.withColumn("fingerprint", _fingerprint())
        batch_min = fps.groupBy("fingerprint").agg(
            F.min("doc_id").alias("doc_id")
        )
        cand = fps.join(batch_min, ["fingerprint", "doc_id"], "left_semi")
        # chained per-frame strictly-less anti-joins: the bucketed base
        # stays co-located (only the batch side shuffles), the tail is
        # batch-scale; semantics identical to one probe of the union
        # (NOT EXISTS in any frame == NOT EXISTS in their union)
        for fr in index_frames(fp_idx, bucketed_base):
            ex = fr.select(
                F.col("fingerprint").alias("__f"), F.col("doc_id").alias("__d")
            )
            cand = cand.join(
                ex,
                (F.col("fingerprint") == F.col("__f"))
                & (F.col("__d") < F.col("doc_id")),
                "left_anti",
            )
        cand = cand.persist()  # five consumers below, one derivation
        try:
            tokenized = cand.select(
                "doc_id", F.split(F.col("text"), " ").alias("w")
            )
            chained_commit(
                table,
                cand.select("doc_id", "text", "lang"),
                [
                    (fp_idx, cand.select("fingerprint", "doc_id"), "fp"),
                    (
                        gram_idx,
                        esd_grams(tokenized, hashed=True)
                        .groupBy("doc_id", "g")
                        .agg(F.count(F.lit(1)).cast("int").alias("c")),
                        "grams",
                    ),
                    (
                        inv_idx,
                        shingled(cand.filter(F.col("doc_id") % 50 != 0))
                        .select("doc_id", F.explode("sl").alias("shingle"))
                        .select("doc_id", F.xxhash64("shingle").alias("h")),
                        "shinv",
                    ),
                    (
                        bench_idx,
                        shingled(valid.filter(F.col("doc_id") % 50 == 0))
                        .select(F.explode("sl").alias("shingle"))
                        .select(F.xxhash64("shingle").alias("h"))
                        .distinct(),
                        "bench",
                    ),
                ],
                sink_id,
                batch_id,
            )
        finally:
            cand.unpersist()

    return process


def stream_curation_ingest(
    spark: SparkSession,
    source_dir: str,
    schema,
    table: TxTable,
    checkpoint_path: str,
    sink_id: str,
    max_files_per_trigger: int = 1,
    bucketed_base: str | None = None,
) -> None:
    """Drain a file-source document stream into the curation state
    (``txpair.drain``)."""
    drain(
        spark,
        source_dir,
        schema,
        curation_batch_writer(table, sink_id, bucketed_base=bucketed_base),
        checkpoint_path,
        max_files_per_trigger,
    )


def curated_docs(table: TxTable) -> DataFrame:
    """The terminal resolution pass up to the PER-DOC curated relation
    — (doc_id, lang, n_tok, n_rm, stext) for every stream-ingested
    document surviving winner resolution (min per fingerprint —
    order-independent), ExactSubstr scrub against the winner-filtered
    gram counts, z20's statistical quality gate on the SCRUBBED text,
    holdout exclusion, and the decontamination anti-join. The
    streaming mirror of batch ``curated_clean_docs``
    (workload/curation.py): ``curated_rollup`` and the streaming
    shard packing (z42) are both thin consumers, so the stage
    semantics live in exactly one place per path. Every expression is
    z20's (shared helpers: esd_grams / esd_intervals /
    esd_kept_tokens), so after the stream drains this equals batch
    z20's per-doc relation row for row."""
    spark = table.spark
    winners = (
        fp_index_table(spark, table)
        .read()
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # two consumers (gram positions + scrub join) with differing
    # pruning — the same multi-consumer pin batch z20 documents.
    # localCheckpoint, NOT persist: a cached plan lives in the
    # CacheManager until someone unpersists it, so repeated rollups in
    # a long-lived session would accumulate cached blocks forever
    # (nobody can unpersist a frame the returned lazy plan still
    # reads); checkpoint blocks are reclaimed by the ContextCleaner as
    # soon as the returned frame is dropped.
    docs = (
        table.read()
        # streamed rows are NULL-text-free (expectations at the door),
        # but a SEEDED corpus can carry NULL text — z20 drops those
        # post-dedup, so the rollup must too
        .filter(F.col("text").isNotNull())
        .join(winners, "doc_id", "left_semi")
        .select("doc_id", "lang", F.split(F.col("text"), " ").alias("w"))
        .localCheckpoint(eager=True)
    )
    dup = (
        gram_index_table(spark, table)
        .read()
        .join(winners, "doc_id", "left_semi")
        .groupBy("g")
        .agg(F.sum("c").alias("t"))
        .filter(F.col("t") >= ESD_DUP_THRESHOLD)
        .select("g")
    )
    dpos = (
        esd_grams(docs.select("doc_id", "w"), hashed=True)
        .join(dup, "g")
        .select("doc_id", "p")
    )
    iv = F.col("iv")
    kw = F.col("kept_w")
    scrubbed = (
        docs.join(esd_intervals(dpos), "doc_id", "left")
        .withColumn("kept_w", esd_kept_tokens())
        .select(
            "doc_id",
            "lang",
            F.when(iv.isNull(), F.size("w"))
            .otherwise(F.size(kw))
            .cast("long")
            .alias("n_tok"),
            F.when(iv.isNull(), F.lit(0))
            .otherwise(F.size("w") - F.size(kw))
            .cast("long")
            .alias("n_rm"),
            F.when(iv.isNull(), F.array_join(F.col("w"), " "))
            .otherwise(
                F.array_join(F.transform(kw, lambda s: s["wd"]), " ")
            )
            .alias("stext"),
        )
    )
    gated = scrubbed.filter(
        (F.length("stext") >= 64) & (F.col("n_tok") >= 12)
    )
    bench = bench_index_table(spark, table).read().select("h").distinct()
    contaminated = (
        inv_index_table(spark, table)
        .read()
        .join(F.broadcast(bench), "h")
        .select("doc_id")
        .distinct()
    )
    return gated.filter(F.col("doc_id") % 50 != 0).join(
        contaminated, "doc_id", "left_anti"
    )


def curated_rollup(table: TxTable) -> DataFrame:
    """``curated_docs`` + deterministic split + per-(split, lang)
    rollup — z31/z34's terminal phase, sharing z20's CTE oracle
    verbatim (split via the shared _split_col)."""
    return (
        curated_docs(table)
        .withColumn("split", _split_col())
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum("n_rm").cast("long").alias("n_removed"),
        )
    )
