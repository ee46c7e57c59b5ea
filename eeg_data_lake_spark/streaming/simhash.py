"""Incremental streaming SimHash near-dup ingestion: the online form
of batch r40/r41 (workload/dedup.py), completing the incremental dedup
family — MinHash-LSH (streaming/dedup.py), ExactSubstr
(streaming/exactsubstr.py), and now Hamming-distance SimHash.

Documents arrive continuously; each micro-batch is near-dup-filtered
against itself AND everything already accepted, by SimHash Hamming
distance, then appended exactly-once to a transaction-logged corpus
table alongside a companion Manku block index:

1. **Fingerprint** the batch with ``with_simhash`` — the IDENTICAL
   md5-derived bit expressions batch r40 oracle-checks, so online and
   batch fingerprints agree bit for bit by construction.
2. **Within-batch clustering**: Hamming-verified block-collision
   pairs (``simhash_pairs`` — the exact r41 operator, batch-sized),
   connected components, keep the min-doc_id representative.
3. **Cross-batch novelty**: probe the accepted corpus's BLOCK INDEX —
   4 rows per accepted doc, (j, block, fp_hi, fp_lo) — with the
   batch representatives' own block rows: an equi-join on (j, block)
   followed by an inline exact-Hamming verify against the carried
   fingerprint halves. By the Manku pigeonhole argument this finds
   every accepted doc within the Hamming radius, and ONLY block-
   colliding candidates are ever compared — the probe never rescans
   corpus rows or text, and needs no join back to the corpus because
   the index rows carry the fingerprints.
4. **Exactly-once append**: corpus commit FIRST, block-index commit
   second, each under its own batch-keyed txn_id (the
   streaming/dedup.py two-table discipline: a crash between them
   replays the batch — the corpus append no-ops on its txn id, the
   index append then completes with identical content; a lagging
   index only under-rejects rows whose corpus commit itself then
   no-ops, so the corpus can never double-admit).

Degenerate docs: <3 tokens (or NULL text) have no shingles → the zero
fingerprint, so ALL of them mutually collide at Hamming 0 and greedily
collapse to one representative — the same policy batch r41's oracle
implies (every zero-fp pair is emitted). Filter empty docs upstream
(the r10 expectations layer) when that is not wanted; the dedup itself
stays faithful to the batch semantics.

Scale: per batch the cost is the narrow fingerprint map (in-row
aggregate HOFs, no explode), a batch-vs-batch block join, CC over
Hamming-verified edges (shallow), and one batch-vs-index equi-join on
(j, block) — 4·|batch| probe rows against an index of 4·|accepted|
compact rows (two 16-bit keys + two 32-bit halves; never text). The
index side of that join is the term that grows with the CORPUS, so
sources/indexproj.bucketize_index materializes it as a projection
bucketed on ``BLOCK_KEYS`` and the probe then reads the base
co-located — zero index-side exchange per trigger, only the
post-projection tail shuffling (sources/indexproj.py; plan pinned in
tests/test_indexproj.py). Hot blocks (e.g. the all-zeros block of
degenerate docs) are the skew point, same as batch r41 — cap block
buckets like MAX_SHINGLE_DF at 100 TB.

Reference capability upgraded: the reference's batch idempotent
rewrite loop (/root/reference/bronze-to-silver.py:74-76) re-runs the
whole dedup per ingest; this maintains the near-dup state online.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eeg_data_lake_spark.operators.graph import connected_components
from eeg_data_lake_spark.sources.indexproj import index_frames
from eeg_data_lake_spark.sources.txlog import TxTable
from eeg_data_lake_spark.streaming.txpair import (
    backfill_index,
    drain,
    paired_commit,
)
from eeg_data_lake_spark.workload.dedup import (
    hamming64,
    simhash_block_rows,
    simhash_pairs,
    with_simhash,
)

FP_COLS = ("fp_hi", "fp_lo")


def _index_rows(fps: DataFrame) -> DataFrame:
    """Block-index rows for docs carrying doc_id + FP_COLS: 4 rows per
    doc, fingerprint halves inline so probes never join back."""
    return simhash_block_rows(fps.select("doc_id", *FP_COLS)).select(
        "doc_id", "fp_hi", "fp_lo", "j", "block"
    )


def block_index_table(spark: SparkSession, table: TxTable) -> TxTable:
    """The corpus table's companion Manku block index: 4 rows per
    accepted document — (doc_id, fp_hi, fp_lo, j, block) — maintained
    incrementally on ingest. The novelty probe equi-joins THIS table
    on (j, block) and Hamming-verifies against the carried fingerprint
    halves, so probe cost is O(colliding buckets), never corpus rows."""
    return TxTable(spark, table.path + "_simhash")


#: the block index's probe keys: pass with ``block_index_table(...)``
#: to sources/indexproj.bucketize_index / compact_index
BLOCK_KEYS = ("j", "block")


def cross_batch_hits(
    probe: DataFrame,
    frames,
    max_hamming: int,
    max_block_df: int | None = None,
) -> DataFrame:
    """doc_ids of ``probe`` rows within ``max_hamming`` of any indexed
    fingerprint: an equi-join on (j, block) per index frame with an
    inline exact-Hamming verify, unioned across the base+tail frames.
    Joining each frame separately (not their union) preserves the
    bucketed base's co-location — a union would re-shuffle the whole
    index every trigger.

    ``max_block_df`` caps the index-side rows per (j, block) bucket:
    blocks exceeding it are DROPPED from candidate generation — the
    MAX_SHINGLE_DF policy from the q33 posting-list dedup, for
    adversarial corpora where many DISTINCT accepted fingerprints
    share a 16-bit block (templated text). A dropped block trades
    recall (a pair matching ONLY on that block is missed and its
    near-dup admitted — the other three blocks still probe), never
    precision; default None is exact. The degenerate all-zeros block
    needs no cap: identical fps pre-collapse within-batch and at most
    one zero-fp doc is ever accepted into the index. On a bucketed
    base the df aggregation groups on the bucket keys, so the cap
    itself adds no index-side exchange."""
    hits = None
    for fr in frames:
        if max_block_df is not None:
            hot = (
                fr.groupBy("j", "block")
                .agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") > max_block_df)
                .select("j", "block")
            )
            fr = fr.join(hot, ["j", "block"], "left_anti")
        h = (
            probe.alias("a")
            .join(
                fr.alias("b"),
                (F.col("a.j") == F.col("b.j"))
                & (F.col("a.block") == F.col("b.block")),
            )
            .filter(
                hamming64(
                    F.col("a.fp_hi"),
                    F.col("a.fp_lo"),
                    F.col("b.fp_hi"),
                    F.col("b.fp_lo"),
                )
                <= max_hamming
            )
            .select(F.col("a.doc_id").alias("doc_id"))
        )
        hits = h if hits is None else hits.unionByName(h)
    if hits is None:
        # empty frames list (index has no rows yet): nothing can hit.
        # Exported helper, so honor the contract here rather than
        # relying on callers to guard with `if frames:`.
        return probe.select("doc_id").limit(0)
    return hits.distinct()


def _batch_representatives(
    fps: DataFrame, max_hamming: int, max_cc_rounds: int = 20
) -> DataFrame:
    """Within-batch dedup: min-doc_id representative of every
    Hamming-verified block-collision connected component (singletons
    survive as-is). ``fps`` must carry doc_id + FP_COLS.

    Identical fingerprints are PRE-COLLAPSED to their min-doc_id
    member before the block join. This is the hot-block skew guard:
    every degenerate (<3-token / NULL-text) doc maps to fingerprint 0,
    so a crawl batch with thousands of empty docs would otherwise put
    thousands of rows into the SAME (j, block) buckets and the
    candidate join would explode O(n^2) — the planted-skew test pins
    the bounded shape. The collapse is EXACT, not an approximation:
    identical fps are mutually Hamming-0, so any component containing
    one member contains the whole group; a group's min doc_id enters
    the join carrying the group (it is the group's component minimum),
    any edge a collapsed member would have contributed exists
    identically for its representative (same fp -> same blocks, same
    distances), and the final keep = min(component) is unchanged.
    (FP_COLS are never NULL — bit-arithmetic over md5 sums, degenerate
    docs included — so the plain equi-join-back is safe.)

    ``max_cc_rounds`` bounds the per-trigger CC explicitly (each round
    is a shuffle + a driver-checked action): rounds needed equal the
    verified-pair graph's diameter over DISTINCT fingerprints, and a
    genuine near-dup batch is clique/short-chain shaped — hitting the
    bound RAISES loudly (connected_components' q48 contract) instead
    of silently burning unbounded rounds; raise it deliberately for
    genuinely deep batches."""
    groups = fps.groupBy(*FP_COLS).agg(F.min("doc_id").alias("doc_id"))
    pairs = simhash_pairs(
        groups.select("doc_id", *FP_COLS), max_hamming=max_hamming
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comp = connected_components(pairs, "src", "dst", max_iter=max_cc_rounds)
    reps = comp.groupBy("component").agg(F.min("node").alias("keep"))
    cc_losers = (
        comp.join(reps, "component")
        .filter(F.col("node") != F.col("keep"))
        .select(F.col("node").alias("doc_id"))
    )
    group_losers = (
        fps.select("doc_id", *FP_COLS)
        .join(
            groups.withColumnRenamed("doc_id", "keep"), list(FP_COLS)
        )
        .filter(F.col("doc_id") != F.col("keep"))
        .select("doc_id")
    )
    return fps.join(
        cc_losers.unionByName(group_losers), "doc_id", "left_anti"
    )


def simhash_batch_writer(
    table: TxTable,
    sink_id: str,
    max_hamming: int = 3,
    bucketed_base: str | None = None,
    max_block_df: int | None = None,
    max_cc_rounds: int = 20,
):
    """foreachBatch function: SimHash-near-dup-filter the micro-batch
    against itself and the accepted corpus, then append exactly-once
    (corpus first, block index second — see module docstring for the
    crash-safety argument). ``bucketed_base`` names a
    projection bucketed on ``BLOCK_KEYS``: the cross-batch probe then
    joins the index base co-located (no index-side shuffle per
    trigger) plus the post-projection txlog tail."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        idx = block_index_table(spark, table)
        # corpus seeded by another path (batch bootstrap, a plain
        # txsink ingest, a pre-index run): without this backfill the
        # cross-batch probe below would be skipped forever (index
        # absent) and every near-duplicate of a seeded doc admitted.
        # Set-semantics safe per streaming/txpair.py.
        backfill_index(
            table,
            idx,
            lambda corpus: _index_rows(with_simhash(corpus)),
            sink_id,
            "blocks",
        )
        # persisted: the fingerprint map is consumed four times per
        # batch (both sides of the candidate pair join, the loser
        # anti-join, the index append) and is the batch's dominant
        # narrow cost — the r41 localCheckpoint reuse, scoped to the
        # batch lifetime
        fps = with_simhash(batch_df).persist()
        novel = None
        try:
            novel = _batch_representatives(fps, max_hamming, max_cc_rounds)
            frames = index_frames(idx, bucketed_base)
            if frames:
                probe = simhash_block_rows(
                    novel.select("doc_id", *FP_COLS)
                ).select("doc_id", "j", "block", *FP_COLS)
                hits = cross_batch_hits(
                    probe, frames, max_hamming, max_block_df=max_block_df
                )
                novel = novel.join(hits, "doc_id", "left_anti").persist()
            else:
                novel = novel.persist()
            paired_commit(
                table,
                novel.drop("n_shingles", *FP_COLS),
                idx,
                lambda: _index_rows(novel),
                sink_id,
                "blocks",
                batch_id,
            )
        finally:
            # a failed/retried micro-batch must not strand the persisted
            # fingerprint/novel frames in executor memory for the
            # session lifetime
            if novel is not None:
                novel.unpersist()
            fps.unpersist()

    return process


def stream_simhash_ingest(
    spark: SparkSession,
    source_dir: str,
    schema,
    table: TxTable,
    checkpoint_path: str,
    sink_id: str,
    max_files_per_trigger: int = 1,
    max_hamming: int = 3,
    bucketed_base: str | None = None,
    max_cc_rounds: int = 20,
) -> None:
    """Drain a file-source document stream into the SimHash-
    deduplicated accepted-corpus table (``txpair.drain``).
    ``max_cc_rounds`` bounds each trigger's within-batch clustering
    explicitly (``_batch_representatives``): a batch whose verified
    pair graph is deeper than a dup-cluster shape fails loudly instead
    of burning unbounded shuffle rounds.
    """
    drain(
        spark,
        source_dir,
        schema,
        simhash_batch_writer(
            table,
            sink_id,
            max_hamming=max_hamming,
            bucketed_base=bucketed_base,
            max_cc_rounds=max_cc_rounds,
        ),
        checkpoint_path,
        max_files_per_trigger,
    )
