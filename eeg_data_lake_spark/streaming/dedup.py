"""Incremental streaming near-dup ingestion: the online form of the
batch MinHash-LSH dedup (workload/dedup.py q34/q35), run per
micro-batch against a transaction-logged accepted-corpus table.

This is the shape a production training-data pipeline actually runs —
documents arrive continuously and each batch must be deduplicated
against *everything already accepted*, not just itself, with
exactly-once effects across driver restarts:

1. **Sketch** the batch: 3-gram shingles → k=4 MinHash → 2 LSH bands
   (identical expressions to q34/q35, so the online and batch paths
   share semantics by construction).
2. **Within-batch clustering**: band-collision pairs via per-band
   equi-joins (never an OR-join), connected components
   (operators/graph.py), keep the min-doc_id representative per
   cluster — the canonical-representative rule production dedups use.
3. **Cross-batch novelty**: drop any representative whose band
   matches the accepted-corpus index (one left-anti equi-join per
   band). The index is a companion distinct-band txlog table (one row
   per accepted band value) maintained in the same foreachBatch as the
   corpus; the corpus commit lands FIRST, then the index, each under
   its own batch-keyed txn_id (DISTINCT ids on purpose: a shared id
   would make the index append no-op on replay after a crash between
   the two commits, losing the index rows forever) — a crash between
   the two replays the batch and
   back-fills the index commit while the corpus append dedupes to a
   no-op, so the index can lag but never lead (a lagging index only
   re-admits a candidate that the corpus append itself then rejects).
4. **Exactly-once append**: txn_id = (sink_id, batch_id); a replayed
   micro-batch (foreachBatch is at-least-once) commits nothing
   (streaming/txsink.py contract).

Scale: per batch the cost is the batch sketch (narrow), a
batch-vs-batch band join (batch-sized), CC over collision edges
(shallow clusters), and two batch-vs-corpus equi-joins on band keys —
the corpus side is an indexed equi-join probe, never rescanned
all-pairs. The novelty probe joins against a compact distinct-band
INDEX table maintained incrementally alongside the corpus (one row
per accepted band value), so per-batch probe cost is O(|bands|) and
never rescans corpus rows or document text.
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
    _minhash_cols,
    band_collision_pairs,
    shingled,
)

BAND_COLS = ("band0", "band1")


def with_bands(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``df`` + LSH band columns (the q35 banding: 2 bands × 2 rows of
    the k=4 md5 MinHash). Narrow map — no shuffle."""
    sh = shingled(df, text_col=text_col)
    s = _minhash_cols(F.col("sl"))
    # <3-token docs have an empty shingle list → NULL minhashes → NULL
    # bands, which equi-joins silently drop: such docs would bypass
    # dedup entirely (even byte-identical ones). Fall back to a
    # content-hash band so short duplicates still collide (exact-dup
    # granularity — the right degradation when shingles don't exist).
    # The text itself is coalesced first: md5(NULL) is NULL, so a
    # NULL-text doc would otherwise get NULL bands and bypass dedup the
    # same way (NULL and "" deliberately band together — both are
    # contentless).
    fallback = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    return sh.select(
        *df.columns,
        F.coalesce(F.md5(F.concat(s[0], s[1])), fallback).alias("band0"),
        F.coalesce(F.md5(F.concat(s[2], s[3])), fallback).alias("band1"),
    )


def _batch_representatives(
    banded: DataFrame, max_cc_rounds: int = 20
) -> DataFrame:
    """Within-batch dedup: min-doc_id representative of every
    band-collision connected component (singletons survive as-is).

    Identical (band0, band1) signatures are PRE-COLLAPSED to their
    min-doc_id member before the pair join — the same exact collapse
    the SimHash path applies to identical fingerprints. This is both
    the skew guard and the CC bound: a crawl batch with thousands of
    exact copies (or of degenerate docs sharing the content-hash
    fallback band) is ONE signature group, so the collision self-join
    sees one row for it instead of building the O(n^2) clique, and
    the iterative CC — a shuffle per round, every round — runs over
    the distinct-signature graph only; a collapse-clean batch skips
    CC entirely (measured 14.7 s → ~9 s trigger wall on a 1,500-copy
    flood batch, table in BASELINE.md). The collapse is
    EXACT: identical signatures share every band, so any edge a
    collapsed member would contribute exists identically for its
    group rep, and the rep (its group's minimum) carries the group —
    final keep = min(component) is unchanged. Bands are never NULL
    (with_bands coalesces a content-hash fallback), so the plain
    equi-join-back is safe.

    ``max_cc_rounds`` bounds the per-trigger CC explicitly (each round
    is a shuffle + a driver-checked action): rounds needed equal the
    collision graph's diameter over DISTINCT signatures, and a genuine
    near-dup batch is clique/short-chain shaped — hitting the bound
    means the batch is not that shape, and the trigger RAISES loudly
    (connected_components' q48 contract) instead of silently burning
    unbounded rounds; raise it deliberately for genuinely deep
    batches."""
    sig = banded.select("doc_id", *BAND_COLS)
    # one row per distinct signature (+ its group size, so the
    # clean-batch probe below can see exact-dup groups); eager
    # localCheckpoint: consumed by the pair join, the group-loser
    # join-back, and the clean probe
    groups = (
        sig.groupBy(*BAND_COLS)
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=True)
    )
    # materialize the collision pairs ONCE (eager localCheckpoint, the
    # connected_components convention): the clean-batch fast path
    # below probes them without re-running the band self-joins, and a
    # dirty batch feeds the SAME materialization to CC instead of
    # recomputing the join lineage
    pairs = band_collision_pairs(
        groups.select("doc_id", *BAND_COLS), BAND_COLS, src="src", dst="dst"
    ).localCheckpoint(eager=True)
    group_losers = (
        sig.join(
            groups.filter(F.col("_n") > 1).select(
                *BAND_COLS, F.col("doc_id").alias("keep")
            ),
            list(BAND_COLS),
        )
        .filter(F.col("doc_id") != F.col("keep"))
        .select("doc_id")
    )
    # a clean batch (no collisions at all) is the common case on a
    # real stream: two cheap probes of already-materialized frames
    # skip the iterative CC (several joins + a driver-checked action
    # per round) AND the loser anti-join entirely
    if pairs.isEmpty():
        if groups.filter(F.col("_n") > 1).isEmpty():
            return banded
        return banded.join(group_losers, "doc_id", "left_anti")
    comp = connected_components(pairs, "src", "dst", max_iter=max_cc_rounds)
    reps = comp.groupBy("component").agg(F.min("node").alias("doc_id"))
    cc_losers = comp.join(
        reps.withColumnRenamed("doc_id", "keep"),
        "component",
    ).filter(F.col("node") != F.col("keep")).select(
        F.col("node").alias("doc_id")
    )
    return banded.join(
        cc_losers.unionByName(group_losers), "doc_id", "left_anti"
    )


def band_index_table(spark: SparkSession, table: TxTable) -> TxTable:
    """The corpus table's companion band index: one row per accepted
    (band_col, band) value, maintained incrementally on ingest. The
    novelty probe joins against THIS table — O(distinct bands) — so
    the probe cost never scales with corpus rows or document size."""
    return TxTable(spark, table.path + "_bands")


#: the band index's probe key: pass with ``band_index_table(...)`` to
#: sources/indexproj.bucketize_index / compact_index
BAND_KEYS = ("band",)


def _band_rows(df: DataFrame) -> DataFrame:
    """(band_col, band) index rows for every band of ``df``."""
    out = None
    for col in BAND_COLS:
        b = df.select(
            F.lit(col).alias("band_col"), F.col(col).alias("band")
        )
        out = b if out is None else out.unionByName(b)
    return out.distinct()


def dedup_batch_writer(
    table: TxTable,
    sink_id: str,
    bucketed_base: str | None = None,
    max_cc_rounds: int = 20,
):
    """foreachBatch function: near-dup-filter the micro-batch against
    itself and the accepted corpus, then append exactly-once via the
    shared corpus-first/index-second discipline (streaming/txpair.py
    states the crash argument once for the whole ingest family).
    ``bucketed_base`` names a projection bucketed on ``BAND_KEYS``: the
    novelty probes then read the index base co-located (no index-side
    shuffle per trigger) plus the post-projection txlog tail.
    ``max_cc_rounds`` bounds the within-batch clustering — see
    ``_batch_representatives``."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        bands = band_index_table(spark, table)
        # corpus seeded by another path (batch bootstrap, a plain
        # txsink ingest, a pre-index run): backfill its bands before
        # the first probe (streaming/txpair.py — set-semantics safe)
        backfill_index(
            table,
            bands,
            lambda corpus: _band_rows(with_bands(corpus)),
            sink_id,
            "bands",
        )
        banded = with_bands(batch_df)
        novel = None
        try:
            novel = _batch_representatives(banded, max_cc_rounds)
            # chained per-frame anti-joins (the chunk-probe shape): the
            # base stays co-located when bucketed; no distinct() on the
            # index side — index rows are distinct by construction
            # (novel reps' bands can't collide within a batch or with
            # the index, and replays no-op), so the per-trigger
            # index-wide distinct shuffle this used to pay was waste
            for fr in index_frames(bands, bucketed_base):
                for col in BAND_COLS:
                    novel = novel.join(
                        fr.filter(F.col("band_col") == col).select(
                            F.col("band").alias(col)
                        ),
                        col,
                        "left_anti",
                    )
            novel = novel.persist()
            paired_commit(
                table,
                novel,
                bands,
                lambda: _band_rows(novel),
                sink_id,
                "bands",
                batch_id,
            )
        finally:
            # a failed/retried micro-batch must not strand persisted
            # frames in executor memory for the session lifetime
            if novel is not None:
                novel.unpersist()

    return process


def stream_dedup_ingest(
    spark: SparkSession,
    source_dir: str,
    schema,
    table: TxTable,
    checkpoint_path: str,
    sink_id: str,
    max_files_per_trigger: int = 1,
    bucketed_base: str | None = None,
    max_cc_rounds: int = 20,
) -> None:
    """Drain a file-source document stream into the deduplicated
    accepted-corpus table (``txpair.drain``). ``max_cc_rounds`` bounds
    each trigger's within-batch clustering explicitly
    (``_batch_representatives``): a batch whose collision graph is
    deeper than a dup-cluster shape fails loudly instead of burning
    unbounded shuffle rounds.
    """
    drain(
        spark,
        source_dir,
        schema,
        dedup_batch_writer(
            table,
            sink_id,
            bucketed_base=bucketed_base,
            max_cc_rounds=max_cc_rounds,
        ),
        checkpoint_path,
        max_files_per_trigger,
    )
