"""Streaming composed-curation pipeline (streaming/curation.py): the
terminal rollup equals batch z20 VERBATIM — including planted exact
duplicates whose winning (minimum) doc_id arrives in a LATER batch
than a loser, the case the greedy first-wins ingests get wrong — and
the five-table chained commit is exactly-once under a crash between
every pair of legs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from eeg_data_lake_spark.sources.txlog import TxTable
from eeg_data_lake_spark.streaming.curation import (
    bench_index_table,
    curated_rollup,
    curation_batch_writer,
    fp_index_table,
    gram_index_table,
    inv_index_table,
)
from eeg_data_lake_spark.workload import REGISTRY

SCHEMA = "doc_id bigint, text string, lang string"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _batch(spark, docs, i):
    return spark.createDataFrame(
        [r for r in docs if r[0] % 3 == i], SCHEMA
    )


def _long(words, reps=20):
    """A text comfortably past the 64-char / 12-token quality gate."""
    return " ".join(words * reps)


@pytest.fixture(scope="module")
def planted():
    """Documents exercising every stage the sf fixtures don't:

    - 6/4: byte-identical dups; the WINNER (4, batch 1) arrives AFTER
      batch 0 already accepted 6 — min-resolution must demote 6;
    - 9/7: same fingerprint via case difference (lower/trim), winner 7
      (batch 1) with DIFFERENT raw tokens than loser 9 (batch 0) — the
      final gram counts must be the winner's casing;
    - 12/15: within-batch dup (both in batch 0, 12 kept);
    - 21/22: an ESD-duplicated >=8-token span SHARED ACROSS BATCHES
      (21 in batch 0, 22 in batch 1) — both get scrubbed;
    - bench 50 (%50==0, batch 2) contaminates 16 (batch 1 — the doc
      arrived BEFORE its contaminating benchmark) and bench 0
      (batch 0) contaminates 35 (batch 2 — doc AFTER benchmark):
      decontamination must be bidirectional across batch order;
    - 103/150: 150 (%50==0, batch 0) is a benchmark doc that LOSES
      exact dedup to 103 (batch 1). Having arrived FIRST it is a
      STORED loser — resolved away at read — and its shingles must
      STILL contaminate (z20 probes the ORIGINAL corpus);
    - 8 (batch 2): a dup of 4/6 arriving AFTER the smaller id is
      indexed — the strictly-less probe filters it at the door, so it
      never reaches the corpus or any index;
    - 31: NULL text (structural expectations gate).
    """
    span = _long(["alpha", "beta", "gamma", "delta", "echo", "fox", "golf", "hotel"], 1)
    bench_text = _long(["bench", "mark", "secret", "eval", "question"], 15)
    bench_text2 = _long(["holdout", "answer", "key", "prompt", "gold"], 15)
    rows = [
        (6, _long(["copy", "of", "this", "exact", "document"], 15), "en"),
        (4, _long(["copy", "of", "this", "exact", "document"], 15), "en"),
        (8, _long(["copy", "of", "this", "exact", "document"], 15), "en"),
        (9, _long(["Case", "Variant", "Tokens", "Here", "Now"], 15), "en"),
        (7, _long(["case", "variant", "tokens", "here", "now"], 15), "en"),
        (12, _long(["within", "batch", "pair", "words", "zero"], 15), "de"),
        (15, "  " + _long(["within", "batch", "pair", "words", "zero"], 15), "de"),
        (21, span + " " + _long(["unique", "tail", "twenty", "one"], 10), "en"),
        (22, span + " " + _long(["different", "suffix", "twenty", "two"], 10), "en"),
        (0, bench_text2, "en"),
        (50, bench_text, "en"),
        (16, bench_text + " " + _long(["extra", "sixteen"], 10), "en"),
        (35, _long(["prefix", "thirty", "five"], 10) + " " + bench_text2, "en"),
        (103, _long(["loser", "bench", "dup", "body", "text"], 15), "fr"),
        (150, _long(["loser", "bench", "dup", "body", "text"], 15), "fr"),
        (31, None, "en"),
        (2, _long(["plain", "clean", "document", "number", "two"], 15), "en"),
        (5, _long(["plain", "clean", "document", "number", "five"], 15), "de"),
    ]
    return rows


def _z20_expected(spark, tmp_path, rows):
    """Batch z20 over the same planted docs, via its registered fn on
    a tmp sf_dir — the semantics oracle for every test here."""
    sf = tmp_path / "sf"
    sf.mkdir(exist_ok=True)
    spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(
        str(sf / "documents.parquet")
    )
    return _rows(REGISTRY["z20_curation_pipeline_esd"].spark_fn(spark, str(sf)))


def test_matches_batch_z20_on_fixture(spark, sf_dir):
    want = _rows(REGISTRY["z20_curation_pipeline_esd"].spark_fn(spark, sf_dir))
    got = _rows(
        REGISTRY["z31_streaming_curation_pipeline"].spark_fn(spark, sf_dir)
    )
    assert got == want


def test_planted_dups_out_of_order_winners_and_contamination(
    spark, tmp_path, planted
):
    want = _z20_expected(spark, tmp_path, planted)
    table = TxTable(spark, str(tmp_path / "corpus"))
    w = curation_batch_writer(table, "plant")
    for i in range(3):
        w(_batch(spark, planted, i), i)
    assert _rows(curated_rollup(table)) == want

    # the semantics the slicing planted really happened:
    fp_idx = fp_index_table(spark, table)
    winners = {
        r.doc_id
        for r in fp_idx.read()
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .collect()
    }
    assert 4 in winners and 6 not in winners  # later batch won
    assert 7 in winners and 9 not in winners  # case variant, later won
    assert 103 in winners and 150 not in winners
    # the gram index resolves to the WINNER's casing: doc 9's grams
    # are stored (it was a batch-0 candidate) but the winner filter
    # drops them — pinned indirectly by the rollup equality above,
    # and directly: both candidates' rows exist, resolution is at read
    gram_docs = {
        r.doc_id
        for r in gram_index_table(spark, table).read().select("doc_id").distinct().collect()
    }
    assert {9, 7} <= gram_docs
    # the benchmark doc that LOSES dedup (150) still contaminates —
    # its shingles are in the bench index regardless of dedup outcome
    assert bench_index_table(spark, table).read().count() > 0
    corpus_ids = {r.doc_id for r in table.read().collect()}
    # 150 arrived FIRST, so it is a STORED loser (kept on disk,
    # resolved away by min-at-read); 8 arrived AFTER its fingerprint's
    # smaller id was indexed, so the strictly-less probe filtered it
    # at the door
    assert 150 in corpus_ids and 150 not in winners
    assert 8 not in corpus_ids
    assert 31 not in corpus_ids  # NULL text quarantined structurally


@pytest.fixture(scope="module")
def uncrashed_ref(spark, planted, tmp_path_factory):
    """One uncrashed streaming run shared by the whole crash matrix."""
    ref = TxTable(
        spark, str(tmp_path_factory.mktemp("curation_ref") / "ref")
    )
    wr = curation_batch_writer(ref, "s")
    for i in range(3):
        wr(_batch(spark, planted, i), i)
    return ref, _rows(curated_rollup(ref))


@pytest.mark.parametrize("crash_at", [1, 2, 3, 4, 5])
def test_crash_between_any_two_legs_replays_exactly_once(
    spark, tmp_path, planted, monkeypatch, crash_at, uncrashed_ref
):
    """Kill the chained commit before its ``crash_at``-th manifest
    commit (1 = corpus leg, 2..5 = the index legs) during batch 1, replay the
    batch, and require the final rollup — and every table's content —
    to equal an uncrashed run's."""
    ref, want = uncrashed_ref

    table = TxTable(spark, str(tmp_path / "crash"))
    w = curation_batch_writer(table, "s")
    w(_batch(spark, planted, 0), 0)

    # the crash seam is the manifest COMMIT (TxTable.commit_staged),
    # through which every leg's append commits
    real_commit = TxTable.commit_staged
    seen = {"n": 0}

    def bomb(self, staged, txn_id=None):
        seen["n"] += 1
        if seen["n"] == crash_at:
            raise RuntimeError("injected crash")
        return real_commit(self, staged, txn_id=txn_id)

    monkeypatch.setattr(TxTable, "commit_staged", bomb)
    with pytest.raises(RuntimeError, match="injected crash"):
        w(_batch(spark, planted, 1), 1)
    monkeypatch.undo()

    w(_batch(spark, planted, 1), 1)  # foreachBatch replay
    w(_batch(spark, planted, 2), 2)
    assert _rows(curated_rollup(table)) == want
    for fam in (
        fp_index_table,
        gram_index_table,
        inv_index_table,
        bench_index_table,
    ):
        assert _rows(fam(spark, table).read()) == _rows(
            fam(spark, ref).read()
        )
    assert _rows(table.read()) == _rows(ref.read())


def test_full_batch_replay_is_a_no_op(spark, tmp_path, planted):
    table = TxTable(spark, str(tmp_path / "corpus"))
    w = curation_batch_writer(table, "s")
    for i in range(3):
        w(_batch(spark, planted, i), i)
    want = _rows(curated_rollup(table))
    versions = [
        fam(spark, table).version()
        for fam in (fp_index_table, gram_index_table, inv_index_table, bench_index_table)
    ] + [table.version()]
    w(_batch(spark, planted, 1), 1)  # an at-least-once redelivery
    assert _rows(curated_rollup(table)) == want
    assert versions == [
        fam(spark, table).version()
        for fam in (fp_index_table, gram_index_table, inv_index_table, bench_index_table)
    ] + [table.version()]


def test_seeded_corpus_backfills_before_first_probe(
    spark, tmp_path, planted
):
    """A corpus seeded OUTSIDE the stream (batch bootstrap): without
    the backfill the terminal winner resolution would drop every
    seeded doc (winners come from the fingerprint index) and the
    probe would re-admit duplicates of seeded content. After the
    backfill + remaining batches, the rollup equals batch z20 over
    the union."""
    want = _z20_expected(spark, tmp_path, planted)
    table = TxTable(spark, str(tmp_path / "corpus"))
    # batch-0 slice arrives OUT OF BAND as a plain append
    table.append(_batch(spark, planted, 0).filter(F.col("text").isNotNull()))
    w = curation_batch_writer(table, "seed")
    w(_batch(spark, planted, 1), 1)
    w(_batch(spark, planted, 2), 2)
    assert _rows(curated_rollup(table)) == want
    # and a duplicate of seeded content arriving post-seed is resolved
    # away: doc 4 (batch 1) beat seeded doc 6, both fingerprints exist
    winners = {
        r.doc_id
        for r in fp_index_table(spark, table)
        .read()
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .collect()
    }
    assert 4 in winners and 6 not in winners


def test_backfill_crash_between_index_seeds_recovers(
    spark, tmp_path, planted, monkeypatch
):
    """Crash AFTER the fingerprint backfill append but before the
    gram/inventory/bench seeds: each index gates its own backfill, so
    the replay must complete the remaining three and the rollup must
    still equal batch z20 — gating all four on the first index would
    skip them forever (under-scrubbing + missed contamination)."""
    want = _z20_expected(spark, tmp_path, planted)
    table = TxTable(spark, str(tmp_path / "corpus"))
    table.append(_batch(spark, planted, 0).filter(F.col("text").isNotNull()))
    w = curation_batch_writer(table, "bf")

    real_append = TxTable.append
    state = {"n": 0}

    def bomb(self, df, txn_id=None):
        state["n"] += 1
        if state["n"] == 2:  # fp backfill landed; die before gram seed
            raise RuntimeError("injected crash")
        return real_append(self, df, txn_id=txn_id)

    monkeypatch.setattr(TxTable, "append", bomb)
    with pytest.raises(RuntimeError, match="injected crash"):
        w(_batch(spark, planted, 1), 1)
    monkeypatch.undo()
    assert fp_index_table(spark, table).version() >= 0
    assert gram_index_table(spark, table).version() < 0  # seed missing

    w(_batch(spark, planted, 1), 1)  # replay completes the backfills
    w(_batch(spark, planted, 2), 2)
    assert _rows(curated_rollup(table)) == want


def test_z34_maintained_cadence_runs_and_matches_z31(
    spark, sf_dir, maintenance_log
):
    """The registered z34 must not be a vacuous twin: it leaves the
    footprints of the full maintenance cadence — a live catalog
    projection of the fingerprint index (so batch 2's probe had a
    bucketed base to read) and a 'compact' commit in the corpus
    txlog's history — and its rollup equals registered z31's row for
    row."""
    import glob
    import tempfile

    before = {t.name for t in spark.catalog.listTables()}
    dirs_before = set(glob.glob(os.path.join(tempfile.gettempdir(), "cur_m_q_*")))
    got = REGISTRY["z34_streaming_curation_maintained"].spark_fn(
        spark, sf_dir
    )
    got_rows = [tuple(r) for r in got.collect()]
    # the fingerprint index compacts before AND after batch 2's drain
    assert maintenance_log == ["drain", "compact", "drain", "compact"]

    projections = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("z34m_") and t.name not in before
    ]
    assert projections, "no fingerprint projection was materialized"
    # the projection is readable and bucketed (write_bucketed's marker
    # contract is covered in test_indexproj; here just non-empty)
    assert spark.table(max(projections)).count() > 0

    # the forced mid-stream compaction really rewrote the corpus
    # txlog: its history carries a 'compact' commit
    from eeg_data_lake_spark.sources.txlog import table_history

    new_dirs = (
        set(glob.glob(os.path.join(tempfile.gettempdir(), "cur_m_q_*")))
        - dirs_before
    )
    assert len(new_dirs) == 1
    corpus = TxTable(spark, os.path.join(new_dirs.pop(), "corpus"))
    ops = [r.op for r in table_history(corpus).collect()]
    assert "compact" in ops

    z31_rows = [
        tuple(r)
        for r in REGISTRY["z31_streaming_curation_pipeline"]
        .spark_fn(spark, sf_dir)
        .collect()
    ]
    assert got_rows == z31_rows


def test_rollup_localcheckpoint_blocks_are_reclaimed(
    spark, tmp_path, planted
):
    """curated_rollup materializes its multi-consumer docs relation
    with localCheckpoint on the argument that ContextCleaner reclaims
    the blocks once the returned frame is dropped (a CacheManager
    persist would accumulate forever — nobody can unpersist a frame
    the returned lazy plan still reads). Assert the argument: N
    rollups in one session must not grow the session's cached-RDD
    block count monotonically."""
    import gc
    import time

    table = TxTable(spark, str(tmp_path / "corpus_leak"))
    w = curation_batch_writer(table, "leak")
    for i in range(3):
        w(_batch(spark, planted, i), i)

    def cached_rdd_count() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    counts = []
    for _ in range(4):
        df = curated_rollup(table)
        df.write.format("noop").mode("overwrite").save()
        del df
        # the cleaner runs asynchronously off Python GC → py4j finalize
        # → ContextCleaner queue; poll until it settles
        gc.collect()
        for _ in range(40):
            spark.sparkContext._jvm.System.gc()
            if cached_rdd_count() <= (counts[-1] if counts else 10**9):
                break
            time.sleep(0.25)
        counts.append(cached_rdd_count())
    # steady state, not monotone growth: the last rollup may leave its
    # own blocks pending cleanup, but four runs must not stack four
    # generations of checkpoint blocks
    assert counts[-1] <= counts[0] + 1, counts
