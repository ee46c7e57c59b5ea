"""Resolved (order-independent) streaming near-dup ingests
(streaming/resolved.py): terminal resolution equals the batch
computation regardless of arrival order — including planted dups whose
winning (minimum) doc_id arrives in a LATER batch, the case the greedy
first-wins ingests keep differently — and the four-table chained
commit is exactly-once under a crash between every pair of legs.
(The oracle-hash checks themselves run in test_oracle_parity.py /
the driver; these tests pin the streaming-specific contracts.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from eeg_data_lake_spark.operators.graph import connected_components
from eeg_data_lake_spark.sources.txlog import TxTable
from eeg_data_lake_spark.streaming.resolved import (
    edges_table,
    minhash_resolved_family,
    posting_table,
    resolve_accepted,
    resolved_batch_writer,
    simhash_resolved_family,
)

SCHEMA = "doc_id bigint, text string, lang string"


def _long(words, reps=15):
    return " ".join(words * reps)


@pytest.fixture(scope="module")
def planted():
    """Dup structure the sf fixtures lack (zero exact-dup groups):

    - 6 (batch 0) / 4 (batch 1) / 8 (batch 2): byte-identical text —
      the WINNER (4) arrives AFTER batch 0 ingested 6, and 8 arrives
      after both; min-resolution must keep exactly 4 (a greedy
      first-wins ingest would keep 6);
    - 12 / 15 (both batch 0): within-batch dup, 12 kept;
    - 40 ("") / 41 (NULL, batch 0) / 42 ("", batch 2): contentless —
      the MinHash fallback band groups them (keep 40); SimHash's
      n_shingles==0 contract means they never pair and ALL survive;
    - 2, 5, 17: distinct clean docs, always kept.
    """
    body = _long(["copy", "of", "this", "exact", "document"])
    pair = _long(["within", "batch", "pair", "words", "zero"])
    return [
        (6, body, "en"),
        (4, body, "en"),
        (8, body, "en"),
        (12, pair, "de"),
        (15, pair, "de"),
        (40, "", "en"),
        (41, None, "en"),
        (42, "", "en"),
        (2, _long(["plain", "clean", "document", "number", "two"]), "en"),
        (5, _long(["plain", "clean", "document", "number", "five"]), "de"),
        (17, _long(["another", "unrelated", "body", "of", "text"]), "fr"),
    ]


def _batch(spark, docs, i):
    return spark.createDataFrame([r for r in docs if r[0] % 3 == i], SCHEMA)


def _drain(spark, docs, table, family, sink_id):
    w = resolved_batch_writer(table, family, sink_id)
    for i in range(3):
        w(_batch(spark, docs, i), i)


def _ids(df):
    return sorted(r.doc_id for r in df.collect())


def _batch_winners(spark, docs, family):
    """The BATCH answer over the full planted corpus — the semantics
    oracle for union-replay equality: augment all rows at once, pair
    the eligible ones, CC, keep min per component."""
    df = spark.createDataFrame(docs, SCHEMA)
    aug = family.augment(df)
    elig = aug.filter(family.eligible(aug)) if family.eligible else aug
    groups = elig.groupBy(*family.sketch_cols).agg(
        F.min("doc_id").alias("doc_id")
    )
    member = (
        elig.select("doc_id", *family.sketch_cols)
        .join(
            groups.select(*family.sketch_cols, F.col("doc_id").alias("src")),
            list(family.sketch_cols),
        )
        .filter(F.col("doc_id") != F.col("src"))
        .select("src", F.col("doc_id").alias("dst"))
    )
    edges = family.rep_pairs(groups).unionByName(member)
    if edges.isEmpty():
        return _ids(aug)
    comp = connected_components(edges, "src", "dst")
    losers = (
        comp.join(
            comp.groupBy("component").agg(F.min("node").alias("keep")),
            "component",
        )
        .filter(F.col("node") != F.col("keep"))
        .select(F.col("node").alias("doc_id"))
    )
    return _ids(aug.join(losers, "doc_id", "left_anti"))


def test_minhash_out_of_order_winner_matches_batch(spark, tmp_path, planted):
    fam = minhash_resolved_family()
    tbl = TxTable(spark, str(tmp_path / "mh"))
    _drain(spark, planted, tbl, fam, "t32")
    got = _ids(resolve_accepted(tbl))
    assert got == _batch_winners(spark, planted, fam)
    # the FULLY independent oracle: the planted corpus's dup structure
    # is known by construction (exact-copy groups {4,6,8}->4,
    # {12,15}->12, contentless {40,41,42} share the content-hash
    # fallback band ->40; 2/5/17 distinct), so the complete winner set
    # is a hand-derived constant — a bug shared between production
    # code and _batch_winners' mirror of it cannot satisfy this line
    assert got == [2, 4, 5, 12, 17, 40]


def test_simhash_degenerates_survive_and_match_batch(
    spark, tmp_path, planted
):
    fam = simhash_resolved_family()
    tbl = TxTable(spark, str(tmp_path / "sh"))
    _drain(spark, planted, tbl, fam, "t33")
    got = _ids(resolve_accepted(tbl))
    assert got == _batch_winners(spark, planted, fam)
    # hand-derived independent oracle (same argument as the MinHash
    # test): exact-copy groups {4,6,8}->4 and {12,15}->12 sit at
    # Hamming 0; r41's contract keeps ALL degenerates (40/41/42 never
    # pair); the distinct bodies don't collide within Hamming 3
    assert got == [2, 4, 5, 12, 17, 40, 41, 42]


@pytest.fixture(scope="module")
def uncrashed_ref(spark, planted, tmp_path_factory):
    d = tmp_path_factory.mktemp("ref")
    tbl = TxTable(spark, str(d / "mh"))
    _drain(spark, planted, tbl, minhash_resolved_family(), "t32")
    return _ids(resolve_accepted(tbl))


@pytest.mark.parametrize("crash_at", [1, 2, 3, 4])
def test_crash_between_any_two_legs_replays_exactly_once(
    spark, tmp_path, planted, monkeypatch, crash_at, uncrashed_ref
):
    """Kill batch 1's chained commit before its ``crash_at``-th append
    (corpus / edges / postings / components), then replay the batch
    and finish the stream: the resolved set must equal the uncrashed
    run's. crash_at=4 is the round-10 pin: a crash between the edge
    and component legs leaves the components state LAGGING, and the
    replayed comp leg must fold exactly the committed edge delta."""
    fam = minhash_resolved_family()
    tbl = TxTable(spark, str(tmp_path / "mh"))
    w = resolved_batch_writer(tbl, fam, "t32")
    w(_batch(spark, planted, 0), 0)

    seen = {"n": 0}
    real = TxTable.append

    def bomb(self, df, txn_id=None):
        seen["n"] += 1
        if seen["n"] == crash_at:
            raise RuntimeError("injected crash")
        return real(self, df, txn_id=txn_id)

    monkeypatch.setattr(TxTable, "append", bomb)
    with pytest.raises(RuntimeError, match="injected crash"):
        w(_batch(spark, planted, 1), 1)
    monkeypatch.undo()

    w(_batch(spark, planted, 1), 1)  # foreachBatch replay
    w(_batch(spark, planted, 2), 2)
    assert _ids(resolve_accepted(tbl)) == uncrashed_ref


def test_full_batch_replay_is_a_no_op(spark, tmp_path, planted, uncrashed_ref):
    fam = minhash_resolved_family()
    tbl = TxTable(spark, str(tmp_path / "mh"))
    w = resolved_batch_writer(tbl, fam, "t32")
    for i in range(3):
        w(_batch(spark, planted, i), i)
    v = (
        tbl.version(),
        edges_table(spark, tbl).version(),
        posting_table(spark, tbl).version(),
    )
    w(_batch(spark, planted, 1), 1)  # replay a committed batch
    assert (
        tbl.version(),
        edges_table(spark, tbl).version(),
        posting_table(spark, tbl).version(),
    ) == v
    assert _ids(resolve_accepted(tbl)) == uncrashed_ref


def test_seeded_corpus_backfills_edges_and_postings(spark, tmp_path):
    """A corpus bootstrapped OUTSIDE the stream (plain append, no
    sketch columns): the first trigger must backfill the seed's
    within-set pair graph and postings, so (a) seed-internal dups
    resolve and (b) a streamed dup of seeded content joins the seeded
    component — with the global minimum winning either way."""
    fam = minhash_resolved_family()
    tbl = TxTable(spark, str(tmp_path / "seeded"))
    body = _long(["seeded", "duplicate", "payload", "words", "here"])
    tbl.append(
        spark.createDataFrame(
            [
                (100, body, "en"),
                (102, body, "en"),  # seed-internal dup of 100
                (101, _long(["independent", "seeded", "doc"]), "de"),
            ],
            SCHEMA,
        ),
        txn_id="bootstrap",
    )
    w = resolved_batch_writer(tbl, fam, "ts")
    w(
        spark.createDataFrame(
            [(3, body, "en"), (7, _long(["fresh", "novel", "doc"]), "fr")],
            SCHEMA,
        ),
        0,
    )
    got = _ids(resolve_accepted(tbl))
    # component {3, 100, 102}: streamed 3 is the global min and wins
    assert got == [3, 7, 101]
    assert edges_table(spark, tbl).version() >= 0
    assert posting_table(spark, tbl).version() >= 0


def test_postings_stay_one_row_per_distinct_key(spark, tmp_path, planted):
    """Novel-only posting appends: re-occurrences of a band across
    batches add no rows, so probe fan-out never grows with corpus
    re-occurrences of a hot key."""
    fam = minhash_resolved_family()
    tbl = TxTable(spark, str(tmp_path / "mh"))
    _drain(spark, planted, tbl, fam, "t32")
    post = posting_table(spark, tbl).read()
    n = post.count()
    assert n == post.select("band_col", "band").distinct().count()
    # the dup text spans three batches but its bands are indexed once:
    # exactly one posting per distinct value per band column
    aug = fam.augment(spark.createDataFrame(planted, SCHEMA))
    b0 = aug.select("band0").distinct().count()
    b1 = aug.select("band1").distinct().count()
    assert n == b0 + b1


def test_bucketed_probe_path_is_output_invisible(spark, tmp_path, planted):
    """Draining with a bucketed posting-index projection (built after
    batch 0, refreshed by compact_resolved_state mid-stream) must
    resolve to exactly the plain-probe winner set — co-location is a
    physical choice, never a semantic one."""
    import uuid

    from eeg_data_lake_spark.sources.indexproj import bucketize_index
    from eeg_data_lake_spark.streaming.resolved import (
        compact_resolved_state,
        posting_table,
    )

    fam = minhash_resolved_family()
    base = f"rsb_{uuid.uuid4().hex[:8]}"
    tbl = TxTable(spark, str(tmp_path / "mhb"))
    w = resolved_batch_writer(tbl, fam, "t32b", bucketed_base=base)
    w(_batch(spark, planted, 0), 0)
    bucketize_index(
        posting_table(spark, tbl), base, fam.probe_keys, n_buckets=4
    )
    w(_batch(spark, planted, 1), 1)
    compact_resolved_state(
        tbl, fam, base, max_small_files=1, vacuum_keep_versions=2
    )
    w(_batch(spark, planted, 2), 2)
    assert _ids(resolve_accepted(tbl)) == [2, 4, 5, 12, 17, 40]
    for t in spark.catalog.listTables():
        if t.name.startswith(base):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


# ------------------------- incremental components (round-10 task 2)


def test_components_state_is_flat_and_matches_full_cc(
    spark, tmp_path, planted
):
    """After a drain, the components state's min-per-node mapping must
    equal full CC over the accumulated edge graph (same components,
    same min roots), and every assertion row must satisfy the
    root < node invariant the eager flattening maintains."""
    from eeg_data_lake_spark.streaming.resolved import components_table

    fam = minhash_resolved_family()
    tbl = TxTable(spark, str(tmp_path / "mh"))
    _drain(spark, planted, tbl, fam, "tc1")

    c = components_table(spark, tbl)
    rows = c.read().filter(F.col("node") != F.col("root"))
    assert rows.filter(F.col("root") >= F.col("node")).count() == 0
    mapping = {
        r.node: r.root
        for r in rows.groupBy("node").agg(F.min("root").alias("root")).collect()
    }
    comp = connected_components(edges_table(spark, tbl).read(), "src", "dst")
    keep = comp.groupBy("component").agg(F.min("node").alias("keep"))
    want = {
        r.node: r.keep
        for r in comp.join(keep, "component").filter(
            F.col("node") != F.col("keep")
        ).collect()
    }
    assert mapping == want


def test_terminal_read_is_a_scan_when_state_is_current(
    spark, tmp_path, planted, monkeypatch, uncrashed_ref
):
    """With the components state covering every edge version, the
    terminal resolution must not run CC at all — the O(all edges
    ever) cost task 2 removes. connected_components is patched to
    explode; resolve_accepted must still produce the batch answer."""
    from eeg_data_lake_spark.streaming import resolved as R

    fam = minhash_resolved_family()
    tbl = TxTable(spark, str(tmp_path / "mh"))
    _drain(spark, planted, tbl, fam, "tc2")

    def bomb(*a, **k):
        raise AssertionError("terminal read ran CC on a current state")

    monkeypatch.setattr(R, "connected_components", bomb)
    assert _ids(R.resolve_accepted(tbl)) == uncrashed_ref


def test_lagging_state_completes_with_delta_cc(
    spark, tmp_path, planted, monkeypatch, uncrashed_ref
):
    """A crash between the post and comp legs leaves the components
    state one batch behind. BEFORE the replay, resolve_accepted must
    already return the batch answer (assertion rows ∪ uncovered edge
    delta, never the full edge history); after the replay the scan
    path takes over with the same answer."""
    from eeg_data_lake_spark.streaming import resolved as R

    fam = minhash_resolved_family()
    tbl = TxTable(spark, str(tmp_path / "mh"))
    w = resolved_batch_writer(tbl, fam, "tc3")
    w(_batch(spark, planted, 0), 0)
    w(_batch(spark, planted, 1), 1)

    seen = {"n": 0}
    real = TxTable.append

    def bomb(self, df, txn_id=None):
        seen["n"] += 1
        if seen["n"] == 4:  # corpus, edges, post committed; comp dies
            raise RuntimeError("injected crash")
        return real(self, df, txn_id=txn_id)

    monkeypatch.setattr(TxTable, "append", bomb)
    with pytest.raises(RuntimeError, match="injected crash"):
        w(_batch(spark, planted, 2), 2)
    monkeypatch.undo()

    c = R.components_table(spark, tbl)
    e = edges_table(spark, tbl)
    assert R.comp_covered_version(c) < e.version()  # genuinely lagging
    assert _ids(R.resolve_accepted(tbl)) == uncrashed_ref

    w(_batch(spark, planted, 2), 2)  # foreachBatch replay
    assert R.comp_covered_version(c) == e.version()
    assert _ids(R.resolve_accepted(tbl)) == uncrashed_ref


def test_consolidation_bounds_state_and_preserves_resolution(
    spark, tmp_path, planted, uncrashed_ref
):
    """consolidate_components rewrites to one row per losing node +
    one sentinel, preserving the resolution (min-semantics makes the
    groupBy-min content-preserving) and the covered watermark."""
    from eeg_data_lake_spark.streaming.resolved import (
        comp_covered_version,
        components_table,
        consolidate_components,
    )

    fam = minhash_resolved_family()
    tbl = TxTable(spark, str(tmp_path / "mh"))
    _drain(spark, planted, tbl, fam, "tc4")
    c = components_table(spark, tbl)
    covered = comp_covered_version(c)
    losers = {
        r.node
        for r in c.read().filter(F.col("node") != F.col("root")).collect()
    }
    assert consolidate_components(c)
    rows = c.read().collect()
    assert len(rows) == len(losers) + 1  # flat mapping + one sentinel
    assert comp_covered_version(c) == covered
    assert _ids(resolve_accepted(tbl)) == uncrashed_ref


def test_component_free_read_matches_incremental(
    spark, tmp_path, planted, uncrashed_ref
):
    """The A/B pin the scaling probe relies on: the old full-CC path
    (use_components=False) and the incremental scan path resolve to
    the same set."""
    fam = minhash_resolved_family()
    tbl = TxTable(spark, str(tmp_path / "mh"))
    _drain(spark, planted, tbl, fam, "tc5")
    assert (
        _ids(resolve_accepted(tbl, use_components=False)) == uncrashed_ref
    )
    assert _ids(resolve_accepted(tbl)) == uncrashed_ref


def test_precomp_state_backfills_components(spark, tmp_path, planted):
    """A corpus whose edges predate the comp leg (simulated by
    dropping the comp table after a drain): the next trigger's
    backfill must bootstrap the mapping from the full edge table,
    and the terminal read must again be CC-free."""
    import shutil

    from eeg_data_lake_spark.streaming import resolved as R

    fam = minhash_resolved_family()
    tbl = TxTable(spark, str(tmp_path / "mh"))
    w = resolved_batch_writer(tbl, fam, "tc6")
    w(_batch(spark, planted, 0), 0)
    w(_batch(spark, planted, 1), 1)
    c = R.components_table(spark, tbl)
    shutil.rmtree(c.path)  # pre-comp-era state
    # a FRESH writer (the short-circuit is writer-local) must backfill
    w2 = resolved_batch_writer(tbl, fam, "tc6")
    w2(_batch(spark, planted, 2), 2)
    assert R.comp_covered_version(c) == edges_table(spark, tbl).version()
    ref = _batch_winners(spark, planted, fam)
    assert _ids(R.resolve_accepted(tbl)) == ref
