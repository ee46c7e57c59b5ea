"""Bucketed index projections (sources/indexproj.py): base+tail reads
are exactly the plain txlog read, the streaming SimHash and CDC chunk
probes drop their index-side exchange against the projection while
producing identical results, logical rewrites under a projection raise
instead of serving wrong rows, and compaction stays transparent."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from eeg_data_lake_spark.plans import count_exchanges, join_strategies
from eeg_data_lake_spark.sources.indexproj import (
    bucketize_index,
    compact_index,
    index_frames,
    newest_projection,
)
from eeg_data_lake_spark.sources.txlog import TxTable


@pytest.fixture(autouse=True)
def _plan_shape_no_spread(monkeypatch):
    """Plan pins in this module document the AT-SCALE plan shape,
    where the scale-adaptive input rebalance (operators/spread.py) is
    identity by its own gate — so pin with it off rather than encode
    the local one-row-group artifact into every exchange count.
    Result-parity THROUGH the spread path is covered by
    tests/test_spread.py and the oracle-parity sweep."""
    monkeypatch.setenv("SPARK_GRAFT_SPREAD", "off")


@pytest.fixture()
def base(spark):
    name = f"ixp_{uuid.uuid4().hex[:8]}"
    yield name
    for tbl in spark.catalog.listTables():
        if tbl.name.startswith(name):
            spark.sql(f"DROP TABLE IF EXISTS {tbl.name}")


def _union_rows(frames):
    out = set()
    for fr in frames:
        out |= {tuple(r) for r in fr.collect()}
    return out


def test_base_plus_tail_equals_plain_read(spark, tmp_path, base):
    idx = TxTable(spark, str(tmp_path / "idx"))
    idx.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    )
    # projection absent: falls back to exactly one plain-read frame
    frames = index_frames(idx, base)
    assert len(frames) == 1

    name = bucketize_index(idx, base, ["k"], n_buckets=4)
    assert newest_projection(spark, base) == (name, idx.version())
    # no tail yet: exactly one (bucketed) frame
    frames = index_frames(idx, base)
    assert len(frames) == 1
    assert _union_rows(frames) == {(1, "a"), (2, "b")}

    # appends after the projection surface as the tail frame
    idx.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    idx.append(spark.createDataFrame([(4, "d")], "k long, v string"))
    frames = index_frames(idx, base)
    assert len(frames) == 2
    assert _union_rows(frames) == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}

    # re-bucketize folds the tail in and supersedes the old projection
    name2 = bucketize_index(idx, base, ["k"], n_buckets=4)
    assert name2 != name
    assert not spark.catalog.tableExists(name)
    frames = index_frames(idx, base)
    assert len(frames) == 1
    assert _union_rows(frames) == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}


def test_logical_rewrite_under_projection_raises(spark, tmp_path, base):
    idx = TxTable(spark, str(tmp_path / "idx"))
    idx.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    bucketize_index(idx, base, ["k"], n_buckets=2)
    idx.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    idx.overwrite(spark.createDataFrame([(9, "z")], "k long, v string"))
    with pytest.raises(ValueError):
        index_frames(idx, base)


def test_compaction_is_transparent_to_the_tail(spark, tmp_path, base):
    idx = TxTable(spark, str(tmp_path / "idx"))
    idx.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    bucketize_index(idx, base, ["k"], n_buckets=2)
    idx.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    idx.compact()
    frames = index_frames(idx, base)
    assert _union_rows(frames) == {(1, "a"), (2, "b")}


def test_vacuumed_tail_degrades_to_full_read(spark, tmp_path, base):
    """compact()+vacuum() AFTER a projection deletes the tail appends'
    original files — the row-level delta is unrecoverable, so
    index_frames must fall back to the plain full read (correct, just
    not co-located) instead of raising on every probe until the next
    re-bucketize."""
    idx = TxTable(spark, str(tmp_path / "idx"))
    idx.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    bucketize_index(idx, base, ["k"], n_buckets=2)
    idx.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    idx.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    idx.compact()
    idx.vacuum(keep_versions=0)
    frames = index_frames(idx, base)
    assert len(frames) == 1  # the base was dropped, not double-served
    assert _union_rows(frames) == {(1, "a"), (2, "b"), (3, "c")}
    # an overwrite AFTER the vacuumed window: the fallback discards
    # the (now pre-overwrite) base entirely, so the full read serves
    # exactly the rewritten content — correct, never base+stale
    idx.overwrite(spark.createDataFrame([(9, "z")], "k long, v string"))
    frames = index_frames(idx, base)
    assert len(frames) == 1
    assert _union_rows(frames) == {(9, "z")}


def test_write_bucketed_never_reclaims_claimed_location(spark, tmp_path):
    """The orphan-reclaim path must not delete a directory that a
    catalog-registered table lives in: an external table's location
    matching the target name is left intact (the write fails instead
    of destroying data)."""
    import os
    import uuid as _uuid
    from urllib.parse import urlparse

    from eeg_data_lake_spark.sources.bucketed import write_bucketed

    victim = f"ixp_claim_{_uuid.uuid4().hex[:8]}"
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    loc = os.path.join(wh, victim)
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    # external table registered under ANOTHER name but living at the
    # path write_bucketed would compute for `victim`
    other = f"{victim}_ext"
    df.write.option("path", loc).saveAsTable(other)
    try:
        assert not spark.catalog.tableExists(victim)
        with pytest.raises(Exception):
            write_bucketed(df, victim, ["k"], 2)
        # the victim directory (other's data) survived the attempt
        assert spark.table(other).count() == 1
        assert os.path.isdir(loc)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {other}")
        spark.sql(f"DROP TABLE IF EXISTS {victim}")


def test_chunk_probe_drops_index_exchange_and_matches(
    spark, tmp_path, base
):
    from eeg_data_lake_spark.streaming.chunkdedup import (
        CHUNK_KEYS,
        chunk_batch_writer,
        chunk_index_table,
    )

    def blobs(pairs):
        return spark.createDataFrame(pairs, "doc_id long, payload binary")

    shared = bytes(range(256)) * 8
    plain_t = TxTable(spark, str(tmp_path / "plain"))
    bkt_t = TxTable(spark, str(tmp_path / "bkt"))
    b0 = [(1, shared + b"x" * 300), (2, b"y" * 900)]
    b1 = [(3, b"z" * 200 + shared), (4, b"")]
    b2 = [(5, shared[100:] + b"w" * 150)]

    plain_w = chunk_batch_writer(plain_t, "p")
    for i, b in enumerate((b0, b1, b2)):
        plain_w(blobs(b), i)

    bkt_w = chunk_batch_writer(bkt_t, "b", bucketed_base=base)
    bkt_w(blobs(b0), 0)
    bucketize_index(
        chunk_index_table(spark, bkt_t), base, CHUNK_KEYS, n_buckets=4
    )
    bkt_w(blobs(b1), 1)  # probes projection (no tail yet)
    bkt_w(blobs(b2), 2)  # probes projection + batch-1 tail
    want = {
        (r.chunk_md5, r.length)
        for r in chunk_index_table(spark, plain_t).read().collect()
    }
    got = {
        (r.chunk_md5, r.length)
        for r in chunk_index_table(spark, bkt_t).read().collect()
    }
    assert got == want

    # plan pin: against the projection the index-side exchange is gone
    from eeg_data_lake_spark.functions.chunking import chunk_rows
    from eeg_data_lake_spark.streaming.chunkdedup import novel_against

    idx = chunk_index_table(spark, bkt_t)
    bucketize_index(
        chunk_index_table(spark, bkt_t), base, CHUNK_KEYS, n_buckets=4
    )
    batch_chunks = (
        chunk_rows(blobs([(9, shared + b"q" * 100)]))
        .groupBy("chunk_md5")
        .agg(F.min("length").alias("length"))
    )
    plain_probe = novel_against(
        batch_chunks, [idx.read().hint("merge")]
    )
    bkt_frames = index_frames(idx, base)
    assert len(bkt_frames) == 1  # fresh projection, no tail
    bkt_probe = novel_against(batch_chunks, bkt_frames)
    assert "SortMergeJoin" in join_strategies(bkt_probe)
    assert count_exchanges(bkt_probe) == count_exchanges(plain_probe) - 1
    assert sorted(r.chunk_md5 for r in bkt_probe.collect()) == sorted(
        r.chunk_md5 for r in plain_probe.collect()
    )


def test_band_probe_drops_index_exchange_and_matches(
    spark, tmp_path, base
):
    from eeg_data_lake_spark.streaming.dedup import (
        BAND_COLS,
        BAND_KEYS,
        band_index_table,
        dedup_batch_writer,
        with_bands,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    b0 = [(1, "alpha beta gamma delta epsilon"), (2, "one two three four")]
    b1 = [
        (10, "alpha beta gamma delta epsilon"),  # near-dup of doc 1
        (11, "red green blue yellow purple"),
    ]
    plain_t = TxTable(spark, str(tmp_path / "plain"))
    w = dedup_batch_writer(plain_t, "p")
    w(docs(b0), 0)
    w(docs(b1), 1)

    bkt_t = TxTable(spark, str(tmp_path / "bkt"))
    wb = dedup_batch_writer(bkt_t, "b", bucketed_base=base)
    wb(docs(b0), 0)
    bucketize_index(
        band_index_table(spark, bkt_t), base, BAND_KEYS, n_buckets=4
    )
    wb(docs(b1), 1)  # probes the projection
    assert {r.doc_id for r in bkt_t.read().collect()} == {
        r.doc_id for r in plain_t.read().collect()
    } == {1, 2, 11}
    assert {
        (r.band_col, r.band)
        for r in band_index_table(spark, bkt_t).read().collect()
    } == {
        (r.band_col, r.band)
        for r in band_index_table(spark, plain_t).read().collect()
    }

    # plan pin on the probe itself (the writer's chained anti-joins)
    idx = band_index_table(spark, bkt_t)
    bucketize_index(
        band_index_table(spark, bkt_t), base, BAND_KEYS, n_buckets=4
    )

    def probe(frames):
        novel = with_bands(docs([(99, "alpha beta gamma delta epsilon")]))
        for fr in frames:
            for col in BAND_COLS:
                novel = novel.join(
                    fr.filter(F.col("band_col") == col).select(
                        F.col("band").alias(col)
                    ),
                    col,
                    "left_anti",
                )
        return novel

    plain_probe = probe([idx.read().hint("merge")])
    frames = index_frames(idx, base)
    assert len(frames) == 1
    bkt_probe = probe(frames)
    assert "SortMergeJoin" in join_strategies(bkt_probe)
    # TWO anti-joins (band0, band1) each drop their index-side
    # exchange against the bucketed base
    assert count_exchanges(bkt_probe) == count_exchanges(plain_probe) - 2
    assert {r.doc_id for r in bkt_probe.collect()} == {
        r.doc_id for r in plain_probe.collect()
    } == set()  # the near-dup is filtered either way


def test_gram_probe_drops_index_exchange_and_matches(
    spark, tmp_path, base
):
    from eeg_data_lake_spark.streaming.exactsubstr import (
        GRAM_KEYS,
        _gram_counts,
        exact_substring_removal,
        gram_index_table,
        ingest_batch_writer,
    )
    from eeg_data_lake_spark.workload.curation import (
        _ESD_L as ESD_L,
        ESD_DUP_THRESHOLD,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    span = " ".join(f"d{i}" for i in range(ESD_L + 3))
    b0 = [(0, span + " x y"), (1, "u v w " + " ".join("q" * 5))]
    b1 = [(10, "m n " + span), (11, "fresh tokens only here")]
    plain_t = TxTable(spark, str(tmp_path / "plain"))
    w = ingest_batch_writer(plain_t, "p")
    w(docs(b0), 0)
    w(docs(b1), 1)

    bkt_t = TxTable(spark, str(tmp_path / "bkt"))
    wb = ingest_batch_writer(bkt_t, "b", bucketed_base=base)
    wb(docs(b0), 0)
    bucketize_index(
        gram_index_table(spark, bkt_t), base, GRAM_KEYS, n_buckets=4
    )
    wb(docs(b1), 1)  # probes the projection
    # identical dup semantics: the shared span is removed on BOTH sides
    assert sorted(
        map(tuple, exact_substring_removal(bkt_t).collect())
    ) == sorted(map(tuple, exact_substring_removal(plain_t).collect()))
    # identical index content (g, c) — the row-local marker scheme
    assert {
        (r.g, r.c) for r in gram_index_table(spark, bkt_t).read().collect()
    } == {
        (r.g, r.c) for r in gram_index_table(spark, plain_t).read().collect()
    }

    # plan pin: the saturation anti-join against the projection drops
    # the index-side exchange
    idx = gram_index_table(spark, bkt_t)
    bucketize_index(
        gram_index_table(spark, bkt_t), base, GRAM_KEYS, n_buckets=4
    )
    counts = _gram_counts(docs([(99, span + " z z")]))

    def probe(frames):
        out = counts
        for fr in frames:
            out = out.join(
                fr.filter(F.col("c") >= ESD_DUP_THRESHOLD).select("g"),
                "g",
                "left_anti",
            )
        return out

    plain_probe = probe([idx.read().hint("merge")])
    frames = index_frames(idx, base)
    assert len(frames) == 1
    bkt_probe = probe(frames)
    assert "SortMergeJoin" in join_strategies(bkt_probe)
    assert count_exchanges(bkt_probe) == count_exchanges(plain_probe) - 1
    assert {r.g for r in bkt_probe.collect()} == {
        r.g for r in plain_probe.collect()
    }


def test_block_probe_drops_index_exchange_and_matches(
    spark, tmp_path, base
):
    from eeg_data_lake_spark.streaming.simhash import (
        BLOCK_KEYS,
        block_index_table,
        cross_batch_hits,
        simhash_batch_writer,
    )
    from eeg_data_lake_spark.workload.dedup import (
        simhash_block_rows,
        with_simhash,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    b0 = [(1, "alpha beta gamma delta epsilon"), (2, "one two three four")]
    b1 = [
        (10, "alpha beta gamma delta epsilon"),  # dup of accepted doc 1
        (11, "red green blue yellow purple"),
    ]
    plain_t = TxTable(spark, str(tmp_path / "plain"))
    w = simhash_batch_writer(plain_t, "p")
    w(docs(b0), 0)
    w(docs(b1), 1)

    bkt_t = TxTable(spark, str(tmp_path / "bkt"))
    wb = simhash_batch_writer(bkt_t, "b", bucketed_base=base)
    wb(docs(b0), 0)
    bucketize_index(
        block_index_table(spark, bkt_t), base, BLOCK_KEYS, n_buckets=4
    )
    wb(docs(b1), 1)  # probes the projection
    assert {r.doc_id for r in bkt_t.read().collect()} == {
        r.doc_id for r in plain_t.read().collect()
    } == {1, 2, 11}

    # plan pin on the probe itself
    idx = block_index_table(spark, bkt_t)
    bucketize_index(
        block_index_table(spark, bkt_t), base, BLOCK_KEYS, n_buckets=4
    )
    probe = simhash_block_rows(
        with_simhash(docs([(99, "alpha beta gamma delta epsilon")]))
        .select("doc_id", "fp_hi", "fp_lo")
    ).select("doc_id", "j", "block", "fp_hi", "fp_lo")
    plain_hits = cross_batch_hits(probe, [idx.read().hint("merge")], 3)
    frames = index_frames(idx, base)
    assert len(frames) == 1
    bkt_hits = cross_batch_hits(probe, frames, 3)
    assert "SortMergeJoin" in join_strategies(bkt_hits)
    assert count_exchanges(bkt_hits) == count_exchanges(plain_hits) - 1
    assert {r.doc_id for r in bkt_hits.collect()} == {
        r.doc_id for r in plain_hits.collect()
    } == {99}


def test_compact_index_refreshes_projection_before_vacuum(
    spark, tmp_path, base
):
    """The round-6 gap: compact()+vacuum() past a projection silently
    degraded every later probe to the full co-location-free read until
    someone re-bucketized by hand. compact_index is the cadence hook:
    compaction under a live projection re-bucketizes FIRST, so the
    vacuum has no tail to strand and the next probe is co-located."""
    from eeg_data_lake_spark.sources.indexproj import compact_index

    idx = TxTable(spark, str(tmp_path / "idx"))
    idx.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    bucketize_index(idx, base, ["k"], n_buckets=4)
    idx.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    idx.append(spark.createDataFrame([(3, "c")], "k long, v string"))

    # below the small-file threshold: nothing compacts, projection kept
    assert (
        compact_index(idx, base, ["k"], n_buckets=4, max_small_files=99)
        is None
    )
    assert len(index_frames(idx, base)) == 2  # base + tail, untouched

    name = compact_index(
        idx,
        base,
        ["k"],
        n_buckets=4,
        max_small_files=1,
        vacuum_keep_versions=0,
    )
    assert name is not None
    assert newest_projection(spark, base) == (name, idx.version())
    frames = index_frames(idx, base)
    # fresh projection, no tail — NOT the degraded full read: the
    # frame is the bucketed catalog table, so a key-join probe elides
    # the index-side exchange exactly like a just-bucketized base
    assert len(frames) == 1
    assert _union_rows(frames) == {(1, "a"), (2, "b"), (3, "c")}
    probe_rows = spark.createDataFrame([(2,), (9,)], "k long")
    plain = probe_rows.join(idx.read().hint("merge"), "k", "left_anti")
    fresh = probe_rows.join(frames[0], "k", "left_anti")
    assert count_exchanges(fresh) == count_exchanges(plain) - 1
    assert {r.k for r in fresh.collect()} == {9}


def test_family_compact_hook_keeps_next_trigger_colocated(
    spark, tmp_path, base
):
    """End-to-end on the chunk-dedup family: ingest triggers build the
    index under a projection, compact_index (+vacuum) runs as
    post-batch maintenance, and the NEXT trigger still probes a fresh
    single-frame projection — zero degraded full reads — with content
    identical to a maintenance-free run."""
    from eeg_data_lake_spark.streaming.chunkdedup import (
        CHUNK_KEYS,
        chunk_batch_writer,
        chunk_index_table,
    )

    def blobs(pairs):
        return spark.createDataFrame(pairs, "doc_id long, payload binary")

    shared = bytes(range(256)) * 8
    b0 = [(1, shared + b"x" * 300), (2, b"y" * 900)]
    b1 = [(3, b"z" * 200 + shared), (4, b"")]
    b2 = [(5, shared[100:] + b"w" * 150)]

    plain_t = TxTable(spark, str(tmp_path / "plain"))
    w = chunk_batch_writer(plain_t, "p")
    for i, b in enumerate((b0, b1, b2)):
        w(blobs(b), i)

    bkt_t = TxTable(spark, str(tmp_path / "bkt"))
    wb = chunk_batch_writer(bkt_t, "b", bucketed_base=base)
    wb(blobs(b0), 0)
    bucketize_index(
        chunk_index_table(spark, bkt_t), base, CHUNK_KEYS, n_buckets=4
    )
    wb(blobs(b1), 1)
    # maintenance between triggers: compact + re-project + vacuum
    refreshed = compact_index(
        chunk_index_table(spark, bkt_t), base, CHUNK_KEYS,
        n_buckets=4, max_small_files=1, vacuum_keep_versions=0,
    )
    assert refreshed is not None
    idx = chunk_index_table(spark, bkt_t)
    frames = index_frames(idx, base)
    assert len(frames) == 1  # fresh projection, not the degraded read
    wb(blobs(b2), 2)  # the NEXT trigger probes it
    want = {
        (r.chunk_md5, r.length)
        for r in chunk_index_table(spark, plain_t).read().collect()
    }
    got = {(r.chunk_md5, r.length) for r in idx.read().collect()}
    assert got == want


def test_compact_index_repairs_projection_stranded_by_crash(
    spark, tmp_path, base, monkeypatch
):
    """A crash between a previous maintenance call's compact and its
    re-bucketize leaves the projection stale with rewritten history
    behind it. The NEXT call's maybe_compact is a no-op then, so the
    refresh must key on STALENESS (a compact/zorder commit after the
    projection's version), and the vacuum must not run while the
    projection is still stale — otherwise the probe degrades to the
    co-location-free full read, the window the hook exists to close."""
    from eeg_data_lake_spark.sources import indexproj
    from eeg_data_lake_spark.sources.indexproj import compact_index

    idx = TxTable(spark, str(tmp_path / "idx"))
    idx.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    bucketize_index(idx, base, ["k"], n_buckets=4)
    proj_v = newest_projection(spark, base)[1]
    idx.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    idx.append(spark.createDataFrame([(3, "c")], "k long, v string"))

    # call 1 crashes AFTER the compaction, BEFORE the refresh (the
    # tail-bounded extend runs first now, so that is the crash point)
    def boom(*a, **k):
        raise RuntimeError("crash before re-project")

    monkeypatch.setattr(indexproj, "extend_projection", boom)
    with pytest.raises(RuntimeError, match="crash before re-project"):
        compact_index(
            idx, base, ["k"], n_buckets=4, max_small_files=1,
            vacuum_keep_versions=0,
        )
    monkeypatch.undo()
    # the compaction landed, the projection is stale, nothing vacuumed
    assert newest_projection(spark, base)[1] == proj_v

    # call 2: its own maybe_compact is a no-op (already compacted),
    # but the staleness check repairs the projection BEFORE vacuuming
    name = compact_index(
        idx, base, ["k"], n_buckets=4, max_small_files=1,
        vacuum_keep_versions=0,
    )
    assert name is not None
    assert newest_projection(spark, base) == (name, idx.version())
    frames = index_frames(idx, base)
    assert len(frames) == 1  # fresh projection, not the degraded read
    assert _union_rows(frames) == {(1, "a"), (2, "b"), (3, "c")}

    # quiet call: no compaction, fresh projection -> no refresh AND no
    # vacuum scan (versions retained count unchanged)
    import os

    files_before = sorted(os.listdir(idx.data_dir))
    assert (
        compact_index(
            idx, base, ["k"], n_buckets=4, max_small_files=99,
            vacuum_keep_versions=0,
        )
        is None
    )
    assert sorted(os.listdir(idx.data_dir)) == files_before


def test_fp_probe_drops_index_exchange_and_matches(spark, tmp_path, base):
    """The curation dedup probe (strictly-less anti-join on
    fingerprint) against a bucketed fp-index projection: zero
    index-side exchange, candidate set identical to the plain read —
    the fifth streaming index family on the base+tail read."""
    from eeg_data_lake_spark.streaming.curation import (
        FP_KEYS,
        curation_batch_writer,
        fp_index_table,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string, lang string")

    long = lambda s: " ".join([s] * 30)  # noqa: E731
    b0 = [(6, long("copy body"), "en"), (2, long("first body"), "en")]
    b1 = [(4, long("copy body"), "en"), (11, long("fresh body"), "en")]
    b2 = [(8, long("copy body"), "en"), (23, long("third body"), "en")]

    plain_t = TxTable(spark, str(tmp_path / "plain"))
    w = curation_batch_writer(plain_t, "p")
    for i, b in enumerate((b0, b1, b2)):
        w(docs(b), i)

    bkt_t = TxTable(spark, str(tmp_path / "bkt"))
    wb = curation_batch_writer(bkt_t, "b", bucketed_base=base)
    wb(docs(b0), 0)
    bucketize_index(fp_index_table(spark, bkt_t), base, FP_KEYS, n_buckets=4)
    wb(docs(b1), 1)  # probes projection (no tail yet)
    wb(docs(b2), 2)  # probes projection + batch-1 tail
    assert {r.doc_id for r in bkt_t.read().collect()} == {
        r.doc_id for r in plain_t.read().collect()
    } == {6, 2, 4, 11, 23}  # 8 door-filtered, 4 stored (late winner)

    # plan pin: the probe against the projection drops the index-side
    # exchange while producing the same candidates
    from pyspark.sql import functions as F2

    idx = fp_index_table(spark, bkt_t)
    bucketize_index(fp_index_table(spark, bkt_t), base, FP_KEYS, n_buckets=4)
    probe = spark.createDataFrame(
        [("x", 1), ("y", 99)], "fingerprint string, doc_id long"
    )

    def run(frames):
        out = probe
        for fr in frames:
            ex = fr.select(
                F2.col("fingerprint").alias("__f"),
                F2.col("doc_id").alias("__d"),
            )
            out = out.join(
                ex,
                (F2.col("fingerprint") == F2.col("__f"))
                & (F2.col("__d") < F2.col("doc_id")),
                "left_anti",
            )
        return out

    plain_probe = run([idx.read().hint("merge")])
    frames = index_frames(idx, base)
    assert len(frames) == 1
    bkt_probe = run(frames)
    assert "SortMergeJoin" in join_strategies(bkt_probe)
    assert count_exchanges(bkt_probe) == count_exchanges(plain_probe) - 1
    assert {r.doc_id for r in bkt_probe.collect()} == {
        r.doc_id for r in plain_probe.collect()
    }


def test_stream_ingest_then_compaction_cadence_refreshes_projection(
    spark, tmp_path, base
):
    """The family's compact hook (compact_index) run after a
    stream_*_ingest drain: with enough small index files the txlog
    compacts and a stale projection is refreshed, so the NEXT
    invocation's probes start on a fresh zero-tail projection."""
    import os

    from pyspark.sql import functions as F2

    from eeg_data_lake_spark.streaming.dedup import (
        BAND_KEYS,
        band_index_table,
        stream_dedup_ingest,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} alpha{i} beta{i} gamma{i} delta{i}") for i in range(12)],
        "doc_id long, text string",
    )
    src = tmp_path / "in"
    src.mkdir()
    for i in range(3):
        stage = tmp_path / f"s{i}"
        docs.filter(F2.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            str(stage)
        )
        part = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        os.rename(str(stage / part), str(src / f"b{i}.parquet"))

    t = TxTable(spark, str(tmp_path / "corpus"))
    # a projection exists before the run, so post-drain maintenance
    # has something to keep fresh
    idx = band_index_table(spark, t)
    idx.append(
        spark.createDataFrame(
            [("band0", "0" * 32)], "band_col string, band string"
        )
    )
    bucketize_index(band_index_table(spark, t), base, BAND_KEYS, n_buckets=4)
    stream_dedup_ingest(
        spark,
        str(src),
        "doc_id bigint, text string",
        t,
        str(tmp_path / "ck"),
        sink_id="mnt",
        bucketed_base=base,
    )
    compact_index(band_index_table(spark, t), base, BAND_KEYS)
    # whether the post-drain policy pass compacted depends on file
    # layout (small-file count vs the threshold) — assert the state
    # contract, not which call did the work: the frames read is exact
    frames = index_frames(idx, base)
    got = {(r.band_col, r.band) for fr in frames for r in fr.collect()}
    want = {(r.band_col, r.band) for r in idx.read().collect()}
    assert got == want
    # force the cadence with a 1-file threshold; afterwards the
    # projection must be current (fresh from THIS call or already
    # fresh from the post-drain call), single-frame, and still at ITS bucket
    # count — the refresh derives the live spec, never a caller
    # default (n_buckets=32 here is deliberately 'wrong')
    from eeg_data_lake_spark.sources.indexproj import projection_buckets

    compact_index(
        band_index_table(spark, t), base, BAND_KEYS,
        n_buckets=32, max_small_files=1, vacuum_keep_versions=0,
    )
    name, v = newest_projection(spark, base)
    assert v == idx.version()
    assert len(index_frames(idx, base)) == 1
    assert projection_buckets(spark, name) == 4


def test_gc_projections_drops_by_prefix_and_respects_keep(spark, tmp_path):
    from eeg_data_lake_spark.sources.indexproj import gc_projections

    pref = f"gcp{uuid.uuid4().hex[:6]}_"
    base_a, base_b = f"{pref}aaaa", f"{pref}bbbb"
    idx = TxTable(spark, str(tmp_path / "gidx"))
    idx.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    name_a = bucketize_index(idx, base_a, ["k"], n_buckets=2)
    name_b = bucketize_index(idx, base_b, ["k"], n_buckets=2)

    # keep_bases protects the named base, everything else under the
    # prefix goes
    dropped = gc_projections(spark, pref, keep_bases=[base_b])
    assert dropped == [name_a]
    live = {t.name for t in spark.catalog.listTables()}
    assert name_b in live and name_a not in live

    # and a full sweep reclaims the kept one too
    assert gc_projections(spark, pref) == [name_b]
    assert name_b not in {t.name for t in spark.catalog.listTables()}


def test_gc_projections_skips_unmarked_directories(spark, tmp_path):
    import os
    from urllib.parse import urlparse

    from eeg_data_lake_spark.sources.bucketed import MARKER_FILE
    from eeg_data_lake_spark.sources.indexproj import gc_projections

    pref = f"gcu{uuid.uuid4().hex[:6]}_"
    idx = TxTable(spark, str(tmp_path / "uidx"))
    idx.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    name = bucketize_index(idx, pref + "cccc", ["k"], n_buckets=2)
    loc = urlparse(
        spark.sql(f"DESCRIBE TABLE EXTENDED {name}")
        .filter("col_name = 'Location'")
        .collect()[0][1]
    ).path
    marker = os.path.join(loc, MARKER_FILE)
    os.unlink(marker)
    # provenance gone: the sweep must not destroy what it can't prove
    # is ours
    with pytest.warns(UserWarning, match="no provenance marker"):
        assert gc_projections(spark, pref) == []
    assert name in {t.name for t in spark.catalog.listTables()}
    with open(marker, "w"):
        pass
    assert gc_projections(spark, pref) == [name]


def test_maintained_wrapper_reclaims_prior_run_projections(spark, sf_dir):
    """Running a maintained family twice leaves ONE live projection
    (the second run's) — the gc-at-start hook reclaims the previous
    invocation's catalog table instead of accumulating one per run."""
    from eeg_data_lake_spark.workload import REGISTRY

    fn = REGISTRY["z39_streaming_exactsubstr_maintained"].spark_fn
    first = [tuple(r) for r in fn(spark, sf_dir).collect()]
    after_first = {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("z39m_")
    }
    assert len(after_first) == 1
    second = [tuple(r) for r in fn(spark, sf_dir).collect()]
    after_second = {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("z39m_")
    }
    assert len(after_second) == 1
    assert after_second != after_first  # the survivor is run 2's
    assert second == first


def _file_sigs(spark, table):
    """(basename, size) of every data file in a catalog table — stable
    across ALTER TABLE RENAME (which moves the directory but keeps the
    files), so a subset check proves the base files were NOT
    rewritten."""
    import os

    return {
        (os.path.basename(p), os.path.getsize(p.removeprefix("file:")))
        for p in spark.table(table).inputFiles()
    }


def test_extend_projection_is_tail_bounded(spark, tmp_path, base):
    """The steady-state probe's honest residual, closed: a maintenance
    fire's projection refresh APPENDS the txlog tail and renames,
    leaving every pre-existing base file byte-untouched — tail-, not
    index-, proportional bytes — while the probe's index-side exchange
    elision survives and the content equals the plain read."""
    from eeg_data_lake_spark.sources.indexproj import compact_index

    idx = TxTable(spark, str(tmp_path / "idx"))
    idx.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    )
    name0 = bucketize_index(idx, base, ["k"], n_buckets=4)
    sigs0 = _file_sigs(spark, name0)
    idx.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    idx.append(spark.createDataFrame([(4, "d")], "k long, v string"))

    name1 = compact_index(
        idx, base, ["k"], n_buckets=4, max_small_files=1,
        vacuum_keep_versions=0,
    )
    assert name1 == f"{base}_v{idx.version()}"
    sigs1 = _file_sigs(spark, name1)
    # every original base file survived the refresh unrewritten, and
    # the delta is at most one file per touched bucket
    assert sigs0 <= sigs1
    assert 0 < len(sigs1 - sigs0) <= 4
    frames = index_frames(idx, base)
    assert len(frames) == 1
    assert _union_rows(frames) == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
    probe = spark.createDataFrame([(2,), (9,)], "k long")
    plain = probe.join(idx.read().hint("merge"), "k", "left_anti")
    fresh = probe.join(frames[0], "k", "left_anti")
    assert count_exchanges(fresh) == count_exchanges(plain) - 1
    assert {r.k for r in fresh.collect()} == {9}


def test_extend_projection_graduates_at_file_cap(spark, tmp_path, base):
    """max_projection_files is the amortization policy: when the
    appended-delta files would overflow it, the extend declines and
    compact_index falls back to the full re-bucketize — which also
    restores single-file buckets (the sort-elision layout)."""
    from eeg_data_lake_spark.sources.indexproj import (
        compact_index,
        extend_projection,
    )

    idx = TxTable(spark, str(tmp_path / "idx"))
    idx.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    bucketize_index(idx, base, ["k"], n_buckets=4)
    idx.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    idx.compact()
    assert extend_projection(idx, base, ["k"], max_projection_files=1) is None
    name = compact_index(
        idx, base, ["k"], n_buckets=4, max_small_files=1,
        vacuum_keep_versions=0, max_projection_files=1,
    )
    assert name == f"{base}_v{idx.version()}"
    assert _union_rows(index_frames(idx, base)) == {(1, "a"), (2, "b")}


def test_crashed_extend_routes_to_full_rebuild(spark, tmp_path, base):
    """A crash between the tail append and the rename leaves the
    pending marker set and the projection physically past its
    advertised version. The next maintenance must NOT extend again
    (that would duplicate the tail) — it full-rebuilds, and the
    rebuilt projection is exact."""
    from eeg_data_lake_spark.sources.bucketed import write_bucketed
    from eeg_data_lake_spark.sources.indexproj import (
        PENDING_EXTEND_PROP,
        compact_index,
        extend_projection,
    )

    idx = TxTable(spark, str(tmp_path / "idx"))
    idx.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    name0 = bucketize_index(idx, base, ["k"], n_buckets=4)
    v0 = newest_projection(spark, base)[1]
    idx.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    # simulate the crashed extend: marker set, tail appended, no rename
    spark.sql(
        f"ALTER TABLE {name0} SET TBLPROPERTIES "
        f"('{PENDING_EXTEND_PROP}'='1')"
    )
    write_bucketed(
        idx.changes(since=v0).drop("_commit_version"),
        name0, ["k"], 4, mode="append",
    )
    # the half-extended state is still EXACT for set-semantics reads
    # (base serves the tail rows once, the tail frame serves them
    # again — a union/anti-join consumer sees the same set)
    assert _union_rows(index_frames(idx, base)) == {(1, "a"), (2, "b")}
    # direct extend refuses
    assert extend_projection(idx, base, ["k"]) is None
    # maintenance repairs via the full rebuild path
    idx.compact()
    name1 = compact_index(
        idx, base, ["k"], n_buckets=4, max_small_files=1,
        vacuum_keep_versions=0,
    )
    assert name1 == f"{base}_v{idx.version()}"
    frames = index_frames(idx, base)
    assert len(frames) == 1
    assert _union_rows(frames) == {(1, "a"), (2, "b")}
    # the rebuild cleared the marker: the NEXT fire can extend again
    idx.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    idx.compact()
    name2 = extend_projection(idx, base, ["k"])
    assert name2 == f"{base}_v{idx.version()}"
    assert _union_rows(index_frames(idx, base)) == {
        (1, "a"), (2, "b"), (3, "c"),
    }


def test_extend_projection_pure_rename_on_rewrite_only_tail(
    spark, tmp_path, base
):
    """A tail containing ONLY transparent rewrites (compact/zorder —
    no logical rows) bumps the projection's advertised version by pure
    rename, appending nothing: the vacuum-safety repair costs zero
    data bytes when there is no data to capture."""
    from eeg_data_lake_spark.sources.indexproj import extend_projection

    idx = TxTable(spark, str(tmp_path / "idx"))
    idx.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    idx.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    name0 = bucketize_index(idx, base, ["k"], n_buckets=4)
    sigs0 = _file_sigs(spark, name0)
    idx.compact()
    name1 = extend_projection(idx, base, ["k"])
    assert name1 == f"{base}_v{idx.version()}"
    assert _file_sigs(spark, name1) == sigs0  # no bytes written
    # and the bumped projection is vacuum-proof: no tail to strand
    idx.vacuum(keep_versions=0)
    frames = index_frames(idx, base)
    assert len(frames) == 1
    assert _union_rows(frames) == {(1, "a"), (2, "b")}
