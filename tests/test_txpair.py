"""The shared two-table exactly-once commit discipline
(streaming/txpair.py), property-tested ONCE for the whole streaming
ingest family: the full crash/replay matrix of the corpus-first/
index-second pair, lazy-leg skipping, and the seeded-corpus backfill
guard. The per-ingest tests then only need to pin their own
content semantics on top of this contract."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from eeg_data_lake_spark.sources.txlog import TxTable
from eeg_data_lake_spark.streaming.txpair import (
    backfill_index,
    batch_txn,
    index_missing,
    index_txn,
    paired_commit,
)


def _df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def _ids(tbl):
    return sorted(r.doc_id for r in tbl.read().collect())


def _commit_batch(spark, table, idx, batch, ids, calls):
    """One paired commit with call-counting legs."""
    paired_commit(
        table,
        lambda: (calls.__setitem__("corpus", calls["corpus"] + 1),
                 _df(spark, ids))[1],
        idx,
        lambda: (calls.__setitem__("index", calls["index"] + 1),
                 _df(spark, [i * 10 for i in ids]))[1],
        "s",
        "tag",
        batch,
    )


def test_crash_matrix_every_prefix_then_replay(spark, tmp_path):
    """For every crash point (before any commit / between the legs /
    after both) across two batches: replaying the batch converges to
    the same final state, never duplicates rows, and never invokes a
    leg whose commit already landed."""
    for crash_after_corpus_leg in (False, True):
        base = tmp_path / f"m_{crash_after_corpus_leg}"
        table = TxTable(spark, str(base / "t"))
        idx = TxTable(spark, str(base / "i"))
        calls = {"corpus": 0, "index": 0}

        _commit_batch(spark, table, idx, 0, [1, 2], calls)
        assert calls == {"corpus": 1, "index": 1}

        # simulate batch 1 crashing at the chosen point
        if crash_after_corpus_leg:
            table.append(_df(spark, [3]), txn_id=batch_txn("s", 1))
        # replay batch 1 (foreachBatch is at-least-once)
        _commit_batch(spark, table, idx, 1, [3], calls)
        # the already-committed corpus leg must NOT be re-derived
        assert calls["corpus"] == (1 if crash_after_corpus_leg else 2)
        assert calls["index"] == 2
        # replay the whole batch again: both legs skipped entirely
        _commit_batch(spark, table, idx, 1, [3], calls)
        assert calls == {
            "corpus": 1 if crash_after_corpus_leg else 2,
            "index": 2,
        }
        assert _ids(table) == [1, 2, 3]
        assert _ids(idx) == [10, 20, 30]
        assert table.has_txn(batch_txn("s", 1))
        assert idx.has_txn(index_txn("s", "tag", 1))


def test_plain_dataframes_accepted_and_idempotent(spark, tmp_path):
    table = TxTable(spark, str(tmp_path / "t"))
    idx = TxTable(spark, str(tmp_path / "i"))
    for _ in range(2):  # second call replays: versions must not move
        paired_commit(
            table, _df(spark, [7]), idx, _df(spark, [70]), "s", "x", 0
        )
    assert (table.version(), idx.version()) == (0, 0)
    assert _ids(table) == [7]
    assert _ids(idx) == [70]


def test_backfill_only_when_corpus_seeded_without_index(spark, tmp_path):
    table = TxTable(spark, str(tmp_path / "t"))
    idx = TxTable(spark, str(tmp_path / "i"))
    rows_fn_calls = itertools.count(1)

    def rows_fn(corpus):
        next(rows_fn_calls)
        return corpus.select((F.col("doc_id") * 10).alias("doc_id"))

    # empty corpus: nothing to backfill
    assert not index_missing(table, idx)
    assert not backfill_index(table, idx, rows_fn, "s", "tag")

    table.append(_df(spark, [1, 2]), txn_id="bootstrap")
    assert index_missing(table, idx)
    assert backfill_index(table, idx, rows_fn, "s", "tag")
    assert _ids(idx) == [10, 20]
    assert idx.has_txn("s:tag-backfill")

    # index now exists: guard is off, rows_fn never re-invoked
    assert not backfill_index(table, idx, rows_fn, "s", "tag")
    assert next(rows_fn_calls) == 2  # exactly one derivation happened


def test_backfill_covers_crashed_first_batch_with_set_semantics(
    spark, tmp_path
):
    """The one interleaving where backfill and replay overlap: the
    FIRST batch crashes between its two legs, so the corpus holds that
    batch's rows with no index. The backfill then indexes them, and
    the replayed index leg must still converge to the same final
    index content a crash-free run produces (set semantics: the
    replayed leg derives against the backfilled index)."""
    table = TxTable(spark, str(tmp_path / "t"))
    idx = TxTable(spark, str(tmp_path / "i"))
    # batch 0 crashed after its corpus leg
    table.append(_df(spark, [1, 2]), txn_id=batch_txn("s", 0))

    def replay(batch_df):
        backfill_index(
            table,
            idx,
            lambda corpus: corpus.select(
                (F.col("doc_id") * 10).alias("doc_id")
            ),
            "s",
            "tag",
        )
        # the ingest's index leg: rows not already indexed (the
        # anti-join every set-semantics ingest performs)
        delta = batch_df.select(
            (F.col("doc_id") * 10).alias("doc_id")
        ).join(idx.read(), "doc_id", "left_anti")
        paired_commit(table, batch_df, idx, delta, "s", "tag", 0)

    replay(_df(spark, [1, 2]))
    assert _ids(table) == [1, 2]
    assert _ids(idx) == [10, 20]  # exactly once, via the backfill
    replay(_df(spark, [1, 2]))  # a second replay is a full no-op
    assert _ids(table) == [1, 2]
    assert _ids(idx) == [10, 20]


def _chained_crash_matrix(spark, tmp_path, monkeypatch):
    """The N-leg generalization, property-tested centrally like the
    pair: for a corpus + three index legs, crash before EVERY manifest
    commit position (1 = corpus, 2..4 = legs), replay the batch, and
    require final content identical to an uncrashed run — with
    committed prefix legs' derivations NEVER re-invoked on replay."""
    from eeg_data_lake_spark.streaming.txpair import chained_commit

    def run_once(root, crash_at=None):
        table = TxTable(spark, f"{root}/t")
        idxs = [TxTable(spark, f"{root}/i{k}") for k in range(3)]
        calls = {"corpus": 0, 0: 0, 1: 0, 2: 0}

        def leg(k):
            def fn():
                calls[k] += 1
                return _df(spark, [100 * (k + 1) + 1, 100 * (k + 1) + 2])

            return fn

        def corpus():
            calls["corpus"] += 1
            return _df(spark, [1, 2, 3])

        def commit():
            chained_commit(
                table,
                corpus,
                [(idxs[k], leg(k), f"tag{k}") for k in range(3)],
                "s",
                7,
            )

        if crash_at is not None:
            # bomb the COMMIT seam: append() routes through
            # commit_staged
            real_commit = TxTable.commit_staged
            state = {"n": 0}

            def bomb(self, staged, txn_id=None):
                state["n"] += 1
                if state["n"] == crash_at:
                    raise RuntimeError("crash")
                return real_commit(self, staged, txn_id=txn_id)

            monkeypatch.setattr(TxTable, "commit_staged", bomb)
            try:
                commit()
                raise AssertionError("bomb did not fire")
            except RuntimeError:
                pass
            finally:
                monkeypatch.undo()
            calls_at_crash = dict(calls)
            commit()  # the replay
            # committed-prefix legs are skipped WITHOUT re-deriving
            for k in range(crash_at - 1):
                key = "corpus" if k == 0 else k - 1
                assert calls[key] == calls_at_crash[key]
        else:
            commit()
        return (
            _ids(table),
            [_ids(i) for i in idxs],
            calls,
        )

    want_t, want_i, _ = run_once(str(tmp_path / "ref"))
    for crash_at in (1, 2, 3, 4):
        got_t, got_i, _ = run_once(
            str(tmp_path / f"c{crash_at}"), crash_at=crash_at
        )
        assert got_t == want_t, crash_at
        assert got_i == want_i, crash_at


def test_chained_commit_crash_matrix_every_prefix_then_replay(
    spark, tmp_path, monkeypatch
):
    _chained_crash_matrix(spark, tmp_path, monkeypatch)
