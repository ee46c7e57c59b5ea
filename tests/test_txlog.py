"""Transactional semantics of the manifest-committed parquet table:
atomic append, crash-replay idempotence, optimistic concurrency,
MERGE, time travel, vacuum."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from eeg_data_lake_spark.sources.txlog import TxTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


@pytest.fixture()
def table(spark, tmp_path):
    return TxTable(spark, str(tmp_path / "tx"))


def test_append_and_time_travel(spark, table):
    assert table.append(_df(spark, [(1, "a")])) == 0
    assert table.append(_df(spark, [(2, "b")])) == 1
    assert {r.id for r in table.read().collect()} == {1, 2}
    assert {r.id for r in table.read(version=0).collect()} == {1}
    with pytest.raises(ValueError, match="does not exist"):
        table.read(version=9)


def test_txn_id_makes_retries_idempotent(spark, table):
    df = _df(spark, [(1, "a"), (2, "b")])
    v1 = table.append(df, txn_id="ingest-batch-7")
    v2 = table.append(df, txn_id="ingest-batch-7")  # job retry
    assert v1 == v2 == 0
    assert table.read().count() == 2  # not 4


def test_crashed_commit_is_invisible_and_replay_safe(spark, table):
    table.append(_df(spark, [(1, "a")]), txn_id="b0")
    # simulate a crash AFTER data files land but BEFORE the manifest
    # link: write data with no commit
    table._write_data(_df(spark, [(99, "zz")]))
    assert table.read().count() == 1  # orphan files invisible
    assert table.version() == 0
    # the retried job re-runs the same logical commit and succeeds once
    table.append(_df(spark, [(99, "zz")]), txn_id="b1")
    table.append(_df(spark, [(99, "zz")]), txn_id="b1")
    assert {r.id for r in table.read().collect()} == {1, 99}
    # vacuum removes the orphan (and nothing live)
    deleted = table.vacuum(keep_versions=10)
    assert deleted  # the crashed commit's files
    assert {r.id for r in table.read().collect()} == {1, 99}


def test_concurrent_commit_collision_retries(spark, table):
    table.append(_df(spark, [(1, "a")]))
    # another writer steals version 1 between our replay and link:
    # pre-create the manifest it would have written
    with open(os.path.join(table.log_dir, "00000001.json"), "w") as fh:
        json.dump({"op": "append", "add": [], "remove": [], "txn_id": None}, fh)
    v = table.append(_df(spark, [(2, "b")]))
    assert v == 2  # lost the race at 1, landed at 2
    assert {r.id for r in table.read().collect()} == {1, 2}


def test_upsert_merge_and_history(spark, table):
    table.append(_df(spark, [(1, "a"), (2, "b")]))
    table.upsert(_df(spark, [(2, "B2"), (3, "c")]), keys=["id"])
    got = {r.id: r.v for r in table.read().collect()}
    assert got == {1: "a", 2: "B2", 3: "c"}
    # pre-merge version still intact (time travel across a rewrite)
    old = {r.id: r.v for r in table.read(version=0).collect()}
    assert old == {1: "a", 2: "b"}
    # vacuum(0) drops the rewritten files → old version unreadable,
    # latest unaffected
    table.vacuum(keep_versions=0)
    assert {r.id: r.v for r in table.read().collect()} == got


def test_read_is_spark_native_and_prunable(spark, table):
    """The read path is a plain parquet scan — filters/pruning reach
    the files as usual (the point of logging paths, not rows)."""
    table.append(_df(spark, [(i, f"v{i}") for i in range(100)]))
    plan = (
        table.read()
        .filter(F.col("id") == 7)
        .select("id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(id), EqualTo(id,7)]" in plan


def test_manifest_records_file_stats(spark, table):
    table.append(
        _df(spark, [(1, "a"), (50, "m"), (9, "c")]).coalesce(1)
    )
    state = table._replay()
    assert len(state.files) == 1
    st = state.stats[state.files[0]]
    assert st["rows"] == 3 and st["bytes"] > 0
    assert st["cols"]["id"]["min"] == 1 and st["cols"]["id"]["max"] == 50
    assert st["cols"]["v"]["min"] == "a" and st["cols"]["v"]["max"] == "m"


def test_data_skipping_prunes_files_and_stays_correct(spark, table):
    # three appends with disjoint id ranges -> three one-file commits
    for lo in (0, 100, 200):
        table.append(
            spark.range(lo, lo + 100).select(
                F.col("id"), F.col("id").cast("string").alias("v")
            ).coalesce(1)
        )
    all_files = table._replay().files
    assert len(all_files) == 3
    # equality inside the middle range -> exactly one file survives
    hit = table.matching_files([("id", "=", 150)])
    assert len(hit) == 1
    # range predicate spanning two commits -> two files
    assert len(table.matching_files([("id", ">=", 150)])) == 2
    assert len(table.matching_files([("id", "<", 100)])) == 1
    # conjunction proving empty -> zero files, read serves empty frame
    assert table.matching_files([("id", ">", 100), ("id", "<", 90)]) == []
    assert table.read(predicates=[("id", ">", 100), ("id", "<", 90)]).count() == 0
    # pruned read == unpruned filter (correctness never depends on stats)
    got = {r.id for r in table.read(predicates=[("id", ">=", 150)]).collect()}
    want = {r.id for r in table.read().filter("id >= 150").collect()}
    assert got == want


def test_compact_binpacks_preserving_content_and_history(spark, table):
    for i in range(6):
        table.append(_df(spark, [(i * 10 + j, f"v{i}-{j}") for j in range(5)]))
    before = sorted((r.id, r.v) for r in table.read().collect())
    v_pre = table.version()
    v_post = table.compact(target_file_bytes=1 << 30)  # everything packs into 1
    assert v_post == v_pre + 1
    state = table._replay()
    assert len(state.files) == 1  # 6 small files -> 1
    assert sorted((r.id, r.v) for r in table.read().collect()) == before
    # pre-compaction version still time-travel readable
    assert sorted((r.id, r.v) for r in table.read(version=v_pre).collect()) == before
    # nothing to do when only one file is live
    assert table.compact(target_file_bytes=1 << 30) == v_post
    # stats re-derived for the packed file
    st = state.stats[state.files[0]]
    assert st["rows"] == 30


def test_pinned_overwrite_spares_concurrent_append(spark, table):
    """overwrite(pin_version=v) replaces only snapshot v's files: an
    append landing between the read and the overwrite SURVIVES (the
    read-transform-overwrite maintenance contract), while a competing
    rewrite that removed the pinned files still raises."""
    table.append(_df(spark, [(1, "a"), (2, "b")]))
    v = table.version()
    rewritten = table.read(version=v).withColumn("v", F.upper("v"))
    # the race: another writer appends AFTER the snapshot was taken
    table.append(_df(spark, [(3, "c")]))
    table.overwrite(rewritten, pin_version=v)
    got = {(r.id, r.v) for r in table.read().collect()}
    assert got == {(1, "A"), (2, "B"), (3, "c")}  # (3,'c') survived

    # competing rewrite invalidates the pin -> loud, not silent
    v2 = table.version()
    stale = table.read(version=v2)
    table.overwrite(_df(spark, [(9, "z")]))  # wins the race
    from eeg_data_lake_spark.sources.txlog import (
        ConcurrentModificationError,
    )

    with pytest.raises(ConcurrentModificationError):
        table.overwrite(stale, pin_version=v2)


def test_compact_conflict_detection(spark, table):
    from eeg_data_lake_spark.sources.txlog import ConcurrentModificationError

    table.append(_df(spark, [(1, "a")]))
    table.append(_df(spark, [(2, "b")]))
    state = table._replay()
    # a concurrent overwrite lands while our compact is writing: its
    # remove-set goes stale and the commit must refuse, not double-remove
    added = table._write_data(_df(spark, [(1, "a"), (2, "b")]))
    table.overwrite(_df(spark, [(9, "z")]))
    with pytest.raises(ConcurrentModificationError):
        table._commit(added, state.files, None, "compact")
    assert {r.id for r in table.read().collect()} == {9}


def test_schema_evolution_merge_on_read(spark, table):
    table.append(_df(spark, [(1, "a")]))
    table.append(
        spark.createDataFrame([(2, "b", 0.5)], "id long, v string, score double")
    )
    merged = table.read(merge_schema=True)
    assert set(merged.columns) == {"id", "v", "score"}
    got = {r.id: r.score for r in merged.collect()}
    assert got[1] is None and got[2] == 0.5


def test_true_multithreaded_append_stress(spark, tmp_path):
    """Eight writer threads x five appends each against ONE table:
    every commit must land (create-exclusive manifest + retry), the
    final row count must be exactly N*M*rows, versions must be
    contiguous, and every appended batch must be readable. This is the
    real-concurrency form of the simulated-collision test above."""
    import threading

    from eeg_data_lake_spark.sources.txlog import TxTable

    path = str(tmp_path / "stress")
    table = TxTable(spark, path)
    N_THREADS, N_APPENDS = 8, 5
    errors = []

    def writer(tid: int) -> None:
        try:
            mine = TxTable(spark, path)  # own handle, shared log
            for i in range(N_APPENDS):
                df = spark.createDataFrame(
                    [(tid * 1000 + i * 10 + j, f"t{tid}") for j in range(3)],
                    "id long, tag string",
                )
                mine.append(df, txn_id=f"stress-{tid}-{i}")
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append((tid, repr(e)))

    threads = [
        threading.Thread(target=writer, args=(t,)) for t in range(N_THREADS)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert not errors, errors
    got = table.read()
    assert got.count() == N_THREADS * N_APPENDS * 3
    assert got.select("id").distinct().count() == N_THREADS * N_APPENDS * 3
    # versions contiguous: N*M commits -> version N*M - 1 (0-based)
    assert table.version() == N_THREADS * N_APPENDS - 1
    # txn-id idempotence survived the contention: replaying any one
    # writer's batches commits nothing
    before = table.version()
    TxTable(spark, path).append(
        spark.createDataFrame([(1, "x")], "id long, tag string"),
        txn_id="stress-0-0",
    )
    assert table.version() == before
    assert table.read().count() == N_THREADS * N_APPENDS * 3


class TestTableDiff:
    def test_classifies_and_filters_unchanged(self, spark, tmp_path):
        from eeg_data_lake_spark.sources.txlog import TxTable, table_diff

        t = TxTable(spark, str(tmp_path / "d"))
        t.append(
            spark.createDataFrame(
                [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
            )
        )
        v1 = t.version()
        t.upsert(
            spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"),
            keys=["k"],
        )
        got = {
            r.k: r.op for r in table_diff(t, v1, t.version(), ["k"]).collect()
        }
        # 1 and 3 unchanged → absent; 2 changed; 4 added
        assert got == {2: "changed", 4: "added"}

    def test_removed_and_identity(self, spark, tmp_path):
        from eeg_data_lake_spark.sources.txlog import TxTable, table_diff

        t = TxTable(spark, str(tmp_path / "d"))
        t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
        v1 = t.version()
        t.overwrite(spark.createDataFrame([(1, "a")], "k long, v string"))
        got = {r.k: r.op for r in table_diff(t, v1, t.version(), ["k"]).collect()}
        assert got == {2: "removed"}
        assert table_diff(t, v1, v1, ["k"]).count() == 0

    def test_null_position_swap_detected(self, spark, tmp_path):
        """Spark's xxhash64 skips NULL args, so (a=NULL,b='x') and
        (a='x',b=NULL) hashed identically under the old payload hash
        and the change was silently dropped; the JSON-encoded md5
        discriminates nulls by field name."""
        from eeg_data_lake_spark.sources.txlog import TxTable, table_diff

        t = TxTable(spark, str(tmp_path / "d"))
        t.append(
            spark.createDataFrame(
                [(1, None, "x"), (2, "y", "y")], "k long, a string, b string"
            )
        )
        v1 = t.version()
        t.overwrite(
            spark.createDataFrame(
                [(1, "x", None), (2, "y", "y")], "k long, a string, b string"
            )
        )
        got = {r.k: r.op for r in table_diff(t, v1, t.version(), ["k"]).collect()}
        assert got == {1: "changed"}

    def test_key_only_table_diff(self, spark, tmp_path):
        from eeg_data_lake_spark.sources.txlog import TxTable, table_diff

        t = TxTable(spark, str(tmp_path / "d"))
        t.append(spark.createDataFrame([(1,), (2,)], "k long"))
        v1 = t.version()
        t.overwrite(spark.createDataFrame([(2,), (3,)], "k long"))
        got = {r.k: r.op for r in table_diff(t, v1, t.version(), ["k"]).collect()}
        assert got == {1: "removed", 3: "added"}

    def test_schema_change_refused(self, spark, tmp_path):
        import pytest

        from eeg_data_lake_spark.sources.txlog import TxTable, table_diff

        t = TxTable(spark, str(tmp_path / "d"))
        t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
        v1 = t.version()
        t.overwrite(
            spark.createDataFrame([(1, "a", 0.5)], "k long, v string, w double")
        )
        with pytest.raises(ValueError, match="schema change"):
            table_diff(t, v1, t.version(), ["k"])


class TestDescribeAndAutoCompact:
    def test_describe_detail_reports_live_files(self, spark, tmp_path):
        from eeg_data_lake_spark.sources.txlog import TxTable, describe_detail

        t = TxTable(spark, str(tmp_path / "d"))
        for i in range(3):
            t.append(
                spark.createDataFrame(
                    [(i, "x" * 10)], "k long, v string"
                ).coalesce(1)
            )
        rows = describe_detail(t).collect()
        assert len(rows) == 3
        assert all(r.rows == 1 and r.bytes > 0 for r in rows)
        assert all("k" in r.col_stats for r in rows)

    def test_auto_compact_triggers_on_policy(self, spark, tmp_path):
        from eeg_data_lake_spark.sources.txlog import (
            TxTable,
            describe_detail,
            maybe_compact,
        )

        t = TxTable(spark, str(tmp_path / "d"))
        for i in range(5):
            t.append(spark.createDataFrame([(i,)], "k long").coalesce(1))
        # below threshold: no-op
        assert maybe_compact(t, max_small_files=8) is None
        for i in range(5, 12):
            t.append(spark.createDataFrame([(i,)], "k long").coalesce(1))
        v = maybe_compact(t, max_small_files=8)
        assert v is not None
        n_files = describe_detail(t).count()
        assert n_files < 12
        assert sorted(r.k for r in t.read().collect()) == list(range(12))
        # immediately after: policy satisfied, no churn
        assert maybe_compact(t, max_small_files=8) is None


class TestHistory:
    def test_describe_history_rows(self, spark, tmp_path):
        from eeg_data_lake_spark.sources.txlog import (
            TxTable,
            last_modified,
            table_history,
        )

        t = TxTable(spark, str(tmp_path / "h"))
        t.append(spark.createDataFrame([(1,), (2,)], "k long").coalesce(1))
        t.upsert(
            spark.createDataFrame([(2,), (3,)], "k long").coalesce(1), keys=["k"]
        )
        t.compact(txn_id="c1")
        h = sorted(map(tuple, table_history(t).collect()))
        assert [r[1] for r in h] == ["append", "upsert", "compact"]
        assert h[0][4] == 2  # first append added 2 rows
        assert all(r[6] is not None for r in h)  # committed_at present
        assert last_modified(t) == h[-1][6]
        # timestamps non-decreasing in version order
        assert [r[6] for r in h] == sorted(r[6] for r in h)

    def test_old_manifests_without_timestamp_read_null(self, spark, tmp_path):
        import json as _json
        import os as _os

        from eeg_data_lake_spark.sources.txlog import TxTable, table_history

        t = TxTable(spark, str(tmp_path / "h"))
        t.append(spark.createDataFrame([(1,)], "k long").coalesce(1))
        # simulate a pre-upgrade manifest: strip the field
        mp = _os.path.join(t.log_dir, "00000000.json")
        m = _json.load(open(mp))
        del m["committed_at"]
        _json.dump(m, open(mp, "w"))
        h = table_history(t).collect()
        assert h[0].committed_at is None  # additive field, no crash


def test_vacuum_age_retention(spark, tmp_path):
    """retain_after keeps every version committed at or after the
    cutoff readable via time travel, even past keep_versions."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from eeg_data_lake_spark.sources.txlog import TxTable

    t = TxTable(spark, str(tmp_path / "age"))
    for i in range(4):
        t.overwrite(spark.createDataFrame([(i,)], "k long").coalesce(1))
    # backdate versions 0-1 before the cutoff; 2-3 stay 'recent'
    for v in (0, 1):
        mp = _os.path.join(t.log_dir, f"{v:08d}.json")
        m = _json.load(open(mp))
        m["committed_at"] = "2000-01-01T00:00:00+00:00"
        _json.dump(m, open(mp, "w"))
    cutoff = "2020-01-01T00:00:00+00:00"
    deleted = t.vacuum(keep_versions=0, retain_after=cutoff)
    assert deleted  # the backdated snapshots' files went away
    # recent versions stay time-travelable; old ones fail cleanly
    assert t.read(version=2).collect()[0].k == 2
    assert t.read(version=3).collect()[0].k == 3
    with _pytest.raises(Exception):
        t.read(version=0).collect()


def test_table_diff_submillisecond_timestamp_change_detected(spark, tmp_path):
    """to_json truncates timestamps to milliseconds; the diff hash
    must see full microsecond precision (unix_micros feed)."""
    import datetime as dt

    from eeg_data_lake_spark.sources.txlog import TxTable, table_diff

    t0 = dt.datetime(2020, 1, 1, 0, 0, 0, 123456)
    t1 = dt.datetime(2020, 1, 1, 0, 0, 0, 123999)  # same millisecond
    tbl = TxTable(spark, str(tmp_path / "ts"))
    tbl.append(spark.createDataFrame([(1, t0)], "k long, ts timestamp"))
    tbl.overwrite(spark.createDataFrame([(1, t1)], "k long, ts timestamp"))
    diff = table_diff(tbl, 0, 1, keys=["k"]).collect()
    assert len(diff) == 1 and diff[0]["op"] == "changed"


def test_table_diff_nested_timestamp_submillisecond_detected(spark, tmp_path):
    """Timestamps nested in struct and array payload columns must also
    hash at microsecond precision."""
    import datetime as dt

    from eeg_data_lake_spark.sources.txlog import TxTable, table_diff

    t0 = dt.datetime(2020, 1, 1, 0, 0, 0, 123456)
    t1 = dt.datetime(2020, 1, 1, 0, 0, 0, 123999)
    schema = "k long, s struct<ts:timestamp, x:long>, a array<timestamp>"
    tbl = TxTable(spark, str(tmp_path / "nts"))
    tbl.append(spark.createDataFrame([(1, (t0, 7), [t0])], schema))
    tbl.overwrite(spark.createDataFrame([(1, (t1, 7), [t0])], schema))
    d1 = table_diff(tbl, 0, 1, keys=["k"]).collect()
    assert len(d1) == 1 and d1[0]["op"] == "changed"  # struct-nested
    tbl.overwrite(spark.createDataFrame([(1, (t1, 7), [t1])], schema))
    d2 = table_diff(tbl, 1, 2, keys=["k"]).collect()
    assert len(d2) == 1 and d2[0]["op"] == "changed"  # array-nested
    # unchanged nested payload diffs empty (NULL struct stays NULL)
    tbl.overwrite(spark.createDataFrame([(1, None, [t1])], schema))
    tbl.overwrite(spark.createDataFrame([(1, None, [t1])], schema))
    assert table_diff(tbl, 3, 4, keys=["k"]).count() == 0


def test_upsert_snapshot_pinned_against_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """The upsert's survivor scan must read the SAME snapshot its
    remove-set was taken from: a commit landing between the two
    replays otherwise has its rows both merged into the new files and
    kept live in its own file (duplicates)."""
    path = str(tmp_path / "race")
    t1 = TxTable(spark, path)
    t1.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t2 = TxTable(spark, path)

    orig_read = TxTable.read
    fired = {"done": False}

    def sneaky(self, *a, **k):
        if self is t1 and not fired["done"]:
            fired["done"] = True
            t2.append(spark.createDataFrame([(9, "z")], "id long, v string"))
        return orig_read(self, *a, **k)

    monkeypatch.setattr(TxTable, "read", sneaky)
    t1.upsert(
        spark.createDataFrame([(1, "A")], "id long, v string"), ["id"]
    )
    monkeypatch.setattr(TxTable, "read", orig_read)
    rows = sorted((r.id, r.v) for r in t2.read().collect())
    assert rows == [(1, "A"), (9, "z")]  # the raced append exactly once


def test_vacuum_retain_after_accepts_z_suffix(spark, tmp_path):
    """A 'Z'-suffixed ISO cutoff must compare chronologically against
    the log's '+00:00'-suffixed committed_at — lexicographic ordering
    would fail to retain same-second commits."""
    t = TxTable(spark, str(tmp_path / "vz"))
    t.append(spark.createDataFrame([(1,)], "id long"))
    t.overwrite(spark.createDataFrame([(2,)], "id long"))
    ts = json.load(
        open(os.path.join(t.log_dir, "00000000.json"))
    )["committed_at"]
    # cutoff = v0's own second, Z-spelled: v0 commits at-or-after it
    cutoff = ts.split(".")[0].split("+")[0] + "Z"
    deleted = t.vacuum(keep_versions=0, retain_after=cutoff)
    assert deleted == []  # both versions retained
    assert {r.id for r in t.read(version=0).collect()} == {1}


def test_all_pruned_read_honors_merge_schema(spark, tmp_path):
    """When data skipping prunes every file, the empty frame's schema
    must still reflect merge_schema: a schema-evolved column absent
    from the first file must be present."""
    t = TxTable(spark, str(tmp_path / "ms"))
    t.append(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(2, "x")], "id long, c string"))
    df = t.read(predicates=[("id", ">", 999)], merge_schema=True)
    assert df.count() == 0
    assert "c" in df.columns


def test_table_diff_null_key_rows_classified(spark, tmp_path):
    """Presence in the diff must come from the hash columns, not
    keys[0] null-checks: a removed row whose key is NULL must surface
    as 'removed'."""
    from eeg_data_lake_spark.sources.txlog import table_diff

    t = TxTable(spark, str(tmp_path / "nkd"))
    t.append(
        spark.createDataFrame(
            [(None, "orphan"), (1, "a")], "id long, v string"
        )
    )
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    d = {r.id: r.op for r in table_diff(t, 0, 1, keys=["id"]).collect()}
    assert d == {None: "removed"}


def test_concurrent_appenders_all_land(spark, tmp_path):
    """Delta-style optimistic concurrency for APPENDS: N racing
    appenders (disjoint content) must ALL commit — the loser of a
    version race re-reads the log and lands at the next version —
    with no lost rows, contiguous versions, txn-id idempotence
    preserved, and rewrite conflicts still raising."""
    import threading

    from eeg_data_lake_spark.sources.txlog import ConcurrentModificationError

    t = TxTable(spark, str(tmp_path / "race"))
    n_writers, n_batches = 5, 2
    barrier = threading.Barrier(n_writers)
    errs: list[Exception] = []

    def worker(w: int) -> None:
        try:
            barrier.wait(timeout=60)  # maximize commit-race contention
            for j in range(n_batches):
                df = spark.createDataFrame(
                    [(w, j)], "w long, j long"
                ).coalesce(1)
                t.append(df, txn_id=f"w{w}-b{j}")
        except Exception as exc:  # surfaced to the main thread below
            errs.append(exc)

    threads = [
        threading.Thread(target=worker, args=(w,)) for w in range(n_writers)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert errs == []
    assert t.version() == n_writers * n_batches - 1  # contiguous, none lost
    got = {(r.w, r.j) for r in t.read().collect()}
    assert got == {(w, j) for w in range(n_writers) for j in range(n_batches)}
    # txn idempotence survived the race: replaying any writer's txn is
    # a no-op at the post-race version
    v = t.version()
    t.append(
        spark.createDataFrame([(0, 0)], "w long, j long"), txn_id="w0-b0"
    )
    assert t.version() == v
    assert t.read().count() == n_writers * n_batches
    # rewrite conflicts still raise: a rewrite pinned to a snapshot
    # whose files a later overwrite already removed must NOT land
    t.overwrite(spark.createDataFrame([(99, 99)], "w long, j long"))
    with pytest.raises(ConcurrentModificationError):
        t.overwrite(
            spark.createDataFrame([(1, 1)], "w long, j long"), pin_version=v
        )


def test_commit_retry_budget_is_bounded(spark, tmp_path, monkeypatch):
    """Exhausting COMMIT_RETRIES (every link attempt loses its race)
    surfaces ConcurrentModificationError instead of spinning forever."""
    import os as _os

    from eeg_data_lake_spark.sources.txlog import ConcurrentModificationError

    t = TxTable(spark, str(tmp_path / "spin"))
    t.COMMIT_RETRIES = 3
    real_link = _os.link
    attempts = []

    def always_lose(src, dst, **kw):
        if "_txlog" in str(dst):
            attempts.append(dst)
            raise FileExistsError(dst)
        return real_link(src, dst, **kw)

    monkeypatch.setattr(_os, "link", always_lose)
    with pytest.raises(ConcurrentModificationError, match="contended"):
        t.append(spark.createDataFrame([(1,)], "x long"))
    assert len(attempts) == 3


# ------------------------------------------------------ schema in the log


def _rows(df):
    return sorted(df.toJSON().collect())


def _commit_dirs_sort(monkeypatch, newest_first: bool) -> None:
    """Name commit directories so they sort in commit order, or in
    reverse: the schema a multi-file read serves is the sorted-first
    file's, and random names would make that a coin toss."""
    import uuid

    from eeg_data_lake_spark.sources import txlog

    calls = iter(range(1, 1 << 20))

    def ordered():
        k = next(calls)
        return uuid.UUID(int=((1 << 40) - k if newest_first else k) << 80)

    monkeypatch.setattr(txlog.uuid, "uuid4", ordered)


def _evolved(spark, t):
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.append(
        spark.createDataFrame([(2, "b", 0.5)], "id long, v string, score double")
    )
    return t.read(), None


def _case_nested(spark, t, monkeypatch):
    t.append(
        spark.sql(
            "SELECT id, named_struct('a', id, 'b', array(id, id + 1)) AS s, "
            "map(CAST(id AS string), array(id)) AS m, "
            "array(named_struct('x', id, 'y', map('k', id))) AS arr "
            "FROM range(5)"
        )
    )
    return t.read(), None


def _case_scalars(spark, t, monkeypatch):
    t.append(
        spark.sql(
            "SELECT id, CAST(id / 7 AS decimal(12, 3)) AS d, "
            "timestamp_micros(1700000000123456 + id) AS ts, "
            "TIMESTAMP_NTZ '2024-03-01 10:00:00.654321' AS ntz, "
            "CAST(CAST(id AS string) AS binary) AS b FROM range(5)"
        )
    )
    return t.read(), None


def _case_not_null(spark, t, monkeypatch):
    df = spark.range(5).select("id", F.array("id").alias("a"))
    assert not df.schema["id"].nullable
    t.append(df)
    return t.read(), None


def _case_evolved_older_first(spark, t, monkeypatch):
    _commit_dirs_sort(monkeypatch, newest_first=False)
    return _evolved(spark, t)


def _case_evolved_newer_first(spark, t, monkeypatch):
    _commit_dirs_sort(monkeypatch, newest_first=True)
    return _evolved(spark, t)


def _case_upsert_widening(spark, t, monkeypatch):
    t.append(spark.createDataFrame([(1, 10), (2, 20)], "id long, n int"))
    t.upsert(spark.createDataFrame([(2, 1 << 40)], "id long, n long"), ["id"])
    df = t.read()
    assert dict(df.dtypes)["n"] == "bigint"
    return df, None


def _case_compact(spark, t, monkeypatch):
    _commit_dirs_sort(monkeypatch, newest_first=True)
    for i in range(3):
        t.append(spark.createDataFrame([(i, str(i))], "id long, v string"))
    t.append(
        spark.createDataFrame([(9, "z", 1.5)], "id long, v string, score double")
    )
    t.compact()
    return t.read(), None


def _case_overwrite_new_schema(spark, t, monkeypatch):
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.overwrite(spark.createDataFrame([("k", 2.5)], "key string, x double"))
    df = t.read()
    assert df.columns == ["key", "x"]
    return df, None


def _case_time_travel(spark, t, monkeypatch):
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.overwrite(spark.createDataFrame([("k", 2.5)], "key string, x double"))
    return t.read(version=0), t._replay(upto=0).files


def _case_pruned(spark, t, monkeypatch):
    _commit_dirs_sort(monkeypatch, newest_first=False)
    t.append(spark.range(0, 10).selectExpr("id", "CAST(id AS string) AS v"))
    t.append(
        spark.range(100, 110).selectExpr(
            "id", "CAST(id AS string) AS v", "CAST(id AS double) AS score"
        )
    )
    preds = [("id", ">=", 100)]
    files = t.matching_files(preds)
    assert 0 < len(files) < len(t._replay().files)
    return t.read(predicates=preds), files


def _case_forty_files(spark, t, monkeypatch):
    t.append(spark.range(400).selectExpr("id", "id % 3 AS k").repartition(40))
    assert len(t._replay().files) == 40
    return t.read(), None


@pytest.mark.parametrize(
    "case",
    [
        _case_nested,
        _case_scalars,
        _case_not_null,
        _case_evolved_older_first,
        _case_evolved_newer_first,
        _case_upsert_widening,
        _case_compact,
        _case_overwrite_new_schema,
        _case_time_travel,
        _case_pruned,
        _case_forty_files,
    ],
    ids=lambda c: c.__name__[len("_case_"):],
)
def test_read_serves_the_schema_spark_would_infer(
    spark, tmp_path, monkeypatch, case
):
    """A read opened with the logged schema serves exactly the schema
    and rows Spark's own inference serves for the same live files."""
    from eeg_data_lake_spark.sources.txlog import iter_manifests

    t = TxTable(spark, str(tmp_path / "s"))
    got, files = case(spark, t, monkeypatch)
    files = files or t._replay().files
    logged = {}
    for _v, mp in iter_manifests(t.path):
        with open(mp) as fh:
            logged.update(json.load(fh)["schemas"])
    assert os.path.dirname(min(files)) in logged  # not the fallback
    want = spark.read.parquet(*[os.path.join(t.path, f) for f in files])
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def _jobs_launched(spark, fn) -> int:
    """Spark jobs that ``fn`` launches from the calling thread."""
    import uuid

    sc = spark.sparkContext
    group = f"txlog-open-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "txlog open")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def forty(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "forty"))
    t.append(spark.range(400).selectExpr("id", "id % 7 AS k").repartition(40))
    assert len(t._replay().files) == 40
    return t


def test_open_launches_no_spark_job(spark, forty):
    """Past 32 paths an inferred open costs a footer job and a listing
    job; the logged schema and the in-process listing cost none."""
    assert _jobs_launched(spark, forty.read) == 0
    assert _jobs_launched(spark, lambda: forty.changes(-1)) == 0
    assert (
        _jobs_launched(spark, lambda: forty.read(predicates=[("id", ">", 9999)]))
        == 0
    )


@pytest.mark.parametrize("explicit", [None, "7"])
def test_concurrent_opens_restore_the_listing_threshold(
    spark, forty, explicit
):
    """Eight threads opening at once leave the session's listing
    threshold as it was, whether the session set one or not."""
    import sys
    import threading

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    if explicit is not None:
        spark.conf.set(key, explicit)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        counts, errors = [], []

        def open_once():
            try:
                counts.append(_jobs_launched(spark, forty.read))
            except Exception as e:  # pragma: no cover - failure reporting
                errors.append(repr(e))

        threads = [threading.Thread(target=open_once) for _ in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
            assert not th.is_alive()
        assert not errors
        assert counts == [0] * 8
        assert spark.conf.get(key, None) == explicit
    finally:
        sys.setswitchinterval(switch)
        spark.conf.unset(key)


def test_log_without_schemas_reads_by_inference(spark, tmp_path):
    """A log from before schemas were recorded (no ``schemas`` in its
    manifests or rollup) reads the same schema and rows, and the next
    commit records a schema again."""
    t = TxTable(spark, str(tmp_path / "old"))
    t.CHECKPOINT_INTERVAL = 2
    for i in range(3):
        t.append(spark.createDataFrame([(i, str(i))], "id long, v string"))
    t.append(
        spark.createDataFrame([(7, "x", 0.5)], "id long, v string, score double")
    )
    want_schema, want_rows = t.read().schema, _rows(t.read())
    for n in os.listdir(t.log_dir):
        p = os.path.join(t.log_dir, n)
        with open(p) as fh:
            d = json.load(fh)
        assert d.pop("schemas")
        with open(p, "w") as fh:
            json.dump(d, fh)
    assert t._replay().schemas == {}
    old = t.read()
    assert old.schema == want_schema and _rows(old) == want_rows
    files = t._replay().files
    assert old.schema == spark.read.parquet(
        *[os.path.join(t.path, f) for f in files]
    ).schema
    v = t.append(spark.createDataFrame([(8, "y")], "id long, v string"))
    with open(os.path.join(t.log_dir, f"{v:08d}.json")) as fh:
        assert json.load(fh)["schemas"]
    new_dirs = {os.path.dirname(f) for f in t._replay().files} - {
        os.path.dirname(f) for f in files
    }
    assert set(t._replay().schemas) == new_dirs
