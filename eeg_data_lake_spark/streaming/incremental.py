"""Incremental gold maintenance: a streaming micro-batch pipeline that
keeps a keyed aggregate table up to date as data arrives, exactly-once.

The pattern (Delta calls it "streaming MERGE upsert", the classic name
is incremental view maintenance): each micro-batch is reduced to
per-key PARTIAL aggregates, merged with the current gold rows for the
touched keys, and upserted into the transaction-logged table with
txn_id = (sink_id, batch_id). A driver crash between the table commit
and the streaming checkpoint replays the batch; TxTable's txn-id
idempotence turns the replay into a no-op, so the aggregate is never
double-counted — the same (checkpoint x transactional sink) contract
as streaming/txsink.py, extended from append to stateful maintenance.

This works for any commutative-monoid aggregate (count, sum, min, max
— and avg/stddev via their sum-decompositions). The merge itself is
`touched-gold ∪ batch-partials → groupBy(keys).sum`, i.e. one shuffle
of (touched keys + batch keys), never of the whole history: cost per
batch is O(batch + touched), the property that makes incremental
maintenance worth it at 100 TB of history.
"""

from __future__ import annotations

import json

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eeg_data_lake_spark.sources.txlog import TxTable
from eeg_data_lake_spark.streaming.txpair import drain


def merge_partial_aggregates(
    table: TxTable,
    partial: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    txn_id: str | None = None,
) -> int:
    """Fold one batch of per-key partial sums into ``table``.

    ``partial`` must have exactly ``keys + sum_cols`` columns with one
    row per key; every ``sum_cols`` column must be merge-by-addition
    (counts are sums of 1). Returns the committed table version.
    """
    keys, sum_cols = list(keys), list(sum_cols)
    partial = partial.select(*keys, *sum_cols)
    try:
        current = table.read()
    except ValueError:  # first batch: nothing to merge with
        merged = partial
    else:
        touched = current.join(
            partial.select(*keys).distinct(), keys, "left_semi"
        )
        merged = (
            touched.unionByName(partial)
            .groupBy(*keys)
            .agg(*[F.sum(c).alias(c) for c in sum_cols])
        )
    return table.upsert(merged, keys, txn_id=txn_id)


def incremental_agg_writer(
    table: TxTable,
    sink_id: str,
    keys: Sequence[str],
    partial_agg,
    sum_cols: Sequence[str],
):
    """foreachBatch function maintaining ``table`` as the running
    ``partial_agg`` of everything streamed so far.

    ``partial_agg(batch_df) -> DataFrame`` reduces one micro-batch to
    per-key partials (keys + sum_cols). ``sink_id`` must be stable
    across restarts of the same logical stream.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        merge_partial_aggregates(
            table,
            partial_agg(batch_df),
            keys,
            sum_cols,
            txn_id=f"{sink_id}:batch-{batch_id}",
        )

    return process


def maintain_incremental_gold(
    spark: SparkSession,
    source_dir: str,
    schema,
    table: TxTable,
    checkpoint_path: str,
    sink_id: str,
    keys: Sequence[str],
    partial_agg,
    sum_cols: Sequence[str],
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain a file-source stream into an incrementally-maintained
    aggregate table (AvailableNow: terminates when caught up; restart
    with the same checkpoint to pick up new files; ``txpair.drain``)."""
    drain(
        spark,
        source_dir,
        schema,
        incremental_agg_writer(table, sink_id, keys, partial_agg, sum_cols),
        checkpoint_path,
        max_files_per_trigger,
    )


def maintain_gold_from_changes(
    source: TxTable,
    gold: TxTable,
    keys: Sequence[str],
    partial_fn,
    since: int,
) -> int:
    """Batch-side incremental view maintenance driven by the source
    table's CHANGE FEED (TxTable.changes): fold only the rows appended
    since the consumer's last high-water mark into the gold aggregate,
    and return the new high-water mark to persist alongside it.

    This is the CDC-consumer pattern: downstream jobs never rescan the
    source — per run they read O(new rows), reduce them to per-key
    partials with ``partial_fn``, and merge via the same
    O(batch + touched-keys) upsert as the streaming path.

    Idempotence is PER SOURCE VERSION: each append commit folds into
    gold as its own upsert with txn_id ``cdc-<table>-v<version>``.
    A crash between the gold commit and persisting the high-water
    mark replays with a stale ``since``; every already-applied
    version no-ops on its txn id, and versions committed to the
    source meanwhile still apply — a single range-keyed txn id would
    either double-count the overlap (range grew) or drop the new
    versions (range reused).
    """
    from eeg_data_lake_spark.sources.txlog import feed_adds_between

    new_version = source.version()
    if new_version <= since:
        return since  # nothing new
    versions = [
        v
        for v, _files in feed_adds_between(
            source.path, since, new_version, False,
            f"maintain_gold_from_changes({since}, {new_version})",
        )
    ]
    for v in versions:
        delta = source.changes(since=v - 1, to=v).drop("_commit_version")
        partial = partial_fn(delta)
        sum_cols = [c for c in partial.columns if c not in keys]
        merge_partial_aggregates(
            gold,
            partial,
            keys,
            sum_cols,
            txn_id=f"cdc-{source.path}-v{v}",
        )
    return new_version


# --------------------------------------------------------------------
# incremental JOIN view maintenance (two-table IVM over change feeds)
# --------------------------------------------------------------------

def _ivm_join_state(sink: TxTable, sink_id: str) -> tuple[int, int]:
    """Recover the (left_version, right_version) the sink has applied
    — read from the sink's OWN log (the latest ``ivm-<sink_id>-L..R..``
    txn id), never from an external high-water mark. An external mark
    persisted after the commit can be stale on crash, and a stale mark
    would re-derive deltas against a DIFFERENT snapshot of the other
    side than the committed step used, double- or under-counting
    Δleft⋈Δright; the sink log is transactionally exact by
    construction."""
    prefix = f"ivm-{sink_id}-L"
    state = (-1, -1)
    from eeg_data_lake_spark.sources.txlog import iter_manifests

    for _v, mp in iter_manifests(sink.path):
        with open(mp) as fh:
            tid = json.load(fh).get("txn_id") or ""
        if tid.startswith(prefix):
            l_part, r_part = tid[len(prefix):].rsplit("-R", 1)
            state = (int(l_part), int(r_part))
    return state


def maintain_join_view(
    left: TxTable,
    right: TxTable,
    on: Sequence[str],
    sink: TxTable,
    sink_id: str,
) -> tuple[int, int]:
    """Incrementally maintain ``sink`` = ``left ⋈ right`` (inner equi
    join) as both APPEND-ONLY sources grow — classic two-table
    incremental view maintenance: ΔV = ΔL⋈R ∪ L⋈ΔR, with ΔL⋈ΔR
    counted exactly once because left deltas join the right side
    frozen at the applied right version, while right deltas join the
    left side at the NEW left version.

    Per maintenance run, each source commit is applied as its own
    sink append whose txn id encodes the exact (left, right) state
    pair it produces, so any crash/replay interleaving no-ops on the
    already-applied prefix and resumes bit-exactly (state is
    recovered from the sink's own log — see _ivm_join_state).
    Logical rewrites (overwrite/upsert) in a source raise via the
    change feed, mirroring TxTable.changes: file-level logs cannot
    re-derive row-level join retractions.

    Cost per run: O(ΔL ⋈ R) + O(L ⋈ ΔR) — never |L ⋈ R|. At 100 TB
    the snapshot side of each delta join is a keyed equi join that
    Catalyst plans normally (broadcast if the delta is small,
    shuffle otherwise); history is re-read only as join INPUT, never
    re-materialized into the sink.

    Returns the new applied (left_version, right_version).
    """
    from eeg_data_lake_spark.sources.txlog import feed_adds_between

    on = list(on)
    vl, vr = _ivm_join_state(sink, sink_id)
    new_l, new_r = left.version(), right.version()

    def _delta(tbl: TxTable, v: int) -> DataFrame:
        return tbl.changes(since=v - 1, to=v).drop("_commit_version")

    # left commits first, each against the right side AT ITS APPLIED
    # version; then right commits against the left side at new_l.
    # Every step commits — even an empty delta join — so the applied
    # state pair always advances and a recovering run never re-derives
    # more than the uncommitted suffix (empty data files are reclaimed
    # by the sink's normal compact()+vacuum()). Steps whose OTHER side
    # is still empty are the only skips: there is no join schema to
    # commit yet, and re-deriving them is free (the feed short-circuits
    # on an empty opposite side).
    from eeg_data_lake_spark.streaming.txpair import contract_gate

    for v, _files in feed_adds_between(
        left.path, vl, new_l, False, f"ivm {sink_id} left"
    ):
        if vr >= 0:
            d = _delta(left, v).join(right.read(version=vr), on)
            # per-step schema contract: a source table that evolved
            # incompatibly mid-maintenance fails THIS step loudly
            # (replay-clean: nothing committed for it yet)
            fold = contract_gate(sink, d)
            sink.append(d, txn_id=f"ivm-{sink_id}-L{v}-R{vr}")
            fold()
    for w, _files in feed_adds_between(
        right.path, vr, new_r, False, f"ivm {sink_id} right"
    ):
        if new_l >= 0:
            d = left.read(version=new_l).join(_delta(right, w), on)
            fold = contract_gate(sink, d)
            sink.append(d, txn_id=f"ivm-{sink_id}-L{new_l}-R{w}")
            fold()
    return new_l, new_r
