"""The shared streaming ingest scaffolding: the one file-stream drain
(``drain``) and the two-table exactly-once commit discipline — a
corpus table plus companion index tables, committed corpus-FIRST then
index, each under its own batch-keyed txn id.

Every incremental ingest in this package maintains such a pair, and
all seven families — MinHash-LSH bands (streaming/dedup.py),
ExactSubstr grams (streaming/exactsubstr.py), SimHash blocks
(streaming/simhash.py), CDC chunks (streaming/chunkdedup.py), ANN
centroid sets (streaming/annindex.py), the five-table curation state
(streaming/curation.py) and the four-table resolved near-dup state
(streaming/resolved.py) — commit through ``paired_commit`` /
``chained_commit`` here, so the ordering + naming + crash argument is
implemented once and its crash matrix property-tested ONCE centrally
(tests/test_txpair.py) instead of re-argued per ingest. ``drain`` is
the one place a file-source stream is wired to a foreachBatch writer
(readStream → foreachBatch → checkpoint → availableNow): each family
module keeps only its batch writer, its index tables and its probe
key constant, which callers pass straight to
sources/indexproj.bucketize_index / compact_index.

The crash argument, stated once:

- foreachBatch is at-least-once, so any batch may replay after a
  driver crash. Both commits carry DISTINCT txn ids keyed to the batch
  (a shared id would make the index leg no-op on replay after a crash
  between the two commits, losing the index rows forever).
- Corpus first: a crash between the legs leaves the index LAGGING the
  corpus — the probe is then conservative only in the ACCEPTING
  direction, and exactly for rows whose corpus commit already no-ops
  on its txn id, so the corpus can never double-admit. The replay then
  completes the index leg with identical content (index commits are
  strictly ordered behind their corpus commits, so the index state the
  batch derived against cannot have advanced).
- An index leading the corpus (index-first) would REJECT rows the
  corpus never accepted — data loss — which is why the order is fixed
  here rather than a parameter.

``index_missing`` + the per-ingest backfills close the OTHER gap in
that argument: a corpus seeded outside the stream (batch bootstrap, a
plain txsink ingest, a pre-index run) has rows but no index, and
without a backfill the first probe would admit every near-duplicate of
a seeded doc forever, with no warning.

sources/chunkstore.py's put() deliberately INVERTS the order (content
chunks first, manifests second): there the reader-facing invariant is
"a live manifest's chunks always resolve", so the leg that must never
lead is the manifest. streaming/incremental.py needs no pair at all —
its maintenance folds into ONE table per commit, with state recovered
from the sink's own log.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from eeg_data_lake_spark.sources.contracts import (
    append_compatibility_problems,
)
from eeg_data_lake_spark.sources.txlog import TxTable


#: per-table contract schema, keyed by table path. The full
#: TxTable.read() a cold gate pays (txlog replay + DataFrame open)
#: would otherwise run once per LEG per TRIGGER — latency that
#: grows with the log's tail on a long-lived stream.
#: Sound to cache per process: within one stream the only schema
#: changes flow through this gate's own passing appends (merged into
#: the cache below); a concurrent writer evolving the table from
#: elsewhere was already outside the gate's best-effort contract (the
#: "old" schema is one commit's either way).
_CONTRACT_SCHEMAS: dict[str, object] = {}


def invalidate_contract(path: str) -> None:
    """Drop ``path``'s cached contract schema so the next gate re-reads
    it from the table. Wired automatically: txlog notifies ON_REWRITE
    after every overwrite and upsert commit (the ops that can rewrite
    a table's schema in place at the same path — upsert via
    unionByName's type promotion), so an in-process rewrite can never
    strand the gate on a stale contract. The public hook remains for
    out-of-band rewrites (another process replacing the files)."""
    _CONTRACT_SCHEMAS.pop(path, None)


def _contract_rewrite_listener(path: str) -> None:
    """The ON_REWRITE callback, indirected through sys.modules so a
    reloaded txpair is still invalidated correctly: a listener bound
    to THIS module object would keep popping from the pre-reload
    _CONTRACT_SCHEMAS dict while gates populate the fresh one."""
    import sys

    mod = sys.modules.get(__name__)
    if mod is not None:
        mod._CONTRACT_SCHEMAS.pop(path, None)
    else:  # torn-down interpreter edge: fall back to this closure
        _CONTRACT_SCHEMAS.pop(path, None)


# in-process schema rewrites (overwrite / type-promoting upsert)
# invalidate the contract cache automatically; registration is
# idempotent across reloads by name
from eeg_data_lake_spark.sources import txlog as _txlog

if not any(
    getattr(fn, "__name__", "") == "_contract_rewrite_listener"
    for fn in _txlog.ON_REWRITE
):
    _txlog.ON_REWRITE.append(_contract_rewrite_listener)


def contract_gate(target: TxTable, df: DataFrame):
    """Refuse a micro-batch whose schema would poison ``target``'s
    readers — the per-trigger schema contract every streaming sink in
    this package enforces (sources/contracts.py rules, append
    direction: additive nullable columns pass, narrowing/widening/
    drops/nullability-poisoning refuse).

    Raising here is deliberately exactly-once-clean: the gate runs
    BEFORE the leg's append, so a refused trigger commits nothing and
    the stream fails loudly; fixing the upstream schema and restarting
    replays the batch against unchanged state.

    Returns a zero-arg callable the caller must invoke AFTER the
    append commits (a no-op when the batch carried nothing new): a
    passing batch may introduce additive columns, and they belong in
    the cached contract only once they are actually in the table —
    folding eagerly would leave phantom columns in the cache if the
    append subsequently failed, falsely refusing later legitimate
    batches until process restart (round-8 ADVICE).

    Best-effort under additive evolution: the "old" schema is the one
    TxTable.read() serves — the schema the txlog records for the
    commit of the table's first live file (its footer's, read by
    inference for logs that predate the record) — which may predate
    later additive columns; the gate then misses a drop of such a
    column but never falsely refuses. A table with no rows yet gates nothing
    (first write defines the contract). A table REWRITTEN with a
    different schema at the same path needs ``invalidate_contract``."""
    old = _CONTRACT_SCHEMAS.get(target.path)
    if old is None:
        if target.version() < 0:
            return lambda: None
        try:
            old = target.read().schema
        except ValueError:
            return lambda: None  # logged versions but no data files
        _CONTRACT_SCHEMAS[target.path] = old
    problems = append_compatibility_problems(old, df.schema)
    if problems:
        raise ValueError(
            f"schema contract violation appending to {target.path}:\n  "
            + "\n  ".join(problems)
        )
    # additive columns fold into the cached contract (so a LATER batch
    # that drops them again is caught, matching what a fresh footer
    # read after the append would show) — but only once the append has
    # committed, via the returned callable
    have = {f.name for f in old.fields}
    extra = [f for f in df.schema.fields if f.name not in have]
    if not extra:
        return lambda: None
    from pyspark.sql.types import StructType

    merged = StructType(list(old.fields) + extra)

    def _fold(path: str = target.path, prior=old) -> None:
        # fold only if no other trigger refreshed the entry meanwhile
        if _CONTRACT_SCHEMAS.get(path) is prior:
            _CONTRACT_SCHEMAS[path] = merged

    return _fold


def drain(
    spark: SparkSession,
    source_dir: str,
    schema,
    writer: Callable[[DataFrame, int], None],
    checkpoint_path: str,
    max_files_per_trigger: int | None,
) -> None:
    """Drain the parquet file stream under ``source_dir`` through the
    foreachBatch ``writer`` with AvailableNow semantics: returns once
    every file present at start has been processed; a re-invocation
    with the same ``checkpoint_path`` resumes there, and batches the
    writer already committed replay as no-ops. ``maxFilesPerTrigger``
    is set only when ``max_files_per_trigger`` is not None (otherwise
    Spark's default of one trigger for all available files applies)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    (
        reader.parquet(source_dir)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def batch_txn(sink_id: str, batch_id: int) -> str:
    """The corpus-leg txn id every paired ingest uses."""
    return f"{sink_id}:batch-{batch_id}"


def index_txn(sink_id: str, tag: str, batch_id: int) -> str:
    """The index-leg txn id: ``tag`` names the index family (bands,
    grams, blocks, chunks) so one sink can maintain several."""
    return f"{sink_id}:{tag}-{batch_id}"


def index_missing(table: TxTable, idx: TxTable) -> bool:
    """True when the corpus has rows but its companion index is absent
    — the seeded-outside-the-stream case the backfills must close."""
    return table.version() >= 0 and idx.version() < 0


def backfill_index(
    table: TxTable,
    idx: TxTable,
    rows_fn: Callable[[DataFrame], DataFrame],
    sink_id: str,
    tag: str,
) -> bool:
    """If the corpus was seeded outside the stream (``index_missing``),
    append ``rows_fn(corpus)`` to the index under a dedicated
    ``{sink_id}:{tag}-backfill`` txn id, exactly-once. Returns whether
    a backfill ran.

    Safe for SET-semantics indices (bands, blocks, chunk hashes):
    if the index is instead absent because the FIRST batch crashed
    between its two commits, the backfill covers that batch's corpus
    rows and the replayed index leg then derives an empty/duplicate-
    free delta against it — same final index content. COUNT-semantics
    indices (ExactSubstr gram counts) must exclude the currently
    replaying batch from the seed themselves before calling this, or
    the batch's rows would be counted by both the backfill and the
    replayed index leg (see streaming/exactsubstr.py).
    """
    if not index_missing(table, idx):
        return False
    idx.append(rows_fn(table.read()), txn_id=f"{sink_id}:{tag}-backfill")
    return True


def paired_commit(
    table: TxTable,
    corpus_df: DataFrame | Callable[[], DataFrame],
    idx: TxTable,
    index_df: DataFrame | Callable[[], DataFrame],
    sink_id: str,
    tag: str,
    batch_id: int,
) -> None:
    """Commit one micro-batch to the (corpus, index) pair under the
    shared discipline: corpus append first under ``batch_txn``, index
    append second under ``index_txn``. Either leg may be a zero-arg
    callable, invoked only if that leg has not already committed —
    replays then skip the leg's (possibly expensive) derivation, not
    just its write."""
    chained_commit(table, corpus_df, [(idx, index_df, tag)], sink_id, batch_id)


def chained_commit(
    table: TxTable,
    corpus_df: DataFrame | Callable[[], DataFrame],
    legs: list[tuple[TxTable, DataFrame | Callable[[], DataFrame], str]],
    sink_id: str,
    batch_id: int,
    known_committed: dict[str, bool] | None = None,
) -> None:
    """The pair discipline generalized to one corpus + N index legs,
    committed in the FIXED order given: corpus first under
    ``batch_txn``, then each ``(idx, rows, tag)`` leg under its own
    ``index_txn``. Any leg may be a zero-arg callable, invoked only if
    that leg has not already committed.

    The crash argument extends leg-wise: a crash between legs k and
    k+1 leaves legs > k lagging, and the replay no-ops the committed
    prefix and completes the rest. That is exactly-once ONLY if every
    leg's derivation re-produces identical content on replay, which
    constrains what a derivation may read:

    - the batch itself: always safe (foreachBatch re-delivers it);
    - its OWN target index, or any LATER leg's index: safe — commits
      are strictly ordered, so at the moment this leg's derivation
      (re-)runs, those indices provably do NOT contain this batch;
    - an EARLIER leg's index: only through a predicate whose answer is
      the same whether or not that index already contains this batch's
      rows — e.g. streaming/curation.py's strictly-less anti-join
      (``existing.doc_id < candidate.doc_id`` is unaffected by the
      batch's own minima being present, a row never compares
      strictly-less than itself).

    ``known_committed`` lets a caller that already probed some legs'
    txn ids THIS trigger (e.g. a full-replay short-circuit) pass the
    results in, so the common path doesn't pay a second txlog replay
    per table. Sound under the same single-writer-per-sink assumption
    the probe→append window already relies on: within one trigger
    nothing else commits this batch's txn ids, so a flag probed
    moments earlier in the same invocation is exactly as fresh as a
    re-probe here would be. Ids absent from the dict fall back to a
    live ``has_txn``.

    Legs are written and committed one at a time: overlapping their
    data-write jobs on a thread pool made a two-leg ingest's median
    trigger only 1.10x faster, too little for a second commit path.
    """

    def committed(tbl: TxTable, txn: str) -> bool:
        if known_committed is not None and txn in known_committed:
            return known_committed[txn]
        return tbl.has_txn(txn)

    if not committed(table, batch_txn(sink_id, batch_id)):
        df = corpus_df() if callable(corpus_df) else corpus_df
        fold = contract_gate(table, df)
        table.append(df, txn_id=batch_txn(sink_id, batch_id))
        fold()
    for idx, rows, tag in legs:
        if not committed(idx, index_txn(sink_id, tag, batch_id)):
            df = rows() if callable(rows) else rows
            fold = contract_gate(idx, df)
            idx.append(df, txn_id=index_txn(sink_id, tag, batch_id))
            fold()
