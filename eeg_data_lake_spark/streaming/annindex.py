"""Streaming ANN index maintenance: vectors arrive continuously and
each micro-batch is indexed into a transaction-logged IVF layout —
the online form of the batch ANN builds (q99/z02/z03), and the piece
that turns "an ANN query" into "an ANN *service* over a growing
corpus".

Per batch (foreachBatch, exactly-once via txn-id):

1. **Assign** every vector its IVF cell — the same JVM dot-product
   expressions as q99 (seeded spherical centroids, fixed at index
   creation; retraining the quantizer is a rebuild, exactly as in
   FAISS).
2. **Cluster the write**: repartition by cell and sort within
   partitions, so each parquet file covers a narrow cell range and
   the txlog's per-file min/max stats make cell probes prune files
   (the poor-man's partition pruning that needs no directory layout).
3. **Append** to the corpus TxTable with ``txn_id = (sink, batch)``
   — replays are no-ops.

Probing reads ONLY the files whose [min, max] cell interval covers a
probed cell (``TxTable.read(predicates=...)``), then scores exact
cosine inside the pruned set — candidates shrink ~K/nprobe-fold
before any vector math, and the scan cost shrinks with them.

**Centroid refresh under drift** (the adaptive variant): with FIXED
centroids, an embedding distribution that drifts away from the
quantizer scatters new vectors across cells whose centroids all score
near-uniformly against a drifted query, so the top-nprobe cell
ranking stops correlating with where the true neighbors actually
landed — recall decays silently. ``adaptive_index_batch_writer``
therefore folds each micro-batch into the quantizer with a mini-batch
k-means step (Sculley 2010: per-cell running average, the
``ml/kmeans.py`` posexplode partial-sum shuffle, k*d rows collected),
committing the updated centroids as a NEW VERSIONED SET in a
companion txlog table. Corpus rows record the set (``cset``) they
were assigned under, and probes rank cells PER GENERATION with that
generation's own centroids — an in-flight probe is always consistent
with the assignment that placed the rows, never a mix of new
centroids against old cells. Exactly-once across both tables via the
streaming/txpair.py corpus-first discipline. At scale, generations
are the IVF analog of LSM segments: probe fan-out grows with their
count, and bounding it would take a compaction that re-assigns old
generations under the newest set (the FAISS "retrain = rebuild",
amortized); ``count_cap`` bounds history so the quantizer keeps
tracking under sustained drift instead of freezing as counts grow.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eeg_data_lake_spark.sources.txlog import TxTable
from eeg_data_lake_spark.streaming.txpair import drain, paired_commit
from eeg_data_lake_spark.workload.similarity import as_double, dot, l2norm


def cell_of(vec_col, cents: list[list[float]]):
    """IVF cell id (int) for an embedding column: argmax over centroid
    dot products — all JVM expressions, identical to q99's assignment."""
    dots = F.array(
        *[dot(vec_col, F.array(*[F.lit(x) for x in c])) for c in cents]
    )
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def index_batch_writer(
    table: TxTable,
    cents: list[list[float]],
    sink_id: str,
    n_files: int = 16,
):
    """foreachBatch function: assign cells, cluster files by cell,
    append exactly-once.

    ``n_files`` is passed to repartition EXPLICITLY: an explicit
    partition count is exempt from AQE's partition coalescing, which
    would otherwise merge a small batch into one file whose cell
    min/max spans everything — destroying the stats-based probe
    pruning this layout exists for. Size it ≥ the cell count so most
    files cover a single cell."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        indexed = batch_df.select(
            "vec_id",
            "embedding",
            cell_of(as_double(F.col("embedding")), cents).alias("cell"),
        )
        # narrow cell range per output file → tight min/max footer
        # stats → the probe's predicate pruning actually drops files.
        # Range partitioning, NOT hash: hash scatters unrelated cell
        # ids into one partition (cells {2, 14} co-located → that
        # file's min/max spans 2..14 and every probe in between reads
        # it); ranges keep each file's cell interval contiguous.
        clustered = indexed.repartitionByRange(
            n_files, "cell"
        ).sortWithinPartitions("cell")
        # per-trigger schema contract (streaming/txpair.py): drifted
        # upstream embedding schema fails the trigger loudly
        from eeg_data_lake_spark.streaming.txpair import contract_gate

        fold = contract_gate(table, clustered)
        table.append(clustered, txn_id=f"{sink_id}:batch-{batch_id}")
        fold()

    return process


# ----------------------------------------------- adaptive centroids

CENTROID_SCHEMA = "cset int, cell int, centroid array<double>, n long"


def centroid_table(spark: SparkSession, table: TxTable) -> TxTable:
    """The index's companion versioned-quantizer table: one row per
    (centroid set, cell) with the centroid vector and the running
    assignment count its learning rate derives from. Sets are
    immutable once committed — a refresh appends set ``cset+1``."""
    return TxTable(spark, table.path + "_centroids")


def init_centroid_set(
    ctable: TxTable, cents: list[list[float]], txn_id: str = "cset-init"
) -> None:
    """Commit centroid set 0 (counts start at 0)."""
    rows = [(0, i, [float(x) for x in c], 0) for i, c in enumerate(cents)]
    ctable.append(
        ctable.spark.createDataFrame(rows, CENTROID_SCHEMA), txn_id=txn_id
    )


def _sets_from_rows(rows) -> dict[int, tuple[list[list[float]], list[int]]]:
    out: dict[int, dict[int, tuple[list[float], int]]] = {}
    for r in rows:
        out.setdefault(r.cset, {})[r.cell] = (list(r.centroid), r.n)
    return {
        cs: (
            [cells[i][0] for i in sorted(cells)],
            [cells[i][1] for i in sorted(cells)],
        )
        for cs, cells in out.items()
    }


def latest_centroid_set(
    ctable: TxTable,
) -> tuple[int, list[list[float]], list[int]]:
    """(cset, centroids-by-cell, running counts) of the newest set.

    Two bounded reads, not one full-history collect: max(cset) is a
    distributed aggregate (no vectors move), then only the newest
    set's k rows reach the driver (the cset predicate prunes old
    generations' files via txlog stats). Keeps the per-trigger driver
    cost O(k*d) regardless of stream age — the refresh must not slow
    down as generations accumulate."""
    cs = int(ctable.read().agg(F.max("cset")).collect()[0][0])
    rows = ctable.read(predicates=[("cset", "=", cs)]).collect()
    sets = _sets_from_rows(rows)
    cents, counts = sets[cs]
    return cs, cents, counts


def adaptive_index_batch_writer(
    table: TxTable,
    sink_id: str,
    n_files: int = 16,
    count_cap: int | None = None,
):
    """foreachBatch function: assign the batch under the NEWEST
    centroid set, cluster+append to the corpus (rows tagged with the
    set version), then fold the batch into the quantizer as centroid
    set ``cset+1`` — one mini-batch k-means step: per-cell running
    average with learning rate m/(n+m) (``count_cap`` clamps n so the
    quantizer keeps adapting under sustained drift). Exactly-once:
    corpus leg first, centroid leg second (streaming/txpair.py — a
    replay re-derives the identical new set because centroid commits
    are strictly ordered behind their corpus commits). The refresh
    shuffle is the ml/kmeans.py partial-sum shape: k*d aggregated
    rows, independent of batch size; only the k*d centroid matrix
    reaches the driver."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ctable = centroid_table(spark, table)
        cset, cents, counts = latest_centroid_set(ctable)
        indexed = batch_df.select(
            "vec_id",
            "embedding",
            cell_of(as_double(F.col("embedding")), cents).alias("cell"),
            F.lit(cset).cast("int").alias("cset"),
        ).persist()  # consumed by both legs
        try:
            clustered = indexed.repartitionByRange(
                n_files, "cell"
            ).sortWithinPartitions("cell")

            def new_set_df() -> DataFrame:
                k, d = len(cents), len(cents[0])
                stats = (
                    indexed.select(
                        "cell",
                        F.posexplode(
                            F.transform(
                                "embedding", lambda x: x.cast("double")
                            )
                        ).alias("dim", "x"),
                    )
                    .groupBy("cell", "dim")
                    .agg(
                        F.sum("x").alias("s"),
                        F.count(F.lit(1)).alias("m"),
                    )
                    .collect()
                )
                C = np.asarray(cents, dtype=np.float64).copy()
                n = np.asarray(counts, dtype=np.int64).copy()
                S = np.zeros((k, d))
                m = np.zeros(k, dtype=np.int64)
                for r in stats:
                    S[r.cell, r.dim] = r.s
                    m[r.cell] = r.m
                eff = np.minimum(n, count_cap) if count_cap else n
                upd = m > 0
                C[upd] = (
                    C[upd] * eff[upd, None] + S[upd]
                ) / (eff[upd] + m[upd])[:, None]
                rows = [
                    (
                        cset + 1,
                        i,
                        [float(x) for x in C[i]],
                        int(n[i] + m[i]),
                    )
                    for i in range(k)
                ]
                return spark.createDataFrame(rows, CENTROID_SCHEMA)

            paired_commit(
                table, clustered, ctable, new_set_df,
                sink_id, "cset", batch_id,
            )
        finally:
            indexed.unpersist()

    return process


def stream_ann_ingest(
    spark: SparkSession,
    source_dir: str,
    schema,
    table: TxTable,
    checkpoint_path: str,
    sink_id: str,
    cents: list[list[float]] | None = None,
    adaptive: bool = False,
    count_cap: int | None = None,
    n_files: int = 16,
    max_files_per_trigger: int = 1,
) -> None:
    """Drain a file-source vector stream into the IVF index
    (``txpair.drain``). ``adaptive=True`` uses the
    centroid-refreshing writer — the quantizer table must already hold
    set 0 (``init_centroid_set``); otherwise ``cents`` fixes the
    quantizer for the index's lifetime."""
    if adaptive:
        writer = adaptive_index_batch_writer(
            table, sink_id, n_files=n_files, count_cap=count_cap
        )
    else:
        if cents is None:
            raise ValueError("fixed-quantizer ingest requires cents")
        writer = index_batch_writer(table, cents, sink_id, n_files=n_files)
    drain(
        spark, source_dir, schema, writer, checkpoint_path,
        max_files_per_trigger,
    )


def probe_topk_adaptive(
    table: TxTable,
    query_vec: list[float],
    nprobe: int = 4,
    k: int = 5,
) -> DataFrame:
    """Top-k nearest (cosine) over a generation-versioned index: for
    EACH centroid set ever used for assignment, rank that set's own
    cells against the query and read its top-``nprobe`` cells'
    files — probes stay consistent with the assignments that placed
    the rows. Exact cosine inside the probed union. Probe fan-out is
    O(generations * nprobe)."""
    ctable = centroid_table(table.spark, table)
    if table.version() < 0:
        # quantizer initialized but no batch landed yet: an empty
        # top-k, not TxTable.read's no-data error — a probe racing
        # the first trigger is a normal service state
        return table.spark.createDataFrame(
            [], "vec_id long, cosine double"
        )
    sets = _sets_from_rows(ctable.read().collect())
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(float(np.linalg.norm(q)), 1e-12)

    parts = []
    for cs in sorted(sets):
        cents, _counts = sets[cs]
        # newest set exists but may have no assignments yet — its
        # probe just prunes to zero files, which read() handles
        probes = np.argsort(-(np.asarray(cents) @ qn))[:nprobe]
        for c in probes.tolist():
            parts.append(
                table.read(
                    predicates=[("cset", "=", int(cs)), ("cell", "=", int(c))]
                )
            )
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    qcol = F.array(*[F.lit(float(x)) for x in qn.tolist()])
    e = as_double(F.col("embedding"))
    scored = corpus.select(
        "vec_id",
        F.when(l2norm(e) > 0, dot(e, qcol) / l2norm(e)).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def probe_topk(
    table: TxTable,
    query_vec: list[float],
    cents: list[list[float]],
    nprobe: int = 4,
    k: int = 5,
) -> DataFrame:
    """Top-k nearest (cosine) to ``query_vec`` scanning only the
    probed cells' files. Exact within the probed cells."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(float(np.linalg.norm(q)), 1e-12)  # zero query -> zero scores, not NaN
    probes = np.argsort(-(np.asarray(cents) @ qn))[:nprobe].tolist()

    parts = [
        table.read(predicates=[("cell", "=", int(c))]) for c in probes
    ]
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    qcol = F.array(*[F.lit(float(x)) for x in qn.tolist()])
    e = as_double(F.col("embedding"))
    scored = corpus.select(
        "vec_id",
        F.when(l2norm(e) > 0, dot(e, qcol) / l2norm(e)).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)
