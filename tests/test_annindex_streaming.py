"""Streaming ANN index maintenance: cells match the batch assignment,
probes prune files via txlog stats, probe results equal a brute-force
rescan of the probed cells, replayed batches are no-ops, and the
adaptive (mini-batch k-means refreshed) variant holds a recall floor
under a planted embedding drift where the fixed quantizer fails it."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from eeg_data_lake_spark.sources.txlog import TxTable
from eeg_data_lake_spark.streaming.annindex import (
    adaptive_index_batch_writer,
    cell_of,
    centroid_table,
    index_batch_writer,
    init_centroid_set,
    latest_centroid_set,
    probe_topk,
    probe_topk_adaptive,
)
from eeg_data_lake_spark.workload.similarity import as_double, dot, l2norm

K_CELLS = 8
DIM = 16


def _cents():
    rng = np.random.default_rng(7)
    c = rng.standard_normal((K_CELLS, DIM))
    return (c / np.linalg.norm(c, axis=1, keepdims=True)).round(6).tolist()


def _vecs(spark, lo, hi, seed):
    rng = np.random.default_rng(seed)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(DIM).round(6)])
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture()
def table(spark, tmp_path):
    return TxTable(spark, str(tmp_path / "annidx"))


def test_streaming_index_matches_batch_assignment(spark, table):
    cents = _cents()
    writer = index_batch_writer(table, cents, "ann")
    writer(_vecs(spark, 0, 60, 1), 0)
    writer(_vecs(spark, 60, 100, 2), 1)

    idx = table.read()
    assert idx.count() == 100
    # the streamed cell column equals a fresh batch assignment
    fresh = _vecs(spark, 0, 60, 1).unionByName(_vecs(spark, 60, 100, 2)).select(
        "vec_id", cell_of(as_double(F.col("embedding")), cents).alias("cell")
    )
    got = {r.vec_id: r.cell for r in idx.select("vec_id", "cell").collect()}
    want = {r.vec_id: r.cell for r in fresh.collect()}
    assert got == want

    # replay of batch 1 is a no-op (exactly-once)
    v = table.version()
    writer(_vecs(spark, 60, 100, 2), 1)
    assert table.version() == v and table.read().count() == 100


def test_probe_prunes_files_and_matches_rescan(spark, table):
    cents = _cents()
    writer = index_batch_writer(table, cents, "ann")
    writer(_vecs(spark, 0, 80, 3), 0)
    writer(_vecs(spark, 80, 160, 4), 1)

    # file pruning: one cell's probe must touch fewer files than exist
    all_files = len(table._replay().files)
    one_cell = len(table.matching_files([("cell", "=", 0)]))
    assert 0 < one_cell < all_files

    q = list(np.random.default_rng(9).standard_normal(DIM).round(6))
    got = [(r.vec_id, r.cosine) for r in probe_topk(table, q, cents, nprobe=3, k=5).collect()]

    # oracle: brute-force cosine over exactly the probed cells
    qn = np.asarray(q) / np.linalg.norm(q)
    probes = set(np.argsort(-(np.asarray(cents) @ qn))[:3].tolist())
    full = table.read()
    qcol = F.array(*[F.lit(float(x)) for x in qn.tolist()])
    e = as_double(F.col("embedding"))
    want = [
        (r.vec_id, r.cosine)
        for r in full.filter(F.col("cell").isin([int(p) for p in probes]))
        .select("vec_id", (dot(e, qcol) / l2norm(e)).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
        .collect()
    ]
    assert [v for v, _ in got] == [v for v, _ in want]
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, rel=1e-9)


def test_text_to_index_to_retrieval_end_to_end(spark, tmp_path):
    """U4 -> §2.8 integration: raw TEXT micro-batches run through the
    REAL hashed-ngram encoder, the embeddings stream into the IVF
    txlog index, and a probe with a fresh query string retrieves the
    planted near-duplicate text first — the full text -> embedding ->
    online-index -> ANN-retrieval loop with no stub anywhere."""
    from eeg_data_lake_spark.functions.embed import (
        EMBED_DIM,
        _encode_batch,
        _make_projection,
        with_text_embedding,
    )

    rng = np.random.default_rng(11)
    c = rng.standard_normal((K_CELLS, EMBED_DIM))
    cents = (c / np.linalg.norm(c, axis=1, keepdims=True)).round(6).tolist()
    table = TxTable(spark, str(tmp_path / "textidx"))
    writer = index_batch_writer(table, cents, "textann")

    target = "the quick brown fox jumps over the lazy dog again and again"
    batch1 = [(0, "completely unrelated pelican filament text"),
              (1, target),
              (2, "spark structured streaming with watermarks")]
    batch2 = [(3, "duckdb oracle parity and value hashing"),
              (4, "another unrelated document about nothing")]
    for bid, rows in enumerate((batch1, batch2)):
        df = spark.createDataFrame(rows, "vec_id long, text string")
        emb = with_text_embedding(df).select(
            "vec_id", as_double(F.col("embedding")).alias("embedding")
        )
        writer(emb, bid)
    assert table.read().count() == 5

    query = "the quick brown fox jumps over the lazy cat again and again"
    qv = _encode_batch(
        np.array([query]), EMBED_DIM, _make_projection(EMBED_DIM)
    )[0].tolist()
    # nprobe=K_CELLS makes the probe exhaustive -> rank-1 must be the
    # planted near-dup regardless of which cell it landed in
    top = probe_topk(table, qv, cents, nprobe=K_CELLS, k=2).collect()
    assert top[0].vec_id == 1, top
    assert top[0].cosine > 0.8, top
    assert top[1].cosine < top[0].cosine - 0.2, top


# ------------------------------------------- adaptive centroid refresh

DRIFT_T = 6        # micro-batches; cluster centers migrate A -> B over T
DRIFT_PER = 8      # vectors per cluster per batch
DRIFT_SIGMA = 0.3
DRIFT_SCALE = 3.0


def _drift_center(i: int, t: int) -> np.ndarray:
    """Cluster i's center after t of DRIFT_T steps: starts at
    SCALE*e_i (subspace A, dims 0..7) and migrates linearly to
    SCALE*e_{8+i} (the ORTHOGONAL subspace B, dims 8..15). At t=T the
    initial quantizer's dot products against the data are pure noise —
    assignment and probe ranking decorrelate completely — while
    per-batch movement (SCALE*sqrt(2)/T ~ 0.7) stays far below the
    inter-cluster separation (>= 3), so a tracking quantizer keeps
    coherent cells throughout."""
    c = np.zeros(DIM)
    s = t / DRIFT_T
    c[i] = DRIFT_SCALE * (1 - s)
    c[8 + i] = DRIFT_SCALE * s
    return c


def _drift_batches():
    rng = np.random.default_rng(42)
    out = []
    for t in range(1, DRIFT_T + 1):
        rows = []
        for i in range(K_CELLS):
            c = _drift_center(i, t)
            for j in range(DRIFT_PER):
                v = c + rng.standard_normal(DIM) * DRIFT_SIGMA
                rows.append(
                    (int(t * 1000 + i * 100 + j), [float(x) for x in v])
                )
        out.append(rows)
    return out


def _drift_init_cents():
    return [_drift_center(i, 0).tolist() for i in range(K_CELLS)]


def test_adaptive_tracks_drift_where_fixed_fails(spark, tmp_path):
    """The round-6 recall gate: same drifting stream into a FIXED
    index and an ADAPTIVE one; queries at the post-drift positions.
    The fixed quantizer's recall@5 collapses to ~nprobe/K (cell
    assignment and probe ranking are independent noise once the data
    left its subspace); the refreshed quantizer tracks the migration
    and stays at ~1.0."""
    init_cents = _drift_init_cents()
    fixed = TxTable(spark, str(tmp_path / "fixed"))
    adapt = TxTable(spark, str(tmp_path / "adapt"))
    fw = index_batch_writer(fixed, init_cents, "fix")
    init_centroid_set(centroid_table(spark, adapt), init_cents)
    aw = adaptive_index_batch_writer(adapt, "ada", count_cap=2 * DRIFT_PER)

    batches = _drift_batches()
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        fw(df, bid)
        aw(df, bid)

    # the quantizer followed the drift: every refreshed centroid ends
    # far closer to its cluster's final center than to any other
    cs, cents, counts = latest_centroid_set(centroid_table(spark, adapt))
    assert cs == DRIFT_T  # one generation per batch
    assert all(n == DRIFT_T * DRIFT_PER for n in counts)
    C = np.asarray(cents)
    for i in range(K_CELLS):
        d = np.linalg.norm(C - _drift_center(i, DRIFT_T), axis=1)
        assert d.argmin() == i and d[i] < 2.0, (i, d.round(2))

    all_rows = [r for b in batches for r in b]
    M = np.array([v for _, v in all_rows])
    ids = np.array([i for i, _ in all_rows])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)

    qrng = np.random.default_rng(7)
    n_q, k_top, nprobe = 8, 5, 2
    rec_fixed, rec_adapt = [], []
    for qi in range(n_q):
        q = _drift_center(qi % K_CELLS, DRIFT_T) + (
            qrng.standard_normal(DIM) * DRIFT_SIGMA
        )
        qn = q / np.linalg.norm(q)
        truth = set(ids[np.argsort(-(Mn @ qn))[:k_top]].tolist())
        got_f = {
            r.vec_id
            for r in probe_topk(
                fixed, q.tolist(), init_cents, nprobe=nprobe, k=k_top
            ).collect()
        }
        got_a = {
            r.vec_id
            for r in probe_topk_adaptive(
                adapt, q.tolist(), nprobe=nprobe, k=k_top
            ).collect()
        }
        rec_fixed.append(len(got_f & truth) / k_top)
        rec_adapt.append(len(got_a & truth) / k_top)
    # measured at these seeds: fixed 0.25, adaptive 1.00
    assert np.mean(rec_adapt) >= 0.9, rec_adapt
    assert np.mean(rec_fixed) <= 0.6, rec_fixed


def test_probe_before_first_batch_returns_empty(spark, tmp_path):
    """A probe racing the first trigger (quantizer initialized, no
    corpus yet) is a normal service state: empty top-k, not
    TxTable.read's no-data error."""
    tbl = TxTable(spark, str(tmp_path / "empty_idx"))
    init_centroid_set(centroid_table(spark, tbl), _drift_init_cents())
    out = probe_topk_adaptive(tbl, [0.0] * DIM, nprobe=2, k=5)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["vec_id", "cosine"]


def test_adaptive_replay_and_crash_window(spark, tmp_path):
    """Exactly-once for the two-legged adaptive writer: a clean replay
    is a no-op on BOTH tables, and a crash between the corpus and
    centroid legs replays to the IDENTICAL state an uncrashed run
    produces (the centroid derivation re-runs against the same
    latest set because centroid commits are strictly ordered behind
    their corpus commits)."""
    init_cents = _drift_init_cents()
    batches = _drift_batches()[:2]

    def run(name: str, crash_batch: int | None):
        tbl = TxTable(spark, str(tmp_path / name))
        init_centroid_set(centroid_table(spark, tbl), init_cents)
        aw = adaptive_index_batch_writer(tbl, "ada", count_cap=16)
        for bid, rows in enumerate(batches):
            df = spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            )
            if bid == crash_batch:
                # the crash seam is the centroid leg's manifest COMMIT
                # (TxTable.commit_staged, through which append commits)
                real_commit = TxTable.commit_staged

                def bomb(self, *a, **k):
                    if self.path.endswith("_centroids"):
                        raise RuntimeError("injected crash between legs")
                    return real_commit(self, *a, **k)

                TxTable.commit_staged = bomb
                try:
                    with pytest.raises(RuntimeError, match="injected"):
                        aw(df, bid)
                finally:
                    TxTable.commit_staged = real_commit
            aw(df, bid)  # the (re)play that must land / complete
        return tbl

    clean = run("clean", None)
    crashed = run("crashed", 1)

    def state(tbl):
        corpus = sorted(
            map(tuple, tbl.read().select("vec_id", "cell", "cset").collect())
        )
        cs, cents, counts = latest_centroid_set(centroid_table(spark, tbl))
        return corpus, cs, np.asarray(cents), counts

    corpus_c, cs_c, cents_c, counts_c = state(clean)
    corpus_x, cs_x, cents_x, counts_x = state(crashed)
    assert corpus_c == corpus_x and cs_c == cs_x == 2
    assert counts_c == counts_x
    np.testing.assert_allclose(cents_c, cents_x)

    # clean replay after the fact: no-op on both tables
    v, cv = clean.version(), centroid_table(spark, clean).version()
    aw2 = adaptive_index_batch_writer(clean, "ada", count_cap=16)
    df = spark.createDataFrame(batches[1], "vec_id long, embedding array<double>")
    aw2(df, 1)
    assert clean.version() == v
    assert centroid_table(spark, clean).version() == cv
