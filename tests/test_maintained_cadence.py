"""The round-9 maintained-cadence twins (z39 ExactSubstr, z40 CDC
chunks, z41 resolved SimHash) must not be vacuous: each run leaves
the footprints of the full maintenance cadence — a live catalog
projection of the family's index (so batch 2's probe had a bucketed
base to read) and a 'compact' commit in the corpus-family txlog
history — and its terminal result equals the plain (unmaintained)
registered twin row for row. The z34 analogue of this pin lives in
tests/test_streaming_curation.py.

Every maintained query also compacts its family's index both before
and after its second drain (``MAINTAINED_ORDER``); the forced
compaction before it already leaves the 'compact' commit, so only the
call order shows the one after it."""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

from eeg_data_lake_spark.sources.txlog import TxTable, table_history
from eeg_data_lake_spark.workload import REGISTRY

#: batches 0+1 drain, the forced compaction, batch 2 drains, the
#: post-drain cadence (the ``maintenance_log`` fixture's events)
MAINTAINED_ORDER = ["drain", "compact", "drain", "compact"]

CASES = [
    # (maintained, plain twin, scratch prefix, projection prefix,
    #  txlog dir holding the compacted index, relative to scratch)
    (
        "z39_streaming_exactsubstr_maintained",
        "z29_streaming_exactsubstr_ingest",
        "esd_m_q_",
        "z39m_",
        "corpus_grams",
    ),
    (
        "z40_streaming_chunk_maintained",
        "z24_streaming_chunk_ingest",
        "chunk_m_q_",
        "z40m_",
        "corpus_chunks",
    ),
    (
        "z41_streaming_simhash_maintained",
        "z33_streaming_simhash_resolved",
        "shm_q_",
        "z41m_",
        "corpus_post",
    ),
]


@pytest.mark.parametrize(
    "maintained,twin,prefix,proj,idx_dir", CASES,
    ids=[c[0] for c in CASES],
)
def test_maintained_cadence_footprints_and_twin_equality(
    spark, sf_dir, maintained, twin, prefix, proj, idx_dir, maintenance_log
):
    before = {t.name for t in spark.catalog.listTables()}
    dirs_before = set(
        glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*"))
    )
    got = [
        tuple(r)
        for r in REGISTRY[maintained].spark_fn(spark, sf_dir).collect()
    ]
    assert maintenance_log == MAINTAINED_ORDER

    projections = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(proj) and t.name not in before
    ]
    assert projections, f"{maintained}: no index projection materialized"
    assert spark.table(max(projections)).count() > 0

    new_dirs = (
        set(glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")))
        - dirs_before
    )
    assert len(new_dirs) == 1
    scratch = new_dirs.pop()
    idx_path = os.path.join(scratch, idx_dir)
    assert os.path.isdir(idx_path), os.listdir(scratch)
    ops = [r.op for r in table_history(TxTable(spark, idx_path)).collect()]
    assert "compact" in ops, ops

    want = [
        tuple(r) for r in REGISTRY[twin].spark_fn(spark, sf_dir).collect()
    ]
    assert got == want


@pytest.mark.parametrize(
    "maintained",
    ["z38_streaming_minhash_maintained", "z42_streaming_curated_shard_packing"],
)
def test_maintenance_runs_after_the_second_drain(
    spark, sf_dir, maintained, maintenance_log
):
    REGISTRY[maintained].spark_fn(spark, sf_dir)
    assert maintenance_log == MAINTAINED_ORDER
