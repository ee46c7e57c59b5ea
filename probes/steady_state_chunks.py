"""Steady-state soak for the CDC-chunk ingest family (the z40 family)
under the NATURAL ``maybe_compact`` policy with graduation.

The 100x table names z40's steepener as "put + forced full
compactions each move corpus-proportional content bytes — by design,
amortized in production cadence". This probe measures that
amortization for BOTH legs that hold real bytes: the chunk-hash index
(compact_index, with the graduation cutoff and the tail-bounded
projection extend) and the payload-bearing corpus txlog
(maybe_compact with the same cutoff). Per trigger it records

- ingest wall (corpus append + co-located novelty probe + index fold),
- whether each leg's compaction FIRED, and the rewrite-candidate
  bytes a fire would move (files under the graduation cutoff),
- live file counts (the bound the policy exists to keep),
- the projection refresh mode (extend = tail-bounded append+rename /
  rebuild = graduation's full re-bucketize) and bytes written.

Claims the output supports:
1. per-trigger ingest wall is FLAT — trigger cost is batch-, not
   corpus-, sized;
2. both legs' fires are amortized (every ~k triggers) and their
   rewrite-candidate bytes stay TAIL-bounded while corpus/index bytes
   grow linearly — graduated files never re-qualify;
3. the dedup accounting after N natural-cadence triggers equals the
   batch recount (re-chunk the full corpus from scratch) — the
   maintenance churn is output-invisible.

Duplicate structure: every odd trigger re-sends the previous slice's
payloads under fresh ids, so the novelty anti-join actually drops
chunks throughout (the dedup ratio ends well above 1).

Run: python probes/steady_state_chunks.py [sf_dir] [n_triggers]
Prints one JSON line per trigger + a summary line.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from eeg_data_lake_spark.functions.chunking import chunk_rows  # noqa: E402
from eeg_data_lake_spark.functions.multimodal import (  # noqa: E402
    attach_binary_payload,
)
from eeg_data_lake_spark.session import get_spark  # noqa: E402
from eeg_data_lake_spark.sources.indexproj import (  # noqa: E402
    bucketize_index,
    compact_index,
)
from eeg_data_lake_spark.sources.txlog import (  # noqa: E402
    TxTable,
    maybe_compact,
)
from eeg_data_lake_spark.streaming.chunkdedup import (  # noqa: E402
    CHUNK_KEYS,
    chunk_batch_writer,
    chunk_index_table,
    dedup_report,
)
from probes.steady_state import median, proj_file_sigs  # noqa: E402

N_BUCKETS = 8
MAX_SMALL = 32
TARGET_BYTES = 256 << 10
SMALL_BYTES = 128 << 10


def small_bytes_of(tbl: TxTable) -> tuple[int, int, int]:
    """(rewrite-candidate bytes, total bytes, live files) of a txlog —
    candidates are files still under the graduation cutoff."""
    stats = tbl._replay().stats
    sizes = [int(s.get("bytes", 0)) for s in stats.values()]
    return (
        sum(b for b in sizes if b < SMALL_BYTES),
        sum(sizes),
        len(sizes),
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_triggers = int(sys.argv[2]) if len(sys.argv) > 2 else 48
    spark = get_spark(
        app_name="steady-state-chunks-probe",
        shuffle_partitions=N_BUCKETS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    blobs = (
        attach_binary_payload(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        )
        .select("doc_id", "payload")
        .cache()
    )
    n_docs = blobs.count()

    d = tempfile.mkdtemp(prefix="steady_chunks_")
    tbl = TxTable(spark, f"{d}/corpus")
    idx = chunk_index_table(spark, tbl)
    base = "steadychunks"
    w = chunk_batch_writer(tbl, "soak", bucketed_base=base)

    def slice_df(i: int):
        return blobs.filter(F.col("doc_id") % n_triggers == i)

    report = []
    for i in range(n_triggers):
        batch = slice_df(i).select(
            (F.col("doc_id") * 1000 + F.lit(2 * i)).alias("doc_id"),
            "payload",
        )
        if i % 2 == 1:
            # duplicate payloads under fresh ids: the novelty probe
            # must drop every chunk of the re-sent slice
            batch = batch.unionByName(
                slice_df(i - 1).select(
                    (F.col("doc_id") * 1000 + F.lit(2 * i + 1)).alias(
                        "doc_id"
                    ),
                    "payload",
                )
            )
        t0 = time.perf_counter()
        w(batch, i)
        ingest_s = round(time.perf_counter() - t0, 3)

        if i == 0:
            bucketize_index(
                chunk_index_table(spark, tbl),
                base,
                CHUNK_KEYS,
                n_buckets=N_BUCKETS,
            )

        idx_small, idx_bytes, idx_files = small_bytes_of(idx)
        cor_small, cor_bytes, cor_files = small_bytes_of(tbl)
        proj_sigs_pre = proj_file_sigs(spark, base)

        t0 = time.perf_counter()
        idx_v = compact_index(
            chunk_index_table(spark, tbl),
            base,
            CHUNK_KEYS,
            n_buckets=N_BUCKETS,
            max_small_files=MAX_SMALL,
            target_file_bytes=TARGET_BYTES,
            small_file_bytes=SMALL_BYTES,
            vacuum_keep_versions=2,
        )
        cor_v = maybe_compact(
            tbl,
            max_small_files=MAX_SMALL,
            target_file_bytes=TARGET_BYTES,
            small_file_bytes=SMALL_BYTES,
        )
        maint_s = round(time.perf_counter() - t0, 3)

        proj_sigs_post = proj_file_sigs(spark, base)
        proj_written = sum(sz for _n, sz in proj_sigs_post - proj_sigs_pre)
        if idx_v is None:
            proj_mode = None
        elif proj_sigs_pre <= proj_sigs_post:
            proj_mode = "extend"
        else:
            proj_mode = "rebuild"

        row = {
            "trigger": i,
            "ingest_s": ingest_s,
            "maint_s": maint_s,
            "index_compacted": idx_v is not None,
            "corpus_compacted": cor_v is not None,
            "index_bytes": idx_bytes,
            "index_rewrite_candidate_bytes": idx_small,
            "index_live_files": idx_files,
            "corpus_bytes": cor_bytes,
            "corpus_rewrite_candidate_bytes": cor_small,
            "corpus_live_files": cor_files,
            "proj_mode": proj_mode,
            "proj_written_bytes": proj_written,
        }
        report.append(row)
        print(json.dumps(row), flush=True)

    # terminal correctness: the maintained index's accounting equals
    # re-chunking the full corpus from scratch
    rep = dedup_report(tbl).collect()[0].asDict()
    corpus = tbl.read()
    recount_chunks = (
        chunk_rows(corpus)
        .groupBy("chunk_md5")
        .agg(F.min("length").alias("length"))
        .agg(
            F.count("*").alias("n_unique_chunks"),
            F.sum("length").cast("long").alias("stored_bytes"),
        )
        .collect()[0]
    )
    recount_docs = corpus.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("payload")).cast("long").alias("logical_bytes"),
    ).collect()[0]
    assert rep["n_unique_chunks"] == recount_chunks["n_unique_chunks"], rep
    assert rep["stored_bytes"] == recount_chunks["stored_bytes"], rep
    assert rep["n_docs"] == recount_docs["n_docs"], rep
    assert rep["logical_bytes"] == recount_docs["logical_bytes"], rep

    steady = report[2:]
    q = max(1, len(steady) // 4)
    ingest = [r["ingest_s"] for r in steady]
    ifires = [r["trigger"] for r in report if r["index_compacted"]]
    cfires = [r["trigger"] for r in report if r["corpus_compacted"]]
    print(
        json.dumps(
            {
                "summary": "steady-state chunk soak (natural policy)",
                "sf_dir": sf_dir,
                "docs_per_trigger": n_docs // n_triggers,
                "triggers": n_triggers,
                "ingest_q1_median_s": round(median(ingest[:q]), 3),
                "ingest_q4_median_s": round(median(ingest[-q:]), 3),
                "flatness_q4_over_q1": round(
                    median(ingest[-q:]) / max(median(ingest[:q]), 1e-9), 2
                ),
                "index_compactions": len(ifires),
                "corpus_compactions": len(cfires),
                "index_fire_candidate_bytes": [
                    r["index_rewrite_candidate_bytes"]
                    for r in report
                    if r["index_compacted"]
                ],
                "corpus_fire_candidate_bytes": [
                    r["corpus_rewrite_candidate_bytes"]
                    for r in report
                    if r["corpus_compacted"]
                ],
                "index_bytes_first_last": [
                    report[0]["index_bytes"],
                    report[-1]["index_bytes"],
                ],
                "corpus_bytes_first_last": [
                    report[0]["corpus_bytes"],
                    report[-1]["corpus_bytes"],
                ],
                "max_live_files": {
                    "index": max(r["index_live_files"] for r in report),
                    "corpus": max(r["corpus_live_files"] for r in report),
                },
                "proj_fire_modes": [
                    r["proj_mode"] for r in report if r["index_compacted"]
                ],
                "proj_fire_written_bytes": [
                    r["proj_written_bytes"]
                    for r in report
                    if r["index_compacted"]
                ],
                "dedup_report": {
                    k: (float(v) if hasattr(v, "is_integer") else v)
                    for k, v in rep.items()
                },
                "terminal_equals_recount": True,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
