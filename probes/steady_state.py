"""Steady-state soak probe for a maintained ingest family under the
NATURAL compaction policy.

Every maintained-family query (z39/z40/z41/z42) and test FORCES
compaction (max_small_files=1) to prove the cadence is output-
invisible; the 100x scaling table names "compaction rewrite bytes
∝ corpus" as a steepener and calls it "amortized by cadence". This
probe measures that amortization instead of asserting it: drive the
ExactSubstr gram-index family trigger by trigger with the DEFAULT
``maybe_compact`` policy (max_small_files=8) deciding when to
compact, and record per trigger

- ingest wall (the foreachBatch body: corpus append + index fold,
  probes reading the bucketed base co-located),
- maintenance wall and whether index/corpus compaction actually
  FIRED (the amortized term, paid on the policy's cadence only),
- live index file count (the invariant the policy exists to bound).

Claims the output supports:
1. per-trigger ingest wall is FLAT (quartile medians) — the trigger
   cost is batch-sized, not corpus-sized;
2. compaction fires on a bounded cadence (every ~k triggers, k set
   by adds-per-trigger vs max_small_files), and with a graduation
   cutoff below the output target each fire's txlog rewrite moves
   only the un-graduated TAIL — bounded bytes while the index grows
   linearly — not the whole index (the corpus-proportional term the
   100x probes measured is the cutoff==target degenerate case);
3. live index files stay bounded by (policy threshold + one
   trigger's adds) forever — no small-file decay;
4. the terminal removal pass after N natural-cadence triggers still
   equals the batch recount answer (asserted, not sampled).

Duplicate structure: every odd trigger re-sends the previous slice's
text under fresh ids, so saturation promotions (the c=2 marker join)
stay exercised throughout.

Run: python probes/steady_state.py [sf_dir] [n_triggers]
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

from eeg_data_lake_spark.session import get_spark  # noqa: E402
from eeg_data_lake_spark.sources.indexproj import (  # noqa: E402
    bucketize_index,
    compact_index,
)
from eeg_data_lake_spark.sources.txlog import TxTable, maybe_compact  # noqa: E402
from eeg_data_lake_spark.streaming.exactsubstr import (  # noqa: E402
    GRAM_KEYS,
    exact_substring_removal,
    gram_index_table,
    ingest_batch_writer,
)
from eeg_data_lake_spark.workload.curation import (  # noqa: E402
    ESD_DUP_THRESHOLD,
    esd_grams,
    esd_remove,
)

N_BUCKETS = 8
#: the index policy threshold. A trigger's index appends produce up
#: to ~2x N_BUCKETS small files (counts + promotion legs), so the
#: policy's fire gap is ~MAX_SMALL / adds-per-trigger triggers: at
#: the txlog default (8) the gap degenerates to every trigger at this
#: shuffle width — 32 keeps the cadence visibly amortized, which is
#: the relation the probe exists to measure, not hide.
MAX_SMALL = 32
#: scale-appropriate graduation pair (production: 128 MiB target with
#: a lower qualify cutoff). Outputs bin-packed to ~TARGET_BYTES exceed
#: SMALL_BYTES and GRADUATE — later fires rewrite only the
#: un-graduated tail, so per-fire txlog rewrite bytes stay bounded
#: while the index grows. At the library default (cutoff == target ==
#: 128 MiB) every test-scale file re-qualifies forever and each fire
#: is a full index rewrite — the corpus-proportional term the 100x
#: probes measured.
TARGET_BYTES = 256 << 10
SMALL_BYTES = 128 << 10


def loop_anchor() -> float:
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(2_000_000))
        w = time.perf_counter() - t0
        best = w if best is None else min(best, w)
    return round(best, 4)


def proj_file_sigs(spark, base: str) -> set[tuple[str, int]]:
    """(basename, size) of the live projection's data files — stable
    across the extend path's RENAME, so set-diffs isolate the bytes
    each fire actually wrote."""
    import os

    from eeg_data_lake_spark.sources.indexproj import newest_projection

    proj = newest_projection(spark, base)
    if proj is None:
        return set()
    return {
        (os.path.basename(p), os.path.getsize(p.removeprefix("file:")))
        for p in spark.table(proj[0]).inputFiles()
    }


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def batch_recount_removal(tbl: TxTable):
    """The z18-shaped BATCH answer: dup grams recounted from the full
    corpus (ignoring the maintained index), removal via the shared
    tail — the oracle the incremental path must equal."""
    docs = tbl.read().select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    )
    g = esd_grams(docs, hashed=True)
    dup = (
        g.groupBy("g")
        .agg(F.count("*").alias("t"))
        .filter(F.col("t") >= ESD_DUP_THRESHOLD)
        .select("g")
    )
    dpos = g.join(dup, "g").select("doc_id", "p")
    return esd_remove(docs, dpos)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_triggers = int(sys.argv[2]) if len(sys.argv) > 2 else 48
    spark = get_spark(
        app_name="steady-state-probe",
        shuffle_partitions=N_BUCKETS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .cache()
    )
    n_docs = docs.count()

    d = tempfile.mkdtemp(prefix="steady_probe_")
    tbl = TxTable(spark, f"{d}/corpus")
    idx = gram_index_table(spark, tbl)
    base = "steadyprobe"
    w = ingest_batch_writer(tbl, "soak", bucketed_base=base)

    def slice_df(i: int):
        return docs.filter(F.col("doc_id") % n_triggers == i)

    report = []
    for i in range(n_triggers):
        batch = slice_df(i).select(
            (F.col("doc_id") * 1000 + F.lit(2 * i)).alias("doc_id"), "text"
        )
        if i % 2 == 1:
            # re-send the previous slice's text under fresh ids so the
            # promotion path (once-seen gram recurs -> c=2 marker) is
            # live on every odd trigger
            batch = batch.unionByName(
                slice_df(i - 1).select(
                    (F.col("doc_id") * 1000 + F.lit(2 * i + 1)).alias(
                        "doc_id"
                    ),
                    "text",
                )
            )
        t0 = time.perf_counter()
        w(batch, i)
        ingest_s = round(time.perf_counter() - t0, 3)

        if i == 0:
            # production shape: the co-located projection exists from
            # the first maintenance window onward
            bucketize_index(
                gram_index_table(spark, tbl),
                base,
                GRAM_KEYS,
                n_buckets=N_BUCKETS,
            )

        # the rewrite-candidate set a fire would move: files still
        # under the graduation cutoff
        pre = idx._replay().stats
        small_bytes = sum(
            int(s.get("bytes", 0))
            for s in pre.values()
            if int(s.get("bytes", 0)) < SMALL_BYTES
        )
        index_bytes = sum(int(s.get("bytes", 0)) for s in pre.values())

        proj_sigs_pre = proj_file_sigs(spark, base)

        t0 = time.perf_counter()
        idx_v = compact_index(
            gram_index_table(spark, tbl),
            base,
            GRAM_KEYS,
            n_buckets=N_BUCKETS,
            max_small_files=MAX_SMALL,
            target_file_bytes=TARGET_BYTES,
            small_file_bytes=SMALL_BYTES,
            vacuum_keep_versions=2,
        )
        corpus_v = maybe_compact(tbl, max_small_files=MAX_SMALL)
        maint_s = round(time.perf_counter() - t0, 3)

        # the projection leg's refresh cost: bytes in files that are
        # NEW this fire. extend (tail-bounded append+rename) keeps
        # every old file, so its written bytes are the tail's; a full
        # re-bucketize replaces the whole set (index-sized)
        proj_sigs_post = proj_file_sigs(spark, base)
        proj_written = sum(sz for s_, sz in proj_sigs_post - proj_sigs_pre)
        if idx_v is None:
            proj_mode = None
        elif proj_sigs_pre <= proj_sigs_post:
            proj_mode = "extend"
        else:
            proj_mode = "rebuild"

        post = idx._replay().stats
        row = {
            "trigger": i,
            "ingest_s": ingest_s,
            "maint_s": maint_s,
            "index_compacted": idx_v is not None,
            "corpus_compacted": corpus_v is not None,
            "live_index_files": len(post),
            "index_bytes": index_bytes,
            "rewrite_candidate_bytes": small_bytes,
            "graduated_files": sum(
                1
                for s in post.values()
                if int(s.get("bytes", 0)) >= SMALL_BYTES
            ),
            "proj_mode": proj_mode,
            "proj_written_bytes": proj_written,
            "proj_files": len(proj_sigs_post),
            "loop_anchor_s": loop_anchor() if i % 12 == 0 else None,
        }
        report.append(row)
        print(json.dumps(row), flush=True)

    # terminal correctness: incremental removal == batch recount
    inc = exact_substring_removal(tbl)
    bat = batch_recount_removal(tbl)
    inc_rows = sorted(map(tuple, inc.collect()))
    bat_rows = sorted(map(tuple, bat.collect()))
    assert inc_rows == bat_rows, "terminal removal diverged from recount"

    # triggers 0-1 are warm-up (projection mint + first codegen); the
    # flatness claim is about steady state
    steady = report[2:]
    q = max(1, len(steady) // 4)
    ingest = [r["ingest_s"] for r in steady]
    fires = [r["trigger"] for r in report if r["index_compacted"]]
    fire_walls = [r["maint_s"] for r in report if r["index_compacted"]]
    gaps = [b - a for a, b in zip(fires, fires[1:])]
    print(
        json.dumps(
            {
                "summary": "steady-state soak (natural policy)",
                "sf_dir": sf_dir,
                "docs_per_trigger": n_docs // n_triggers,
                "triggers": n_triggers,
                "ingest_q1_median_s": round(median(ingest[:q]), 3),
                "ingest_q4_median_s": round(median(ingest[-q:]), 3),
                "flatness_q4_over_q1": round(
                    median(ingest[-q:]) / max(median(ingest[:q]), 1e-9), 2
                ),
                "index_compactions": len(fires),
                "compaction_gap_triggers": {
                    "min": min(gaps) if gaps else None,
                    "median": median(gaps) if gaps else None,
                },
                "maint_fired_median_s": round(median(fire_walls), 3)
                if fires
                else None,
                "maint_fired_first_s": fire_walls[0] if fires else None,
                "maint_fired_last_s": fire_walls[-1] if fires else None,
                "maint_idle_median_s": round(
                    median(
                        [
                            r["maint_s"]
                            for r in report
                            if not r["index_compacted"]
                        ]
                    ),
                    3,
                ),
                "max_live_index_files": max(
                    r["live_index_files"] for r in report
                ),
                # the amortization in bytes: what fires actually moved
                # (txlog leg) vs how big the index had grown — bounded
                # tail vs linear growth is the production claim
                "fire_rewrite_bytes": [
                    r["rewrite_candidate_bytes"]
                    for r in report
                    if r["index_compacted"]
                ],
                "index_bytes_first_last": [
                    report[0]["index_bytes"],
                    report[-1]["index_bytes"],
                ],
                "graduated_files_final": report[-1]["graduated_files"],
                # the projection leg, per fire: mode (extend = tail-
                # bounded append+rename, rebuild = graduation's full
                # re-bucketize) and bytes each fire wrote — the term
                # that WAS index-∝ before extend_projection landed
                "proj_fire_modes": [
                    r["proj_mode"] for r in report if r["index_compacted"]
                ],
                "proj_fire_written_bytes": [
                    r["proj_written_bytes"]
                    for r in report
                    if r["index_compacted"]
                ],
                "proj_files_final": report[-1]["proj_files"],
                "terminal_rows": len(inc_rows),
                "terminal_equals_batch_recount": True,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
