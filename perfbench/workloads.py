"""The three workloads. Each is a single-client closed loop: the next
op starts when the previous one has returned.

A workload object has
- ``setup()``: make the seeded inputs and warm the session up;
- ``op(i)``: one timed operation; returns the latencies of the
  queries it issued;
- ``check(ops)``: verify the outputs of ops ``ops`` (run after the
  timed section) and return (checks made, checks failed, problems);
- ``layers(ops)``: the workload-specific per-layer numbers of a
  traced block.

``round_ops`` is how many ops form one indivisible round: the timed
loop only stops at a round boundary.
"""

from __future__ import annotations

import os
import random
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import lakegen
from probe import phase_seconds, quantile, table_footprint

#: headline queries that write scratch stores; the rest only read
LAKE_WRITERS = ("z25_chunkstore_lifecycle", "z29_streaming_exactsubstr_ingest")


class _Collected:
    """A collected result posing as a DataFrame for ``compare``."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - DataFrame's name
        return self.pdf


def frames_match(got: pd.DataFrame, want: pd.DataFrame, rtol: float = 1e-6) -> str | None:
    """None when the two results hold the same rows (any order, floats
    within ``rtol``); else what differs."""
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    got = got.sort_values(list(got.columns), kind="mergesort").reset_index(drop=True)
    want = want.sort_values(list(want.columns), kind="mergesort").reset_index(drop=True)
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            ok = np.isclose(g.astype(float), w.astype(float), rtol=rtol, atol=1e-9, equal_nan=True)
        else:
            ok = (g.astype(str) == w.astype(str)).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return f"{c} row {i}: {g.iloc[i]!r} != {w.iloc[i]!r}"
    return None


def _duck(sql: str, views: dict[str, list[str]]) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for name, files in views.items():
            flist = ", ".join(f"'{f}'" for f in files)
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{flist}])")
        return con.sql(sql).df()
    finally:
        con.close()


def _files(df) -> list[str]:
    return [f.removeprefix("file://") for f in df.inputFiles()]


class Workload:
    round_ops = 1
    #: directory under the scratch root holding each op's tables
    tables = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.input_bytes = 0

    def record(self) -> dict:
        """Input sizes for the host record."""
        return {}

    def workload_metrics(self, ops: list[int]) -> dict:
        """The end-to-end figures only this workload has."""
        return {}

    def wrap(self, tracer) -> None:
        """Install the spans around this workload's layer calls."""

    def layers(self, ops: list[int]) -> dict:
        return {}

    def footprint(self, ops: list[int]) -> dict[str, int]:
        """Summed on-disk footprint of the tables ops ``ops`` wrote."""
        tot: dict[str, int] = {}
        for i in ops:
            fp = table_footprint(os.path.join(self.ctx.tmp, self.tables, f"op{i}"))
            for k, v in fp.items():
                tot[k] = tot.get(k, 0) + v
        return tot

    def stored_per_input(self, ops: list[int]) -> float:
        fp = self.footprint(ops)
        return (fp["data_bytes"] + fp["log_bytes"]) / (self.input_bytes * len(ops))


# --------------------------------------------------------- lake_queries


class LakeQueries(Workload):
    """Every read-only headline query over a seeded lake, built with
    ``REGISTRY[name].spark_fn`` and executed to the noop sink."""

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        import bench
        from eeg_data_lake_spark.workload import REGISTRY

        self.registry = REGISTRY
        self.names = [n for n in bench.HEADLINE if n not in LAKE_WRITERS]
        self.round_ops = len(self.names)
        self.sf = 0.01 if ctx.size == "full" else 0.001
        self.dir = os.path.join(ctx.tmp, "lake")
        self.rng = random.Random(ctx.seed)
        self.order: list[str] = []
        self.collected: dict[str, pd.DataFrame] = {}
        self.build_jobs = 0
        self.build_analysis_s = 0.0

    def record(self) -> dict:
        return {
            "sf": self.sf,
            "queries": len(self.names),
            "rows": lakegen.lake_sizes(self.sf),
            "input_bytes": self.input_bytes,
        }

    def setup(self) -> None:
        self.input_bytes = lakegen.write_lake(self.dir, self.sf, self.ctx.seed)
        # warm-up: every query once, cold, collected for the checks
        for name in self.names:
            self.collected[name] = self.registry[name].spark_fn(
                self.spark, self.dir
            ).toPandas()

    def _next_name(self, i: int) -> str:
        if i % self.round_ops == 0:
            self.order = self.names[:]
            self.rng.shuffle(self.order)
        return self.order[i % self.round_ops]

    def op(self, i: int) -> list[float]:
        name = self._next_name(i)
        tr = self.tracer
        t0 = time.perf_counter()
        if tr.enabled:
            jobs = self.ctx.probe.job_count()
        with tr.span("workload.build"):
            df = self.registry[name].spark_fn(self.spark, self.dir)
        if tr.enabled:
            self.build_jobs += self.ctx.probe.job_count() - jobs
            tracker = df._jdf.queryExecution().tracker()
            self.build_analysis_s += phase_seconds(tracker).get("analysis", 0.0)
        with tr.span("spark.execute"):
            df.write.format("noop").mode("overwrite").save()
        return [time.perf_counter() - t0]

    def check(self, ops: list[int]) -> tuple[int, int, list[str]]:
        import oracle_utils

        events = pq.ParquetFile(os.path.join(self.dir, "events.parquet")).metadata.num_rows
        expected_rows = {"q94_bandpass_user_series": events, "q98_text_embedding_topk": 15}
        problems: list[str] = []
        for name in self.names:
            got = self.collected[name]
            oracle = self.registry[name].oracle
            if oracle:
                want = oracle_utils.run_oracle(oracle, self.dir)
                problems += oracle_utils.compare(_Collected(got), want, name)
            elif len(got) != expected_rows[name]:
                problems.append(f"{name}: {len(got)} rows, expected {expected_rows[name]}")
        # compare also reports floats equal within 1e-9 but not bit-equal
        # ("hash risk"); those answers are right, so they are only listed
        wrong = [p for p in problems if not p.endswith("(hash risk)")]
        failed = len({p.split(":")[0].split(".")[0] for p in wrong})
        return len(self.names), failed, problems

    def wrap(self, tracer) -> None:
        import sys

        from eeg_data_lake_spark.sources import readers

        orig = readers.read_testdata
        for mod in list(sys.modules.values()):
            if (mod is not None and getattr(mod, "__name__", "").startswith("eeg_data_lake_spark")
                    and getattr(mod, "read_testdata", None) is orig):
                tracer.wrap(mod, "read_testdata", "sources.readers")

    def layers(self, ops: list[int]) -> dict:
        return {
            "workload.build_s": self.tracer.totals("workload.build")[1],
            "workload.build_jobs": self.build_jobs,
            "build_analysis_s": self.build_analysis_s,
        }


# ------------------------------------------------------------ medallion

#: name → (tables read, SQL); the same SQL runs on DuckDB as the check
MEDALLION_QUERIES = {
    "channel_summary": (("gold_tc",), (
        "SELECT channel, count(*) AS n, avg(mean_value) AS m, avg(std_value) AS s "
        "FROM gold_tc GROUP BY channel"
    )),
    "top_p95": (("gold_tc",), (
        "SELECT trial_id, channel, p95_value FROM gold_tc "
        "ORDER BY p95_value DESC, trial_id, channel LIMIT 20"
    )),
    "epoch_profile": (("gold_ep",), (
        "SELECT channel, epoch_id, avg(rms) AS rms, avg(hj_mobility) AS mob, "
        "avg(zcr) AS zcr FROM gold_ep GROUP BY channel, epoch_id"
    )),
    "qc_flags": (("gold_ep",), (
        "SELECT channel, sum(CASE WHEN flatline_flag OR highvar_flag THEN 1 ELSE 0 END) "
        "AS flagged, count(*) AS n FROM gold_ep GROUP BY channel"
    )),
    "silver_band": (("silver",), (
        "SELECT channel, count(*) AS n, avg(z) AS mz, stddev_samp(value_filt) AS sf "
        "FROM silver GROUP BY channel"
    )),
    "trial_complexity": (("gold_tc", "gold_ep"), (
        "SELECT t.synset, t.channel, avg(e.hj_complexity) AS cx FROM gold_tc t "
        "JOIN gold_ep e ON t.trial_id = e.trial_id AND t.channel = e.channel "
        "GROUP BY t.synset, t.channel"
    )),
}
TIERS = ("bronze", "silver", "gold_tc", "gold_ep")


class Medallion(Workload):
    """Raw MindBigData CSVs → bronze → silver (z-score + band-pass) →
    two gold feature tables, each tier appended to its own txlog
    table; then interactive queries over the tiers."""

    #: a fixed op count per run keeps the query-latency sample the same
    #: mix of queries from run to run
    round_ops = 3
    tables = "medallion"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.files, self.seconds = (40, 8) if ctx.size == "full" else (6, 2)
        self.raw = os.path.join(ctx.tmp, "raw")
        self.rng = random.Random(ctx.seed)
        self.walls: dict[int, float] = {}
        self.collected: dict[int, dict[str, pd.DataFrame]] = {}

    def record(self) -> dict:
        return {
            "files": self.files,
            "seconds_per_file": self.seconds,
            "samples": self.samples,
            "input_bytes": self.input_bytes,
        }

    def setup(self) -> None:
        self.samples, self.input_bytes = lakegen.write_eeg_csvs(
            self.raw, self.files, self.seconds, self.ctx.seed
        )
        self.op(-1)

    def _tables(self, i: int) -> dict:
        from eeg_data_lake_spark.sources.txlog import TxTable

        base = os.path.join(self.ctx.tmp, "medallion", f"op{i}")
        return {t: TxTable(self.spark, os.path.join(base, t)) for t in TIERS}

    def op(self, i: int) -> list[float]:
        from eeg_data_lake_spark.pipeline import (
            bronze_from_lines,
            gold_epoch_features,
            gold_trial_channel,
            silver_bandpass,
            silver_from_bronze,
        )

        tr = self.tracer
        # each op ingests its own directory of (hard-linked) raw files
        src = os.path.join(self.ctx.tmp, "incoming", f"op{i}")
        os.makedirs(src)
        for f in os.listdir(self.raw):
            os.link(os.path.join(self.raw, f), os.path.join(src, f))
        t = self._tables(i)
        t0 = time.perf_counter()
        with tr.span("pipeline.bronze"):
            t["bronze"].append(bronze_from_lines(self.spark, src))
        with tr.span("pipeline.silver"):
            t["silver"].append(silver_bandpass(silver_from_bronze(t["bronze"].read())))
        with tr.span("pipeline.gold"):
            t["gold_tc"].append(gold_trial_channel(t["silver"].read()))
            t["gold_ep"].append(gold_epoch_features(t["silver"].read()))
        self.walls[i] = time.perf_counter() - t0
        lat = []
        got = {}
        names = list(MEDALLION_QUERIES)
        self.rng.shuffle(names)
        for q in names:
            views, sql = MEDALLION_QUERIES[q]
            q0 = time.perf_counter()
            with tr.span("query"):
                for name in views:
                    t[name].read().createOrReplaceTempView(name)
                got[q] = self.spark.sql(sql).toPandas()
            lat.append(time.perf_counter() - q0)
        self.collected[i] = got
        return lat

    def _tier_stats(self, i: int) -> dict:
        t = self._tables(i)
        b = t["bronze"].read().count()
        s = t["silver"].read().selectExpr("count(*) AS n", "avg(z) AS mz").first()
        tc = t["gold_tc"].read().selectExpr(
            "count(*) AS n", "count(DISTINCT trial_id, channel) AS k"
        ).first()
        ep = t["gold_ep"].read().selectExpr(
            "count(*) AS n", "count(DISTINCT trial_id, channel, epoch_id) AS k"
        ).first()
        return {"bronze": b, "silver": s.n, "mean_z": s.mz, "tc": tc, "ep": ep}

    def check(self, ops: list[int]) -> tuple[int, int, list[str]]:
        problems: list[str] = []
        checks = failed = 0
        trials = self.files * len(lakegen.EEG_CHANNELS)
        epochs = trials * self.seconds * 2  # 0.5 s buckets
        self.stats = {}
        for i in ops:
            st = self.stats[i] = self._tier_stats(i)
            bad = []
            if st["bronze"] != self.samples:
                bad.append(f"bronze rows {st['bronze']} != {self.samples}")
            if abs(st["mean_z"]) > 1e-6:
                bad.append(f"silver mean z {st['mean_z']}")
            if not st["tc"].n == st["tc"].k == trials:
                bad.append(f"gold_tc rows {st['tc']} != {trials}")
            if not st["ep"].n == st["ep"].k == epochs:
                bad.append(f"gold_ep rows {st['ep']} != {epochs}")
            t = self._tables(i)
            views = {n: _files(t[n].read()) for n in TIERS[1:]}
            for q, got in self.collected[i].items():
                diff = frames_match(got, _duck(MEDALLION_QUERIES[q][1], views))
                if diff:
                    bad.append(f"{q}: {diff}")
            checks += 1 + len(self.collected[i])
            failed += len(bad)
            problems += [f"op{i} {p}" for p in bad]
        return checks, failed, problems

    def workload_metrics(self, ops: list[int]) -> dict:
        return {
            "medallion_samples_per_s": quantile(
                [self.samples / self.walls[i] for i in ops], 0.5
            ),
            "stored_bytes_per_input_byte": self.stored_per_input(ops),
        }

    def layers(self, ops: list[int]) -> dict:
        out = {f"pipeline.{t}_s": self.tracer.totals(f"pipeline.{t}")[1]
               for t in ("bronze", "silver", "gold")}
        out["pipeline.silver_keep_ratio"] = sum(
            self.stats[i]["silver"] for i in ops
        ) / sum(self.stats[i]["bronze"] for i in ops)
        out.update({f"sources.txlog.{k}": v for k, v in self.footprint(ops).items()})
        return out


# -------------------------------------------------------- stream_ingest

STREAM_QUERIES = {
    "corpus_count": "SELECT count(*) AS n, count(DISTINCT doc_id) AS d FROM corpus",
    "dup_grams": (
        "SELECT count(*) AS n FROM (SELECT g FROM grams GROUP BY g "
        "HAVING sum(c) >= 2) x"
    ),
    "token_stats": (
        "SELECT count(*) AS n, sum(size(split(text, ' '))) AS tokens FROM corpus"
    ),
    "longest_docs": (
        "SELECT doc_id, size(split(text, ' ')) AS n FROM corpus "
        "ORDER BY n DESC, doc_id LIMIT 10"
    ),
}


class StreamIngest(Workload):
    """A seeded corpus split into batch files, drained by
    ``stream_exactsubstr_ingest`` one file per trigger into a corpus
    txlog table plus its gram index; then ``exact_substring_removal``
    and interactive queries over the ingested tables."""

    tables = "stream"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.docs, self.n_files = (3400, 34) if ctx.size == "full" else (120, 4)
        self.query_rounds = 2 if ctx.size == "full" else 1
        self.batches = os.path.join(ctx.tmp, "batches")
        self.walls: dict[int, float] = {}
        self.triggers: dict[int, list[dict]] = {}
        self.collected: dict[int, dict[str, pd.DataFrame]] = {}
        self.rng = random.Random(ctx.seed)

    def record(self) -> dict:
        return {
            "docs": self.docs,
            "batch_files": self.n_files,
            "dup_share": 0.2,
            "input_bytes": self.input_bytes,
        }

    def setup(self) -> None:
        self.corpus_table = lakegen.make_corpus(self.docs, self.ctx.seed)
        self.corpus = self.corpus_table.to_pandas()
        os.makedirs(self.batches)
        per = -(-self.docs // self.n_files)
        for j in range(self.n_files):
            path = os.path.join(self.batches, f"batch-{j:04d}.parquet")
            pq.write_table(self.corpus_table.slice(j * per, per), path)
            self.input_bytes += os.path.getsize(path)
        self.queries = dict(STREAM_QUERIES)
        self.lookups = {}
        for k in range(3):
            ids = sorted(self.rng.sample(range(self.docs), min(20, self.docs)))
            self.lookups[f"doc_lookup{k}"] = ids
            self.queries[f"doc_lookup{k}"] = (
                f"SELECT doc_id, text FROM corpus WHERE doc_id IN ({', '.join(map(str, ids))})"
            )
        self.op(-1, files=min(3, self.n_files), rounds=1)

    def _table(self, i: int):
        from eeg_data_lake_spark.sources.txlog import TxTable

        return TxTable(self.spark, os.path.join(self.ctx.tmp, "stream", f"op{i}", "corpus"))

    def op(self, i: int, files: int | None = None, rounds: int | None = None) -> list[float]:
        from eeg_data_lake_spark.streaming.exactsubstr import (
            exact_substring_removal,
            gram_index_table,
            stream_exactsubstr_ingest,
        )

        tr = self.tracer
        base = os.path.join(self.ctx.tmp, "stream", f"op{i}")
        src = os.path.join(base, "incoming")
        os.makedirs(src)
        for f in sorted(os.listdir(self.batches))[:files]:
            os.link(os.path.join(self.batches, f), os.path.join(src, f))
        tbl = self._table(i)
        first = len(self.ctx.probe.progress)
        t0 = time.perf_counter()
        with tr.span("streaming.drain"):
            stream_exactsubstr_ingest(
                self.spark, src, "doc_id bigint, text string", tbl,
                os.path.join(base, "checkpoint"), sink_id=f"perfbench-{i}",
            )
        got = {}
        with tr.span("streaming.removal"):
            got["removal"] = exact_substring_removal(tbl).toPandas()
        self.walls[i] = time.perf_counter() - t0
        self.ctx.probe.drain()
        self.triggers[i] = [p for p in self.ctx.probe.progress[first:] if p["rows"] > 0]
        # the interactive reads a user issues against the fresh corpus,
        # a few rounds of each
        lat = []
        for _ in range(rounds or self.query_rounds):
            names = list(self.queries)
            self.rng.shuffle(names)
            for q in names:
                q0 = time.perf_counter()
                with tr.span("query"):
                    tbl.read().createOrReplaceTempView("corpus")
                    gram_index_table(self.spark, tbl).read().createOrReplaceTempView("grams")
                    got[q] = self.spark.sql(self.queries[q]).toPandas()
                lat.append(time.perf_counter() - q0)
        self.collected[i] = got
        return lat

    def check(self, ops: list[int]) -> tuple[int, int, list[str]]:
        from eeg_data_lake_spark.streaming.exactsubstr import gram_index_table
        from eeg_data_lake_spark.workload import REGISTRY

        lake = os.path.join(self.ctx.tmp, "docs")
        os.makedirs(lake, exist_ok=True)
        pq.write_table(self.corpus_table, os.path.join(lake, "documents.parquet"))
        # the batch ExactSubstr operator over the same documents
        want_removal = REGISTRY["z18_exact_substring_dedup"].spark_fn(
            self.spark, lake
        ).toPandas()
        n_tok = self.corpus.text.str.split(" ").map(len)
        longest = (
            pd.DataFrame({"doc_id": self.corpus.doc_id, "n": n_tok})
            .sort_values(["n", "doc_id"], ascending=[False, True])
            .head(10)
        )
        fixed = {
            "corpus_count": pd.DataFrame({"n": [self.docs], "d": [self.docs]}),
            "token_stats": pd.DataFrame({"n": [self.docs], "tokens": [int(n_tok.sum())]}),
            "longest_docs": longest,
            **{q: self.corpus[self.corpus.doc_id.isin(ids)] for q, ids in self.lookups.items()},
        }
        problems: list[str] = []
        checks = failed = 0
        for i in ops:
            got = self.collected[i]
            grams = _files(gram_index_table(self.spark, self._table(i)).read())
            want = {
                "removal": want_removal,
                "dup_grams": _duck(STREAM_QUERIES["dup_grams"], {"grams": grams}),
                **fixed,
            }
            for q, w in want.items():
                diff = frames_match(got[q], w)
                checks += 1
                if diff:
                    failed += 1
                    problems.append(f"op{i} {q}: {diff}")
        return checks, failed, problems

    def workload_metrics(self, ops: list[int]) -> dict:
        trig = [p["ms"].get("triggerExecution", 0) / 1e3 for i in ops for p in self.triggers[i]]
        return {
            "stream_docs_per_s": quantile([self.docs / self.walls[i] for i in ops], 0.5),
            "trigger_p50_s": quantile(trig, 0.5),
            "stored_bytes_per_input_byte": self.stored_per_input(ops),
        }

    def layers(self, ops: list[int]) -> dict:
        trig = [p["ms"] for i in ops for p in self.triggers[i]]

        def total(key: str) -> float:
            return sum(m.get(key, 0) for m in trig) / 1e3

        removed = sum(int(self.collected[i]["removal"].n_removed.sum()) for i in ops)
        tokens = sum(int(self.collected[i]["removal"].n_tokens.sum()) for i in ops)
        out = {
            "streaming.triggers": len(trig),
            "streaming.trigger_s": total("triggerExecution"),
            "streaming.add_batch_s": total("addBatch"),
            "streaming.planning_s": total("queryPlanning"),
            "streaming.wal_commit_s": total("walCommit"),
            "streaming.removal_s": self.tracer.totals("streaming.removal")[1],
            "streaming.removed_token_ratio": removed / tokens,
        }
        out.update({f"sources.txlog.{k}": v for k, v in self.footprint(ops).items()})
        return out


WORKLOADS = {
    "lake_queries": LakeQueries,
    "medallion": Medallion,
    "stream_ingest": StreamIngest,
}
