"""Benchmark of the EEG lakehouse: one command, three workloads.

    python3 perfbench/run.py --workload lake_queries --seed 1 --seconds 10 --trace 0

Runs the named workload as a single-client closed loop on a
``local[N]`` session (N = cores, at most 4), checks its outputs, and
prints as the last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the same ops
run three times after warm-up (untraced, traced, untraced) and the
metrics are the per-layer ones of the traced block. The line before it is the run
record: host, versions, seed, input sizes, the workload's own
end-to-end figures and the checks that failed. See README.md.

Everything the run writes lives under ``.perfbench_run/`` in the
checkout and is deleted at exit; a traced run also leaves its spans in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "queries_per_s": "1/s",
}

PER_LAYER = {
    "workload.build_s": "s",
    "workload.build_jobs": "count",
    "sources.readers.calls": "count",
    "sources.readers.time_s": "s",
    "spark.catalyst.analysis_s": "s",
    "spark.catalyst.optimization_s": "s",
    "spark.catalyst.planning_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.core_busy_ratio": "ratio",
    "functions.python_run_s": "s",
    "functions.python_boot_s": "s",
    "functions.python_init_s": "s",
    "functions.python_bytes_sent": "bytes",
    "functions.python_bytes_returned": "bytes",
    "pipeline.bronze_s": "s",
    "pipeline.silver_s": "s",
    "pipeline.gold_s": "s",
    "pipeline.silver_keep_ratio": "ratio",
    "sources.txlog.stage_s": "s",
    "sources.txlog.commit_s": "s",
    "sources.txlog.read_s": "s",
    "sources.txlog.commits": "count",
    "sources.txlog.files_written": "count",
    "sources.txlog.data_bytes": "bytes",
    "sources.txlog.log_bytes": "bytes",
    "streaming.triggers": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.removal_s": "s",
    "streaming.removed_token_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
}

#: cores of the local session; on small shared hosts more only adds noise
MAX_CORES = 4
#: driver JVM heap
HEAP = "1g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["lake_queries", "medallion", "stream_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="tiny: smoke-test inputs (seconds, not minutes)")
    return p.parse_args(argv)


@dataclass
class Ctx:
    """What every workload shares: session, scratch root, seed, probes."""

    spark: object
    tmp: str
    seed: int
    size: str
    tracer: object
    probe: object


def run_block(wl, tracer, first: int, seconds: float, n_ops: int | None = None):
    """Ops from index ``first`` until ``seconds`` have passed at a
    round boundary (or exactly ``n_ops``). Returns (query latencies,
    ops that succeeded, ops failed, wall seconds)."""
    lat: list[float] = []
    done: list[int] = []
    failed = 0
    i = first
    t0 = time.perf_counter()
    while True:
        n = i - first
        if n_ops is None:
            if n and n % wl.round_ops == 0 and time.perf_counter() - t0 >= seconds:
                break
        elif n == n_ops:
            break
        try:
            with tracer.op_span(i):
                lat += wl.op(i)
            done.append(i)
        except Exception:
            failed += 1
            traceback.print_exc(file=sys.stderr)
        i += 1
    return lat, done, failed, time.perf_counter() - t0


def start_session(tmp: Path, cores: int):
    from eeg_data_lake_spark.session import get_spark

    retain = "1000000"
    spark = get_spark(
        app_name="perfbench",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the heap is committed and touched up front, so the JVM's
            # resident set does not swing with when G1 grows the heap
            "spark.driver.extraJavaOptions":
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp / 'tmp'} "
                f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            # keep every job, stage and execution so snapshot diffs
            # never lose one to eviction
            "spark.ui.retainedJobs": retain,
            "spark.ui.retainedStages": retain,
            "spark.sql.ui.retainedExecutions": retain,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception:
            pass  # the JVM is already gone (e.g. killed with our group)
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    # no gateway.shutdown(): closing the callback server's sockets can
    # block forever; its threads are daemons and die with the JVM
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def host_record(args, cores: int, wl) -> dict:
    import numpy
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "master": f"local[{cores}]",
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "platform": platform.platform(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "size": args.size,
        "inputs": wl.record(),
    }


def layer_metrics(wl, tracer, probe, engine, wall_untraced, wall_traced, cores, ops):
    """Per-layer numbers of the traced block; ``wall_untraced`` is the
    mean wall of the untraced blocks around it."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    calls, secs = tracer.totals("sources.readers")
    m["sources.readers.calls"] = calls
    m["sources.readers.time_s"] = secs
    for phase in ("analysis", "optimization", "planning"):
        m[f"spark.catalyst.{phase}_s"] = sum(p.get(phase, 0.0) for p in probe.phases)
    for k, v in engine.items():
        m[("functions." if k.startswith("python_") else "spark.") + k] = v
    m["spark.core_busy_ratio"] = engine["executor_run_s"] / (wall_traced * cores)
    for leg in ("stage", "commit", "read"):
        m[f"sources.txlog.{leg}_s"] = tracer.totals(f"sources.txlog.{leg}")[1]
    own = wl.layers(ops)
    m["spark.catalyst.analysis_s"] += own.pop("build_analysis_s", 0.0)
    m.update(own)
    m["trace.overhead_ratio"] = wall_traced / wall_untraced
    return m


def _remove_orphans(scratch: Path) -> None:
    """Delete scratch roots left by runs that were killed."""
    for d in scratch.glob("*-*-*"):
        try:
            os.kill(int(d.name.rsplit("-", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, PermissionError):
            pass


def main(argv=None) -> int:
    t_start = time.perf_counter()
    # SIGTERM unwinds like an exception, so the finally below still
    # stops the JVM and deletes the scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    needed = [REPO / "eeg_data_lake_spark" / "__init__.py", REPO / "bench.py",
              REPO / "tests" / "oracle_utils.py"]
    missing = [str(p.relative_to(REPO)) for p in needed if not p.is_file()]
    if missing:
        print(f"perfbench: program under test not found: {missing}", file=sys.stderr)
        return 2

    scratch = REPO / ".perfbench_run"
    _remove_orphans(scratch)
    tmp = scratch / f"{args.workload}-{args.seed}-{os.getpid()}"
    for sub in ("tmp", "spark-local", "warehouse"):
        (tmp / sub).mkdir(parents=True)
    cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
    os.environ.update(
        TMPDIR=str(tmp / "tmp"),
        SPARK_LOCAL_DIRS=str(tmp / "spark-local"),
        SPARK_GRAFT_WAREHOUSE=str(tmp / "warehouse"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=HEAP,
    )
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path[:0] = [str(HERE), str(REPO), str(REPO / "tests")]

    from probe import SparkProbe, Tracer, peak_rss_mb, quantile
    from workloads import WORKLOADS

    spark = None
    try:
        spark = start_session(tmp, cores)
        tracer = Tracer()
        probe = SparkProbe(spark)
        ctx = Ctx(spark, str(tmp / "work"), args.seed, args.size, tracer, probe)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - t_start

        lat, ops, failed, wall = run_block(wl, tracer, 0, args.seconds)
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        rss = peak_rss_mb([os.getpid()] + ([jvm.pid] if jvm else []))
        attempted = len(ops) + failed
        record = {"host": host_record(args, cores, wl)}

        if args.trace:
            from eeg_data_lake_spark.sources.txlog import TxTable

            wl.wrap(tracer)
            for leg, attr in (("stage", "stage"), ("commit", "commit_staged"),
                              ("read", "read")):
                tracer.wrap(TxTable, attr, f"sources.txlog.{leg}")
            probe.catalyst(True)
            before = probe.snapshot()
            tracer.enabled = True
            _, t_ops, t_failed, t_wall = run_block(wl, tracer, attempted, 0, attempted)
            tracer.enabled = False
            probe.catalyst(False)
            engine = probe.diff(before)
            tracer.unwrap()
            # untraced again: the overhead compares the traced block with
            # the blocks on both sides of it, so residual warm-up cancels
            _, u_ops, u_failed, u_wall = run_block(wl, tracer, 2 * attempted, 0, attempted)
            failed += t_failed + u_failed
            attempted += len(t_ops) + t_failed + len(u_ops) + u_failed
            ops_checked = t_ops
        else:
            ops_checked = ops

        t_check = time.perf_counter()
        checks, bad, problems = wl.check(ops_checked)
        record["phases_s"] = {"setup": setup_s, "timed": wall,
                              "check": time.perf_counter() - t_check}
        if args.trace:
            record["phases_s"].update(traced=t_wall, untraced_after=u_wall)
        attempted += checks
        failed += bad
        if args.trace:
            metrics = layer_metrics(
                wl, tracer, probe, engine, (wall + u_wall) / 2, t_wall, cores, t_ops
            )
            units = PER_LAYER
            record["trace"] = {"self_s": tracer.self_times(), "spans": len(tracer.spans)}
            out = REPO / ".perfbench_out"
            out.mkdir(exist_ok=True)
            (out / f"trace-{args.workload}-{args.seed}.json").write_text(json.dumps({
                "record": record, "metrics": metrics, "spans": tracer.dump(),
                "catalyst_phases": probe.phases, "stream_progress": probe.progress,
            }))
        else:
            metrics = {
                "setup_s": setup_s,
                "peak_rss_mb": rss,
                "query_p50_s": quantile(lat, 0.5),
                "query_p90_s": quantile(lat, 0.9),
                "queries_per_s": len(lat) / sum(lat) if lat else 0.0,
            }
            units = END_TO_END
        record["query_latencies_s"] = [round(x, 4) for x in lat]
        record["workload_metrics"] = {
            "error_rate": failed / attempted,
            **wl.workload_metrics(ops),
        }
        record["problems"] = problems[:20]
    finally:
        try:
            stop_session(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                scratch.rmdir()
            except OSError:
                pass

    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
