"""Measurement helpers: spans, Spark's status store and listeners,
process memory and on-disk table sizes.

Nothing here reaches inside the package under test. Spans are taken
around calls into its public functions (``Tracer.wrap`` swaps a
module or class attribute for a timing wrapper for the length of a
traced block); everything else is read from Spark's own AppStatusStore,
its QueryExecutionListener and StreamingQueryListener events, ``/proc``
and the file system.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

# --------------------------------------------------------------- spans


class Tracer:
    """In-memory spans: [name, start, end, parent, op]. Disabled, a
    span is a no-op, so the same workload code runs traced and
    untraced."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[list] = []
        self.op: int | None = None
        self.root: int | None = None
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        # spans opened on a thread the benchmark did not start (py4j
        # callbacks, staging pools) hang off the op they ran under
        parent = stack[-1] if stack else self.root
        sid = len(self.spans)
        rec = [name, time.perf_counter(), None, parent, self.op]
        self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            stack.pop()

    @contextmanager
    def op_span(self, op: int):
        """The root span of one op; nested spans carry its id."""
        self.op = op
        with self.span("op"):
            if self.enabled:
                self.root = len(self.spans) - 1
            try:
                yield
            finally:
                self.root = None

    def wrap(self, owner, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as a ``name`` span until
        ``unwrap``; ``owner`` is a module or a class."""
        orig = getattr(owner, attr)
        tracer = self

        def timed(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        timed.__wrapped__ = orig
        setattr(owner, attr, timed)
        self._patches.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def totals(self, name: str) -> tuple[int, float]:
        """(count, summed duration) of the finished ``name`` spans."""
        durs = [s[2] - s[1] for s in self.spans if s[0] == name and s[2]]
        return len(durs), sum(durs)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span
        its children cover (children may overlap when they ran on
        several threads, so their union is subtracted)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s[3] is not None and s[2]:
                kids.setdefault(s[3], []).append((s[1], s[2]))
        out: dict[str, float] = {}
        for i, (name, start, end, _parent, _op) in enumerate(self.spans):
            if not end:
                continue
            covered = 0.0
            cur_s = cur_e = None
            for a, b in sorted(kids.get(i, [])):
                a, b = max(a, start), min(b, end)
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[name] = out.get(name, 0.0) + (end - start) - covered
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": n, "start": s, "end": e, "parent": p, "op": o}
            for n, s, e, p, o in self.spans
        ]


# ------------------------------------------------------- Spark's stores


_UNIT = {
    "ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0,
    "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}
_VALUE_RX = re.compile(r"([\d.,]+)\s*([A-Za-zµ]+)?")

#: SQL metric name of the Python-eval nodes → per-layer metric
PYTHON_SQL_METRICS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}


def parse_sql_metric(text: str) -> float:
    """The total of a formatted SQL metric: "4.0 s (975 ms, ...)" or
    "total (min, med, max ...)\\n44.5 KiB (...)" → seconds or bytes."""
    line = text.strip().splitlines()[-1]
    m = _VALUE_RX.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2) or "B", 1)


class SparkProbe:
    """Snapshot-diff reader of the AppStatusStore plus the listeners
    that see what the store does not keep (Catalyst phase times,
    streaming trigger progress)."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.phases: list[dict[str, float]] = []
        self.progress: list[dict] = []
        self.collect_phases = False
        self._phases_registered = False
        ensure_callback_server_started(self.sc._gateway)
        self._add_listeners()

    def _add_listeners(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        probe = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                probe.progress.append(
                    {"rows": p.numInputRows, "ms": dict(p.durationMs)}
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        class Phases:
            def onSuccess(self, func_name, qe, duration_ns):
                if probe.collect_phases:
                    probe.phases.append(phase_seconds(qe.tracker()))

            def onFailure(self, func_name, qe, exc):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        # trigger progress is needed untraced too (trigger_p50_s); the
        # per-execution Catalyst callback only while a block is traced
        self.spark.streams.addListener(Progress())
        self._phases = Phases()

    def catalyst(self, on: bool) -> None:
        """Start or stop collecting Catalyst phase times. The listener
        is registered on first use and never removed (py4j hands the
        JVM a fresh proxy per call, so unregister would miss it);
        untraced blocks must run before it exists."""
        if on and not self._phases_registered:
            self.spark._jsparkSession.listenerManager().register(self._phases)
            self._phases_registered = True
        self.drain()
        self.collect_phases = on

    def drain(self) -> None:
        """Wait until every posted listener event has been delivered."""
        self.jsc.listenerBus().waitUntilEmpty()

    def _stages(self) -> dict[tuple[int, int], tuple]:
        jvm = self.sc._jvm
        stages = self.jsc.statusStore().stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        out = {}
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            out[(s.stageId(), s.attemptId())] = (
                s.numTasks(),
                s.executorRunTime() / 1e3,
                s.executorCpuTime() / 1e9,
                s.jvmGcTime() / 1e3,
                s.shuffleWriteBytes(),
                s.shuffleReadBytes(),
                s.memoryBytesSpilled() + s.diskBytesSpilled(),
            )
        return out

    def job_count(self) -> int:
        self.drain()
        return self.jsc.statusStore().jobsList(
            self.sc._jvm.java.util.ArrayList()
        ).size()

    def _executions(self) -> set[int]:
        lst = self.sql_store.executionsList()
        return {lst.apply(i).executionId() for i in range(lst.size())}

    def snapshot(self) -> dict:
        self.drain()
        return {
            "stages": self._stages(),
            "jobs": self.job_count(),
            "executions": self._executions(),
        }

    def diff(self, before: dict) -> dict[str, float]:
        """Engine counters of everything that ran since ``before``."""
        after = self.snapshot()
        new = [v for k, v in after["stages"].items() if k not in before["stages"]]
        col = list(zip(*new)) if new else [()] * 7
        out = {
            "jobs": after["jobs"] - before["jobs"],
            "stages": len(new),
            "tasks": sum(col[0]),
            "executor_run_s": sum(col[1]),
            "executor_cpu_s": sum(col[2]),
            "gc_s": sum(col[3]),
            "shuffle_write_bytes": sum(col[4]),
            "shuffle_read_bytes": sum(col[5]),
            "spill_bytes": sum(col[6]),
        }
        py = dict.fromkeys(PYTHON_SQL_METRICS.values(), 0.0)
        for eid in after["executions"] - before["executions"]:
            mets = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                mit = nodes.next().metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    key = PYTHON_SQL_METRICS.get(m.name())
                    if key is None:
                        continue
                    val = mets.get(m.accumulatorId())
                    if val.isDefined():
                        py[key] += parse_sql_metric(str(val.get()))
        out.update({f"python_{k}": v for k, v in py.items()})
        return out


def phase_seconds(tracker) -> dict[str, float]:
    """Catalyst phase durations recorded by a QueryPlanningTracker."""
    out = {}
    it = tracker.phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1e3
    return out


# ------------------------------------------------------ process, disk


def peak_rss_mb(pids: list[int]) -> float:
    """Summed high-water resident set (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def table_footprint(root: str) -> dict[str, int]:
    """Commits, data files and bytes of every txlog table under
    ``root`` (a table is a directory holding ``_txlog``)."""
    out = {"commits": 0, "files_written": 0, "data_bytes": 0, "log_bytes": 0}
    for dirpath, _dirs, files in os.walk(root):
        parts = os.path.relpath(dirpath, root).split(os.sep)
        if "_txlog" in parts:
            for f in files:
                out["log_bytes"] += os.path.getsize(os.path.join(dirpath, f))
                if re.fullmatch(r"\d+\.json", f):
                    out["commits"] += 1
        elif "data" in parts:
            for f in files:
                out["data_bytes"] += os.path.getsize(os.path.join(dirpath, f))
                if f.endswith(".parquet"):
                    out["files_written"] += 1
    return out


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
