"""A minimal transaction-logged parquet table (Delta-pattern, no jar).

The reference stores every layer in Delta Lake (e.g.
/root/reference/main/silver.py:80, /root/reference/delta_bronze.py:81)
and leans on its transaction log for atomic append, MERGE and time
travel. delta-spark is not on this container's classpath, so this
module implements the same *pattern* over plain parquet — the three
properties a lakehouse table actually needs, with the same
commit-protocol shape Delta uses:

- **Atomic commit.** Data files are written to a per-commit directory
  under ``data/``; the commit point is the creation of
  ``_txlog/<version>.json`` via ``os.link`` (create-exclusive). A
  crash before the link leaves orphan data files that no reader ever
  sees; a crash after is a completed commit. There is no in-between.
- **Optimistic concurrency.** Two writers racing to version N: the
  second ``os.link`` raises FileExistsError and the loser re-reads the
  log and retries at N+1 (Delta's protocol on HDFS/ABFS; on S3 Delta
  needs a coordination service for the same step, and so would this).
- **Idempotent re-runs.** Each commit records an optional
  ``txn_id``; committing an already-logged txn_id is a no-op, so a
  retried ingest job cannot double-append (Delta's ``txn`` action;
  replaces the reference's boto3 exists-check at
  /root/reference/bronze-to-silver.py:49-54 with an engine-level
  guarantee).

Reads pin a version: ``read(version=N)`` reconstructs the file list
at N (time travel); default is the latest. Old files are retained
until ``vacuum(keep_versions=...)``.

Two further Delta behaviors are implemented on top of the same log:

- **Data skipping.** Each commit records per-file column min/max/
  null-count stats (read from the parquet footers the writer already
  produced — no extra data scan). ``read(predicates=[...])`` prunes
  the file list to those whose stats interval can satisfy the
  predicates, then re-applies the predicates as DataFrame filters, so
  correctness never depends on the stats (files without stats are
  always kept). This is Delta's ``stats``/data-skipping design: at
  100 TB the win is not reading the files at all, on top of parquet's
  own row-group pruning within files that are read.
- **OPTIMIZE (compaction).** ``compact()`` bin-packs small live files
  into target-size files and commits add+remove atomically; the table
  content is unchanged (asserted in tests), old versions stay
  time-travel readable, and a lost commit race re-validates that the
  files it wants to remove are still live (Delta's conflict
  detection) instead of blindly retrying.

Scale notes: the log is O(commits) tiny JSON files and each commit is
O(files touched) — never proportional to table size.

- **Log checkpointing.** Delta's ``_last_checkpoint`` pattern: every
  ``CHECKPOINT_INTERVAL`` commits the writer rolls the folded state
  (live files, txn ids, stats) into an atomically-renamed
  ``_txlog/_checkpoint-<version>.json``, and every replay seeds from
  the newest usable rollup and opens only the manifest TAIL after it
  — table open is O(tail), not O(versions), which is what keeps a
  thousands-of-commits streaming table's read() from becoming a
  driver-side metadata scan. Time travel below a rollup falls back to
  older rollups or a from-scratch fold (manifests are never deleted),
  and a crash anywhere around the rollup write is harmless — the
  rollup is an accelerator, never the source of truth.
- **Schema in the log.** Delta's ``metaData`` action: each commit that
  adds files records the Spark schema of those files (the footer's
  ``org.apache.spark.sql.parquet.row.metadata`` entry, made nullable
  as Spark does on read), keyed by commit directory, and every rollup
  carries the map for the live directories, storing each distinct
  schema once and each directory as an index into that list. A plain
  ``read()`` opens its sorted file list with the schema of the FIRST
  file — the footer Spark's own inference would serve — so a table
  open runs no schema-inference job. Commits whose footer entry cannot be
  reproduced, and logs written before the entry existed, fall back to
  inference. The open also raises
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` above its
  file count (restored afterwards, under a module lock), so a table
  past 32 files lists its paths in-process instead of in a Spark
  job. That is only a good trade on a POSIX filesystem, where a status
  call per path takes microseconds — which the commit protocol
  (``os.link``, ``os.listdir``) already requires; on an object store
  a wide table would want the parallel listing back.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import json
import operator
import os
import re
import shutil
import threading
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_OPS = {
    "=": operator.eq,
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
}


_Z_BITS = 8  # 256 quantile buckets per z column


def _with_zvalue(df: DataFrame, cols: list[str]) -> DataFrame:
    """Append ``__z``: the Morton (interleaved-bit) code of each row's
    rank-bucket along every column in ``cols``.

    Each column is quantile-bucketed into 2^8 ranks via
    ``approxQuantile`` cutpoints (a driver-side sketch — the data is
    never collected), then the 8-bit bucket ids are bit-interleaved
    JVM-side, so rows close in EVERY dimension get close z-values and
    a range partition on ``__z`` yields files whose min/max stats are
    tight in all dimensions at once. Quantile (not linear) bucketing
    makes the clustering skew-robust: each bucket holds ~1/256 of the
    rows regardless of the value distribution. Numeric/date columns
    only (``approxQuantile`` contract)."""
    if not cols:
        raise ValueError("zorder_by needs at least one column")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"zorder_by columns not in table: {missing}")
    n_buckets = 1 << _Z_BITS
    buckets = []
    for c in cols:
        qs = [i / n_buckets for i in range(1, n_buckets)]
        cuts = df.approxQuantile(c, qs, 0.001)
        # strictly increasing cutpoints; duplicates collapse (heavy
        # hitters occupy one bucket, which is exactly what we want)
        uniq = sorted(set(cuts))
        if not uniq:  # constant / all-null column → single bucket
            buckets.append(F.lit(0).cast("long"))
            continue
        cut_arr = F.array(*[F.lit(v) for v in uniq])
        bucket = F.aggregate(
            cut_arr,
            F.lit(0),
            lambda acc, cut: acc
            + F.when(F.col(c) > cut, F.lit(1)).otherwise(F.lit(0)),
        )
        buckets.append(F.coalesce(bucket, F.lit(0)).cast("long"))
    ncols = len(buckets)
    z = F.lit(0).cast("long")
    for bit in range(_Z_BITS):
        for j, b in enumerate(buckets):
            z = z + F.shiftleft(
                F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                bit * ncols + j,
            )
    return df.withColumn("__z", z)


def _jsonable(v):
    """Parquet-footer stat value → JSON-storable, order-preserving.

    Timestamps/dates serialize to ISO strings (lexicographic order ==
    chronological order, so interval checks still work); bytes decode
    as UTF-8 where possible, else the stat is dropped for that file.
    Decimals are dropped too: JSON has no exact form for them, and a
    rounded bound could prune a file that holds a match."""
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return None
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, float) and v != v:  # NaN poisons comparisons
        return None
    return v


def _norm(v):
    """Predicate literal → the comparison domain stats live in."""
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def _file_may_match(stats: dict | None, predicates: list[tuple]) -> bool:
    """Conservative interval check: False only when the file's stats
    PROVE no row can satisfy every predicate."""
    if not stats:
        return True
    cols = stats.get("cols", {})
    for col, op, value in predicates:
        c = cols.get(col)
        if not c or c.get("min") is None or c.get("max") is None:
            continue  # no usable stats for this column — keep the file
        lo, hi, v = c["min"], c["max"], _norm(value)
        try:
            if op == "=" and (v < lo or v > hi):
                return False
            if op in ("<", "<=") and not _OPS[op](lo, v):
                return False
            if op in (">", ">=") and not _OPS[op](hi, v):
                return False
        except TypeError:
            continue  # incomparable types — keep the file
    return True


#: footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _as_nullable(dt):
    """A Spark DataType in JSON form, nullable at every level: the
    ``asNullable`` Spark applies to a file source's schema on read
    (user-defined types stay as they are, as in Spark)."""
    if not isinstance(dt, dict):
        return dt
    kind = dt.get("type")
    if kind == "struct":
        return {
            **dt,
            "fields": [
                {**f, "nullable": True, "type": _as_nullable(f["type"])}
                for f in dt["fields"]
            ],
        }
    if kind == "array":
        return {
            **dt,
            "containsNull": True,
            "elementType": _as_nullable(dt["elementType"]),
        }
    if kind == "map":
        return {
            **dt,
            "valueContainsNull": True,
            "keyType": _as_nullable(dt["keyType"]),
            "valueType": _as_nullable(dt["valueType"]),
        }
    return dt


def _footer_schema(entry: bytes | None) -> dict | None:
    """The logged form of one footer's Spark schema entry (nullable
    JSON), or None when the entry is absent or does not survive a
    round trip through pyspark's ``StructType`` — opening with it could
    then serve a different schema than inference would, so such a
    commit is left to inference."""
    if entry is None:
        return None
    try:
        schema = _as_nullable(json.loads(entry))
        if json.loads(StructType.fromJson(schema).json()) == schema:
            return schema
    except (ValueError, KeyError, TypeError, AttributeError, ImportError):
        pass  # legacy non-JSON entry, unknown type, missing UDT class
    return None


def _schema_of(schemas: dict, files: list[str]) -> dict | None:
    """The logged schema of the sorted-first of ``files``: the footer
    Spark's inference serves for that list (None when not logged)."""
    return schemas.get(os.path.dirname(min(files)))


def _live_schemas(schemas: dict, files: list[str]) -> dict:
    dirs = {os.path.dirname(f) for f in files}
    return {d: s for d, s in schemas.items() if d in dirs}


_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_LISTING_LOCK = threading.Lock()


@contextlib.contextmanager
def _local_listing(spark: SparkSession, n_paths: int):
    """Raise the parallel-listing threshold to ``n_paths`` for one open
    so its paths are listed in-process, not in a Spark job (POSIX
    only: see the module docstring). The session's value, or its
    absence, is restored; the lock keeps concurrent opens from
    restoring each other's raised value."""
    with _LISTING_LOCK:
        prior = spark.conf.get(_LISTING_THRESHOLD, None)
        if n_paths <= int(prior or spark.conf.get(_LISTING_THRESHOLD)):
            yield
            return
        spark.conf.set(_LISTING_THRESHOLD, str(n_paths))
        try:
            yield
        finally:
            if prior is None:
                spark.conf.unset(_LISTING_THRESHOLD)
            else:
                spark.conf.set(_LISTING_THRESHOLD, prior)


#: commit ops that are pure physical rewrites (row content unchanged)
#: — invisible to every change-feed surface
REWRITE_TRANSPARENT_OPS = {"compact", "zorder"}
#: commit ops that logically rewrite rows in ways a file-action log
#: cannot express as a row-level delta
LOGICAL_REWRITE_OPS = {"overwrite", "upsert", "restore", "delete", "update"}


def _parse_iso_utc(s: str) -> datetime.datetime:
    """ISO-8601 → aware UTC datetime; accepts both the 'Z' suffix and
    '+00:00', and treats a naive timestamp as UTC (the log's clock)."""
    dt = datetime.datetime.fromisoformat(s.replace("Z", "+00:00"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=datetime.timezone.utc)
    return dt


def iter_manifests(path: str):
    """(version, manifest_path) in version order for a txlog table.
    Only all-digit names are commit manifests — `_checkpoint-*.json`
    rollups and `.tmp-*` scratch live in the same dir and are not
    part of the logical log."""
    log_dir = os.path.join(path, "_txlog")
    for n in sorted(os.listdir(log_dir)):
        if n.endswith(".json") and n[:-5].isdigit():
            yield int(n[:-5]), os.path.join(log_dir, n)


def feed_adds_between(
    path: str,
    since: int,
    to: int,
    ignore_rewrites: bool,
    ctx: str,
) -> list[tuple[int, list[str]]]:
    """The change feed's file actions in ``(since, to]`` — shared by
    TxTable.changes and the txlogcdc streaming source so commit-op
    semantics cannot diverge between the two CDC surfaces."""
    return [
        (v, m["add"])
        for v, m in _feed_manifests(path, since, to, ignore_rewrites, ctx)
    ]


def _feed_manifests(
    path: str,
    since: int,
    to: int,
    ignore_rewrites: bool,
    ctx: str,
) -> list[tuple[int, dict]]:
    """``feed_adds_between`` with each commit's whole manifest."""
    out: list[tuple[int, dict]] = []
    for v, mp in iter_manifests(path):
        if v <= since or v > to:
            continue
        with open(mp) as fh:
            m = json.load(fh)
        op = m.get("op")
        if op in REWRITE_TRANSPARENT_OPS:
            continue
        if op in LOGICAL_REWRITE_OPS:
            if not ignore_rewrites:
                raise ValueError(
                    f"{ctx}: version {v} is a {op} — row-level deltas "
                    "for logical rewrites are not recorded in this log; "
                    "pass ignore_rewrites to skip them (lossy) or "
                    "re-sync from a full read()"
                )
            continue
        if m.get("add"):
            # an append's original add-files can be deleted by a later
            # compact()+vacuum(); the scan would otherwise fail deep in
            # the parquet reader with a raw missing-path error, so
            # surface the feed-level condition (mirrors the
            # logical-rewrite message: the delta is gone, not the data)
            missing = [
                f for f in m["add"]
                if not os.path.exists(os.path.join(path, f))
            ]
            if missing:
                raise ValueError(
                    f"{ctx}: change-feed range covers version {v} whose "
                    f"files were vacuumed (e.g. {missing[0]!r}) — the "
                    "row-level delta for that range no longer exists; "
                    "re-sync from a full read()"
                )
            out.append((v, m))
    return out


class ConcurrentModificationError(RuntimeError):
    """A losing commit race invalidated this commit's remove-set
    (the files it rewrites were already removed by the winner)."""


class CheckConstraintViolation(ValueError):
    """A write's rows violate a table CHECK constraint; the write was
    aborted before its manifest existed — nothing became visible."""


@dataclass
class _Staged:
    """A completed data-write phase awaiting its manifest commit
    (``TxTable.stage`` / ``stage_upsert`` → ``commit_staged``). Until
    committed the files are invisible orphans — readers resolve file
    lists from the manifests only."""

    add: list[str]  # freshly written data files (relative paths)
    remove: list[str]  # files the commit will mark removed (upsert)
    op: str  # manifest op: "append" | "upsert"


@dataclass
class _LogState:
    version: int  # latest committed version, -1 if none
    files: list[str]  # live data files (relative paths) at `version`
    txn_ids: set[str]  # every txn_id ever committed
    stats: dict[str, dict]  # per live file: {"rows": n, "bytes": b, "cols": {...}}
    #: per live commit directory: its files' logged Spark schema (JSON)
    schemas: dict[str, dict] = field(default_factory=dict)


#: callbacks invoked with the table PATH after any commit that can
#: REWRITE schema-visible state in place: overwrite (arbitrary new
#: schema) and upsert (unionByName's implicit type promotion can
#: widen column types when the updates frame is wider-typed). Higher
#: layers register cache invalidators here (streaming/txpair.py's
#: contract-schema cache) without this module importing them —
#: listeners must be idempotent and never raise.
ON_REWRITE: list = []


def _notify_rewrite(path: str) -> None:
    for fn in ON_REWRITE:
        try:
            fn(path)
        except Exception:
            pass  # a cache invalidator must never fail a commit


class TxTable:
    """Handle to a transaction-logged parquet table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self.log_dir = os.path.join(self.path, "_txlog")
        self.data_dir = os.path.join(self.path, "data")
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # ------------------------------------------------------------- log

    #: Auto-write a rolled-up checkpoint every N commits (Delta's
    #: `_last_checkpoint` pattern). Without it, every table open folds
    #: the FULL manifest history — O(versions) driver-side JSON reads,
    #: which at a 100 TB streaming cadence (thousands of commits) turns
    #: each read() into a metadata scan. Class attribute so tests and
    #: unusual deployments can tune it per subclass/instance.
    CHECKPOINT_INTERVAL = 16

    #: Bound on commit-race retries (each retry = another writer
    #: landed a version first). Appends retry and land at the next
    #: version, Delta-style; rewrites re-validate their remove-set on
    #: every retry and raise on true conflicts. The bound exists so a
    #: pathologically contended table surfaces an error instead of an
    #: unbounded spin.
    COMMIT_RETRIES = 256

    def _checkpoint_versions(self) -> list[int]:
        out = []
        for n in os.listdir(self.log_dir):
            # \d+ not \d{8}: the writer pads with {:08d}, which emits
            # MORE digits past version 10^8 — the reader/pruner must
            # accept any width the writer can produce or rollups past
            # that point are written but never loaded (replay silently
            # degrades to O(versions) and checkpoint files accumulate)
            m = re.fullmatch(r"_checkpoint-(\d+)\.json", n)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def _load_checkpoint(self, upto: int | None) -> _LogState | None:
        """The newest rollup at or below ``upto`` (any, if None)."""
        usable = [
            v
            for v in self._checkpoint_versions()
            if upto is None or v <= upto
        ]
        if not usable:
            return None
        p = os.path.join(
            self.log_dir, f"_checkpoint-{usable[-1]:08d}.json"
        )
        try:
            with open(p) as fh:
                d = json.load(fh)
        except FileNotFoundError:
            # pruned between listing and open (concurrent writer) —
            # fold from the manifests instead
            return None
        # "schemas" maps each live directory to an index into the
        # rollup's distinct "schema_list"; older rollups map it to the
        # schema itself, and the oldest have no "schemas" at all
        shared = d.get("schema_list", [])
        return _LogState(
            d["version"],
            d["files"],
            set(d["txn_ids"]),
            d["stats"],
            {
                k: shared[s] if isinstance(s, int) else s
                for k, s in d.get("schemas", {}).items()
            },
        )

    def _write_checkpoint(self, state: _LogState) -> None:
        """Atomically persist the folded state at ``state.version``
        (tmp + fsync + rename — a crash mid-write never leaves a
        partial rollup visible) and prune all but the newest two
        rollups (older ones only accelerate deep time travel, which
        falls back to folding manifests — always correct, manifests
        are never deleted)."""
        tmp = os.path.join(
            self.log_dir, f".ckpt-tmp-{uuid.uuid4().hex[:12]}"
        )
        # each distinct schema once: a table's live directories almost
        # always share one schema
        shared: list[dict] = []
        for s in state.schemas.values():
            if s not in shared:
                shared.append(s)
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "version": state.version,
                    "files": state.files,
                    "txn_ids": sorted(state.txn_ids),
                    "stats": state.stats,
                    "schema_list": shared,
                    "schemas": {
                        d: shared.index(s) for d, s in state.schemas.items()
                    },
                },
                fh,
            )
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(
            tmp,
            os.path.join(
                self.log_dir, f"_checkpoint-{state.version:08d}.json"
            ),
        )
        for v in self._checkpoint_versions()[:-2]:
            try:
                os.unlink(
                    os.path.join(self.log_dir, f"_checkpoint-{v:08d}.json")
                )
            except FileNotFoundError:
                pass  # a concurrent writer pruned it first

    def checkpoint(self) -> int:
        """Explicitly roll the log up at the current version (the
        auto-cadence is CHECKPOINT_INTERVAL). Returns the
        checkpointed version; no-op at -1 (empty table)."""
        state = self._replay()
        if state.version >= 0:
            self._write_checkpoint(state)
        return state.version

    def _replay(self, upto: int | None = None) -> _LogState:
        """Fold the manifest actions into (live files, seen txns),
        seeding from the newest usable checkpoint so only the manifest
        TAIL after it is opened — open cost is O(tail), not
        O(versions) (pinned by a files-read assertion in
        tests/test_txlog_checkpoint.py)."""
        seed = self._load_checkpoint(upto)
        if seed is not None:
            files = list(seed.files)
            txns = set(seed.txn_ids)
            stats = dict(seed.stats)
            schemas = dict(seed.schemas)
            version = seed.version
        else:
            files, txns, stats, schemas = [], set(), {}, {}
            version = -1
        for v, manifest_path in self._manifests():
            if v <= version:
                continue  # covered by the checkpoint — never opened
            if upto is not None and v > upto:
                break
            with open(manifest_path) as fh:
                m = json.load(fh)
            live = set(files)
            live -= set(m.get("remove", []))
            live |= set(m.get("add", []))
            files = sorted(live)
            stats.update(m.get("stats", {}))
            stats = {f: s for f, s in stats.items() if f in live}
            schemas.update(m.get("schemas", {}))
            if m.get("txn_id"):
                txns.add(m["txn_id"])
            version = v
        if upto is not None and version < upto:
            raise ValueError(
                f"version {upto} does not exist (latest is {version})"
            )
        return _LogState(
            version, files, txns, stats, _live_schemas(schemas, files)
        )

    def _manifests(self):
        yield from iter_manifests(self.path)

    def version(self) -> int:
        return self._replay().version

    def has_txn(self, txn_id: str) -> bool:
        """Whether a commit carrying ``txn_id`` is already in the log —
        lets multi-table writers (e.g. chunkstore put: chunks first,
        manifests second) detect on crash-replay which legs already
        landed and skip their probe/compute work instead of re-running
        it into a replay-skipped commit."""
        return txn_id in self._replay().txn_ids

    # ---------------------------------------------------------- commit

    def _write_data(self, df: DataFrame) -> list[str]:
        commit_dir = f"commit-{uuid.uuid4().hex[:12]}"
        df.write.parquet(os.path.join(self.data_dir, commit_dir))
        out = []
        for root, _dirs, names in os.walk(os.path.join(self.data_dir, commit_dir)):
            for n in names:
                if n.endswith(".parquet"):
                    out.append(
                        os.path.relpath(os.path.join(root, n), self.path)
                    )
        return sorted(out)

    def _read_footers(
        self, relpaths: list[str]
    ) -> tuple[dict[str, dict], dict[str, dict]]:
        """Per-file row/byte counts and column min/max/null_count, and
        per-directory Spark schemas, read from the parquet footers the
        writer already produced (metadata only — no data pages
        touched). Nested/list columns and columns whose row groups
        lack statistics are simply omitted: skipping treats a missing
        entry as "might match". A directory whose files disagree on
        the schema entry gets none (its reads fall back to
        inference)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        entries: dict[str, set] = {}
        for rel in relpaths:
            full = os.path.join(self.path, rel)
            md = pq.ParquetFile(full).metadata
            entries.setdefault(os.path.dirname(rel), set()).add(
                (md.metadata or {}).get(_SPARK_SCHEMA_KEY)
            )
            cols: dict[str, dict] = {}
            per_col: dict[str, dict] = {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    name = c.path_in_schema
                    if "." in name:  # nested leaf — not a top-level scalar
                        continue
                    st = c.statistics
                    entry = per_col.setdefault(
                        name, {"min": None, "max": None, "null_count": 0, "ok": True}
                    )
                    if st is None or not st.has_min_max:
                        entry["ok"] = False
                        continue
                    try:
                        bounds = {"min": st.min, "max": st.max}
                    except pa.ArrowNotImplementedError:
                        entry["ok"] = False  # a type pyarrow cannot decode
                        continue
                    entry["null_count"] += st.null_count or 0
                    for key, pick in (("min", min), ("max", max)):
                        v = bounds[key]
                        cur = entry[key]
                        entry[key] = v if cur is None else pick(cur, v)
            for name, entry in per_col.items():
                if not entry["ok"] or entry["min"] is None:
                    continue
                mn, mx = _jsonable(entry["min"]), _jsonable(entry["max"])
                if mn is None or mx is None:
                    continue
                cols[name] = {
                    "min": mn,
                    "max": mx,
                    "null_count": entry["null_count"],
                }
            out[rel] = {
                "rows": md.num_rows,
                "bytes": os.path.getsize(full),
                "cols": cols,
            }
        schemas = {
            d: _footer_schema(next(iter(es)))
            for d, es in entries.items()
            if len(es) == 1
        }
        return out, {d: s for d, s in schemas.items() if s is not None}

    def _commit(
        self,
        add: list[str],
        remove: list[str],
        txn_id: str | None,
        op: str,
    ) -> int:
        """Create-exclusive the next manifest; retry on collision.

        On retry the remove-set is re-validated against the winner's
        log: if any file this commit rewrites is no longer live (a
        concurrent overwrite/upsert/compact removed it), raises
        ``ConcurrentModificationError`` rather than committing a
        remove of ghost files — Delta's conflict-detection behavior.
        Pure appends (empty remove) never conflict — Delta's behavior
        at the reference's append sites (delta_bronze.py:81): two
        racing appenders with disjoint content BOTH land, the loser
        simply re-reading the log and committing at the next version.
        The retry is BOUNDED (COMMIT_RETRIES): every retry means some
        OTHER writer committed, so exhausting the budget implies
        hundreds of competing commits starved this one — surfacing
        that as ConcurrentModificationError beats spinning forever on
        a pathologically contended table."""
        stats, schemas = self._read_footers(add)
        for _attempt in range(self.COMMIT_RETRIES):
            state = self._replay()
            if txn_id and txn_id in state.txn_ids:
                # idempotent replay: the work is already committed;
                # newly-written data files are orphans no reader sees
                return state.version
            if remove and not set(remove) <= set(state.files):
                raise ConcurrentModificationError(
                    f"{op} at {self.path}: files to remove are no longer "
                    "live (lost a commit race to an overwrite/compact)"
                )
            target = os.path.join(
                self.log_dir, f"{state.version + 1:08d}.json"
            )
            tmp = os.path.join(
                self.log_dir, f".tmp-{uuid.uuid4().hex[:12]}"
            )
            with open(tmp, "w") as fh:
                json.dump(
                    {
                        "op": op,
                        "add": add,
                        "remove": remove,
                        "txn_id": txn_id,
                        "stats": stats,
                        "schemas": schemas,
                        # wall-clock commit time: metadata only (no
                        # reader derives data from it) → additive and
                        # replay-safe; powers table_history/freshness
                        "committed_at": datetime.datetime.now(
                            datetime.timezone.utc
                        ).isoformat(),
                    },
                    fh,
                )
                fh.flush()
                os.fsync(fh.fileno())
            try:
                os.link(tmp, target)  # atomic create-exclusive
                new_version = state.version + 1
                if (
                    new_version > 0
                    and new_version % self.CHECKPOINT_INTERVAL == 0
                ):
                    # roll up the state we already hold folded — no
                    # extra replay. Crash before the rename is
                    # harmless: the commit stands, the rollup is only
                    # an accelerator and the next interval writes one.
                    # Same reason this is try/except: the manifest
                    # link above already SUCCEEDED, so a rollup write
                    # failing (disk full, permissions) must not
                    # propagate from a landed commit — a txn-less
                    # caller retrying "the error" would append twice.
                    live = (set(state.files) - set(remove)) | set(add)
                    new_stats = {**state.stats, **stats}
                    try:
                        self._write_checkpoint(
                            _LogState(
                                new_version,
                                sorted(live),
                                state.txn_ids
                                | ({txn_id} if txn_id else set()),
                                {
                                    f: s
                                    for f, s in new_stats.items()
                                    if f in live
                                },
                                _live_schemas(
                                    {**state.schemas, **schemas}, live
                                ),
                            )
                        )
                    except Exception:
                        pass  # accelerator only — never fail a commit
                return new_version
            except FileExistsError:
                continue  # lost the race — re-read the log, try again
            finally:
                os.unlink(tmp)
        raise ConcurrentModificationError(
            f"{op} at {self.path}: lost {self.COMMIT_RETRIES} commit "
            "races in a row — table is pathologically contended"
        )

    def _read_merged(self, relpaths: list[str]) -> DataFrame:
        """Read specific live files under additive-schema-evolution
        rules (mergeSchema): columns absent from older files surface
        as NULL. Every REWRITE path (compact/zorder/delete/update)
        must read this way — a plain multi-file read infers its schema
        from ONE footer, and rewriting evolved files through it would
        silently erase every column that footer lacks. The rewrite
        then lands union-schema files, which is content-preserving
        under the same merge-on-read rules ``read(merge_schema=True)``
        applies (and strictly safer for plain readers: the rewritten
        region becomes schema-uniform)."""
        return self._open(relpaths, merge=True)

    def _open(
        self,
        files: list[str],
        schema: dict | None = None,
        merge: bool = False,
    ) -> DataFrame:
        """Open ``files`` (relative paths) with a logged ``schema``, or
        with Spark's inference when there is none (``mergeSchema``
        with ``merge``), listing the paths in-process."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        elif merge:
            reader = reader.option("mergeSchema", "true")
        with _local_listing(self.spark, len(files)):
            return reader.parquet(
                *[os.path.join(self.path, f) for f in files]
            )

    # ------------------------------------------------------------- ops

    def append(self, df: DataFrame, txn_id: str | None = None) -> int:
        """Atomically append ``df``; replaying the same txn_id is a
        no-op. Returns the committed (or already-current) version."""
        return self.commit_staged(self.stage(df), txn_id=txn_id)

    # ----------------------------------------------- two-phase commits
    #
    # stage() runs the Spark data-write job; commit_staged() makes the
    # result visible (constraints + manifest link). The split exists
    # because the COMMIT POINT of this log is the manifest hardlink —
    # staged files are invisible orphans until then — so a multi-table
    # writer (streaming/txpair.chained_commit, chunkstore.put) can run
    # its legs' data-write jobs CONCURRENTLY (guide §2.6: overlap
    # independent jobs) and still commit the manifests in the fixed
    # crash-ordering sequence. A crash anywhere before a leg's
    # commit_staged leaves only orphan data files (vacuum reclaims
    # them); the crash/replay matrix is unchanged and property-tested
    # at both seams in tests/test_txpair.py.

    def stage(self, df: DataFrame) -> "_Staged":
        """Write ``df``'s data files without committing them. The
        returned handle is only visible to readers after
        ``commit_staged``."""
        return _Staged(self._write_data(df), [], "append")

    def stage_upsert(self, updates: DataFrame, keys: list[str]) -> "_Staged":
        """The MERGE write phase of ``upsert`` without its commit:
        survivors ⋃ updates written into fresh files against the
        CURRENT snapshot, old files recorded as the remove-set. The
        snapshot pin matters exactly as in ``upsert`` (the remove-set
        and the survivors come from one replay); a commit landing
        between stage and commit_staged fails the remove-set
        validation rather than losing rows."""
        state = self._replay()
        if state.version < 0:
            return self.stage(updates)
        survivors = self.read(version=state.version).join(
            updates, keys, "left_anti"
        )
        merged = survivors.unionByName(updates)
        return _Staged(self._write_data(merged), state.files, "upsert")

    def commit_staged(
        self, staged: "_Staged", txn_id: str | None = None
    ) -> int:
        """Make a ``stage``/``stage_upsert`` result visible: CHECK
        constraints enforced on the staged files, then the atomic
        manifest commit (idempotent on ``txn_id`` — a replayed commit
        leaves the staged files as orphans, same as append)."""
        self._enforce_constraints(staged.add, staged.op, txn_id)
        v = self._commit(staged.add, staged.remove, txn_id, staged.op)
        if staged.op in ("upsert", "overwrite"):
            _notify_rewrite(self.path)
        return v

    def overwrite(
        self,
        df: DataFrame,
        txn_id: str | None = None,
        pin_version: int | None = None,
    ) -> int:
        """Atomically replace the table's content with ``df``.

        ``pin_version`` scopes the replacement to the SNAPSHOT it
        names: only that version's files are removed, so a commit that
        landed after the snapshot (concurrent append under the
        documented optimistic concurrency) SURVIVES alongside the new
        data instead of being silently destroyed — the contract a
        read-transform-overwrite maintenance job (e.g. ANN generation
        compaction) needs, where ``df`` was derived from exactly that
        snapshot. Default (None) keeps replace-everything-current
        semantics. A competing rewrite that already removed pinned
        files still raises ConcurrentModificationError."""
        state = self._replay(upto=pin_version)
        files = self._write_data(df)
        self._enforce_constraints(files, "overwrite", txn_id)
        v = self._commit(files, state.files, txn_id, "overwrite")
        _notify_rewrite(self.path)
        return v

    def upsert(
        self,
        updates: DataFrame,
        keys: list[str],
        txn_id: str | None = None,
    ) -> int:
        """MERGE: matched keys replaced, new keys appended — implemented
        as survivors ⋃ updates into fresh files, old files logged as
        removed (still readable via time travel). Survivors come from
        the same snapshot as the remove-set (see ``stage_upsert``);
        ``commit_staged`` notifies the rewrite listeners because
        unionByName's type promotion can rewrite the table's schema in
        place (int updates column vs bigint table → merged files land
        widened) — same invalidation need as overwrite."""
        return self.commit_staged(
            self.stage_upsert(updates, keys), txn_id=txn_id
        )

    def read(
        self,
        version: int | None = None,
        predicates: list[tuple] | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """The table at ``version`` (default: latest). Empty table →
        raises (no schema to serve), matching Delta.

        ``predicates`` — ``[(col, op, value), ...]`` with op in
        ``= < <= > >=`` — prunes the file list via the manifest's
        per-file min/max stats (data skipping), then re-applies every
        predicate as a DataFrame filter so the result is correct even
        for files kept conservatively (no stats for the column).

        ``merge_schema=True`` reconciles files written with different
        (compatible) schemas — columns absent from older files read as
        null, Delta's additive schema evolution. Off by default: the
        union costs a footer read per file at planning time.

        Otherwise the open uses the schema the log records for the
        first of the files it reads — the footer Spark would infer
        from — and launches no Spark job (module docstring, "Schema in
        the log")."""
        state = self._replay(upto=version)
        if not state.files:
            raise ValueError(f"table at {self.path} has no data")
        files = state.files
        if predicates:
            files = [
                f
                for f in files
                if _file_may_match(state.stats.get(f), predicates)
            ]
            if not files:
                # all files pruned: serve an empty frame with the
                # table's schema, honoring merge_schema — under schema
                # evolution one file's footer may lack columns newer
                # files carry, and an empty frame missing them would
                # fail downstream selects only on this data-dependent
                # path. With a logged schema no file is opened: the
                # always-false filter plans to an empty relation.
                if merge_schema:
                    schema_df = self._open(state.files, merge=True)
                else:
                    schema_df = self._open(
                        state.files[:1],
                        _schema_of(state.schemas, state.files),
                    )
                return schema_df.where("1 = 0")
        schema = None if merge_schema else _schema_of(state.schemas, files)
        df = self._open(files, schema, merge_schema)
        for col, op, value in predicates or []:
            df = df.where(_OPS[op](F.col(col), F.lit(value)))
        return df

    def matching_files(
        self,
        predicates: list[tuple],
        version: int | None = None,
    ) -> list[str]:
        """The post-skipping file list for ``predicates`` (for tests
        and EXPLAIN-style introspection of pruning effectiveness)."""
        state = self._replay(upto=version)
        return [
            f
            for f in state.files
            if _file_may_match(state.stats.get(f), predicates)
        ]

    def compact(
        self,
        target_file_bytes: int = 128 << 20,
        min_file_bytes: int | None = None,
        txn_id: str | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """OPTIMIZE: bin-pack live files smaller than ``min_file_bytes``
        (default: the target size) into ~``target_file_bytes`` files.
        Content-preserving and atomic — readers see either the old or
        the new file set, never a mix; old versions stay time-travel
        readable until vacuum. Returns the new version (unchanged if
        fewer than two files qualify).

        With ``zorder_by=[c1, c2, ...]`` this is OPTIMIZE ZORDER:
        ALL live files are rewritten clustered on the interleaved-bit
        z-value of the named (numeric) columns, so each output file
        covers a tight hyper-rectangle in (c1, c2, ...) space and the
        per-file min/max stats prune multi-column range predicates —
        Delta's ``OPTIMIZE ... ZORDER BY`` (data-skipping effectiveness
        asserted in tests/test_txlog_zorder.py). Linear scan + one
        range-shuffle; the only driver-side work is ``approxQuantile``
        over the z columns (a sketch, O(1) result size)."""
        state = self._replay()
        if zorder_by:
            files = list(state.files)
            if not files:
                return state.version
            df = self._read_merged(files)
            total = sum(
                state.stats.get(f, {}).get(
                    "bytes", os.path.getsize(os.path.join(self.path, f))
                )
                for f in files
            )
            n_out = max(1, -(-total // target_file_bytes))  # ceil
            z = _with_zvalue(df, zorder_by)
            clustered = (
                z.repartitionByRange(n_out, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
            added = self._write_data(clustered)
            return self._commit(added, files, txn_id, "zorder")
        cutoff = min_file_bytes if min_file_bytes is not None else target_file_bytes
        sizes = {
            f: state.stats.get(f, {}).get(
                "bytes", os.path.getsize(os.path.join(self.path, f))
            )
            for f in state.files
        }
        small = [f for f in state.files if sizes[f] < cutoff]
        if len(small) < 2:
            return state.version
        total = sum(sizes[f] for f in small)
        n_out = max(1, -(-total // target_file_bytes))  # ceil
        df = self._read_merged(small)
        added = self._write_data(df.repartition(n_out))
        return self._commit(added, small, txn_id, "compact")

    def changes(
        self,
        since: int,
        to: int | None = None,
        ignore_rewrites: bool = False,
    ) -> DataFrame:
        """Change feed: rows INSERTED by commits in ``(since, to]`` —
        the incremental-consumer primitive (downstream gold jobs read
        only what arrived since their last checkpoint instead of
        re-scanning the table; pair with ``version()`` to persist the
        high-water mark).

        Semantics per commit op:

        - ``append``  → its added files ARE the inserted rows; emitted
          tagged with ``_commit_version``.
        - ``compact``/``zorder`` → physical rewrites, no logical
          change; always transparent (their added files are never
          emitted).
        - ``overwrite``/``upsert`` → logically rewrite rows, and this
          minimal log records file-level actions only, so the row-level
          delta is not reconstructible. Raises by default (the honest
          answer, mirroring Delta CDF on tables without change capture
          enabled); ``ignore_rewrites=True`` skips them, documented
          lossy, for consumers that reconcile via periodic full syncs.
        """
        state = self._replay()  # validates table exists, finds latest
        hi = state.version if to is None else to
        if to is not None and to > state.version:
            raise ValueError(
                f"version {to} does not exist (latest is {state.version})"
            )
        commits = _feed_manifests(
            self.path, since, hi, ignore_rewrites, f"changes({since}, {hi})"
        )
        if not commits:
            if not state.files:
                raise ValueError(f"table at {self.path} has no data")
            schema_df = self._open(
                state.files[:1], _schema_of(state.schemas, state.files)
            )
            return schema_df.withColumn(
                "_commit_version", F.lit(0).cast("long")
            ).where("1 = 0")
        # each commit's files open with that commit's logged schema
        parts = [
            self._open(
                m["add"], _schema_of(m.get("schemas", {}), m["add"])
            ).withColumn("_commit_version", F.lit(v).cast("long"))
            for v, m in commits
        ]
        out = parts[0]
        for p in parts[1:]:
            # allowMissingColumns: additively-evolved commits (the
            # merge_schema=True read path) must stay feed-readable
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def vacuum(
        self,
        keep_versions: int = 0,
        retain_after: str | None = None,
        dry_run: bool = False,
    ) -> list[str]:
        """Delete data files unreachable from the retained versions
        (and orphans from crashed commits). Retention is the UNION of
        two rules — the newest ``keep_versions + 1`` versions, plus
        (with ``retain_after``, an ISO-8601 UTC timestamp) every
        version committed at or after that instant: Delta's
        ``RETAIN n HOURS`` age rule, expressed as a cutoff so callers
        own the clock. Time travel to a vacuumed version fails cleanly.
        Returns deleted paths. ``dry_run=True`` (Delta's VACUUM ...
        DRY RUN) returns the would-be-deleted list without touching
        anything — the look-before-you-irreversibly-leap check a
        retention change wants."""
        latest = self.version()
        keep_v: set[int] = set(
            range(max(0, latest - keep_versions), latest + 1)
        )
        if retain_after is not None:
            # compare as datetimes, not strings: committed_at ends in
            # "+00:00" while callers reasonably pass a "Z" suffix, and
            # lexicographic order across the two spellings would
            # mis-sort same-second timestamps ('.' < 'Z' < '+' is not
            # chronological) and vacuum versions the cutoff retains
            cutoff = _parse_iso_utc(retain_after)
            for v, mp in iter_manifests(self.path):
                with open(mp) as fh:
                    ts = json.load(fh).get("committed_at")
                if ts is not None and _parse_iso_utc(ts) >= cutoff:
                    keep_v.add(v)
        keep: set[str] = set()
        for v in sorted(keep_v):
            keep |= set(self._replay(upto=v).files)
        deleted = []
        for root, _dirs, names in os.walk(self.data_dir):
            for n in names:
                full = os.path.join(root, n)
                rel = os.path.relpath(full, self.path)
                if n.endswith(".parquet") and rel not in keep:
                    if not dry_run:
                        os.unlink(full)
                    deleted.append(rel)
        if dry_run:
            return sorted(deleted)
        # drop now-empty commit dirs
        for d in os.listdir(self.data_dir):
            full = os.path.join(self.data_dir, d)
            if os.path.isdir(full) and not any(
                f.endswith(".parquet")
                for _r, _d, fs in os.walk(full)
                for f in fs
            ):
                shutil.rmtree(full)
        return sorted(deleted)

    def delete_where(
        self, predicates: list[tuple], txn_id: str | None = None
    ) -> int:
        """DELETE WHERE, file-pruned (Delta's DELETE): rows matching
        EVERY predicate (``[(col, op, value), ...]``, op in
        ``= < <= > >=`` — the same triples ``read`` skips on) are
        removed by rewriting ONLY the files whose min/max stats admit
        a match; every other file stays byte-identical, which at
        100 TB is the whole point — a DELETE of one user's rows from a
        ZORDERed table touches a handful of files, not the table. SQL
        DELETE semantics: a row is deleted only when the predicate
        conjunction is TRUE; NULL keeps the row. Old versions stay
        time-travel readable until vacuum (pair with vacuum for
        physical erasure — the GDPR flow proven in
        tests/test_gdpr_purge.py). Classified a logical rewrite for
        the change feed / streaming / projections. Returns the
        committed version (unchanged when stats prove no file can
        match). Constraint note: survivors are existing rows, so CHECK
        enforcement is not re-run here."""
        state = self._replay()
        if state.version < 0:
            raise ValueError(f"table at {self.path} has no data")
        affected = [
            f
            for f in state.files
            if _file_may_match(state.stats.get(f), predicates)
        ]
        if not affected:
            return state.version
        df = self._read_merged(affected)
        cond = F.lit(True)
        for col, op, value in predicates:
            cond = cond & _OPS[op](F.col(col), F.lit(value))
        survivors = df.where(~F.coalesce(cond, F.lit(False)))
        add = self._write_data(survivors)
        v = self._commit(add, affected, txn_id, "delete")
        _notify_rewrite(self.path)
        return v

    def update_where(
        self,
        predicates: list[tuple],
        set_exprs: dict[str, str],
        txn_id: str | None = None,
    ) -> int:
        """UPDATE ... SET col = expr WHERE ..., file-pruned like
        ``delete_where`` (same predicate triples, same stats pruning,
        same untouched-files guarantee). ``set_exprs`` maps existing
        column names to SQL expressions evaluated per matched row
        (they may reference any column); assigned values are cast to
        the column's current type, Delta's UPDATE resolution. Rows
        whose predicate conjunction is NULL or FALSE are rewritten
        byte-for-byte within affected files and untouched elsewhere.
        Updates mint NEW values, so CHECK constraints ARE enforced on
        the rewritten files (unlike delete, whose survivors already
        passed); a violating update aborts with nothing committed."""
        state = self._replay()
        if state.version < 0:
            raise ValueError(f"table at {self.path} has no data")
        affected = [
            f
            for f in state.files
            if _file_may_match(state.stats.get(f), predicates)
        ]
        if not affected:
            return state.version
        df = self._read_merged(affected)
        schema_cols = {fld.name: fld.dataType for fld in df.schema.fields}
        missing = [c for c in set_exprs if c not in schema_cols]
        if missing:
            raise ValueError(
                f"update_where: SET columns not in table: {missing}"
            )
        cond = F.lit(True)
        for col, op, value in predicates:
            cond = cond & _OPS[op](F.col(col), F.lit(value))
        cond = F.coalesce(cond, F.lit(False))
        # one withColumns call: every SET expression evaluates against
        # the ORIGINAL row (SQL UPDATE semantics) — a sequential
        # withColumn chain would leak earlier assignments into later
        # expressions
        updated = df.withColumns(
            {
                col: F.when(
                    cond, F.expr(expr).cast(schema_cols[col])
                ).otherwise(F.col(col))
                for col, expr in set_exprs.items()
            }
        )
        add = self._write_data(updated)
        self._enforce_constraints(add, "update", txn_id)
        v = self._commit(add, affected, txn_id, "update")
        _notify_rewrite(self.path)
        return v

    def restore(self, version: int, txn_id: str | None = None) -> int:
        """RESTORE TABLE ... TO VERSION AS OF — Delta's roll-back-by-
        rolling-forward: commit a NEW version whose live file set
        equals snapshot ``version``. History is preserved (the restore
        is itself a commit: time travel into the pre-restore states
        still works, and a bad restore is undone by restoring again).
        Purely a file-level manifest op — no data is copied or
        rewritten; the commit re-adds the files the snapshot
        referenced and removes the ones added since. Raises when a
        needed snapshot file was already vacuumed (the roll-back
        target no longer exists — Delta fails the same way; vacuum's
        docstring calls this out as the retention trade). Classified a
        LOGICAL rewrite end to end: the change feed raises across it
        (the implicit deletions have no recorded row-level delta),
        streaming sources refuse it, index projections repair by full
        rebuild, and contract caches are invalidated via the rewrite
        listeners. No-op (current version returned, nothing committed)
        when the live file set already equals the snapshot's."""
        target = self._replay(upto=version)  # raises if version absent
        cur = self._replay()
        tset, cset = set(target.files), set(cur.files)
        add = sorted(tset - cset)
        remove = sorted(cset - tset)
        missing = [
            f
            for f in add
            if not os.path.exists(os.path.join(self.path, f))
        ]
        if missing:
            raise ValueError(
                f"restore at {self.path}: version {version} references "
                f"{missing[0]!r}, which was vacuumed — that snapshot is "
                "unrecoverable"
            )
        if not add and not remove:
            return cur.version
        cons = self.check_constraints()
        if cons and add:
            # every currently-live file passed validation (at its
            # write or at constraint-add time), but the RE-ADDED
            # snapshot files may predate a constraint — restoring them
            # unchecked would resurrect violating rows. Validate
            # WITHOUT the delete-on-violation path: these files belong
            # to history and must survive for time travel.
            df = self._read_merged(add)
            for name, expr in cons.items():
                if not self._violating(df, expr).isEmpty():
                    raise CheckConstraintViolation(
                        f"restore to version {version} would resurrect "
                        f"rows violating constraint {name!r} CHECK "
                        f"({expr}); drop the constraint first"
                    )
        v = self._commit(add, remove, txn_id, "restore")
        _notify_rewrite(self.path)
        return v

    def clone_to(
        self,
        dest_path: str,
        version: int | None = None,
        txn_id: str | None = None,
    ) -> "TxTable":
        """CLONE: materialize snapshot ``version`` (default: latest)
        as an INDEPENDENT txlog table at ``dest_path`` without copying
        data — Delta's shallow clone, with hardlink isolation. Each
        live data file is hardlinked into the clone's tree (same bytes
        on disk; ``copy2`` fallback when the destination is on another
        filesystem), so either table may append / rewrite / compact /
        VACUUM afterwards without affecting the other: the filesystem
        refcount keeps shared bytes alive until BOTH sides drop them.
        That is strictly safer than Delta's path-referencing shallow
        clone, which breaks when the source vacuums. The clone starts
        a fresh history at version 0 with op ``clone`` (its provenance
        is the commit's txn_id, if given); stats are re-read from the
        shared footers. Raises when ``dest_path`` already holds a
        table or data."""
        state = self._replay(upto=version)
        if state.version < 0 or not state.files:
            raise ValueError(f"clone: table at {self.path} has no data")
        dest = TxTable(self.spark, dest_path)
        if dest._replay().version >= 0:
            raise ValueError(
                f"clone: destination {dest_path} already has commits"
            )
        for rel in state.files:
            src = os.path.join(self.path, rel)
            dst = os.path.join(dest.path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.exists(dst):
                # a CRASHED clone (links laid, no commit yet) retries
                # cleanly: its leftovers are hardlinks of our own
                # source files. Anything else at the path is foreign
                # data — refuse rather than clobber.
                if os.path.samefile(src, dst):
                    continue
                raise ValueError(
                    f"clone: destination {dest_path} already holds "
                    f"unrelated data at {rel!r}"
                )
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)  # cross-device destination
        dest._commit(list(state.files), [], txn_id, "clone")
        # table metadata travels with the clone (Delta clones copy the
        # metadata action): CHECK constraints keep enforcing at dest
        cons = self.check_constraints()
        if cons:
            dest._write_constraints(cons)
        return dest

    # ------------------------------------------------- CHECK constraints

    #: sidecar holding the table's CHECK constraints ({name: sql_expr})
    #: — the Delta `ALTER TABLE ADD CONSTRAINT` surface. Deliberately
    #: NOT versioned with the manifests (an engineering simplification
    #: over Delta's in-log metadata actions, documented here): the
    #: constraint set is current-state metadata; time travel reads old
    #: DATA under the current rules, which is also how consumers use
    #: Delta in practice.
    CONSTRAINTS_FILE = "_constraints.json"

    def check_constraints(self) -> dict[str, str]:
        """The table's CHECK constraints as {name: sql_expr} (empty
        when none were ever added)."""
        p = os.path.join(self.log_dir, self.CONSTRAINTS_FILE)
        try:
            with open(p) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    def _write_constraints(self, cons: dict[str, str]) -> None:
        tmp = os.path.join(self.log_dir, f".cons-tmp-{uuid.uuid4().hex[:12]}")
        with open(tmp, "w") as fh:
            json.dump(cons, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(self.log_dir, self.CONSTRAINTS_FILE))

    def add_check_constraint(self, name: str, expr: str) -> None:
        """ALTER TABLE ADD CONSTRAINT ``name`` CHECK (``expr``):
        every subsequent append/overwrite/upsert/merge validates its
        written rows against ``expr`` BEFORE committing — a violating
        write aborts atomically (files never become visible) with
        ``CheckConstraintViolation``. SQL-standard semantics: a row
        violates only when the expression evaluates to FALSE; NULL
        passes (use an explicit ``x IS NOT NULL`` conjunct for
        NOT-NULL intent, as in Delta).

        Like Delta, adding the constraint first validates the EXISTING
        table (one scan, pruned to the expression's columns) and
        refuses if any current row violates it.

        Concurrency scope, honestly: the sidecar lives OUTSIDE the
        manifest commit protocol (the module-level simplification
        documented at CONSTRAINTS_FILE), so constraint DDL assumes a
        single administrative writer — a data write already in flight
        when the constraint lands commits unvalidated, and two
        concurrent ADDs can lose one update. Delta closes this by
        making metadata a logged action; this log trades that for
        simplicity and documents the assumption instead. Re-adding the same
        (name, expr) is a no-op; a different expr under an existing
        name raises — drop it first."""
        from pyspark.sql import functions as F

        cons = self.check_constraints()
        if name in cons:
            if cons[name] == expr:
                return
            raise ValueError(
                f"constraint {name!r} already exists with a different "
                f"expression ({cons[name]!r}); drop it first"
            )
        F.expr(expr)  # parse now — a typo should fail here, not mid-write
        state = self._replay()
        if state.files:
            bad = self._violating(self.read(), expr)
            if not bad.isEmpty():
                raise CheckConstraintViolation(
                    f"cannot add constraint {name!r}: existing rows "
                    f"violate CHECK ({expr})"
                )
        cons[name] = expr
        self._write_constraints(cons)

    def drop_check_constraint(self, name: str) -> None:
        """ALTER TABLE DROP CONSTRAINT (missing name is a no-op, as
        with IF EXISTS)."""
        cons = self.check_constraints()
        if cons.pop(name, None) is not None:
            self._write_constraints(cons)

    @staticmethod
    def _violating(df: DataFrame, expr: str) -> DataFrame:
        from pyspark.sql import functions as F

        return df.where(
            F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
            == F.lit(False)
        )

    def _enforce_constraints(
        self, written: list[str], op: str, txn_id: str | None = None
    ) -> None:
        """Validate freshly-written (not-yet-committed) files against
        every CHECK constraint; on violation delete them and raise, so
        the failed write leaves no trace — readers can never observe a
        violating row because enforcement happens before the manifest
        exists. Cost: one column-pruned scan of the BATCH's files per
        constraint (never the table).

        An idempotent REPLAY (``txn_id`` already committed) skips
        enforcement: the commit will no-op and the files are orphans,
        and a constraint added AFTER the original commit must not turn
        the replay of an already-landed batch into an error — the
        crash-recovery path every streaming writer depends on (the
        original rows may have been overwritten away since, which is
        the only way the add-time validation could have passed)."""
        cons = self.check_constraints()
        if not cons or not written:
            return
        if txn_id and txn_id in self._replay().txn_ids:
            return
        df = self.spark.read.parquet(
            *[os.path.join(self.path, f) for f in written]
        )
        # ONE scan for the common (clean) case: OR the violation
        # conditions of every constraint; only a hit pays per-
        # constraint re-scans to name the culprit in the error
        combined = F.lit(False)
        for expr in cons.values():
            combined = combined | (
                F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
                == F.lit(False)
            )
        if df.where(combined).isEmpty():
            return
        culprit = next(
            (name, expr)
            for name, expr in cons.items()
            if not self._violating(df, expr).isEmpty()
        )
        for rel in written:
            try:
                os.unlink(os.path.join(self.path, rel))
            except OSError:
                pass  # orphan at worst; vacuum reclaims it
        raise CheckConstraintViolation(
            f"{op} at {self.path}: rows violate constraint "
            f"{culprit[0]!r} CHECK ({culprit[1]}) — write aborted, "
            "nothing committed"
        )


def table_diff(
    table: TxTable,
    v_old: int,
    v_new: int,
    keys: list[str],
) -> DataFrame:
    """Row-level diff between two versions of a keyed table:
    (keys…, op) with op ∈ {added, removed, changed} — the
    version-compare primitive audits and replication checkers run
    (Delta's CDF answers this only when change capture was on BEFORE
    the writes; the diff works retroactively on any two time-travelable
    versions).

    Plan: one null-safe full-outer join of the two snapshots on the
    key, payload equality via a 128-bit md5 over the JSON encoding of
    the non-key columns (computed per side, so wide rows never compare
    column-by-column in the join condition), unchanged rows filtered
    out. JSON — not ``xxhash64(cols…)`` — because Spark's xxhash64
    SKIPS null arguments (leaves the running seed unchanged), so
    (a=NULL,b='x') and (a='x',b=NULL) would hash identically and a
    null-position change would be reported unchanged; ``to_json``
    drops null fields by NAME, which discriminates. Cost is a join of
    the two snapshots — O(|old| + |new|), the floor for a retroactive
    diff; for continuous consumption use the change feed instead."""
    old_df, new_df = table.read(version=v_old), table.read(version=v_new)
    payload = [c for c in new_df.columns if c not in keys]
    if sorted(old_df.columns) != sorted(new_df.columns):
        raise ValueError(
            "table_diff across a schema change is not row-comparable; "
            "diff the overlapping columns explicitly"
        )

    # to_json renders timestamps at MILLIsecond precision, so a
    # sub-millisecond update would hash as unchanged — feed every
    # timestamp (top-level OR nested in struct/array/map) through
    # unix_micros (full stored precision). Only subtrees that actually
    # contain a timestamp are rewritten; everything else hashes as-is.
    from pyspark.sql import types as T

    def _has_ts(dt) -> bool:
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return True
        if isinstance(dt, T.StructType):
            return any(_has_ts(f.dataType) for f in dt.fields)
        if isinstance(dt, T.ArrayType):
            return _has_ts(dt.elementType)
        if isinstance(dt, T.MapType):
            return _has_ts(dt.keyType) or _has_ts(dt.valueType)
        return False

    def _micros(col, dt):
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            # cast: unix_micros wants TIMESTAMP; ntz converts via the
            # (UTC-pinned) session zone, same on both sides
            return F.unix_micros(col.cast("timestamp"))
        if isinstance(dt, T.StructType):
            rebuilt = F.struct(
                *[
                    _micros(col[f.name], f.dataType).alias(f.name)
                    for f in dt.fields
                ]
            )
            # a NULL struct must stay NULL (to_json drops it by name),
            # not become a struct of NULL fields
            return F.when(col.isNull(), F.lit(None)).otherwise(rebuilt)
        if isinstance(dt, T.ArrayType):
            return F.transform(col, lambda x: _micros(x, dt.elementType))
        if isinstance(dt, T.MapType):
            out = col
            if _has_ts(dt.keyType):
                out = F.transform_keys(
                    out, lambda k, _v: _micros(k, dt.keyType)
                )
            if _has_ts(dt.valueType):
                out = F.transform_values(
                    out, lambda _k, v: _micros(v, dt.valueType)
                )
            return out
        return col

    fields = {f.name: f.dataType for f in new_df.schema.fields}

    def _jsonable(c: str):
        dt = fields[c]
        if _has_ts(dt):
            return _micros(F.col(c), dt).alias(c)
        return F.col(c)

    def hashed(df: DataFrame, side: str) -> DataFrame:
        cols = [F.col(c).alias(f"{side}_{c}") for c in keys]
        h = (
            F.md5(F.to_json(F.struct(*[_jsonable(c) for c in sorted(payload)])))
            if payload
            else F.lit("")  # key-only table: rows can't be 'changed'
        )
        return df.select(*cols, h.alias(f"{side}_h"))

    o, n = hashed(old_df, "o"), hashed(new_df, "n")
    cond = None
    for k in keys:
        c = F.col(f"o_{k}").eqNullSafe(F.col(f"n_{k}"))
        cond = c if cond is None else cond & c
    joined = o.join(n, cond, "full_outer")
    # presence via the hash columns — never NULL on a present side
    # (md5-of-json, or the key-only "" literal) — NOT via keys[0]: the
    # join is null-safe precisely so NULL keys are legal, and a row
    # with keys[0]=NULL would otherwise classify as present-on-neither
    # side and silently drop out of the diff
    op = (
        F.when(F.col("o_h").isNull() & F.col("n_h").isNotNull(),
               F.lit("added"))
        .when(F.col("n_h").isNull() & F.col("o_h").isNotNull(),
              F.lit("removed"))
        .when(F.col("o_h") != F.col("n_h"), F.lit("changed"))
    )
    out_keys = [
        F.coalesce(F.col(f"o_{k}"), F.col(f"n_{k}")).alias(k) for k in keys
    ]
    return joined.select(*out_keys, op.alias("op")).filter(F.col("op").isNotNull())


def describe_detail(table: TxTable) -> DataFrame:
    """Table introspection as a DataFrame — one row per LIVE data file
    with (file, rows, bytes, n_cols) plus the per-column min/max the
    log already tracks for data skipping, flattened to JSON. The
    "DESCRIBE DETAIL"/"files()" surface operators and humans use to
    spot small-file buildup, skew, and stats coverage without touching
    the data."""
    state = table._replay()
    rows = [
        (
            f,
            int(s.get("rows", 0)),
            int(s.get("bytes", 0)),
            len(s.get("cols", {})),
            json.dumps(s.get("cols", {}), sort_keys=True, default=str),
        )
        for f, s in sorted(state.stats.items())
    ]
    return table.spark.createDataFrame(
        rows, "file string, rows long, bytes long, n_stat_cols int, col_stats string"
    )


def maybe_compact(
    table: TxTable,
    max_small_files: int = 8,
    target_file_bytes: int = 128 << 20,
    small_file_bytes: int | None = None,
    txn_id: str | None = None,
) -> int | None:
    """Policy-driven auto-compaction: OPTIMIZE only when more than
    ``max_small_files`` live files are under the small-file threshold
    (default: the target size) — the background-maintenance trigger a
    streaming ingest calls after each batch so commit latency stays
    low but the table never degrades into thousands of tiny files.
    Returns the new version when compaction ran, else None."""
    cutoff = small_file_bytes or target_file_bytes
    state = table._replay()
    small = [
        f for f, s in state.stats.items() if int(s.get("bytes", 0)) < cutoff
    ]
    if len(small) <= max_small_files:
        return None
    return table.compact(
        target_file_bytes=target_file_bytes,
        min_file_bytes=cutoff,
        txn_id=txn_id,
    )


def table_history(table: TxTable) -> DataFrame:
    """DESCRIBE HISTORY: one row per commit — version, operation,
    files added/removed, rows added, txn id, wall-clock commit time —
    read straight from the manifests (older manifests without a
    committed_at read as NULL; the field is additive). The audit/
    freshness surface every lakehouse exposes: "when did this table
    last change, and what did each commit do"."""
    rows = []
    for v, mp in iter_manifests(table.path):
        with open(mp) as fh:
            m = json.load(fh)
        rows.append(
            (
                v,
                m.get("op"),
                len(m.get("add", [])),
                len(m.get("remove", [])),
                sum(
                    int(s.get("rows", 0))
                    for f, s in (m.get("stats") or {}).items()
                ),
                m.get("txn_id"),
                m.get("committed_at"),
            )
        )
    return table.spark.createDataFrame(
        rows,
        "version int, op string, n_added_files int, n_removed_files int, "
        "n_added_rows long, txn_id string, committed_at string",
    )


def last_modified(table: TxTable) -> str | None:
    """Freshness probe: the newest commit's wall-clock time (None for
    a pre-committed_at log) — the staleness input data SLA monitors
    alert on."""
    out = None
    for _v, mp in iter_manifests(table.path):
        with open(mp) as fh:
            out = json.load(fh).get("committed_at")
    return out
