"""JSONL shard sink with a driver-committed manifest — the WRITE side
of the Spark 4 Python DataSource API (the engine already ships a batch
reader, `sources/eegsynth.py`, and a streaming reader,
`sources/txstream.py`; this completes the surface), shaped as the
training-data EXPORT step: each task writes one `.jsonl` shard and
reports (file, rows, bytes, md5); the driver's ``commit`` writes
`_manifest.json` LAST, so a half-failed job leaves data files but no
manifest and consumers — who resolve the manifest first — never see a
torn export. ``abort`` removes the orphaned shards.

Rows are serialized with sorted keys and ISO timestamps/dates —
deterministic bytes per row, so the per-shard md5 is a real integrity
check, not a formatting lottery.

Usage::

    spark.dataSource.register(JsonlShardsDataSource)
    df.write.format("jsonlshards").mode("append") \\
        .option("path", "/out/corpus").save()
    manifest = read_manifest("/out/corpus")
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from dataclasses import dataclass
from datetime import date, datetime

from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)

MANIFEST = "_manifest.json"


def _jsonable(v):
    if hasattr(v, "asDict"):  # nested Row: asDict is shallow, recurse
        return {k: _jsonable(x) for k, x in v.asDict().items()}
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    return v


@dataclass
class ShardCommit(WriterCommitMessage):
    file: str
    rows: int
    n_bytes: int
    md5: str


class JsonlShardWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool = False):
        self.path = (options.get("path") or "").rstrip("/")
        if not self.path:
            raise ValueError("jsonlshards requires .option('path', <dir>)")
        self.overwrite = overwrite

    def write(self, iterator) -> ShardCommit:
        os.makedirs(self.path, exist_ok=True)
        name = f"shard-{uuid.uuid4().hex[:12]}.jsonl"
        full = os.path.join(self.path, name)
        h = hashlib.md5()
        rows = 0
        with open(full, "wb") as fh:
            for row in iterator:
                line = (
                    json.dumps(
                        {k: _jsonable(v) for k, v in row.asDict().items()},
                        sort_keys=True,
                        ensure_ascii=False,
                    )
                    + "\n"
                ).encode()
                fh.write(line)
                h.update(line)
                rows += 1
        return ShardCommit(name, rows, os.path.getsize(full), h.hexdigest())

    def commit(self, messages) -> None:
        """Manifest-last commit. Append merges this job's shards into
        the existing manifest; overwrite swaps in a manifest listing
        ONLY the new shards (atomic ``os.replace``) and AFTER the swap
        deletes exactly the shards the PREVIOUS manifest listed — a
        job that dies mid-write therefore leaves the previous manifest
        and every shard it references untouched, and the reclaim never
        touches a `.jsonl` it can't account for (an uncommitted shard
        a concurrent append job is still writing survives).

        Crash-safe reclaim: the doomed-shard list is fsync'd to a
        ``.reclaim-*`` sidecar BEFORE the swap, so an overwrite that
        dies between its swap and its unlinks leaves a durable record
        instead of a permanently orphaned generation — the next commit
        (append or overwrite) drains leftover sidecars, skipping any
        name the CURRENT manifest still references (a sidecar whose
        writer died before its swap lists live shards; they stay, and
        whichever overwrite eventually supersedes them re-lists them).

        Concurrency contract: appends may run concurrently with each
        other (last commit's manifest merge wins the race benignly —
        shards are never deleted on the append path), but OVERWRITE
        assumes no concurrent writer and no reader holding the OLD
        manifest across the swap: a reader that resolved the previous
        manifest before the swap can see its shards deleted mid-scan.
        Run overwrites as the sole writer, or vacuum old generations
        out-of-band after readers drain."""
        new = [
            {
                "file": m.file,
                "rows": m.rows,
                "bytes": m.n_bytes,
                "md5": m.md5,
            }
            for m in messages
        ]
        new_names = {s["file"] for s in new}
        # one manifest read serves both the append merge and the
        # overwrite's capture of the outgoing generation (the only set
        # of files overwrite is entitled to delete)
        try:
            prev_shards = read_manifest(self.path)["shards"]
        except FileNotFoundError:
            prev_shards = []
        shards = new if self.overwrite else prev_shards + new
        if self.overwrite:
            doomed = sorted(
                {s["file"] for s in prev_shards} - new_names
            )
            if doomed:
                rp = os.path.join(
                    self.path, f".reclaim-{uuid.uuid4().hex[:8]}"
                )
                with open(rp, "w") as fh:
                    json.dump(doomed, fh)
                    fh.flush()
                    os.fsync(fh.fileno())
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "shards": sorted(shards, key=lambda s: s["file"]),
                    "total_rows": sum(s["rows"] for s in shards),
                },
                fh,
            )
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(self.path, MANIFEST))
        # drain this commit's sidecar plus any leftovers from crashed
        # overwrites; unlisted .jsonl files are never touched (a
        # crashed job's orphan is harmless; a concurrent append's
        # not-yet-committed shard must survive)
        _drain_reclaims(self.path, live={s["file"] for s in shards})

    def abort(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            try:
                os.unlink(os.path.join(self.path, m.file))
            except FileNotFoundError:
                pass


class JsonlShardsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonlshards"

    def writer(self, schema, overwrite: bool) -> JsonlShardWriter:
        # NOTHING is deleted here: overwrite defers old-generation
        # removal to commit() (manifest swapped first, then old shards
        # reclaimed), so a job that fails mid-write leaves the previous
        # good export fully intact — same manifest-last discipline as
        # append mode.
        return JsonlShardWriter(self.options, overwrite=overwrite)


def _drain_reclaims(path: str, live: set[str]) -> None:
    """Process every ``.reclaim-*`` sidecar under ``path``: unlink the
    listed shards that no longer appear in the current manifest
    (``live``), then remove the sidecar. A torn sidecar (its writer
    died mid-write, necessarily BEFORE its swap — the sidecar is
    written and fsync'd first) lists only still-live shards, so it is
    simply discarded."""
    import glob

    for rp in glob.glob(os.path.join(path, ".reclaim-*")):
        try:
            with open(rp) as fh:
                names = json.load(fh)
        except (OSError, json.JSONDecodeError):
            names = []
        for f in names:
            if f in live:
                continue
            try:
                os.unlink(os.path.join(path, f))
            except FileNotFoundError:
                pass
        try:
            os.unlink(rp)
        except FileNotFoundError:
            pass


def read_manifest(path: str) -> dict:
    with open(os.path.join(path.rstrip("/"), MANIFEST)) as fh:
        return json.load(fh)


def verify_export(path: str) -> list[str]:
    """Integrity check a consumer runs before training: every manifest
    shard exists, matches its byte size and md5, and line counts add
    up. Returns problems (empty == verified)."""
    path = path.rstrip("/")
    m = read_manifest(path)
    problems: list[str] = []
    total = 0
    for s in m["shards"]:
        full = os.path.join(path, s["file"])
        if not os.path.exists(full):
            problems.append(f"{s['file']}: missing")
            continue
        data = open(full, "rb").read()
        if len(data) != s["bytes"]:
            problems.append(f"{s['file']}: size {len(data)} != {s['bytes']}")
        if hashlib.md5(data).hexdigest() != s["md5"]:
            problems.append(f"{s['file']}: checksum mismatch")
        n = data.count(b"\n")
        if n != s["rows"]:
            problems.append(f"{s['file']}: {n} lines != {s['rows']} rows")
        total += n
    if total != m["total_rows"]:
        problems.append(f"total {total} != {m['total_rows']}")
    return problems
