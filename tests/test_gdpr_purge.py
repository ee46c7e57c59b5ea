"""Right-to-be-forgotten, proven at the FILE level: a DELETE WHERE
removes the subject's rows logically, vacuum removes the rewritten
files physically, and a raw scan of every byte left on disk (outside
the engine's read path) finds no trace of the subject — the proof a
GDPR/CCPA audit actually asks for, since logical deletion alone keeps
the data readable via time travel."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from eeg_data_lake_spark.sources.txlog import TxTable

SUBJECT = 424242
MARKER = "forget-me-sentinel"


@pytest.fixture()
def table(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "users"))
    rows = [(i, f"user-{i}", float(i)) for i in range(100)]
    rows.append((SUBJECT, MARKER, 1.0))
    t.append(spark.createDataFrame(rows, "user_id long, name string, score double"))
    return t


def _raw_scan_hits(table: TxTable) -> int:
    """Count subject rows readable from the parquet files themselves —
    every file under data/, no txlog involved (what a forensic read or
    a mis-pointed reader would see)."""
    hits = 0
    for root, _dirs, files in os.walk(table.data_dir):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(root, f)
            n = duckdb.sql(
                f"SELECT count(*) FROM '{p}' WHERE user_id = {SUBJECT}"
                f" OR name = '{MARKER}'"
            ).fetchall()[0][0]
            hits += n
    return hits


def test_logical_delete_alone_leaves_bytes_on_disk(spark, table):
    table.delete_where([("user_id", "=", SUBJECT)])
    assert table.read().filter(F.col("user_id") == SUBJECT).count() == 0
    # time travel still sees the subject, and the bytes are still there
    assert (
        table.read(version=table.version() - 1)
        .filter(F.col("user_id") == SUBJECT)
        .count()
        == 1
    )
    assert _raw_scan_hits(table) > 0


def test_purge_is_physical_after_vacuum(spark, table):
    table.delete_where([("user_id", "=", SUBJECT)])
    deleted = table.vacuum(keep_versions=0)
    assert deleted  # the pre-delete files were actually removed
    assert _raw_scan_hits(table) == 0  # no byte of the subject remains
    # the table still serves everyone else
    assert table.read().count() == 100
    # and time travel to the pre-delete version now fails CLEANLY
    with pytest.raises(Exception):
        table.read(version=table.version() - 1).collect()
