"""Bucketed co-located joins: the write-once shuffle pays off as a
zero-exchange join plan, and the writer reclaims only its own orphans."""

from __future__ import annotations

import pytest

from eeg_data_lake_spark.plans import count_exchanges, join_strategies
from eeg_data_lake_spark.sources.bucketed import bucketed_join, write_bucketed


@pytest.fixture(autouse=True)
def _plan_shape_no_spread(monkeypatch):
    """Plan pins in this module document the AT-SCALE plan shape,
    where the scale-adaptive input rebalance (operators/spread.py) is
    identity by its own gate — so pin with it off rather than encode
    the local one-row-group artifact into every exchange count.
    Result-parity THROUGH the spread path is covered by
    tests/test_spread.py and the oracle-parity sweep."""
    monkeypatch.setenv("SPARK_GRAFT_SPREAD", "off")


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    from eeg_data_lake_spark.workload.registry import t

    write_bucketed(
        t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        "orders_bkt", ["o_custkey"], 4,
    )
    write_bucketed(
        t(spark, sf_dir, "customer").select("c_custkey", "c_name").withColumnRenamed(
            "c_custkey", "o_custkey"
        ),
        "customer_bkt", ["o_custkey"], 4,
    )
    yield "orders_bkt", "customer_bkt"
    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS customer_bkt")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    left, right = bucketed_tables
    joined = bucketed_join(spark, left, right, ["o_custkey"])
    assert count_exchanges(joined) == 0          # co-located: no shuffle
    assert "SortMergeJoin" in join_strategies(joined)


def test_bucketed_join_matches_plain_join(spark, sf_dir, bucketed_tables):
    from eeg_data_lake_spark.workload.registry import t

    left, right = bucketed_tables
    got = bucketed_join(spark, left, right, ["o_custkey"]).count()
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    expected = o.join(c, o.o_custkey == c.c_custkey).count()
    assert got == expected


def test_orphan_reclaim_requires_provenance_marker(spark, tmp_path):
    """A directory wedging a bucketed table's location is rmtree'd
    ONLY when it carries the marker this writer drops (provably our
    orphan); anything else — another process's data at our name — is
    renamed aside, never destroyed."""
    import glob
    import os
    import shutil
    import warnings
    from urllib.parse import urlparse

    from eeg_data_lake_spark.sources.bucketed import MARKER_FILE

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    df = spark.range(10).withColumnRenamed("id", "k")

    # --- foreign dir (no marker): preserved aside, write proceeds
    name = "bkt_foreign_probe"
    target = os.path.join(wh, name)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    os.makedirs(target, exist_ok=True)
    with open(os.path.join(target, "precious.txt"), "w") as fh:
        fh.write("not ours")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            write_bucketed(df, name, ["k"], 4)
        assert any("moved aside" in str(w.message) for w in caught)
        aside = glob.glob(f"{target}.foreign-*")
        assert len(aside) == 1
        with open(os.path.join(aside[0], "precious.txt")) as fh:
            assert fh.read() == "not ours"
        # the fresh table is stamped for FUTURE reclaims
        assert os.path.exists(os.path.join(target, MARKER_FILE))
        assert spark.table(name).count() == 10
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        for d in glob.glob(f"{target}.foreign-*"):
            shutil.rmtree(d, ignore_errors=True)

    # --- marked orphan (ours, catalog entry lost with its session):
    # reclaimed in place, no aside dir
    name = "bkt_orphan_probe"
    target = os.path.join(wh, name)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    os.makedirs(target, exist_ok=True)
    with open(os.path.join(target, MARKER_FILE), "w"):
        pass
    with open(os.path.join(target, "stale.parquet"), "w") as fh:
        fh.write("stale")
    try:
        write_bucketed(df, name, ["k"], 4)
        assert glob.glob(f"{target}.foreign-*") == []
        assert not os.path.exists(os.path.join(target, "stale.parquet"))
        assert spark.table(name).count() == 10
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
