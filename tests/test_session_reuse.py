"""A warm session reuses what it already compiled and read.

- Spark's generated-class cache is sized (``session.get_spark``) so a
  second run of the same queries compiles nothing.
- ``read_testdata`` infers a table file's schema once: a repeat read of
  the unchanged file opens it with the cached schema and launches no
  Spark job, while a rewrite, a session with other parquet inference
  confs, or a directory path reads by inference again.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from eeg_data_lake_spark.session import CODEGEN_CACHE_ENTRIES
from eeg_data_lake_spark.sources.readers import _SCHEMA_CACHE, read_testdata
from eeg_data_lake_spark.workload import REGISTRY

#: oracle-backed headline queries whose plans compile 126 classes cold
#: at sf0.001, more than Spark's default cache of 100 holds: at the
#: default size their second run recompiled 79 of them
CODEGEN_QUERIES = [
    "q10_price_percentiles",
    "q33_neardup_shingle_jaccard",
    "r27_crossdoc_segment_dedup",
    "r30_token_shard_packing",
]


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM (cache misses)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _jobs_launched(spark, fn):
    """(``fn()``, Spark jobs it launched from the calling thread)."""
    sc = spark.sparkContext
    group = f"reuse-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "session reuse")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(df.collect(), key=repr)


def test_session_sizes_the_codegen_cache(spark):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == (
        CODEGEN_CACHE_ENTRIES
    )


def test_second_run_compiles_no_class(spark, sf_dir):
    def run_all():
        for name in CODEGEN_QUERIES:
            REGISTRY[name].spark_fn(spark, sf_dir).collect()

    run_all()
    before = _compiles(spark)
    run_all()
    assert _compiles(spark) - before == 0


def _write(path, table):
    pq.write_table(table, path, coerce_timestamps=None)


def test_repeat_read_launches_no_job(spark, tmp_path):
    """The second read of an unchanged file is served from the cache,
    with the same schema and rows, including the TIMESTAMP(NANOS) and
    TIMESTAMP_NTZ rebuilds."""
    base = 1_700_000_000_123_456_789
    _write(str(tmp_path / "t.parquet"), pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "ts_ns": pa.array([base, base + 1_500, None], pa.timestamp("ns")),
        "ts_us": pa.array([base // 1000, None, base // 1000 + 7], pa.timestamp("us")),
    }))
    first, jobs = _jobs_launched(spark, lambda: read_testdata(spark, str(tmp_path), "t"))
    assert jobs > 0  # inference
    second, jobs = _jobs_launched(spark, lambda: read_testdata(spark, str(tmp_path), "t"))
    assert jobs == 0
    assert dict(second.dtypes) == {"id": "bigint", "ts_ns": "timestamp", "ts_us": "timestamp"}
    assert second.schema == first.schema
    assert _rows(second) == _rows(first)


def test_rewritten_file_serves_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, pa.table({"a": pa.array([1, 2], pa.int64())}))
    assert read_testdata(spark, str(tmp_path), "t").dtypes == [("a", "bigint")]
    _write(path, pa.table({"a": ["x"], "b": pa.array([0.5], pa.float64())}))
    df = read_testdata(spark, str(tmp_path), "t")
    assert df.dtypes == [("a", "string"), ("b", "double")]
    assert [tuple(r) for r in df.collect()] == [("x", 0.5)]


def test_inference_confs_are_part_of_the_key(spark, tmp_path):
    _write(str(tmp_path / "t.parquet"), pa.table({"b": pa.array([b"hi"], pa.binary())}))
    assert read_testdata(spark, str(tmp_path), "t").dtypes == [("b", "binary")]
    other = spark.newSession()
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    df = read_testdata(other, str(tmp_path), "t")
    assert df.dtypes == [("b", "string")]
    assert df.collect()[0][0] == "hi"
    assert read_testdata(spark, str(tmp_path), "t").dtypes == [("b", "binary")]


def test_directory_table_is_not_cached(spark, tmp_path):
    """A directory's mtime does not track rewrites of its part files,
    so every read of one infers again."""
    table = tmp_path / "t.parquet"
    table.mkdir()
    _write(str(table / "part-0.parquet"), pa.table({"a": pa.array([1], pa.int64())}))
    for _ in range(2):
        _, jobs = _jobs_launched(spark, lambda: read_testdata(spark, str(tmp_path), "t"))
        assert jobs > 0
    assert not [k for k in _SCHEMA_CACHE if k[0] == str(table)]
    _write(str(table / "part-0.parquet"), pa.table({"a": ["x"]}))
    assert read_testdata(spark, str(tmp_path), "t").dtypes == [("a", "string")]
