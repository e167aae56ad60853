"""Library table reads (``plans/driver_queries.py:_t``).

A table file's schema is inferred on its first read only: later reads of
the same file, under the same parquet-inference settings, hand the
recorded schema to the reader and run no Spark job. A rewritten file or a
changed setting is inferred again.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import BinaryType, StringType, TimestampType

import unified_firmographic_data_pipeline_spark.plans.driver_queries as dq
from tests.conftest import spark_job_id
from tests.test_oracle_parity import TABLES
from unified_firmographic_data_pipeline_spark.session import DEFAULT_CONF

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _memo_key(spark, path: str) -> tuple:
    return (path, dq._file_id(path), *(spark.conf.get(c) for c in dq._INFER_CONFS))


def test_second_read_and_second_build_run_no_job(spark, sf_small):
    dq._t(spark, sf_small, "orders")
    first = spark_job_id(spark)
    dq._t(spark, sf_small, "orders")
    assert spark_job_id(spark) == first

    build = dq.QUERIES["q05_local_supplier_volume"]
    build(spark, sf_small)
    first = spark_job_id(spark)
    build(spark, sf_small)  # construct phase only: six table reads
    assert spark_job_id(spark) == first


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert dq._t(spark, str(tmp_path), "t").columns == ["a"]

    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    first = spark_job_id(spark)
    df = dq._t(spark, str(tmp_path), "t")
    assert spark_job_id(spark) == first + 1  # one inference job
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]

    first = spark_job_id(spark)
    assert dq._t(spark, str(tmp_path), "t").columns == ["a", "b"]
    assert spark_job_id(spark) == first


def test_changed_inference_setting_is_inferred_again(spark, tmp_path):
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), tmp_path / "t.parquet")
    conf = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert dq._t(spark, str(tmp_path), "t").schema["b"].dataType == BinaryType()
        spark.conf.set(conf, "true")
        assert dq._t(spark, str(tmp_path), "t").schema["b"].dataType == StringType()
    finally:
        spark.conf.set(conf, old)


def test_memo_schema_is_the_inferred_schema(spark, sf_small):
    for t in TABLES:
        path = f"{sf_small}/{t}.parquet"
        dq._t(spark, sf_small, t)
        inferred = spark.read.parquet(path).schema
        assert dq._SCHEMAS[_memo_key(spark, path)] == inferred, t
        assert spark.read.schema(inferred).parquet(path).schema == inferred, t


def test_events_read_leaves_conf_unchanged(spark, sf_small):
    assert DEFAULT_CONF[NANOS] == "true"
    old = spark.conf.get(NANOS)
    try:
        # sf events store micros, so they read under either setting
        spark.conf.set(NANOS, "false")
        before = dict(spark.conf.getAll)
        dq._t(spark, sf_small, "events")
        assert dict(spark.conf.getAll) == before
    finally:
        spark.conf.set(NANOS, old)


def test_nanos_events_read_as_truncated_micros(spark, tmp_path):
    """TIMESTAMP(NANOS) events read under the session default and come out
    as session-TZ timestamps truncated to the microsecond."""
    ns = 1_700_000_000_123_456_789
    pq.write_table(
        pa.table({"event_id": [1], "ts": pa.array([ns], pa.timestamp("ns"))}),
        tmp_path / "events.parquet",
    )
    df = dq._t(spark, str(tmp_path), "events")
    assert df.schema["ts"].dataType == TimestampType()
    got = df.selectExpr("unix_micros(ts) AS us").collect()[0]["us"]
    assert got == ns // 1000
