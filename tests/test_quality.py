"""Quality suite tests — each dbt-test analogue fires exactly once on a
dirty table and passes on its clean twin (FIXTURES.md §7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unified_firmographic_data_pipeline_spark.quality.expect import QualityError, expect


@pytest.fixture()
def clean(spark):
    return spark.createDataFrame(
        [(1, "a", 1900, 10.0, 5.0), (2, "b", 2000, 20.0, 10.0)],
        "id long, name string, year int, revenue double, profit double",
    )


@pytest.fixture()
def dirty(spark):
    return spark.createDataFrame(
        [
            (1, None, 1650, 10.0, 50.0),   # null name, year < 1700, profit > revenue
            (1, "b", 2000, 20.0, 10.0),    # duplicate id
            (3, "zz", 2000, 20.0, 10.0),   # bad accepted value
        ],
        "id long, name string, year int, revenue double, profit double",
    )


def test_clean_passes(clean, spark):
    dim = spark.createDataFrame([(1,), (2,)], "id long")
    (
        expect(clean)
        .not_null(["id", "name"])
        .unique(["id"])
        .in_range("year", 1700, 2100)
        .accepted("name", ["a", "b"])
        .fk("id", dim)
        .custom("profit_not_exceed_revenue", F.col("profit") > F.col("revenue"))
        .run()
    )


def test_each_check_fires(dirty, spark):
    failures = (
        expect(dirty)
        .not_null(["name"])
        .unique(["id"])
        .in_range("year", 1700, 2100)
        .accepted("name", ["a", "b"])
        .custom("profit_not_exceed_revenue", F.col("profit") > F.col("revenue"))
        .collect_failures()
    )
    assert failures == {
        "not_null(name)": 1,
        "unique(id)": 1,
        "in_range(year)": 1,
        "accepted(name)": 1,
        "profit_not_exceed_revenue": 1,
    }


def test_fk_orphan_detected(dirty, spark):
    dim = spark.createDataFrame([(1,), (2,)], "id long")
    failures = expect(dirty).fk("id", dim).collect_failures()
    assert "fk(id)" in failures


def test_run_raises(dirty):
    with pytest.raises(QualityError, match="not_null"):
        expect(dirty).not_null(["name"]).run()


def test_passes_boolean(clean, dirty):
    assert expect(clean).not_null(["name"]).passes()
    assert not expect(dirty).not_null(["name"]).passes()


# ---------------------------------------------------------------- observe ----

def test_observed_expectations_pass(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 5.0), (2, "b", 7.0)], ["k", "s", "v"])
    e = (
        expect(df)
        .not_null(["k", "s"])
        .accepted("s", ["a", "b"])
        .in_range("v", 0, 10)
        .custom("v_gt_k", F.col("v") < F.col("k"))
    )
    e.observe(df).write.mode("overwrite").parquet(str(tmp_path / "out"))  # the only pass
    e.run()
    assert e.observed_rows == 2


def test_observed_expectations_fail(spark, tmp_path):
    df = spark.createDataFrame([(1, None, 50.0), (None, "b", 7.0)], "k long, s string, v double")
    e = expect(df).not_null(["k", "s"]).in_range("v", 0, 10)
    e.observe(df).write.mode("overwrite").parquet(str(tmp_path / "out2"))
    with pytest.raises(QualityError) as err:
        e.run()
    msg = str(err.value)
    assert "not_null(k): 1" in msg and "not_null(s): 1" in msg and "in_range(v): 1" in msg
