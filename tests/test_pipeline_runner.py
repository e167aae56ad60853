"""The model runner around the firmographic pipeline: the catalog's schema
record, the checks that ride each model's write, the run manifest, and the
number of Spark jobs a night costs per model."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.fixtures import (
    FORTUNE_ITEMS_T0,
    T0,
    T1,
    WIKI_ROWS_T0,
    fortune_item,
    fortune_payload,
    raw_df,
    wiki_payload,
)
from unified_firmographic_data_pipeline_spark.plans.firmographics import GRAPH
from unified_firmographic_data_pipeline_spark.plans.graph import ModelGraph, model
from unified_firmographic_data_pipeline_spark.quality.expect import QualityError, expect
from unified_firmographic_data_pipeline_spark.sources.catalog import Catalog

#: Spark jobs each model may run on the fixture pipeline's second night
#: (a full re-landing of both sources), 56 in all; the same night cost 101
#: when every read inferred its schema and every check ran its own action
#: over the re-read table. What remains: the writes (with their shuffle
#: and broadcast stages), one inference read per RAW table, the watermark
#: and SCD2 batch-max scalars, one action for all unique checks of a model
#: (a job per key plus one) and three jobs per fk.
JOB_BUDGET = {
    "stg_wiki_sp500": 10,
    "stg_fortune500": 7,
    "cr_company_complete": 11,
    "company_location_snapshot": 6,
    "fortune_metrics_snapshot": 6,
    "dim_company": 3,
    "dim_location": 1,
    "dim_fortune_metrics": 1,
    "fact_company_performance": 11,
}


def _land(spark, cat, ts, row_id, wiki_rows=None, fortune_items=None):
    """One night's RAW landing of both sources, appended like COPY INTO."""
    cat.append(raw_df(spark, wiki_payload(wiki_rows), "wikipedia_sp500", ts, row_id), "raw", "wiki_sp500")
    cat.append(raw_df(spark, fortune_payload(fortune_items), "fortune500", ts, row_id), "raw", "fortune_500")


def _jobs(spark) -> int:
    n = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return n if isinstance(n, int) else n.get()


@pytest.fixture(scope="module")
def two_nights(spark, tmp_path_factory):
    """The fixture pipeline after its initial load and a second night that
    re-lands both sources with Walmart moved; returns the catalog and the
    jobs each model ran on the second night."""
    cat = Catalog(spark, str(tmp_path_factory.mktemp("two_nights")))
    _land(spark, cat, T0, 0)
    GRAPH.run(spark, cat)
    moved = [fortune_item("Walmart", 1, "walmart", city="Dallas", state="TX"), *FORTUNE_ITEMS_T0[1:]]
    _land(spark, cat, T1, 1, fortune_items=moved)
    jobs = {}
    for m in GRAPH.topo_order():
        j0 = _jobs(spark)
        GRAPH.run(spark, cat, select=[m])
        jobs[m] = _jobs(spark) - j0
    return cat, jobs


def test_night_job_budget(two_nights):
    _, jobs = two_nights
    assert set(jobs) == set(JOB_BUDGET)
    over = {m: f"{n} jobs > budget {JOB_BUDGET[m]}" for m, n in jobs.items() if n > JOB_BUDGET[m]}
    assert not over, f"models over their Spark job budget: {over}"


def test_recorded_schema_matches_inference(spark, two_nights):
    cat, _ = two_nights
    tables = [
        (s, t)
        for s in sorted(os.listdir(cat.root))
        for t in sorted(os.listdir(os.path.join(cat.root, s)))
        if os.path.isdir(os.path.join(cat.root, s, t))
    ]
    assert len(tables) == 11  # two RAW tables and the nine models
    for s, t in tables:
        assert cat.recorded_schema(s, t) is not None, (s, t)
        assert cat.read(s, t).schema == spark.read.parquet(cat.path(s, t)).schema, (s, t)


def test_outside_landing_is_read_with_its_own_schema(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"), "raw", "feed")
    path = cat.path("raw", "feed")
    assert cat.read("raw", "feed").columns == ["id", "v"]
    # another tool replaces the table's files with a wider landing
    spark.createDataFrame([(2, "b", 3.5)], "id long, v string, w double").write.parquet(
        str(tmp_path / "landing")
    )
    for f in os.listdir(path):
        if f.startswith("part-"):
            os.remove(os.path.join(path, f))
    for f in os.listdir(tmp_path / "landing"):
        if f.endswith(".parquet"):
            shutil.copyfile(tmp_path / "landing" / f, os.path.join(path, "landed-" + f))
    assert cat.recorded_schema("raw", "feed") is None
    got = cat.read("raw", "feed")
    assert got.columns == ["id", "v", "w"]
    assert [tuple(r) for r in got.collect()] == [(2, "b", 3.5)]


def test_append_and_partition_overwrite_keep_no_stale_record(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    narrow = spark.createDataFrame([(1, "d1")], "id long, day string")

    def fresh_and_true(s, t):
        st = cat.recorded_schema(s, t)
        return st is not None and cat.read(s, t).schema == spark.read.parquet(cat.path(s, t)).schema

    cat.append(narrow, "core", "log")  # first append creates the table and its record
    cat.append(narrow, "core", "log")  # same schema: the record follows the new files
    assert fresh_and_true("core", "log")
    assert cat.read("core", "log").count() == 2
    wide = spark.createDataFrame([(2, "d2", "x")], "id long, day string, note string")
    cat.append(wide, "core", "log")  # another schema: the record is dropped
    assert cat.recorded_schema("core", "log") is None
    assert cat.read("core", "log").count() == 3

    cat.overwrite_partitions(narrow, "core", "part", ["day"])
    cat.overwrite_partitions(narrow.withColumn("day", F.lit("d2")), "core", "part", ["day"])
    assert fresh_and_true("core", "part")
    assert cat.read("core", "part").columns == ["id", "day"]
    # a partition landed from outside makes the record stale; the next
    # partition overwrite cannot vouch for it and drops it
    spark.createDataFrame([(9,)], "id long").write.parquet(os.path.join(cat.path("core", "part"), "day=d9"))
    assert cat.recorded_schema("core", "part") is None
    cat.overwrite_partitions(narrow, "core", "part", ["day"])
    assert cat.recorded_schema("core", "part") is None
    assert cat.read("core", "part").count() == 3


def test_partition_only_table_exists(spark, tmp_path):
    # dynamic partition overwrite leaves only `day=d1/` at the top level:
    # no data file and no _SUCCESS marker
    cat = Catalog(spark, str(tmp_path / "wh"))
    assert not cat.exists("core", "part")
    assert cat.read_or_none("core", "part") is None
    cat.overwrite_partitions(
        spark.createDataFrame([(1, "d1"), (2, "d1")], "id long, day string"), "core", "part", ["day"]
    )
    assert sorted(os.listdir(cat.path("core", "part"))) == ["day=d1"]
    assert cat.exists("core", "part")
    got = cat.read_or_none("core", "part")
    assert sorted((r.id, r.day) for r in got.collect()) == [(1, "d1"), (2, "d1")]


def test_manifest_survives_a_failing_model(spark, tmp_path):
    g = ModelGraph()
    cat = Catalog(spark, str(tmp_path / "wh"))

    @model(g, schema="core")
    def first(ctx):
        return ctx.spark.range(5)

    @model(g, schema="core", deps=("first",))
    def second(ctx):
        raise RuntimeError("source unavailable")

    @model(g, schema="core", deps=("second",))
    def third(ctx):
        return ctx.ref("second")

    with pytest.raises(RuntimeError, match="source unavailable"):
        g.run(spark, cat, record_metadata=True)
    rows = {r["model"]: r for r in cat.read("_meta", "run_metadata").collect()}
    assert set(rows) == {"first", "second"}
    assert rows["first"]["status"] == "ok" and rows["first"]["rows"] == 5
    assert rows["first"]["message"] is None
    assert rows["second"]["status"] == "error" and rows["second"]["rows"] is None
    assert rows["second"]["message"] == "RuntimeError: source unavailable"


def test_manifest_rows_and_check_failure(spark, tmp_path):
    """A model whose write succeeded but whose checks failed is recorded
    with the rows it wrote and the QualityError."""
    g = ModelGraph()
    cat = Catalog(spark, str(tmp_path / "wh"))

    @model(g, schema="core", tests=lambda ctx, df: expect(df).in_range("id", hi=2).unique(["k"]))
    def nums(ctx):
        return ctx.spark.range(4).withColumn("k", F.lit(1))

    with pytest.raises(QualityError) as err:
        g.run(spark, cat, record_metadata=True)
    assert str(err.value) == "in_range(id): 1 violation(s); unique(k): 1 violation(s)"
    (row,) = cat.read("_meta", "run_metadata").collect()
    assert row["status"] == "error" and row["rows"] == 4
    assert row["message"].startswith("QualityError: in_range(id)")


def _initial(spark, tmp_path, fortune_items=None):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _land(spark, cat, T0, 0, fortune_items=fortune_items)
    return cat


def test_duplicate_fortune_name_raises_unique(spark, tmp_path):
    dup = [*FORTUNE_ITEMS_T0, fortune_item("Walmart", 2, "walmart-2")]
    cat = _initial(spark, tmp_path, fortune_items=dup)
    with pytest.raises(QualityError, match=r"unique\(company_name\): 1 violation"):
        GRAPH.run(spark, cat, select=["stg_fortune500"])


def test_negative_employees_raises_in_range_from_the_write(spark, tmp_path):
    bad = [fortune_item("Walmart", 1, "walmart", Employees="-5"), *FORTUNE_ITEMS_T0[1:]]
    cat = _initial(spark, tmp_path, fortune_items=bad)
    with pytest.raises(QualityError, match=r"in_range\(employees\): 1 violation"):
        GRAPH.run(spark, cat, select=["stg_fortune500"], record_metadata=True)
    (row,) = cat.read("_meta", "run_metadata").collect()
    assert row["rows"] == len(bad)  # counted by the write's observation


def test_ticker_rename_raises_fk(spark, tmp_path):
    """Reference-faithful: the fact is keyed on md5(company_name, symbol), so a
    ticker rename leaves the old fact row behind with no dim_company row."""
    cat = _initial(spark, tmp_path)
    GRAPH.run(spark, cat)
    renamed = [dict(r, Symbol="WMT2") if r["Symbol"] == "WMT" else r for r in WIKI_ROWS_T0]
    _land(spark, cat, T1, 1, wiki_rows=renamed)
    with pytest.raises(QualityError, match=r"fk\(company_key\)"):
        GRAPH.run(spark, cat)
