"""The model runner around the firmographic pipeline: the catalog's schema
and statistics record, the checks that ride each model's write, the run
manifest, the number of Spark jobs a night costs per model, and the
concurrent runner's contract (siblings overlap; a failure starts nothing
new; the manifest keeps ``topo_order()``)."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
from datetime import date, datetime

import pytest
from pyspark.sql import functions as F

from tests.conftest import spark_job_id
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
from unified_firmographic_data_pipeline_spark.operators.incremental import high_watermark
from unified_firmographic_data_pipeline_spark.operators.scd2 import VALID_TO, scd2_apply, scd2_init
from unified_firmographic_data_pipeline_spark.plans.firmographics import GRAPH
from unified_firmographic_data_pipeline_spark.plans.graph import ModelGraph, ModelSpec, model
from unified_firmographic_data_pipeline_spark.quality.expect import QualityError, expect
from unified_firmographic_data_pipeline_spark.sources.catalog import Catalog, column_max

#: Spark jobs each model may run on the fixture pipeline's second night
#: (a full re-landing of both sources), 41 in all; the same night cost 101
#: when every read inferred its schema and every check ran its own action
#: over the re-read table, and 56 when watermarks and SCD2 batch maxima
#: scanned the table the catalog had just written and each fk check ran
#: its own three-job action. What remains: the writes (with their shuffle
#: and broadcast stages), one inference read per RAW table, and one action
#: for all unique and fk checks of a model (a job per GROUP BY key and per
#: broadcast dimension, plus one).
JOB_BUDGET = {
    "stg_wiki_sp500": 8,
    "stg_fortune500": 5,
    "cr_company_complete": 9,
    "company_location_snapshot": 4,
    "fortune_metrics_snapshot": 4,
    "dim_company": 3,
    "dim_location": 1,
    "dim_fortune_metrics": 1,
    "fact_company_performance": 6,
}


def _land(spark, cat, ts, row_id, wiki_rows=None, fortune_items=None):
    """One night's RAW landing of both sources, appended like COPY INTO."""
    cat.append(raw_df(spark, wiki_payload(wiki_rows), "wikipedia_sp500", ts, row_id), "raw", "wiki_sp500")
    cat.append(raw_df(spark, fortune_payload(fortune_items), "fortune500", ts, row_id), "raw", "fortune_500")


@pytest.fixture(scope="module")
def two_nights(spark, tmp_path_factory):
    """The fixture pipeline after its initial load and a second night that
    re-lands both sources with Walmart moved; returns the catalog, the jobs
    each model ran on the second night run one model at a time, and the
    jobs the same night cost as one whole run (on a copy of the catalog)."""
    root = tmp_path_factory.mktemp("two_nights")
    cat = Catalog(spark, str(root / "wh"))
    _land(spark, cat, T0, 0)
    GRAPH.run(spark, cat)
    moved = [fortune_item("Walmart", 1, "walmart", city="Dallas", state="TX"), *FORTUNE_ITEMS_T0[1:]]
    _land(spark, cat, T1, 1, fortune_items=moved)
    shutil.copytree(cat.root, root / "whole")
    jobs = {}
    for m in GRAPH.topo_order():
        j0 = spark_job_id(spark)
        GRAPH.run(spark, cat, select=[m])
        jobs[m] = spark_job_id(spark) - j0
    j0 = spark_job_id(spark)
    GRAPH.run(spark, Catalog(spark, str(root / "whole")))
    return cat, jobs, spark_job_id(spark) - j0


def test_night_job_budget(two_nights):
    _, jobs, _ = two_nights
    assert set(jobs) == set(JOB_BUDGET)
    over = {m: f"{n} jobs > budget {JOB_BUDGET[m]}" for m, n in jobs.items() if n > JOB_BUDGET[m]}
    assert not over, f"models over their Spark job budget: {over}"


def test_whole_night_costs_the_sum_of_its_models(two_nights):
    # running models side by side adds no Spark job to a night
    _, jobs, whole = two_nights
    assert whole == sum(jobs.values())


def test_recorded_schema_matches_inference(spark, two_nights):
    cat, _, _ = two_nights
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
    # a model starts only after each of its dependencies has finished
    for name, r in rows.items():
        for dep in g.models[name].deps:
            assert r["started_sec"] >= rows[dep]["started_sec"] + rows[dep]["wall_sec"], (dep, name)


def _spy_manifest(cat):
    """Record the model order of every manifest the runner appends."""
    seen = []
    append = cat.append

    def spy(df, schema, table):
        if (schema, table) == ("_meta", "run_metadata"):
            seen.append([r["model"] for r in df.collect()])
        append(df, schema, table)

    cat.append = spy
    return seen


def test_sibling_models_run_at_the_same_time(spark, tmp_path):
    g = ModelGraph()
    cat = Catalog(spark, str(tmp_path / "wh"))
    both_running = threading.Barrier(2, timeout=30)

    @model(g, schema="core")
    def left(ctx):
        both_running.wait()  # passes only while `right` is running too
        return ctx.spark.range(2)

    @model(g, schema="core")
    def right(ctx):
        both_running.wait()
        return ctx.spark.range(3)

    @model(g, schema="core", deps=("left", "right"))
    def joined(ctx):
        return ctx.ref("left").union(ctx.ref("right"))

    status = g.run(spark, cat)
    assert list(status) == g.topo_order() and set(status.values()) == {"ok"}
    assert cat.read("core", "joined").count() == 5


def test_a_failure_lets_running_models_finish_and_starts_nothing(spark, tmp_path):
    g = ModelGraph()
    cat = Catalog(spark, str(tmp_path / "wh"))
    manifests = _spy_manifest(cat)
    slow_started, boom_failed = threading.Event(), threading.Event()
    started = []

    @model(g, schema="core")
    def slow(ctx):
        slow_started.set()
        assert boom_failed.wait(30)
        time.sleep(0.5)  # the runner sees `boom` fail before this model finishes
        return ctx.spark.range(3)

    @model(g, schema="core")
    def boom(ctx):
        assert slow_started.wait(30)
        boom_failed.set()
        raise RuntimeError("feed missing")

    @model(g, schema="core", deps=("boom",))
    def after_boom(ctx):
        started.append("after_boom")
        return ctx.ref("boom")

    @model(g, schema="core", deps=("slow",))
    def after_slow(ctx):
        started.append("after_slow")
        return ctx.ref("slow")

    with pytest.raises(RuntimeError, match="feed missing"):
        g.run(spark, cat, record_metadata=True)
    assert started == []
    assert cat.read("core", "slow").count() == 3
    assert not cat.exists("core", "boom")
    order = g.topo_order()
    assert manifests == [[m for m in order if m in ("slow", "boom")]]
    rows = {r["model"]: r["status"] for r in cat.read("_meta", "run_metadata").collect()}
    assert rows == {"slow": "ok", "boom": "error"}


def test_run_raises_the_first_failure_in_topo_order(spark, tmp_path):
    g = ModelGraph()
    for name in ("a", "b"):
        g.register(ModelSpec(name=name, fn=lambda ctx: fail(ctx.current.name), schema="core"))
    first, second = g.topo_order()
    second_failed = threading.Event()

    def fail(name):
        if name == first:
            assert second_failed.wait(30)  # the model first in topo order fails last
        else:
            second_failed.set()
        raise RuntimeError(name)

    with pytest.raises(RuntimeError, match=f"^{first}$"):
        g.run(spark, Catalog(spark, str(tmp_path / "wh")))


def test_a_failed_check_starts_no_dependent(spark, tmp_path):
    g = ModelGraph()
    cat = Catalog(spark, str(tmp_path / "wh"))
    started = []

    @model(g, schema="core", tests=lambda ctx, df: expect(df).unique(["k"]))
    def dup(ctx):
        return ctx.spark.range(2).withColumn("k", F.lit(1))

    @model(g, schema="core", deps=("dup",))
    def child(ctx):
        started.append("child")
        return ctx.ref("dup")

    with pytest.raises(QualityError, match=r"unique\(k\): 1 violation"):
        g.run(spark, cat)
    assert cat.read("core", "dup").count() == 2  # written, then failed its check
    assert started == []


def test_concurrent_dependents_build_an_ephemeral_model_once(spark, tmp_path):
    # more dependents than cores, all asking at once under a short switch
    # interval: a lost check-then-build race would call `base` twice
    g = ModelGraph()
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.overwrite(spark.range(8).withColumnRenamed("id", "n"), "raw", "nums")
    calls = []
    parts = [f"p{i}" for i in range(8)]
    together = threading.Barrier(len(parts), timeout=30)

    @model(g, schema="staging", materialized="ephemeral")
    def base(ctx):
        calls.append(ctx.current.name)
        time.sleep(0.2)  # long enough for every other dependent to ask for it
        return ctx.source("raw", "nums")

    def part(ctx):
        together.wait()
        return ctx.ref("base").filter(F.col("n") == int(ctx.current.name[1:]))

    for name in parts:
        g.register(ModelSpec(name=name, fn=part, schema="core", deps=("base",)))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        status = g.run(spark, cat, select=parts)
    finally:
        sys.setswitchinterval(interval)
    assert status == dict.fromkeys(g.topo_order(parts), "ok")
    assert calls == ["base"]
    assert [[r.n for r in cat.read("core", name).collect()] for name in parts] == [[i] for i in range(8)]


def test_night_jobs_carry_the_callers_job_group(spark, tmp_path):
    cat = _initial(spark, tmp_path)
    sc = spark.sparkContext
    j0 = spark_job_id(spark)
    sc.setJobGroup("fixture-night", "the initial load")
    try:
        GRAPH.run(spark, cat)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    jobs = set(range(j0, spark_job_id(spark)))
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(jobs) > 9
    assert set(sc.statusTracker().getJobIdsForGroup("fixture-night")) == jobs


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


def _observed_overwrite(cat, df, schema, table, partition_by=None):
    """A full write as the runner makes it: the Expectation's Observation
    rides the write and its statistics join the record."""
    e = expect(df)
    cat.overwrite(e.observe(df), schema, table, partition_by, observation=e.observation)


def _scan(df, col):
    return tuple(df.agg(F.min(col), F.max(col)).first())


@pytest.fixture
def los_angeles(spark):
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    yield
    spark.conf.set("spark.sql.session.timeZone", prev)


RANGES_DDL = "k string, ts timestamp, ntz timestamp_ntz, d date, none_ts timestamp"
RANGES_ROWS = [
    # 01:30 on 2024-11-03 happens twice in Los Angeles; microseconds throughout
    ("a", datetime(2024, 11, 3, 1, 30, 0, 123456), datetime(2024, 11, 3, 1, 30, 0, 999999), date(1969, 12, 31), None),
    ("b", datetime(1970, 1, 1, 0, 0, 0, 1), datetime(1900, 1, 1, 0, 0, 0, 7), date(2024, 2, 29), None),
    ("c", None, None, None, None),
]


@pytest.mark.parametrize("rows", [RANGES_ROWS, []], ids=["rows", "empty"])
def test_recorded_ranges_equal_the_scan(spark, tmp_path, los_angeles, rows):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _observed_overwrite(cat, spark.createDataFrame(rows, RANGES_DDL), "core", "t")
    stats = cat.recorded_stats("core", "t")
    scanned = spark.read.parquet(cat.path("core", "t"))
    assert stats["rows"] == len(rows)
    assert set(stats["ranges"]) == {"ts", "ntz", "d", "none_ts"}
    for col, (lo, hi) in stats["ranges"].items():
        assert (lo, hi) == _scan(scanned, col), col
        j0 = spark_job_id(spark)
        assert column_max(cat.read("core", "t"), col) == hi, col
        assert spark_job_id(spark) == j0, f"max({col}) ran a Spark job"
    assert stats["ranges"]["none_ts"] == (None, None)
    if not rows:
        assert all(r == (None, None) for r in stats["ranges"].values())


def test_table_replaced_outside_the_catalog_scans_its_watermark(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    _observed_overwrite(cat, spark.createDataFrame([(1, datetime(2025, 1, 1))], "id long, ts timestamp"), "core", "t")
    path = cat.path("core", "t")
    assert high_watermark(cat.read("core", "t"), "ts") == datetime(2025, 1, 1)
    later = datetime(2025, 6, 1, 12, 0, 0, 5)
    spark.createDataFrame([(2, later)], "id long, ts timestamp").write.parquet(str(tmp_path / "landing"))
    for f in os.listdir(path):
        if f.startswith("part-"):
            os.remove(os.path.join(path, f))
    for f in os.listdir(tmp_path / "landing"):
        if f.endswith(".parquet"):
            shutil.copyfile(tmp_path / "landing" / f, os.path.join(path, "landed-" + f))
    assert cat.recorded_stats("core", "t") is None
    j0 = spark_job_id(spark)
    assert high_watermark(cat.read("core", "t"), "ts") == later
    assert spark_job_id(spark) > j0  # scanned


def test_scd2_batch_max_of_a_filtered_source_is_scanned(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    t1, t2 = datetime(2025, 1, 1), datetime(2025, 2, 1)
    _observed_overwrite(
        cat, spark.createDataFrame([("a", "x", t1), ("b", "y", t2)], "k string, v string, ts timestamp"), "core", "src"
    )
    src = cat.read("core", "src")
    snapshot = scd2_init(spark.createDataFrame([("a", "x", t1), ("c", "z", t1)], "k string, v string, ts timestamp"), "k", "ts")
    # a projection of the table: the record answers, and c closes at its max
    assert column_max(src.select("k", F.col("ts").alias("at")), "at") == t2
    got = {r.k: r[VALID_TO] for r in scd2_apply(snapshot, src.select("k", "v", "ts"), "k", "ts").collect()}
    assert got["c"] == t2
    # a filtered source closes c at the filter's max, not the table's
    got = {r.k: r[VALID_TO] for r in scd2_apply(snapshot, src.filter(F.col("k") == "a"), "k", "ts").collect()}
    assert got == {"a": None, "c": t1}
    # computed columns and frames built in memory are scanned too
    day_before = src.select((F.col("ts") - F.expr("INTERVAL 1 DAY")).alias("ts"))
    assert column_max(day_before, "ts") == datetime(2025, 1, 31)
    assert column_max(spark.createDataFrame([(t1,)], "ts timestamp"), "ts") == t1


def test_append_and_partition_overwrite_serve_no_stale_stats(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    first = spark.createDataFrame([(1, "d1", datetime(2025, 1, 1))], "id long, day string, ts timestamp")
    later = spark.createDataFrame([(2, "d2", datetime(2025, 5, 1))], "id long, day string, ts timestamp")
    _observed_overwrite(cat, first, "core", "log")
    cat.append(later, "core", "log")
    assert cat.recorded_schema("core", "log") is not None
    assert cat.recorded_stats("core", "log") is None
    assert high_watermark(cat.read("core", "log"), "ts") == datetime(2025, 5, 1)

    _observed_overwrite(cat, first, "core", "part", partition_by=["day"])
    assert cat.recorded_stats("core", "part")["rows"] == 1
    cat.overwrite_partitions(later, "core", "part", ["day"])
    assert cat.recorded_stats("core", "part") is None
    assert high_watermark(cat.read("core", "part"), "ts") == datetime(2025, 5, 1)


def test_fk_counts_every_orphan(spark):
    fact = spark.createDataFrame([(1,), (2,), (3,), (4,), (None,)], "k int")
    dim = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(QualityError, match=r"^fk\(k\): 3 violation\(s\)$"):
        expect(fact).unique(["k"]).fk("k", dim).run()


def test_text_formats_record_no_ranges(spark, tmp_path):
    # JSON writes timestamps to the millisecond: a recorded microsecond
    # maximum would not be what a scan returns
    cat = Catalog(spark, str(tmp_path / "wh"), fmt="json")
    _observed_overwrite(cat, spark.createDataFrame([(datetime(2025, 1, 1, 0, 0, 0, 123456),)], "ts timestamp"), "core", "t")
    assert cat.recorded_schema("core", "t") is not None
    assert cat.recorded_stats("core", "t") is None
    assert high_watermark(cat.read("core", "t"), "ts") == datetime(2025, 1, 1, 0, 0, 0, 123000)
