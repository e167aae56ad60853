"""Landing reader (A4), run metadata (A7), and the
temporal operators (as-of join, sessionize)."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from unified_firmographic_data_pipeline_spark.operators.temporal import asof_join, sessionize
from unified_firmographic_data_pipeline_spark.sources.landing import read_json_landing


def test_read_json_landing_glob_and_stamp(spark, tmp_path):
    land = tmp_path / "landing"
    land.mkdir()
    (land / "fortune500_2025.json").write_text(json.dumps({"items": [1, 2]}))
    (land / "sp500.json").write_text(json.dumps([{"a": 1}]))
    df = read_json_landing(spark, str(land), "fortune500", glob="*fortune500_2025.json")
    rows = df.collect()
    # PATTERN pruning: only the matching file loads (COPY INTO analogue)
    assert len(rows) == 1
    r = rows[0]
    assert r["source"] == "fortune500"
    assert r["ingested_at"] is not None
    assert json.loads(r["payload"]) == {"items": [1, 2]}
    assert set(df.columns) == {"id", "source", "ingested_at", "payload"}


def test_run_metadata_recorded(spark, tmp_path):
    from tests.fixtures import T0, fortune_payload, raw_df, wiki_payload
    from unified_firmographic_data_pipeline_spark.plans.firmographics import GRAPH
    from unified_firmographic_data_pipeline_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.overwrite(raw_df(spark, wiki_payload(), "wikipedia_sp500", T0), "raw", "wiki_sp500")
    cat.overwrite(raw_df(spark, fortune_payload(), "fortune500", T0), "raw", "fortune_500")
    GRAPH.run(spark, cat, record_metadata=True)
    meta = cat.read("_meta", "run_metadata")
    rows = meta.collect()
    assert {r["model"] for r in rows} >= {"stg_wiki_sp500", "fact_company_performance"}
    assert len({r["invocation_id"] for r in rows}) == 1
    assert all(r["status"] == "ok" and r["wall_sec"] >= 0 for r in rows)


def _events(spark):
    t = datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        # user 1: click, purchase 5m later, click, purchase right at same ts
        (1, 1, t, "click", 1.0),
        (2, 1, t + timedelta(minutes=5), "purchase", 2.0),
        (3, 1, t + timedelta(minutes=10), "click", 3.0),
        (4, 1, t + timedelta(minutes=10), "purchase", 4.0),  # same-ts click visible
        # user 2: purchase with no prior click
        (5, 2, t, "purchase", 5.0),
        (6, 2, t + timedelta(minutes=1), "click", 6.0),
        # user 1: late event far away -> new session under 30m gap
        (7, 1, t + timedelta(hours=2), "click", 7.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )


def test_asof_join_semantics(spark):
    e = _events(spark)
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    out = {
        r["event_id"]: r
        for r in asof_join(
            purchases, clicks, key="user_id", ts="ts", right_cols=["event_id"], tiebreak="event_id"
        ).collect()
    }
    assert out[2]["event_id_asof"] == 1  # last click before +5m is event 1
    assert out[4]["event_id_asof"] == 3  # same-timestamp click visible (<=)
    assert out[5]["event_id_asof"] is None  # no prior click for user 2
    assert out[5]["ts_asof"] is None


def test_sessionize_gap_rule(spark):
    e = _events(spark).filter(F.col("user_id") == 1)
    out = {
        r["event_id"]: r["session_id"]
        for r in sessionize(e, "user_id", "ts", gap="30 minutes", order_tiebreak="event_id").collect()
    }
    # events 1-4 within 30m gaps -> session 1; event 7 two hours later -> session 2
    assert out[1] == out[2] == out[3] == out[4] == 1
    assert out[7] == 2


def test_compact_small_files(spark, tmp_path):
    from unified_firmographic_data_pipeline_spark.sources.catalog import compact_small_files

    path = str(tmp_path / "fragmented")
    # 40 tiny files
    spark.range(20_000).repartition(40).write.parquet(path)
    import os

    n_before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert n_before == 40
    before = set(r["id"] for r in spark.read.parquet(path).collect())

    n_after = compact_small_files(spark, path, target_mb=1)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == n_after < 40
    assert set(r["id"] for r in spark.read.parquet(path).collect()) == before
    # staged atomically: no .tmp-/.old- siblings left behind
    assert [d for d in os.listdir(tmp_path) if d != "fragmented"] == []


def test_materialize_merge_fallback_branch(spark, tmp_path):
    """No Delta in-container: the seam must pick the swap-rewrite path and
    produce upsert semantics with no staging dirs left behind."""
    import os

    from unified_firmographic_data_pipeline_spark.operators import incremental as inc

    table = str(tmp_path / "merge_table")
    assert inc.delta_merge_available() is False
    assert inc.materialize_merge(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]), ["k"], table
    ) == "swap-rewrite"
    assert inc.materialize_merge(
        spark, spark.createDataFrame([(2, "B2"), (3, "c")], ["k", "v"]), ["k"], table
    ) == "swap-rewrite"
    got = {(r["k"], r["v"]) for r in spark.read.parquet(table).collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c")}
    assert [d for d in os.listdir(tmp_path) if d != "merge_table"] == []


def test_materialize_merge_dispatches_to_delta(spark, tmp_path, monkeypatch):
    """When the runtime reports Delta support, the seam must route to the
    MERGE INTO strategy (recorded via a stub, since Delta isn't installed)."""
    from unified_firmographic_data_pipeline_spark.operators import incremental as inc

    calls = []
    monkeypatch.setattr(inc, "delta_merge_available", lambda: True)
    monkeypatch.setattr(
        inc,
        "_merge_with_delta",
        lambda spark_, df, keys, path: calls.append((keys, path)) or "delta-merge",
    )
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    assert inc.materialize_merge(spark, df, ["k"], str(tmp_path / "t")) == "delta-merge"
    assert calls == [(["k"], str(tmp_path / "t"))]


# ---------------------------------------------------------------- fetch ----


def test_fetch_json_to_landing_injected_opener(spark, tmp_path):
    """A1 analogue (DAG:24-39): GET JSON -> landed file -> RAW shape."""
    from unified_firmographic_data_pipeline_spark.sources.fetch import fetch_json_to_landing

    doc = {"items": [{"name": "Walmart", "rank": 1}]}
    seen = []

    def opener(url):
        seen.append(url)
        return json.dumps(doc).encode()

    land = str(tmp_path / "landing")
    path = fetch_json_to_landing(
        "https://api.example.com/fortune", land, "fortune500", opener=opener
    )
    assert seen == ["https://api.example.com/fortune"]
    assert path.endswith(".json") and json.load(open(path)) == doc
    raw = read_json_landing(spark, land, "fortune500", glob="fortune500_*.json")
    rows = raw.collect()
    assert len(rows) == 1 and json.loads(rows[0]["payload"]) == doc


def test_fetch_json_rejects_non_json(tmp_path):
    import pytest

    from unified_firmographic_data_pipeline_spark.sources.fetch import fetch_json_to_landing

    with pytest.raises(json.JSONDecodeError):
        fetch_json_to_landing(
            "https://x", str(tmp_path), "s", opener=lambda u: b"<html>error page</html>"
        )
    # failed fetch must not pollute the landing dir
    assert [f for f in (tmp_path).iterdir()] == []


def test_scrape_table_to_landing(spark, tmp_path):
    """A2 analogue (DAG:43-62): pd.read_html(...)[1] -> landed JSON array."""
    from unified_firmographic_data_pipeline_spark.sources.fetch import (
        html_tables,
        scrape_table_to_landing,
    )

    html = """
    <html><body>
    <table><tr><th>toc</th></tr><tr><td>ignored table 0</td></tr></table>
    <table>
      <tr><th>Symbol</th><th>Security</th><th>CIK</th></tr>
      <tr><td>MMM</td><td>3M &amp; Co</td><td>66740</td></tr>
      <tr><td>WMT</td><td>Walmart</td><td>104169</td></tr>
    </table>
    </body></html>
    """
    tables = html_tables(html)
    assert len(tables) == 2
    land = str(tmp_path / "landing")
    path = scrape_table_to_landing(
        "https://en.example.org/sp500", land, "wikipedia_sp500",
        table_index=1, opener=lambda u: html.encode(),
    )
    landed = json.load(open(path))
    assert landed == [
        {"Symbol": "MMM", "Security": "3M & Co", "CIK": "66740"},
        {"Symbol": "WMT", "Security": "Walmart", "CIK": "104169"},
    ]
    raw = read_json_landing(spark, land, "wikipedia_sp500")
    assert json.loads(raw.first()["payload"]) == landed


def test_scrape_table_index_out_of_range(tmp_path):
    import pytest

    from unified_firmographic_data_pipeline_spark.sources.fetch import scrape_table_to_landing

    with pytest.raises(IndexError, match="out of range"):
        scrape_table_to_landing(
            "https://x", str(tmp_path), "s", table_index=3,
            opener=lambda u: b"<table><tr><th>a</th></tr></table>",
        )


def test_http_json_datasource_file_urls(spark, tmp_path):
    """A1 as a real engine source: Spark 4 Python Data Source, one partition
    per URL (parallel fetch), RAW shape out, file:// replay for tests."""
    from unified_firmographic_data_pipeline_spark.sources.http_source import HttpJsonDataSource

    d1, d2 = tmp_path / "a.json", tmp_path / "b.json"
    d1.write_text(json.dumps([{"Symbol": "MMM"}]))
    d2.write_text(json.dumps({"items": [{"rank": 1}]}))
    spark.dataSource.register(HttpJsonDataSource)
    df = (
        spark.read.format("http_json")
        .option("urls", f"file://{d1},file://{d2}")
        .option("source", "unit")
        .load()
    )
    assert df.rdd.getNumPartitions() == 2  # one partition per endpoint
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {0, 1}
    assert json.loads(rows[0]["payload"]) == [{"Symbol": "MMM"}]
    assert json.loads(rows[1]["payload"]) == {"items": [{"rank": 1}]}
    assert all(r["source"] == "unit" and r["ingested_at"] is not None for r in rows.values())


def test_http_json_datasource_rejects_bad_json(spark, tmp_path):
    import pytest

    from unified_firmographic_data_pipeline_spark.sources.http_source import HttpJsonDataSource

    bad = tmp_path / "bad.json"
    bad.write_text("<html>oops</html>")
    spark.dataSource.register(HttpJsonDataSource)
    df = spark.read.format("http_json").option("urls", f"file://{bad}").load()
    with pytest.raises(Exception) as ei:
        df.collect()
    assert "JSONDecodeError" in str(ei.value) or "Expecting value" in str(ei.value)


def test_http_json_stream_polls_and_resumes_from_checkpoint(spark, tmp_path):
    """A1 streaming tier: the polling stream source checkpoints its poll
    offset — a second availableNow run on the SAME checkpoint continues at
    the next offset instead of re-emitting poll 0 (exactly-once offsets)."""
    from unified_firmographic_data_pipeline_spark.sources.http_source import HttpJsonDataSource

    doc = tmp_path / "feed.json"
    doc.write_text(json.dumps({"rows": [1, 2]}))
    spark.dataSource.register(HttpJsonDataSource)
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("http_json")
            .option("url", f"file://{doc}")
            .option("source", "poll_unit")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            spark.read.parquet(out).select("id", "payload").collect(),
            key=lambda r: r["id"],
        )

    first = run_once()
    assert [r["id"] for r in first] == [0]
    assert json.loads(first[0]["payload"]) == {"rows": [1, 2]}

    second = run_once()  # same checkpoint + sink: resumes at next offset
    assert [r["id"] for r in second] == [0, 1]  # poll 0 NOT re-emitted


def test_overlap_join_matches_brute_force(spark):
    from datetime import datetime

    from unified_firmographic_data_pipeline_spark.operators.temporal import overlap_join

    t = lambda h, m=0: datetime(2024, 1, 1, h, m)
    a_rows = [(1, t(1), t(3)), (2, t(5), t(6)), (3, t(8), t(9))]
    b_rows = [(10, t(2), t(4)), (11, t(5, 30), t(7)), (12, t(9), t(10))]
    a = spark.createDataFrame(a_rows, "a_id long, a_s timestamp, a_e timestamp")
    b = spark.createDataFrame(b_rows, "b_id long, b_s timestamp, b_e timestamp")
    got = sorted(
        (r.a_id, r.b_id)
        for r in overlap_join(a, b, "a_s", "a_e", "b_s", "b_e", bin_width_s=1800)
        .select("a_id", "b_id")
        .collect()
    )
    brute = sorted(
        (ai, bi)
        for ai, as_, ae in a_rows
        for bi, bs, be in b_rows
        if as_ < be and bs < ae  # half-open overlap; (3,12) touch but no overlap
    )
    assert got == brute == [(1, 10), (2, 11)]
