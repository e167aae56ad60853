"""The firmographic pipeline itself — staging -> core -> snapshots -> star.

Each model re-expresses one reference dbt model as a DataFrame function
(citations per model). Layers mirror the medallion schemas RAW / STAGING /
CORE / ANALYTICS / SNAPSHOTS (reference README.md:520-527).

Scale note: the raw payloads here are tiny (≈503 + ≈1000 rows) so every join
broadcasts, but nothing below assumes that — dedup is windowed (one shuffle
on the key), the core join is a plain equi-join Catalyst is free to plan as
broadcast or sort-merge, and SCD2 folds shuffle only the open/live subset.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from unified_firmographic_data_pipeline_spark.functions.cleaning import (
    first4_year,
    none_to_null,
    nullif_empty,
    parse_int_commas,
    parse_money,
    parse_pct,
    split_first,
    yes_no_to_bool,
)
from unified_firmographic_data_pipeline_spark.functions.keys import surrogate_key
from unified_firmographic_data_pipeline_spark.operators.dedup import dedup_first, dedup_latest
from unified_firmographic_data_pipeline_spark.operators.flatten import flatten_json_array
from unified_firmographic_data_pipeline_spark.operators.incremental import (
    high_watermark,
    incremental_filter,
)
from unified_firmographic_data_pipeline_spark.operators.scd2 import VALID_FROM, scd2_current
from unified_firmographic_data_pipeline_spark.plans.graph import Context, ModelGraph, model
from unified_firmographic_data_pipeline_spark.quality.expect import Expectation, expect

GRAPH = ModelGraph()

# Wiki payload elements keep their scraped header names; values arrive as a
# drift-tolerant string map (the VARIANT analogue — unknown keys survive,
# typing happens in the select below, same place the reference casts).
WIKI_ELEMENT_SCHEMA = MapType(StringType(), StringType())

# Fortune items: typed envelope + string-map "data" bag
FORTUNE_ITEM_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("order", LongType()),
        StructField("rank", LongType()),
        StructField("slug", StringType()),
        StructField("data", MapType(StringType(), StringType())),
    ]
)


def _wiki_tests(ctx: Context, df) -> Expectation:
    # stg_wiki_sp500.yml:8-35
    return (
        expect(df)
        .not_null(["company_name", "symbol", "cik"])
        .unique(["company_name", "symbol", "cik"])
        .in_range("founded_year", 1700, 2100)
    )


@model(GRAPH, schema="staging", materialized="incremental", unique_key=("cik",), tests=_wiki_tests)
def stg_wiki_sp500(ctx: Context):
    """models/staging/stg_wiki_sp500.sql — flatten + clean the S&P 500 payload.

    raw(id, source, ingested_at, payload JSON-array) -> one typed row per
    company, deduped to first-added per CIK (G1).
    """
    raw = ctx.source("raw", "wiki_sp500")
    wm = high_watermark(ctx.prior(), "ingested_at")
    raw = incremental_filter(raw, "ingested_at", wm)

    flat = flatten_json_array(
        raw.withColumnRenamed("id", "raw_id"),
        "payload",
        WIKI_ELEMENT_SCHEMA,
        parent_cols=("raw_id", "ingested_at", "source"),
        out_col="data",
    )
    d = F.col("data")
    hq = d["Headquarters Location"]
    cleaned = flat.select(
        "raw_id",
        "ingested_at",
        "source",
        split_first(d["Security"], " (").alias("company_name"),
        d["Symbol"].alias("symbol"),
        d["CIK"].cast("int").alias("cik"),
        nullif_empty(d["Date added"]).cast("date").alias("date_added"),
        first4_year(d["Founded"]).alias("founded_year"),
        d["GICS Sector"].alias("gics_sector"),
        d["GICS Sub-Industry"].alias("gics_sub_industry"),
        # reference nulls when the *whole* HQ field is the sentinel, then
        # splits (stg_wiki_sp500.sql:32-33: IFF(hq='none', NULL, SPLIT(..)[i]))
        # — a city literally named "none" with a real state must survive.
        F.when(hq == "none", F.lit(None).cast("string"))
        .otherwise(F.split(hq, ", ").getItem(0))
        .alias("headquarters_location_city"),
        F.when(hq == "none", F.lit(None).cast("string"))
        .otherwise(F.split(hq, ", ").getItem(1))
        .alias("headquarters_location_country"),
    )
    # G1 dedup: first-added wins per CIK; raw_id tiebreak for determinism
    # (the reference leaves ties arbitrary — SURVEY.md §7.3c).
    return dedup_first(cleaned, ["cik"], [F.col("date_added").asc_nulls_last(), "raw_id"])


def _fortune_tests(ctx: Context, df) -> Expectation:
    # stg_fortune500.yml:7-131
    return (
        expect(df)
        .not_null(["company_name", "slug"])
        .unique(["company_name"])
        .in_range("assets_m", lo=0)
        .in_range("revenues_m", lo=0)
        .in_range("profits_m", lo=-1e9)
        .in_range("market_value_m", lo=0)
        .in_range("employees", lo=0)
        .in_range("change_rank_500", -500, 500)
        .in_range("change_rank_1000", -1000, 1000)
        .custom("profit_not_exceed_revenue", F.col("profits_m") > F.col("revenues_m"))
    )


@model(
    GRAPH,
    schema="staging",
    materialized="incremental",
    unique_key=("company_name",),
    tests=_fortune_tests,
)
def stg_fortune500(ctx: Context):
    """models/staging/stg_fortune500.sql — flatten payload:items + parse
    money/pct/int/bool fields."""
    raw = ctx.source("raw", "fortune_500")
    wm = high_watermark(ctx.prior(), "ingested_at")
    raw = incremental_filter(raw, "ingested_at", wm)

    flat = flatten_json_array(
        raw.withColumnRenamed("id", "raw_id"),
        "payload",
        FORTUNE_ITEM_SCHEMA,
        parent_cols=("raw_id", "ingested_at", "source"),
        array_path="items",
        out_col="item",
    )
    it = F.col("item")
    d = it["data"]
    flags = {
        "is_best_company": "Best Companies",
        "is_change_the_world": "Change the World",
        "dropped_in_rank": "Dropped in Rank",
        "is_future_50": "Future 50",
        "is_global_500": "Global 500",
        "is_profitable": "Profitable",
        "is_newcomer": "Newcomer to the Fortune 500",
        "has_female_ceo": "Female CEO",
        "founder_is_ceo": "Founder is CEO",
        "is_fastest_growing": "Fastest Growing Companies",
        "is_most_admired": "World's Most Admired Companies",
    }
    return flat.select(
        "raw_id",
        "ingested_at",
        "source",
        it["name"].alias("company_name"),
        it["order"].cast("int").alias("company_order"),
        it["rank"].cast("int").alias("company_rank"),
        it["slug"].alias("slug"),
        parse_money(d["Assets ($M)"]).alias("assets_m"),
        parse_money(d["Revenues ($M)"]).alias("revenues_m"),
        parse_money(d["Profits ($M)"]).alias("profits_m"),
        parse_money(d["Market Value ($M)"]).alias("market_value_m"),
        parse_int_commas(d["Employees"]).cast("int").alias("employees"),
        parse_pct(d["Revenue Percent Change"]).alias("revenue_pct_change"),
        parse_pct(d["Profits Percent Change"]).alias("profit_pct_change"),
        d["Headquarters City"].alias("headquarters_city"),
        d["State"].alias("headquarters_state"),
        d["Industry"].alias("industry"),
        d["Sector"].alias("sector"),
        *[yes_no_to_bool(d[src]).alias(dst) for dst, src in flags.items()],
        F.coalesce(nullif_empty(d["Change in Rank (500 only)"]).cast("double"), F.lit(0.0)).alias(
            "change_rank_500"
        ),
        F.coalesce(nullif_empty(d["Change in Rank (Full 1000)"]).cast("double"), F.lit(0.0)).alias(
            "change_rank_1000"
        ),
    )


#: Core output column order — models/core/cr_company_complete.sql:55-91.
CORE_COLUMNS = [
    "last_updated",
    "company_name", "company_order", "company_rank", "slug",
    "assets_m", "revenues_m", "profits_m", "market_value_m", "employees",
    "revenue_pct_change", "profit_pct_change",
    "headquarters_city", "headquarters_state", "industry", "sector",
    "is_best_company", "is_change_the_world", "dropped_in_rank",
    "is_future_50", "is_global_500", "is_profitable", "is_newcomer",
    "has_female_ceo", "founder_is_ceo", "is_fastest_growing", "is_most_admired",
    "change_rank_500", "change_rank_1000",
    "symbol", "cik", "date_added", "founded_year", "gics_sector", "gics_sub_industry",
]


def _core_tests(ctx: Context, df) -> Expectation:
    # cr_company_complete.yml:7-19
    return expect(df).not_null(["company_name", "cik"]).unique(["cik"])


@model(
    GRAPH,
    schema="core",
    deps=("stg_fortune500", "stg_wiki_sp500"),
    materialized="incremental",
    unique_key=("cik",),
    tests=_core_tests,
)
def cr_company_complete(ctx: Context):
    """models/core/cr_company_complete.sql — inner join of the two staging
    tables on company_name (C1, intersection semantics) + latest-wins dedup
    (G2); fortune's ingested_at becomes last_updated."""
    f = ctx.ref("stg_fortune500")
    s = ctx.ref("stg_wiki_sp500")
    wm = high_watermark(ctx.prior(), "last_updated")
    s = incremental_filter(s, "ingested_at", wm)

    combined = (
        f.withColumnRenamed("ingested_at", "last_updated")
        .join(s.drop("raw_id", "source"), "company_name", "inner")
        .select(*CORE_COLUMNS)
    )
    return dedup_latest(combined, ["company_name"], [F.col("last_updated"), F.col("cik")])


@model(
    GRAPH,
    schema="snapshots",
    deps=("cr_company_complete",),
    materialized="snapshot",
    scd2_key="location_key",
    scd2_updated_at="last_updated",
)
def company_location_snapshot(ctx: Context):
    """snapshots/company_location_snapshot.sql:13-18 (SCD2 fold done by the
    runner via scd2_apply — strategy=timestamp, hard-delete invalidation)."""
    return ctx.ref("cr_company_complete").select(
        surrogate_key(["company_name", "headquarters_city", "headquarters_state"]).alias(
            "location_key"
        ),
        "headquarters_city",
        "headquarters_state",
        "last_updated",
    )


@model(
    GRAPH,
    schema="snapshots",
    deps=("cr_company_complete",),
    materialized="snapshot",
    scd2_key="fortune_metrics_key",
    scd2_updated_at="last_updated",
)
def fortune_metrics_snapshot(ctx: Context):
    """snapshots/fortune_metrics_snapshot.sql:13-32."""
    return ctx.ref("cr_company_complete").select(
        surrogate_key(["company_name", "slug"]).alias("fortune_metrics_key"),
        "company_order",
        "company_rank",
        "slug",
        "is_best_company",
        "is_change_the_world",
        "dropped_in_rank",
        "is_future_50",
        "is_global_500",
        "is_profitable",
        "is_newcomer",
        "has_female_ceo",
        "founder_is_ceo",
        "is_fastest_growing",
        "is_most_admired",
        "change_rank_500",
        "change_rank_1000",
        "last_updated",
    )


def _dim_company_tests(ctx: Context, df) -> Expectation:
    return expect(df).not_null(["company_key", "company_name"]).unique(["company_key"])


@model(GRAPH, schema="analytics", deps=("cr_company_complete",), tests=_dim_company_tests)
def dim_company(ctx: Context):
    """models/star/dim_company.sql."""
    return ctx.ref("cr_company_complete").select(
        surrogate_key(["company_name", "symbol"]).alias("company_key"),
        "symbol",
        "company_name",
        "industry",
        "sector",
        "cik",
        "founded_year",
    )


@model(GRAPH, schema="analytics", deps=("company_location_snapshot",))
def dim_location(ctx: Context):
    """models/star/dim_location.sql — current rows only (J2)."""
    return scd2_current(ctx.ref("company_location_snapshot")).select(
        "location_key",
        "headquarters_city",
        "headquarters_state",
        F.col(VALID_FROM).alias("valid_from"),
    )


@model(GRAPH, schema="analytics", deps=("fortune_metrics_snapshot",))
def dim_fortune_metrics(ctx: Context):
    """models/star/dim_fortune_metrics.sql — current rows only (J2)."""
    return scd2_current(ctx.ref("fortune_metrics_snapshot")).select(
        "fortune_metrics_key",
        "company_order",
        "company_rank",
        "slug",
        "is_best_company",
        "is_change_the_world",
        "dropped_in_rank",
        "is_future_50",
        "is_global_500",
        "is_profitable",
        "is_newcomer",
        "has_female_ceo",
        "founder_is_ceo",
        "is_fastest_growing",
        "is_most_admired",
        "change_rank_500",
        "change_rank_1000",
        F.col(VALID_FROM).alias("valid_from"),
    )


def _fact_tests(ctx: Context, df) -> Expectation:
    return (
        expect(df)
        .not_null(["company_key", "location_key", "fortune_metrics_key"])
        .fk("company_key", ctx.ref("dim_company"))
        .fk("location_key", ctx.ref("dim_location"))
    )


@model(
    GRAPH,
    schema="analytics",
    deps=("cr_company_complete", "dim_company", "dim_location", "dim_fortune_metrics"),
    materialized="incremental",
    unique_key=("company_key",),
    tests=_fact_tests,
)
def fact_company_performance(ctx: Context):
    """models/star/fact_company_performance.sql — surrogate FKs + measures."""
    core = ctx.ref("cr_company_complete")
    wm = high_watermark(ctx.prior(), "last_updated")
    core = incremental_filter(core, "last_updated", wm)
    return core.select(
        surrogate_key(["company_name", "symbol"]).alias("company_key"),
        surrogate_key(["company_name", "headquarters_city", "headquarters_state"]).alias(
            "location_key"
        ),
        surrogate_key(["company_name", "slug"]).alias("fortune_metrics_key"),
        "assets_m",
        "revenues_m",
        "profits_m",
        "market_value_m",
        "revenue_pct_change",
        "profit_pct_change",
        "employees",
        "last_updated",
    )
