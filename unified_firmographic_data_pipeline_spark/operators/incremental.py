"""Incremental materialization: high-watermark delta filter + keyed upsert.

Reference (SURVEY.md §2.B B2, §2.J J3): every incremental model filters
``WHERE ingested_at > (SELECT max(ingested_at) FROM {{ this }})``
(``stg_wiki_sp500.sql:5-7``, ``cr_company_complete.sql:42-44``) and dbt
compiles the materialization to a Snowflake ``MERGE`` on the configured
``unique_key`` (``dbt_project.yml:35-56``).

Spark-first design: the watermark is the single permitted driver-side scalar
(SURVEY.md §7.3d) — ``max(ts)`` over the prior output. When that output is a
table the catalog wrote and nothing has changed it since, the value comes
from the statistics recorded with the write (``sources/catalog.py:
column_max``) and costs no Spark job; otherwise it is an ``agg(max)`` scan of
the column, two jobs (partial max, final max), as the V1 parquet source
answers no aggregate from footers. The upsert is the join-based rewrite
``existing.join(delta, key, 'left_anti') ∪ delta`` — one shuffle on the key;
with Delta/Iceberg the same contract maps to MERGE INTO. The delta filter
itself is a pushed-down Parquet predicate on the source.
"""

from __future__ import annotations

import functools
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unified_firmographic_data_pipeline_spark.sources.catalog import atomic_swap_write, column_max, fs_exists


def high_watermark(prior: DataFrame | None, ts_col: str) -> Any:
    """``SELECT max(ts) FROM {{ this }}`` — None on first run. Answered
    from the catalog's record when ``prior`` is a table as ``Catalog.read``
    returns it, scanned otherwise (``column_max``)."""
    if prior is None:
        return None
    return column_max(prior, ts_col)


def incremental_filter(df: DataFrame, ts_col: str, watermark: Any) -> DataFrame:
    """Keep rows strictly past the watermark (all rows on first run)."""
    if watermark is None:
        return df
    return df.filter(F.col(ts_col) > F.lit(watermark))


def upsert(existing: DataFrame | None, delta: DataFrame, keys: list[str]) -> DataFrame:
    """Keyed upsert: delta rows replace existing rows with the same key.

    ``delta`` must be unique per key (the models dedup first — G2). The
    anti-join keeps only untouched existing rows; the union is the new table.
    """
    if existing is None:
        return delta
    untouched = existing.join(delta.select(*keys).distinct(), on=keys, how="left_anti")
    return untouched.unionByName(delta)


def delta_merge_available() -> bool:
    """True when the Delta Lake Python bindings are importable — the signal
    that the runtime can run a transactional ``MERGE INTO`` instead of the
    rewrite fallback. (Classpath/extension wiring is the deployment's job;
    the import is the in-process proxy for it.)"""
    try:
        import delta.tables  # noqa: F401
    except ImportError:
        return False
    return True


def merge_condition(keys: list[str], target: str = "t", source: str = "s") -> str:
    """The MERGE ON condition for the Delta path: null-safe equality
    (``<=>``) on every unique-key column, matching the upsert() anti-join
    contract. Kept as a pure function so the statement the Delta branch
    would run is testable without a Delta runtime on the classpath."""
    if not keys:
        raise ValueError("merge_condition: at least one key column required")
    return " AND ".join(f"{target}.{k} <=> {source}.{k}" for k in keys)


def _merge_with_delta(spark, delta_df: DataFrame, keys: list[str], table_path: str) -> str:
    """Transactional path: Delta ``MERGE INTO`` on the unique key — ACID,
    no full-table rewrite; at 100 TB only touched files rewrite. Null-safe
    key equality (``<=>``) matches the upsert() anti-join contract."""
    from delta.tables import DeltaTable

    if not DeltaTable.isDeltaTable(spark, table_path):
        delta_df.write.format("delta").mode("overwrite").save(table_path)
        return "delta-create"
    cond = merge_condition(keys)
    (
        DeltaTable.forPath(spark, table_path)
        .alias("t")
        .merge(delta_df.alias("s"), cond)
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
    )
    return "delta-merge"


def _merge_with_swap(spark, delta_df: DataFrame, keys: list[str], table_path: str) -> str:
    """Fallback path: anti-join + union + atomic directory swap. Correct on
    plain parquet, but rewrites the whole table per run — the price of no
    transactional format."""
    existing = spark.read.parquet(table_path) if fs_exists(spark, table_path) else None
    atomic_swap_write(upsert(existing, delta_df, keys), table_path)
    return "swap-rewrite"


def materialize_merge(spark, delta_df: DataFrame, keys: list[str], table_path: str) -> str:
    """MERGE materializer seam (dbt ``+materialized: incremental`` +
    ``+unique_key``, ``dbt_project.yml:35-56``): dispatch to Delta
    ``MERGE INTO`` when the runtime supports it, else the
    anti-join+union+swap fallback. Returns the strategy used
    (``delta-merge`` / ``delta-create`` / ``swap-rewrite``) so callers and
    run-metadata can record it.

    ENV BLOCK (documented per the round-3 review): the ``delta-spark``
    package is not installed in this container and installs are
    prohibited, so the transactional branch has never executed in-process
    here. What IS pinned without a Delta runtime: the dispatch seam
    (``test_materialize_merge_dispatches_to_delta``), the exact MERGE ON
    condition text and its key coverage
    (``test_delta_merge_condition_compiles_and_covers_all_keys``), and a
    real-runtime parity test (``test_delta_merge_real_runtime_parity``)
    that auto-activates — swap fallback vs MERGE result equality — the
    moment ``import delta.tables`` succeeds."""
    if delta_merge_available():
        return _merge_with_delta(spark, delta_df, keys, table_path)
    return _merge_with_swap(spark, delta_df, keys, table_path)


# -- incremental aggregate maintenance ------------------------------------

#: merge rule per aggregate kind: how two partial states combine.
_MERGEABLE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}


def agg_state(df: DataFrame, keys: list[str], aggs: dict[str, tuple[str, str]]) -> DataFrame:
    """Build a partial-aggregate state table: one row per key with columns
    named by ``aggs`` = {out_col: (kind, src_col)}, kind in sum|count|min|max.
    ``avg`` is intentionally absent — maintain (sum, count) and divide at
    read time; an average is not mergeable on its own."""
    exprs = []
    for out, (kind, src) in aggs.items():
        if kind == "count":
            exprs.append(F.count(src if src != "*" else F.lit(1)).alias(out))
        elif kind in _MERGEABLE:
            exprs.append(getattr(F, kind)(src).alias(out))
        else:
            raise ValueError(f"non-mergeable aggregate kind {kind!r} for {out}")
    return df.groupBy(*keys).agg(*exprs)


def merge_agg_state(
    state: DataFrame | None,
    delta_state: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Fold a new batch's partial aggregates into the maintained state —
    the incremental-rollup pattern: at 100 TB you re-aggregate the DELTA
    (small) and merge, never the full history. ``union + re-agg`` keeps it
    one shuffle of (keys × 2 rows max per key); counts merge by SUM, sums
    by SUM, min/max by min/max — exactly the partial/final split Spark
    itself uses inside hash aggregation, lifted to run-over-run state.

    Equivalence contract (property-tested): ``merge_agg_state(agg_state(a),
    agg_state(b)) == agg_state(a ∪ b)`` for any split of the input.
    """
    if state is None:
        return delta_state
    merged_exprs = []
    for out, (kind, _src) in aggs.items():
        fn = _MERGEABLE.get(kind)
        if fn is None:
            raise ValueError(f"non-mergeable aggregate kind {kind!r} for {out}")
        merged_exprs.append(fn(out).alias(out))
    return state.unionByName(delta_state).groupBy(*keys).agg(*merged_exprs)


def table_diff(
    old: DataFrame, new: DataFrame, keys: list[str], compare_cols: list[str] | None = None
) -> DataFrame:
    """Snapshot diff (CDC derivation): classify every key as ``inserted`` /
    ``deleted`` / ``changed`` / ``unchanged`` between two table versions —
    the batch analogue of a CDC feed, and the input SCD2 consumes.

    One full-outer join on the key (both sides shuffle once); change
    detection is a null-safe struct inequality so NULL-vs-value edits count
    as changes. Returns keys + change_type + both sides' compare columns
    (old_/new_ prefixed).
    """
    compare_cols = compare_cols or [c for c in new.columns if c not in keys]
    o = old.select(*keys, *[F.col(c).alias(f"old_{c}") for c in compare_cols]).withColumn(
        "__in_old", F.lit(True)
    )
    n = new.select(*keys, *[F.col(c).alias(f"new_{c}") for c in compare_cols]).withColumn(
        "__in_new", F.lit(True)
    )
    joined = o.join(n, keys, "full_outer")
    same = functools.reduce(
        lambda a, b: a & b,
        [F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}")) for c in compare_cols],
    )
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("inserted"))
        .when(F.col("__in_new").isNull(), F.lit("deleted"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.withColumn("change_type", change).drop("__in_old", "__in_new")


def incremental_join_delta(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: list[str],
) -> DataFrame:
    """Incremental view maintenance for an inner join: the DELTA of
    ``(a_old + a_delta) JOIN (b_old + b_delta)`` without recomputing the
    full join, via the standard bilinearity rule

        d(A >< B) = dA >< B  +  A >< dB  +  dA >< dB.

    At 100 TB this is the difference between joining two deltas against the
    (indexed/bucketed) history and re-joining two histories: each term
    shuffles at most one full-size input, and when the stored tables are
    bucketed on the join keys (sources/catalog.py:write_bucketed) the big
    sides never shuffle at all. Appended to the prior join result this
    yields exactly the refreshed view (append-only inputs; for updates,
    compose with table_diff to retract changed rows first).
    """
    return (
        a_delta.join(b_old, on)
        .unionByName(a_old.join(b_delta, on))
        .unionByName(a_delta.join(b_delta, on))
    )


def cdc_events(
    old: DataFrame, new: DataFrame, keys: list[str], compare_cols: list[str] | None = None
) -> DataFrame:
    """Change-data-capture event derivation on top of ``table_diff``:
    one event row per changed key — ``op`` in I/U/D plus, for updates, a
    column-level change mask (``changed_cols``: comma-joined sorted column
    names whose values differ null-safely). The feed shape downstream
    MERGE sinks / SCD2 appliers / audit logs consume, derived from two
    snapshots when the source system exposes no log (the batch stand-in
    for a Debezium-style stream; the reference's warehouse-native MERGE
    assumes such a feed exists — dbt_project.yml:35-56).

    Cost is exactly table_diff's one full-outer key shuffle; the change
    mask adds per-column null-safe comparisons in the same projection, no
    extra pass. Emits ``changed_cols`` as a STRING (not array) so event
    logs stay flat/sortable for range-partitioned audit sinks.
    """
    compare_cols = sorted(compare_cols or [c for c in new.columns if c not in keys])
    d = table_diff(old, new, keys, compare_cols).filter(
        F.col("change_type") != "unchanged"
    )
    op = (
        F.when(F.col("change_type") == "inserted", "I")
        .when(F.col("change_type") == "deleted", "D")
        .otherwise("U")
    )
    mask = F.array_join(
        F.filter(
            F.array(
                *[
                    F.when(
                        ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}")), F.lit(c)
                    )
                    for c in compare_cols
                ]
            ),
            lambda x: x.isNotNull(),
        ),
        ",",
    )
    return d.select(
        *keys,
        op.alias("op"),
        F.when(op == "U", mask).alias("changed_cols"),
    )
