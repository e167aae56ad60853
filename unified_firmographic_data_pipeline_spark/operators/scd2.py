"""SCD2 snapshot maintenance — the reference's hardest semantics.

Reference (SURVEY.md §2.J J1): dbt snapshots with ``strategy='timestamp'``,
``unique_key``, ``updated_at``, ``invalidate_hard_deletes=True``
(``firmographics_dbt/snapshots/company_location_snapshot.sql:4-11``,
``fortune_metrics_snapshot.sql:4-11``). Public dbt semantics:

- first run: every source row becomes an open version
  (``valid_from = updated_at``, ``valid_to = NULL``, ``scd_id =
  md5(key || '|' || updated_at)``).
- later runs, per key: source ``updated_at`` newer than the open row's ->
  close the open row (``valid_to := new updated_at``) and insert the new
  version; key missing from source -> close the open row at the run
  timestamp (hard-delete invalidation); unchanged -> untouched. Closed
  history rows are immutable.

Spark-first design: there is no single Spark primitive for this, so it is a
composition — split snapshot into (closed, open), full-outer join *open ×
source on the key only* (one shuffle on the key; closed history is not
shuffled at all), derive the row action, emit closed' ∪ updated-open ∪
inserts. At 100 TB the open set is bounded by live-key cardinality (≪
history), and with Delta/Iceberg the same logic becomes a MERGE; the plain
function stays storage-agnostic and the materializer does an atomic rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unified_firmographic_data_pipeline_spark.functions.keys import surrogate_key
from unified_firmographic_data_pipeline_spark.sources.catalog import column_max

#: SCD2 metadata columns, named after their public dbt counterparts so the
#: star models read identically (reference README.md:418-422).
SCD_ID = "dbt_scd_id"
UPDATED_AT = "dbt_updated_at"
VALID_FROM = "dbt_valid_from"
VALID_TO = "dbt_valid_to"
META_COLS = (SCD_ID, UPDATED_AT, VALID_FROM, VALID_TO)


def scd2_init(source: DataFrame, key: str, updated_at: str) -> DataFrame:
    """First-run materialization: every source row becomes an open version."""
    ts = F.col(updated_at)
    return source.select(
        "*",
        surrogate_key([F.col(key), ts]).alias(SCD_ID),
        ts.alias(UPDATED_AT),
        ts.alias(VALID_FROM),
        F.lit(None).cast(source.schema[updated_at].dataType).alias(VALID_TO),
    )


def scd2_apply(
    snapshot: DataFrame | None,
    source: DataFrame,
    key: str,
    updated_at: str,
    invalidate_hard_deletes: bool = True,
) -> DataFrame:
    """One snapshot run: fold ``source`` into ``snapshot``, returning the new
    full snapshot table (closed history ∪ surviving/updated open rows ∪ new
    versions). ``snapshot is None`` means first run."""
    if snapshot is None:
        return scd2_init(source, key, updated_at)

    data_cols = [c for c in snapshot.columns if c not in META_COLS]
    closed = snapshot.filter(F.col(VALID_TO).isNotNull())
    open_rows = snapshot.filter(F.col(VALID_TO).isNull())

    src = source.select(
        F.col(key).alias("__src_key"),
        F.col(updated_at).alias("__src_ts"),
        F.struct(*source.columns).alias("__src_row"),
    )
    joined = open_rows.join(src, open_rows[key] == src["__src_key"], "full_outer")

    is_new_key = open_rows[key].isNull()  # in source only -> brand-new key
    is_gone = F.col("__src_key").isNull()  # in snapshot only -> hard delete
    is_changed = (~is_new_key) & (~is_gone) & (F.col("__src_ts") > F.col(UPDATED_AT))

    # Surviving open rows: unchanged keys keep their open version; changed
    # keys get it closed at the new updated_at; vanished keys get closed at
    # the new batch's max timestamp (dbt uses the run's transaction time; the
    # engine uses the batch high-watermark so reruns stay deterministic).
    # A source that only projects a catalog table (the snapshot models'
    # case) reads it from the table's record; any other source is scanned.
    batch_hwm = column_max(source, updated_at)
    kept_open = joined.filter(~is_new_key).select(
        *[open_rows[c] for c in data_cols],
        open_rows[SCD_ID],
        open_rows[UPDATED_AT],
        open_rows[VALID_FROM],
        F.when(is_changed, F.col("__src_ts"))
        .when(is_gone & F.lit(invalidate_hard_deletes), F.lit(batch_hwm))
        .otherwise(open_rows[VALID_TO])
        .alias(VALID_TO),
    )

    # New versions: brand-new keys + new versions of changed keys.
    inserts = (
        joined.filter(is_new_key | is_changed)
        .select(F.col("__src_row.*"))
        .select(
            *data_cols,
            surrogate_key([F.col(key), F.col(updated_at)]).alias(SCD_ID),
            F.col(updated_at).alias(UPDATED_AT),
            F.col(updated_at).alias(VALID_FROM),
            F.lit(None).cast(source.schema[updated_at].dataType).alias(VALID_TO),
        )
    )
    return closed.select(*data_cols, *META_COLS).unionByName(kept_open).unionByName(inserts)


def scd2_apply_check(
    snapshot: DataFrame | None,
    source: DataFrame,
    key: str,
    check_cols: list[str],
    run_ts,
    invalidate_hard_deletes: bool = True,
) -> DataFrame:
    """dbt's OTHER snapshot mode, ``strategy='check'``: a new version opens
    when any of ``check_cols`` differs (null-safe) from the open version —
    for sources without a reliable ``updated_at``. Public dbt semantics use
    the snapshot transaction time for ``dbt_updated_at``/``valid_from``;
    here the caller passes ``run_ts`` explicitly so reruns are
    deterministic (same design as the batch high-watermark in
    ``scd2_apply``).

    Same scale shape as ``scd2_apply``: closed history never shuffles; one
    key-shuffle full-outer join of the open set against the source."""
    ts_lit = F.lit(run_ts).cast("timestamp")
    if snapshot is None:
        return source.select(
            "*",
            surrogate_key([F.col(key), ts_lit]).alias(SCD_ID),
            ts_lit.alias(UPDATED_AT),
            ts_lit.alias(VALID_FROM),
            F.lit(None).cast("timestamp").alias(VALID_TO),
        )

    data_cols = [c for c in snapshot.columns if c not in META_COLS]
    closed = snapshot.filter(F.col(VALID_TO).isNotNull())
    open_rows = snapshot.filter(F.col(VALID_TO).isNull())

    src = source.select(
        F.col(key).alias("__src_key"),
        F.struct(*source.columns).alias("__src_row"),
    )
    joined = open_rows.join(src, open_rows[key] == src["__src_key"], "full_outer")

    is_new_key = open_rows[key].isNull()
    is_gone = F.col("__src_key").isNull()
    diff = None
    for c in check_cols:
        d = ~open_rows[c].eqNullSafe(F.col(f"__src_row.{c}"))
        diff = d if diff is None else (diff | d)
    is_changed = (~is_new_key) & (~is_gone) & (diff if diff is not None else F.lit(False))

    kept_open = joined.filter(~is_new_key).select(
        *[open_rows[c] for c in data_cols],
        open_rows[SCD_ID],
        open_rows[UPDATED_AT],
        open_rows[VALID_FROM],
        F.when(is_changed, ts_lit)
        .when(is_gone & F.lit(invalidate_hard_deletes), ts_lit)
        .otherwise(open_rows[VALID_TO])
        .alias(VALID_TO),
    )
    inserts = (
        joined.filter(is_new_key | is_changed)
        .select(F.col("__src_row.*"))
        .select(
            *data_cols,
            surrogate_key([F.col(key), ts_lit]).alias(SCD_ID),
            ts_lit.alias(UPDATED_AT),
            ts_lit.alias(VALID_FROM),
            F.lit(None).cast("timestamp").alias(VALID_TO),
        )
    )
    return closed.select(*data_cols, *META_COLS).unionByName(kept_open).unionByName(inserts)


def scd2_current(snapshot: DataFrame) -> DataFrame:
    """Current-state projection (J2): open rows only
    (``WHERE dbt_valid_to IS NULL`` — ``dim_location.sql:7``,
    ``dim_fortune_metrics.sql:22``)."""
    return snapshot.filter(F.col(VALID_TO).isNull())
