"""Mini model-graph runner — the dbt-DAG analogue (SURVEY.md §3.2).

Each model is a pure function ``(ctx) -> DataFrame`` registered with a name,
schema/layer, dependency list (the ``ref()`` edges), and a materialization
strategy. ``run()`` topologically sorts and executes; each result goes to a
materializer:

- ``table``       -> atomic overwrite (dbt ``+materialized: table``).
- ``incremental`` -> watermark delta is the *model's* job: it calls
                     ``high_watermark(ctx.prior(), ts)`` and
                     ``incremental_filter`` (``operators/incremental.py``);
                     the runner upserts the result on the configured unique
                     key (dbt ``+materialized: incremental`` +
                     ``+unique_key``, ``dbt_project.yml:35-56``).
- ``snapshot``    -> SCD2 fold via ``scd2_apply`` (dbt snapshot, §2.J).

The IR of the whole cascade is the Catalyst logical plan — nothing here
executes row data on the driver; the runner only sequences writes.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from collections.abc import Callable
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from unified_firmographic_data_pipeline_spark.operators.incremental import upsert
from unified_firmographic_data_pipeline_spark.operators.scd2 import scd2_apply
from unified_firmographic_data_pipeline_spark.quality.expect import Expectation, expect
from unified_firmographic_data_pipeline_spark.sources.catalog import Catalog


@dataclass
class ModelSpec:
    name: str
    fn: Callable[["Context"], DataFrame]
    schema: str
    deps: tuple[str, ...] = ()
    materialized: str = "table"  # table | incremental | snapshot | ephemeral
    unique_key: tuple[str, ...] = ()
    scd2_key: str = ""
    scd2_updated_at: str = ""
    # declares the model's checks: returns an unrun Expectation over df
    tests: Callable[["Context", DataFrame], Expectation] | None = None


@dataclass
class Context:
    """What a model function sees: the session, the catalog (for ``ref`` /
    ``source`` reads) and its own prior materialization (for incremental
    watermarks — the ``{{ this }}`` analogue)."""

    spark: SparkSession
    catalog: Catalog
    graph: "ModelGraph"
    current: ModelSpec | None = None
    _ephemeral_cache: dict[str, DataFrame] = field(default_factory=dict)

    def ref(self, name: str) -> DataFrame:
        spec = self.graph.models[name]
        if spec.materialized == "ephemeral":
            # dbt inlines ephemeral models as CTEs; the Spark analogue is
            # composing the unexecuted logical plan directly. Memoized per
            # Context (= per run) so diamond deps build the subplan once.
            if name not in self._ephemeral_cache:
                prev = self.current
                self.current = spec
                try:
                    self._ephemeral_cache[name] = spec.fn(self)
                finally:
                    self.current = prev
            return self._ephemeral_cache[name]
        return self.catalog.read(spec.schema, name)

    def source(self, schema: str, table: str) -> DataFrame:
        return self.catalog.read(schema, table)

    def prior(self) -> DataFrame | None:
        """The current model's previous materialization, None on first run."""
        assert self.current is not None
        return self.catalog.read_or_none(self.current.schema, self.current.name)


class ModelGraph:
    def __init__(self) -> None:
        self.models: dict[str, ModelSpec] = {}

    def register(self, spec: ModelSpec) -> None:
        if spec.name in self.models:
            raise ValueError(f"duplicate model {spec.name}")
        self.models[spec.name] = spec

    def topo_order(self, select: list[str] | None = None) -> list[str]:
        ts = TopologicalSorter(
            {name: set(spec.deps) for name, spec in self.models.items()}
        )
        order = list(ts.static_order())
        if select is not None:
            keep = set(select)
            order = [n for n in order if n in keep]
        return order

    def run(
        self,
        spark: SparkSession,
        catalog: Catalog,
        select: list[str] | None = None,
        run_tests: bool = True,
        record_metadata: bool = False,
    ) -> dict[str, str]:
        """Execute models in dependency order; returns name -> status.

        A model's ``tests(ctx, df)`` declares its checks on an Expectation
        over ``df`` and returns it unrun. The runner attaches the row checks
        and the table statistics to the frame it writes
        (``Expectation.observe``), then runs the Expectation over the table
        as written: the row checks come out of the write, the unique and fk
        checks run beside it, and the catalog records the statistics (row
        count, timestamp and date ranges) that later watermarks read.

        ``record_metadata=True`` appends one row per model run to the
        ``_meta.run_metadata`` table (invocation_id, model, status, wall
        seconds, rows written, error message) — the engine analogue of the
        reference's dbt-artifact upload partitioned by invocation_id
        (SURVEY.md §2.A A7, ``DAG:66-107``). The rows are written even when
        a model raises: it gets status ``error`` and the run re-raises."""
        import time as _time
        import uuid as _uuid

        invocation_id = _uuid.uuid4().hex
        manifest: list[tuple] = []
        ctx = Context(spark=spark, catalog=catalog, graph=self)
        status: dict[str, str] = {}
        try:
            for name in self.topo_order(select):
                t0 = _time.perf_counter()
                spec = self.models[name]
                ctx.current = spec
                state, rows, message = "error", None, None
                try:
                    df = spec.fn(ctx)
                    checks = spec.tests(ctx, df) if run_tests and spec.tests is not None else expect(df)
                    if spec.materialized == "ephemeral":
                        # nothing written: downstream ref() inlines the logical plan
                        ctx._ephemeral_cache[name] = df
                    else:
                        target = checks.observe(_target(ctx, spec, df))
                        catalog.overwrite(target, spec.schema, name, observation=checks.observation)
                        rows = checks.observed_rows
                        if checks.checks:
                            checks.df = catalog.read(spec.schema, name)
                    checks.run()
                    state = status[name] = "ok"
                except Exception as e:
                    message = f"{type(e).__name__}: {e}"
                    raise
                finally:
                    manifest.append(
                        (invocation_id, name, state, _time.perf_counter() - t0, rows, message)
                    )
        finally:
            if record_metadata and manifest:
                meta_df = spark.createDataFrame(
                    manifest,
                    "invocation_id string, model string, status string, wall_sec double,"
                    " rows long, message string",
                )
                catalog.append(meta_df, "_meta", "run_metadata")
        return status


def _target(ctx: Context, spec: ModelSpec, df: DataFrame) -> DataFrame:
    """The frame that materializes ``df`` as ``spec`` says: the model's own
    result, its keyed upsert into the prior table, or its SCD2 fold."""
    if spec.materialized == "table":
        return df
    existing = ctx.catalog.read_or_none(spec.schema, spec.name)
    if spec.materialized == "incremental":
        return upsert(existing, df, list(spec.unique_key))
    if spec.materialized == "snapshot":
        return scd2_apply(existing, df, spec.scd2_key, spec.scd2_updated_at)
    raise ValueError(f"unknown materialization {spec.materialized}")


def model(
    graph: ModelGraph,
    *,
    schema: str,
    deps: tuple[str, ...] = (),
    materialized: str = "table",
    unique_key: tuple[str, ...] = (),
    scd2_key: str = "",
    scd2_updated_at: str = "",
    tests: Callable[[Context, DataFrame], Expectation] | None = None,
) -> Callable:
    """Decorator registering a model function under its own name."""

    def deco(fn: Callable[[Context], DataFrame]) -> Callable[[Context], DataFrame]:
        graph.register(
            ModelSpec(
                name=fn.__name__,
                fn=fn,
                schema=schema,
                deps=deps,
                materialized=materialized,
                unique_key=unique_key,
                scd2_key=scd2_key,
                scd2_updated_at=scd2_updated_at,
                tests=tests,
            )
        )
        return fn

    return deco


def audit_hash_chain(
    daily: DataFrame, day_col: str = "day", digest_col: str = "digest"
) -> DataFrame:
    """Tamper-evident hash chain over a BOUNDED ordered digest axis:
    chain_i = md5(chain_{i-1} || digest_i), genesis constant for i=0 —
    the run-metadata ledger pattern (each pipeline run's summary digest
    is chained, so silently rewriting any historical row breaks every
    later chain value; cf. Merkle 1987 / transparency-log designs).

    Contract: ``daily`` must already be aggregated to a bounded axis
    (days, runs — not raw rows): the fold collects the axis into ONE
    array and runs as a JVM catalyst ``aggregate`` expression, exact and
    engine-replayable but sequential by nature (a hash chain is the
    textbook non-parallelizable fold — that's its security property).
    The heavy lifting (per-day digests over raw rows) stays distributed
    upstream. ``day_col`` must sort chronologically as a STRING (ISO
    dates do) since the collected array is sort_array-ordered."""
    xs = daily.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(day_col).alias("day"), F.col(digest_col).alias("digest")
                )
            )
        ).alias("xs")
    )
    folded = xs.select(
        F.explode(
            F.expr(
                "aggregate(xs, "
                "CAST(array() AS ARRAY<STRUCT<day STRING, digest STRING, chain STRING>>), "
                "(acc, x) -> array_append(acc, named_struct("
                "'day', x.day, 'digest', x.digest, "
                "'chain', md5(concat(coalesce(try_element_at(acc, -1).chain, "
                "'GENESIS'), x.digest)))))"
            )
        ).alias("r")
    )
    return folded.select(
        F.col("r.day").alias(day_col),
        F.col("r.digest").alias(digest_col),
        F.col("r.chain").alias("chain"),
    )
