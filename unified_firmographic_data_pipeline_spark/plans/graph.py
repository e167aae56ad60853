"""Mini model-graph runner — the dbt-DAG analogue (SURVEY.md §3.2).

Each model is a pure function ``(ctx) -> DataFrame`` registered with a name,
schema/layer, dependency list (the ``ref()`` edges), and a materialization
strategy. Each result goes to a materializer:

- ``table``       -> atomic overwrite (dbt ``+materialized: table``).
- ``incremental`` -> watermark delta is the *model's* job: it calls
                     ``high_watermark(ctx.prior(), ts)`` and
                     ``incremental_filter`` (``operators/incremental.py``);
                     the runner upserts the result on the configured unique
                     key (dbt ``+materialized: incremental`` +
                     ``+unique_key``, ``dbt_project.yml:35-56``).
- ``snapshot``    -> SCD2 fold via ``scd2_apply`` (dbt snapshot, §2.J).
- ``ephemeral``   -> nothing written; ``ref()`` inlines the logical plan.

``run()`` builds, like dbt's thread pool, every model whose selected
dependencies have been written and checked, all at the same time: siblings
overlap on the driver and on the executors, and a run waits on its longest
dependency chain, not on the sum of its models. The width of the DAG is the
only bound on that concurrency; there is no option for it. Each model's
build, write and checks are the same Spark actions a one-model run makes.

The IR of the whole cascade is the Catalyst logical plan — nothing here
executes row data on the driver.
"""

from __future__ import annotations

import threading
import time
import uuid
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field, replace
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

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
    watermarks — the ``{{ this }}`` analogue). A run gives every model its
    own Context; they share the ephemeral plans built so far."""

    spark: SparkSession
    catalog: Catalog
    graph: "ModelGraph"
    current: ModelSpec | None = None
    _ephemeral_cache: dict[str, DataFrame] = field(default_factory=dict)
    _ephemeral_lock: threading.RLock = field(default_factory=threading.RLock)

    def of(self, spec: ModelSpec) -> "Context":
        """The Context ``spec`` builds in, sharing this one's ephemeral plans."""
        return replace(self, current=spec)

    def ref(self, name: str) -> DataFrame:
        spec = self.graph.models[name]
        if spec.materialized == "ephemeral":
            # dbt inlines ephemeral models as CTEs; the Spark analogue is
            # composing the unexecuted logical plan directly. Memoized per
            # run, under a lock, so diamond deps and concurrent dependents
            # build the subplan once.
            with self._ephemeral_lock:
                if name not in self._ephemeral_cache:
                    self._ephemeral_cache[name] = spec.fn(self.of(spec))
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
        """Build the selected models (all by default); returns name -> status
        in ``topo_order()``.

        A model starts as soon as each of its dependencies in ``select`` has
        been written and has passed its checks, so independent models run
        at the same time, one thread each (a dependency left out of
        ``select`` is read as it stands). The pool is as wide as the
        selection, so the DAG's width alone bounds how many models run at
        once; nothing else configures it. Every thread carries the caller's
        Spark local properties and tags (job group, scheduler pool, job
        tags). Once any model fails, in its function, its write or its
        checks, no further model starts: those already running finish, and
        the run raises the error of the failed model that comes first in
        ``topo_order()``.

        A model's ``tests(ctx, df)`` declares its checks on an Expectation
        over ``df`` and returns it unrun. The runner attaches the row checks
        and the table statistics to the frame it writes
        (``Expectation.observe``), then runs the Expectation over the table
        as written: the row checks come out of the write, the unique and fk
        checks run beside it, and the catalog records the statistics (row
        count, timestamp and date ranges) that later watermarks read.

        ``record_metadata=True`` appends one row per model started to the
        ``_meta.run_metadata`` table (invocation_id, model, status, seconds
        from the run's start to the model's start, wall seconds, rows
        written, error message), in ``topo_order()`` — the engine analogue
        of the reference's dbt-artifact upload partitioned by invocation_id
        (SURVEY.md §2.A A7, ``DAG:66-107``). The rows are written even when
        a model raises: it gets status ``error`` and the run re-raises."""
        invocation_id = uuid.uuid4().hex
        order = self.topo_order(select)
        chosen = set(order)
        sorter = TopologicalSorter({n: [d for d in self.models[n].deps if d in chosen] for n in order})
        sorter.prepare()
        base = Context(spark=spark, catalog=catalog, graph=self)
        build = inheritable_thread_target(spark)(_build)
        t_run = time.perf_counter()
        finished: dict[str, tuple] = {}
        errors: dict[str, Exception] = {}
        try:
            with ThreadPoolExecutor(max_workers=max(1, len(order))) as pool:
                running: set = set()
                while True:
                    if not errors:
                        running |= {
                            pool.submit(build, base.of(self.models[n]), run_tests, t_run)
                            for n in sorter.get_ready()
                        }
                    if not running:
                        break
                    done, running = wait(running, return_when=FIRST_COMPLETED)
                    for fut in done:
                        row, err = fut.result()
                        finished[row[0]] = row
                        if err is None:
                            sorter.done(row[0])
                        else:
                            errors[row[0]] = err
        finally:
            manifest = [(invocation_id, *finished[n]) for n in order if n in finished]
            if record_metadata and manifest:
                meta_df = spark.createDataFrame(
                    manifest,
                    "invocation_id string, model string, status string, started_sec double,"
                    " wall_sec double, rows long, message string",
                )
                catalog.append(meta_df, "_meta", "run_metadata")
        for n in order:
            if n in errors:
                raise errors[n]
        return {n: "ok" for n in order}


def _build(ctx: Context, run_tests: bool, t_run: float) -> tuple[tuple, Exception | None]:
    """Build, write and check ``ctx.current``; returns its manifest row
    (model, status, started_sec, wall_sec, rows, message) and its error."""
    spec = ctx.current
    t0 = time.perf_counter()
    rows, err = None, None
    try:
        df = ctx.ref(spec.name) if spec.materialized == "ephemeral" else spec.fn(ctx)
        checks = spec.tests(ctx, df) if run_tests and spec.tests is not None else expect(df)
        if spec.materialized != "ephemeral":
            target = checks.observe(_target(ctx, spec, df))
            ctx.catalog.overwrite(target, spec.schema, spec.name, observation=checks.observation)
            rows = checks.observed_rows
            if checks.checks:
                checks.df = ctx.catalog.read(spec.schema, spec.name)
        checks.run()
    except Exception as e:
        err = e
    message = None if err is None else f"{type(err).__name__}: {err}"
    state = "ok" if err is None else "error"
    return (spec.name, state, t0 - t_run, time.perf_counter() - t0, rows, message), err


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
