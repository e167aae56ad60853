"""``expect(df)`` — the dbt-test analogue as chainable DataFrame assertions.

Reference test taxonomy (SURVEY.md §5): ``not_null``, ``unique``,
``relationships`` (FK), ``accepted_values``, ``accepted_range``
(dbt_utils), plus singular violation-SELECT tests. Semantics preserved: each
check is a SELECT of violating rows; pass = 0 violations; ``run()`` raises
(gating downstream models, like dbt test gates the DAG — ``DAG:201``).

What the checks cost, in Spark actions:

- row checks (``not_null``, ``in_range``, ``accepted``, ``custom``) are
  violation-count aggregates. ``observe(df)`` attaches all of them to the
  frame about to be written, so they are counted by the write itself and
  cost no job; without it, ``run()`` counts them in one aggregate pass.
- all ``unique`` and ``fk`` checks of one Expectation run as ONE action
  over the frame: a GROUP BY per unique key and a left-anti join per fk,
  unioned and counted per check. Each GROUP BY adds one map-stage job and
  each broadcast dimension one broadcast job; the action adds one.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from unified_firmographic_data_pipeline_spark.sources.catalog import table_stats


class QualityError(AssertionError):
    """One or more expectations failed; message lists each violation."""


@dataclass
class _Check:
    name: str
    # row check: violation count aggregated over the frame's rows
    agg: Column | None = None
    # unique check: the key column
    unique: str | None = None
    # fk check: (key, dimension frame, dimension key)
    fk: tuple[str, DataFrame, str] | None = None


@dataclass
class Expectation:
    df: DataFrame
    checks: list[_Check] = field(default_factory=list)
    # set by observe(): the row checks and the table statistics of one write
    observation: Observation | None = field(default=None, init=False, repr=False)

    # -- generic tests ------------------------------------------------------
    def not_null(self, cols: Sequence[str]) -> "Expectation":
        for c in cols:
            self.checks.append(
                _Check(f"not_null({c})", agg=F.count(F.when(F.col(c).isNull(), 1)))
            )
        return self

    def unique(self, cols: Sequence[str]) -> "Expectation":
        """dbt ``unique``: GROUP BY col HAVING count(*) > 1 (SURVEY §2.H H2).
        A NULL key occurring twice is a duplicate group too."""
        for c in cols:
            self.checks.append(_Check(f"unique({c})", unique=c))
        return self

    def fk(self, key: str, dim: DataFrame, dim_key: str | None = None) -> "Expectation":
        """dbt ``relationships``: every fact key exists in the dimension
        (left-anti join count — SURVEY §2.C C2)."""
        self.checks.append(_Check(f"fk({key})", fk=(key, dim, dim_key or key)))
        return self

    def accepted(self, col: str, values: Sequence) -> "Expectation":
        cond = F.col(col).isNotNull() & ~F.col(col).isin(list(values))
        self.checks.append(_Check(f"accepted({col})", agg=F.count(F.when(cond, 1))))
        return self

    def in_range(self, col: str, lo=None, hi=None) -> "Expectation":
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (F.col(col) < lo)
        if hi is not None:
            cond = cond | (F.col(col) > hi)
        self.checks.append(_Check(f"in_range({col})", agg=F.count(F.when(cond, 1))))
        return self

    def custom(self, name: str, violation: Column) -> "Expectation":
        """Singular test: rows where ``violation`` holds are failures
        (e.g. ``profits_m > revenues_m`` —
        ``tests/test_fortune_profit_not_exceed_revenue.sql``)."""
        self.checks.append(_Check(name, agg=F.count(F.when(violation, 1))))
        return self

    # -- plans --------------------------------------------------------------
    def _row_checks(self) -> list[_Check]:
        return [c for c in self.checks if c.agg is not None]

    def _row_aggs(self) -> list[Column]:
        return [c.agg.cast("long").alias(f"c{i}") for i, c in enumerate(self._row_checks())]

    def _duplicate_groups(self, c: str) -> DataFrame:
        return self.df.groupBy(c).count().filter(F.col("count") > 1)

    def _orphans(self, check: _Check) -> DataFrame:
        key, dim, dim_key = check.fk
        return (
            self.df.select(F.col(key)).where(F.col(key).isNotNull())
            .join(dim.select(F.col(dim_key).alias(key)), key, "left_anti")
        )

    def _violating_rows(self, check: _Check) -> DataFrame:
        """One row per violation of a unique or fk check."""
        return self._duplicate_groups(check.unique) if check.unique is not None else self._orphans(check)

    def _set_failures(self, checks: list[_Check]) -> dict[str, int]:
        """Violation counts of every unique and fk check in one action: each
        check's violating rows (duplicate groups, orphan keys) are unioned
        and counted per check by an Observation on a no-op write. Each check
        keeps the plan of a separate one (a GROUP BY shuffle, a join) and
        the action adds one job, not one per check."""
        bad = [self._violating_rows(c).select(F.lit(i).alias("i")) for i, c in enumerate(checks)]
        obs = Observation()
        (
            functools.reduce(DataFrame.unionByName, bad)
            .observe(obs, *[F.count(F.when(F.col("i") == i, 1)).alias(f"s{i}") for i in range(len(checks))])
            .write.format("noop").mode("overwrite").save()
        )
        got = obs.get
        return {c.name: got[f"s{i}"] for i, c in enumerate(checks)}

    # -- execution ----------------------------------------------------------
    def observe(self, df: DataFrame) -> DataFrame:
        """Attach the row checks, plus the table statistics the catalog
        records (``table_stats``: the row count and the min and max of every
        timestamp and date column), to ``df`` — the frame about to be
        written — as one Observation. The write then counts them, and
        ``run()`` reads them from it instead of scanning; the unique and fk
        checks still run over ``self.df``. Declare every check before
        calling this."""
        self.observation = Observation()
        return df.observe(self.observation, *table_stats(df.schema), *self._row_aggs())

    @property
    def observed_rows(self) -> int:
        """Rows counted by the observed write (blocks until it has run)."""
        return self.observation.get["rows"]

    def collect_failures(self) -> dict[str, int]:
        failures: dict[str, int] = {}
        rows = self._row_checks()
        if rows:
            if self.observation is not None:
                got = self.observation.get
            else:
                got = self.df.agg(*self._row_aggs()).first().asDict()
            failures.update({c.name: got[f"c{i}"] for i, c in enumerate(rows) if got[f"c{i}"]})
        sets = [c for c in self.checks if c.agg is None]
        if sets:
            failures.update({k: n for k, n in self._set_failures(sets).items() if n})
        return failures

    def run(self) -> None:
        failures = self.collect_failures()
        if failures:
            msg = "; ".join(f"{k}: {v} violation(s)" for k, v in failures.items())
            raise QualityError(msg)

    def passes(self) -> bool:
        return not self.collect_failures()

    def report(self, table: str) -> DataFrame:
        """The dbt-`test`-run artifact as ONE lazy DataFrame: (table,
        test, n_violations, passed) with a row per registered check.
        All expression checks fold into a single aggregate pass over the
        base frame (then melt via stack); unique/fk contribute their own
        1-row count plans, unioned into the one report."""
        frames: list[DataFrame] = []
        rows = self._row_checks()
        if rows:
            pairs = ", ".join(
                "'" + c.name.replace("'", "") + f"', c{i}" for i, c in enumerate(rows)
            )
            frames.append(
                self.df.agg(*self._row_aggs()).select(
                    F.expr(f"stack({len(rows)}, {pairs}) AS (test, n_violations)")
                )
            )
        for c in self.checks:
            if c.agg is not None:
                continue
            frames.append(
                self._violating_rows(c).agg(F.count("*").cast("long").alias("n_violations")).select(
                    F.lit(c.name).alias("test"), "n_violations"
                )
            )
        if not frames:
            # no registered checks: an empty report with the contract
            # schema, not an IndexError
            return self.df.sparkSession.createDataFrame(
                [], "table string, test string, n_violations long, passed boolean"
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out.select(
            F.lit(table).alias("table"),
            "test",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )


def expect(df: DataFrame) -> Expectation:
    return Expectation(df)
