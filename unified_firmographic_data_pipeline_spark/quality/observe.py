"""Zero-extra-pass data quality via ``df.observe``, for writes outside the
model runner.

A check that runs as its own aggregate job costs one more full scan of the
frame. At 100 TB that extra scan is real money. ``df.observe`` piggybacks
the violation-count aggregates on whatever action materializes the frame
(the table write itself): ``Observation`` metrics are accumulated by the
running tasks, so quality comes out of the write for free.

Division of labour: the model runner (``plans/graph.py``) already does this
for every model through ``Expectation.observe`` — the row checks a model's
``tests`` declare ride its write, and ``Expectation.run`` adds the unique
and fk checks over the table as written. This module is the standalone form
for any other write (an ad-hoc job, a streaming sink):

    df, obs = observe_expectations(df, not_null=["k"],
                                   custom={"neg_v": F.col("v") < 0})
    df.write.parquet(path)            # the one and only pass
    assert_observed(obs)              # raises QualityError on violations

``unique`` can't ride along (distinct-ness isn't a row-local aggregate);
it stays in ``expect()``. Works in batch and (via named observations) in
Structured Streaming.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from unified_firmographic_data_pipeline_spark.quality.expect import QualityError


def observe_expectations(
    df: DataFrame,
    not_null: Sequence[str] = (),
    accepted: dict[str, Sequence] | None = None,
    in_range: dict[str, tuple] | None = None,
    custom: dict[str, Column] | None = None,
) -> tuple[DataFrame, Observation]:
    """Attach violation-count metrics to ``df``. Returns the instrumented
    frame (plan unchanged row-wise) and the Observation to read after an
    action has materialized it."""
    metrics: list[Column] = [F.count(F.lit(1)).alias("__rows")]
    for c in not_null:
        metrics.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"null__{c}"))
    for c, vals in (accepted or {}).items():
        metrics.append(
            F.count(F.when(~F.col(c).isin(list(vals)), 1)).alias(f"accepted__{c}")
        )
    for c, (lo, hi) in (in_range or {}).items():
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (F.col(c) < lo)
        if hi is not None:
            cond = cond | (F.col(c) > hi)
        metrics.append(F.count(F.when(cond, 1)).alias(f"range__{c}"))
    for name, violation in (custom or {}).items():
        metrics.append(F.count(F.when(violation, 1)).alias(f"custom__{name}"))
    obs = Observation()
    return df.observe(obs, *metrics), obs


def assert_observed(obs: Observation) -> dict[str, int]:
    """Read the metrics (blocks until the action completed) and raise
    QualityError on any violation. Returns the metric map on success."""
    got = obs.get
    failures = {k: v for k, v in got.items() if k != "__rows" and v}
    if failures:
        msg = "; ".join(f"{k}: {v} violation(s)" for k, v in failures.items())
        raise QualityError(msg)
    return got
