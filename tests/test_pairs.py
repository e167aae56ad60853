"""``operators/pairs.py:group_pairs`` against the self-join it replaces."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from unified_firmographic_data_pipeline_spark.operators.pairs import group_pairs

ROWS = [
    (None, 1), (None, 2),                     # NULL key: never a group
    ("k1", 1), ("k1", 1), ("k1", 2),          # duplicate (key, member)
    ("k1", None),                             # NULL member: never a pair side
    ("one", 5),                               # singleton group
    ("nulls", None), ("nulls", 7),            # one real member
    ("three", 3), ("three", 1), ("three", 2),  # exactly max_group members
    ("four", 4), ("four", 1), ("four", 2), ("four", 3), ("four", 4),  # max_group + 1
]


def _self_join(df, max_group):
    """DISTINCT ``a.k = b.k AND a.m < b.m``, with each key's distinct
    non-NULL member count; keys above ``max_group`` dropped."""
    sizes = df.groupBy("k").agg(F.count_distinct("m").alias("group_size"))
    a, b = df.alias("a"), df.alias("b")
    pairs = (
        a.join(b, (F.col("a.k") == F.col("b.k")) & (F.col("a.m") < F.col("b.m")))
        .select(F.col("a.k").alias("k"), F.col("a.m").alias("a"), F.col("b.m").alias("b"))
        .distinct()
        .join(sizes, "k")
    )
    if max_group is not None:
        pairs = pairs.where(F.col("group_size") <= max_group)
    return sorted(tuple(r) for r in pairs.select("k", "group_size", "a", "b").collect())


@pytest.mark.parametrize("max_group", [None, 3])
def test_group_pairs_matches_self_join(spark, max_group):
    df = spark.createDataFrame(ROWS, "k string, m long")
    got = [tuple(r) for r in group_pairs(df, "k", "m", max_group).select("k", "group_size", "a", "b").collect()]
    want = _self_join(df, max_group)
    # one row per pair and key: no duplicate to hide behind the sort
    assert sorted(got) == want
    assert {k for k, *_ in want} == ({"k1", "three", "four"} if max_group is None else {"k1", "three"})


def test_group_pairs_counts_shared_keys(spark):
    # counting rows per (a, b) counts the keys a pair shares
    df = spark.createDataFrame([(1, 10), (1, 20), (2, 10), (2, 20), (2, 30), (3, 10)], "k long, m long")
    got = group_pairs(df, "k", "m").groupBy("a", "b").count().collect()
    assert sorted(tuple(r) for r in got) == [(10, 20, 2), (10, 30, 1), (20, 30, 1)]
