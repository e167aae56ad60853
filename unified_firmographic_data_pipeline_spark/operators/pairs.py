"""Pair fan-out: rows that share a key become candidate pairs.

The reference's dedup/conform step matches records that share a key; the
query library does the same for order baskets (co-purchase edges),
shingles and chunk fingerprints (near-dup candidates) and neighbour lists
(wedges). :func:`group_pairs` is the one implementation all of them use.

Scale design:

- each key's members are collected ONCE into a sorted, distinct array and
  the pairs are generated MAP-SIDE from it (``posexplode`` + the tail
  ``slice``) — one shuffle on the key, where the textbook self-join
  (``a.key = b.key AND a.m < b.m``) shuffles the input twice and explodes
  every hot key on both sides;
- groups of one member — the vast majority for fingerprint-like keys —
  are dropped by the size gate before any pair work;
- a group of ``n`` members emits ``n * (n - 1) / 2`` rows in one task, so a
  hot key is quadratic: ``max_group`` drops groups above a size, and it is
  part of the caller's declared semantics (its oracle mirrors the cap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def group_pairs(
    df: DataFrame, key: str, member: str, max_group: int | None = None
) -> DataFrame:
    """One row ``(key, group_size, a, b)`` per unordered pair ``a < b`` of
    distinct non-NULL ``member`` values that share a non-NULL ``key``.

    ``group_size`` is the number of distinct non-NULL members of the key.
    Groups smaller than 2, and larger than ``max_group`` when it is set,
    emit nothing. The result equals the DISTINCT self-join
    ``a.key = b.key AND a.member < b.member`` (plus the group size), so
    counting rows per ``(a, b)`` counts the keys a pair shares."""
    ms = F.col("__ms")
    size = F.size(ms)
    keep = size >= 2 if max_group is None else (size >= 2) & (size <= max_group)
    return (
        df.where(F.col(key).isNotNull())
        .groupBy(key)
        .agg(F.sort_array(F.collect_set(member)).alias("__ms"))
        .where(keep)
        .select(key, size.alias("group_size"), ms, F.posexplode(ms).alias("__i", "a"))
        .select(
            key,
            "group_size",
            "a",
            F.explode(F.expr("slice(__ms, __i + 2, size(__ms))")).alias("b"),
        )
    )
