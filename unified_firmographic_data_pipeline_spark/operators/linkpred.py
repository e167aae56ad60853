"""Graph link prediction over an undirected edge list.

Common-neighbor scores (raw count + Adamic-Adar) for NON-adjacent node
pairs — "which parts are likely to be co-purchased next" on the
co-purchase graph the reference's conformed company table would feed
(reference analogue: the dedup/conform join graph,
firmographics_dbt/models/star/dim_company.sql joins; the scoring
itself is the classic Adamic-Adar similarity from public literature).

Scale design (100 TB):
- Wedges are :func:`~.pairs.group_pairs` over each center's neighbors,
  the fan-out the basket pair-mining uses — never an adjacency self-join.
- Hub centers are dropped at ``hub_cap`` (``group_pairs``'
  ``max_group``): a center of degree d emits d*(d-1)/2 wedges, so an
  unbounded hub dominates the job quadratically while each wedge it
  emits carries the *minimum* possible Adamic-Adar weight (1/ln d).
  Capping is therefore both the standard scale fix and nearly lossless
  for the score ranking; the cap is part of the operator's declared
  semantics so the oracle can mirror it exactly.
- Per-wedge weights micro-round to BIGINT before the sum
  (addition-order-free cross-engine totals; see driver_queries
  docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unified_firmographic_data_pipeline_spark.operators.pairs import group_pairs


def adamic_adar_topk(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    hub_cap: int = 64,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` non-adjacent pairs by Adamic-Adar score.

    ``edges`` is an undirected, deduplicated edge list with ``src < dst``.
    Returns (src, dst, common_neighbors BIGINT, adamic_adar DOUBLE) where
    the score sums ``round(1e6 / ln(deg(z)))`` micro-units over common
    neighbors z with ``2 <= deg(z) <= hub_cap``, ordered by score desc
    with (src, dst) tiebreak.
    """
    adj = edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr")).unionAll(
        edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr"))
    )
    # The group size IS the center's degree (adjacency is symmetric and
    # deduped), so no separate degree join is needed.
    wedges = group_pairs(adj, "nbr", "node", max_group=hub_cap)
    w_micro = F.round(F.lit(1e6) / F.log(F.col("group_size").cast("double"))).cast("long")
    scored = wedges.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("common_neighbors"),
        F.sum(w_micro).alias("aa_micro"),
    )
    non_adjacent = scored.join(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        non_adjacent.orderBy(F.col("aa_micro").desc(), "a", "b")
        .limit(k)
        .select(
            F.col("a").alias("src"),
            F.col("b").alias("dst"),
            "common_neighbors",
            F.round(F.col("aa_micro").cast("double") / F.lit(1e6), 6).alias(
                "adamic_adar"
            ),
        )
    )
