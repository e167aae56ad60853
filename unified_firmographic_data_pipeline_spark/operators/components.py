"""Connected components over candidate-pair graphs — dedup cluster
resolution.

Every near-duplicate pipeline ends with this step: LSH/SimHash/chunk-sharing
produce candidate PAIRS, but retention decisions need CLUSTERS (keep one
document per component). The public scale algorithm family is min-label
propagation / alternating star contraction ("Connected Components in
MapReduce and Beyond", Kiveris et al., SOCC'14).

Implementation: iterative min-label propagation entirely in DataFrame ops.
The symmetrized edge list is ``localCheckpoint``ed once. Round 1 needs no
join: every label is still the node's own id, so the message along
``(s, d)`` is ``d`` and the round is one ``min`` per node over the node
rows and the edge rows. Every later round joins the labels onto the edge
list to form neighbor messages, unions each node's OWN label row in as one
more message, and takes ``min`` per node in a single map-side-combinable
aggregation — one shuffle per round on the uniform node key. The same
aggregate yields the old label (the own row), so whether a node's label
fell is a column of the round's output; an ``Observation`` on the round's
``localCheckpoint`` counts those rows, so the convergence test costs no
Spark job of its own. Rounds are bounded by the graph diameter; dedup
graphs are union-of-near-cliques, so 2-4 rounds in practice (star
contraction's O(log n) bound matters for pathological chains; the loop
shares the same per-round shape so swapping the step is local). Each
round is checkpointed: iterative plans otherwise grow exponentially in
Catalyst and re-execute from the source every round.

The result (min reachable id) is partition- and iteration-order-independent,
so it is deterministic and SQL-expressible — the DuckDB oracle computes the
same labels with a recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _checkpoint_round(labels: DataFrame) -> tuple[DataFrame, int]:
    """Materialize one round's ``(node, component, __old)`` frame and
    return ``(node, component)`` with the number of nodes whose label
    fell, counted by the checkpoint's own job."""
    obs = Observation()
    out = (
        labels.observe(obs, F.count_if(F.col("component") < F.col("__old")).alias("n"))
        .select("node", "component")
        .localCheckpoint(eager=True)
    )
    return out, obs.get["n"]


def connected_components(
    nodes: DataFrame | None,
    edges: DataFrame,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node with the smallest node id in its connected
    component. The labelled nodes are the ids in ``nodes`` plus every
    non-NULL endpoint of ``edges``; an endpoint need not appear in
    ``nodes``, and ``nodes`` may be ``None`` when every node is an
    endpoint. Rows of ``nodes`` with no edge are isolated and label
    themselves; duplicate ids in ``nodes`` give one row. ``edges`` is
    treated as undirected (symmetrized internally). NULL ids are dropped:
    a NULL node gets no row, and an edge with a NULL endpoint connects
    nothing (its other endpoint is still labelled, by itself).

    Returns ``(node, component)``. Raises if ``max_iter`` rounds don't
    converge (diameter > max_iter — raise the bound for chain-shaped
    graphs)."""
    s, d = F.col(src_col), F.col(dst_col)
    sym = (
        edges.select(s.alias("s"), d.alias("d"))
        .unionByName(edges.select(d.alias("s"), s.alias("d")))
        # a NULL s would be a NULL label row; a NULL d never joins a label
        .filter(F.col("s").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    # round 1: every label is the node's own id, so the message to s along
    # (s, d) is d; least() keeps s itself and ignores a NULL d
    msgs = sym.select(F.col("s").alias("node"), F.least("s", "d").alias("__lbl"))
    if nodes is not None:
        msgs = msgs.unionByName(
            nodes.select(F.col(node_col).alias("node"), F.col(node_col).alias("__lbl"))
            .filter(F.col("node").isNotNull())
        )
    labels, n_changed = _checkpoint_round(
        msgs.groupBy("node").agg(F.min("__lbl").alias("component"))
        .withColumn("__old", F.col("node"))
    )

    for _ in range(max_iter - 1):
        if n_changed == 0:
            break
        # one message per directed edge (the neighbor's current label) plus
        # each node's OWN label row; a single min-aggregate per node yields
        # least(own, min(neighbors)) AND the old label (the own row is the
        # only one with __own=true) — one shuffle per round, no join-back.
        # Every s is labelled since round 1, so every group has an own row.
        msgs = sym.join(labels, sym["d"] == labels["node"]).select(
            F.col("s").alias("node"),
            F.col("component").alias("__lbl"),
            F.lit(False).alias("__own"),
        )
        own = labels.select(
            "node", F.col("component").alias("__lbl"), F.lit(True).alias("__own")
        )
        labels, n_changed = _checkpoint_round(
            msgs.unionByName(own)
            .groupBy("node")
            .agg(
                F.min("__lbl").alias("component"),
                F.min(F.when(F.col("__own"), F.col("__lbl"))).alias("__old"),
            )
        )
    if n_changed:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds the bound)"
        )
    return labels


def component_representatives(
    labeled: DataFrame,
    score_col: str,
    id_col: str = "node",
) -> DataFrame:
    """Keep-one-per-cluster retention: for each component pick the member
    with the highest ``score_col`` (id asc tiebreak) — the step that turns
    near-dup clusters into a deduplicated corpus while keeping the BEST
    copy (highest quality score), not an arbitrary one.

    Input is the (node, component[, score...]) frame from
    :func:`connected_components` joined with per-node scores. One window
    shuffle on the component key. Returns ``(component, rep_id, rep_score,
    n_members)``."""
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    wc = Window.partitionBy("component")
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc))
        .filter(F.col("__rn") == 1)
        .select(
            "component",
            F.col(id_col).alias("rep_id"),
            F.col(score_col).alias("rep_score"),
            "n_members",
        )
    )
