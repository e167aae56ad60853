"""End-to-end probabilistic entity resolution: blocked candidate pairs →
unsupervised Fellegi-Sunter EM weights → integer match scores → connected
components → golden records.

The reference unifies company records by EXACT name equality plus a
keep-latest window (``cr_company_complete.sql:47-51``: join on
``company_name``, ``row_number() over (partition by company_name order by
last_updated desc)``, keep ``rn = 1``). That works only while both feeds
spell names identically; real firmographic feeds don't, and the standard
scale answer is probabilistic linkage (Fellegi & Sunter 1969) with EM-fit
weights (Winkler 1988). This plan is that generalization, wired from the
repo's verified pieces:

1. **Blocking** (:func:`candidate_pairs`): same-block equi-join only —
   pair count is linear in rows at constant block size, never all-pairs.
2. **Weights** (:func:`em_match_weights`): pairs collapse to at most
   ``2^K`` agreement-pattern counts in ONE map-side-combinable groupBy
   (``operators/linkage.py``); the EM fixed point runs driver-side over
   that bounded table. No labels needed.
3. **Scoring**: per-field log2 match weights in INTEGER MICRO-UNITS
   (``round(w * 1e6)``) summed per pair — the repo's cross-engine-exact
   device (see ``driver_queries._dsum``): integer comparison against the
   threshold cannot straddle a float boundary between engines.
4. **Clustering** (:func:`resolve_entities`): above-threshold pairs are
   edges; min-label propagation (``operators/components.py``) labels each
   record with the smallest record id in its match component. Components
   cannot outgrow a block by construction, so the iteration is bounded.
5. **Golden record** (:func:`golden_records`): the reference's
   keep-latest window generalized to a caller-supplied ordering — one
   row_number window per entity, exactly ``cr_company_complete``'s
   ``rn = 1`` shape.

At 100 TB: the only wide shuffles are the block equi-join (uniform key by
contract) and the component iteration (node-keyed, touched nodes only if
the caller pre-filters to matched ids); the EM driver step is
pattern-space-sized (``2^K``), independent of pair count. Every stage is
deterministic and SQL-replayable — the registered query's DuckDB oracle
replays the EM trajectory, the integer scores, the transitive closure and
the golden pick bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from unified_firmographic_data_pipeline_spark.operators.components import (
    connected_components,
)
from unified_firmographic_data_pipeline_spark.operators.linkage import (
    agreement_patterns,
    fs_em_fit,
)


def candidate_pairs(
    records: DataFrame, id_col: str, block_col: str, fields: list[str]
) -> DataFrame:
    """Same-block candidate pairs with one boolean agreement column per
    field: ``(id_a, id_b, agree_<field>...)``, ``id_a < id_b``. The block
    key bounds pair fan-out (linear in rows at constant block size); NULL
    fields never agree (SQL equality semantics), matching the oracle."""
    x, y = records.alias("x"), records.alias("y")
    cond = (F.col(f"x.{block_col}") == F.col(f"y.{block_col}")) & (
        F.col(f"x.{id_col}") < F.col(f"y.{id_col}")
    )
    cols = [
        F.col(f"x.{id_col}").alias("id_a"),
        F.col(f"y.{id_col}").alias("id_b"),
    ]
    cols += [
        (F.col(f"x.{f}") == F.col(f"y.{f}")).alias(f"agree_{f}") for f in fields
    ]
    return x.join(y, cond).select(*cols)


def _micro(w: float) -> int:
    """Round-half-away-from-zero to integer micro-units — the same
    convention as DuckDB/Spark ``round``, so the oracle's
    ``CAST(round(w * 1e6) AS BIGINT)`` lands on the identical integer.
    (Python's builtin ``round`` is banker's rounding — NOT this.)"""
    return int(math.copysign(math.floor(abs(w) * 1e6 + 0.5), w))


def em_match_weights(
    pairs: DataFrame, fields: list[str], n_iter: int = 25
) -> dict[str, tuple[int, int]]:
    """Unsupervised per-field (agree, disagree) log2 match weights in
    integer micro-units, EM-fit from the pairs' agreement patterns. One
    Spark aggregation; EM over the bounded pattern table driver-side."""
    pats = agreement_patterns(pairs, [f"agree_{f}" for f in fields])
    fit = fs_em_fit(pats, len(fields), n_iter=n_iter)
    out = {}
    for i, f in enumerate(fields):
        m, u = fit["m"][i], fit["u"][i]
        out[f] = (
            _micro(math.log2(m / u)),
            _micro(math.log2((1.0 - m) / (1.0 - u))),
        )
    return out


def score_pairs_micro(
    pairs: DataFrame, fields: list[str], weights: dict[str, tuple[int, int]]
) -> DataFrame:
    """Append ``score_micro``: the summed per-field integer match weight
    (agree → w_agree, disagree → w_disagree), in field order. Pure
    integer expression — no float ever crosses an engine boundary."""
    score: Column | None = None
    for f in fields:
        wa, wd = weights[f]
        term = (
            F.when(F.col(f"agree_{f}"), F.lit(wa)).otherwise(F.lit(wd)).cast("long")
        )
        score = term if score is None else score + term
    return pairs.withColumn("score_micro", score)


def resolve_entities(
    records: DataFrame,
    id_col: str,
    block_col: str,
    fields: list[str],
    threshold_micro: int,
    n_iter: int = 25,
    max_iter: int = 60,
    weights: dict[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """Full resolution: blocked pairs → EM weights → integer scores →
    edges at ``score_micro >= threshold_micro`` → min-label components.
    Returns ``(id_col, entity_id)`` for EVERY input record (singletons
    label themselves). ``max_iter`` bounds the component iteration; match
    components cannot outgrow a block, so the default is generous.
    Pass ``weights`` to score with a stored model instead of re-fitting
    (the incremental contract — see :func:`resolve_entities_incremental`)."""
    pairs = candidate_pairs(records, id_col, block_col, fields)
    if weights is None:
        weights = em_match_weights(pairs, fields, n_iter=n_iter)
    scored = score_pairs_micro(pairs, fields, weights)
    edges = scored.filter(F.col("score_micro") >= threshold_micro).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    nodes = records.select(F.col(id_col).alias("node"))
    comp = connected_components(nodes, edges, max_iter=max_iter)
    return comp.select(
        F.col("node").alias(id_col), F.col("component").alias("entity_id")
    )


def golden_records(
    records: DataFrame,
    assignments: DataFrame,
    id_col: str,
    order_by: list[Column],
) -> DataFrame:
    """One golden row per entity — the reference's keep-one window
    (``cr_company_complete.sql:47-51``) over EM-resolved entities instead
    of exact name groups: rank members by ``order_by`` (callers append a
    deterministic tiebreak), keep rank 1, and report the member count.
    Returns the golden record's columns plus ``entity_id, n_members``."""
    joined = records.join(assignments, id_col)
    w = Window.partitionBy("entity_id").orderBy(*order_by)
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(Window.partitionBy("entity_id")))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def resolve_entities_incremental(
    old_assigned: DataFrame,
    new_records: DataFrame,
    id_col: str,
    block_col: str,
    fields: list[str],
    weights: dict[str, tuple[int, int]],
    threshold_micro: int,
    max_iter: int = 60,
) -> DataFrame:
    """Attach tonight's increment to the landed entity table WITHOUT
    re-resolving old x old — the nightly-append shape the repo's
    incremental LSH / embedding indexes use, applied to ER:

    1. Candidate pairs are NEW-vs-(old ∪ new) only (same-block equi-join;
       old x old pairs were previous runs' output and never recompute).
    2. Pairs score with the STORED ``weights`` (no EM re-fit — the model
       is versioned state, re-fit on a cadence, not per increment).
    3. The match graph adds one ANCHOR EDGE per matched old record to its
       entity id. Entity ids are min-member ids, so min-label propagation
       over (new ids ∪ matched old ids ∪ their entity ids) yields exactly
       the full-batch label: if a new record bridges two old entities,
       the merged component's min is the min of both entity ids — the
       same id a from-scratch resolve of the union would pick (pinned by
       test: incremental == full batch under shared weights). Only the
       new ids are passed as nodes: the old ids and entity ids are edge
       endpoints, which the component step labels anyway, so the scored
       pair graph is built once.
    4. Old entities touched by a merge are RELABELED through an
       (entity_id → component) map — a key-joined update of the landed
       table, never an old x old recompute; untouched entities coalesce
       through unchanged.

    Returns the full post-increment assignment table ``(id, entity_id)``.
    Component iteration runs over TOUCHED nodes only."""
    rec_cols = [id_col, block_col, *fields]
    all_recs = (
        old_assigned.select(*rec_cols).unionByName(new_records.select(*rec_cols))
    )
    x = new_records.alias("x")
    y = all_recs.alias("y")
    cond = (F.col(f"x.{block_col}") == F.col(f"y.{block_col}")) & (
        F.col(f"x.{id_col}") != F.col(f"y.{id_col}")
    )
    pairs = (
        x.join(y, cond)
        .select(
            F.least(F.col(f"x.{id_col}"), F.col(f"y.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"x.{id_col}"), F.col(f"y.{id_col}")).alias("id_b"),
            *[
                (F.col(f"x.{f}") == F.col(f"y.{f}")).alias(f"agree_{f}")
                for f in fields
            ],
        )
        .distinct()  # new-new pairs enter from both sides; agreement is symmetric
    )
    edges = score_pairs_micro(pairs, fields, weights).filter(
        F.col("score_micro") >= threshold_micro
    )
    # anchor matched OLD nodes to their entity ids so min-label propagates
    # the landed labels instead of re-deriving them from old x old edges
    match_ids = (
        edges.select(F.col("id_a").alias(id_col))
        .unionByName(edges.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    old_matched = old_assigned.join(match_ids, id_col, "left_semi")
    anchors = old_matched.select(
        F.col(id_col).alias("src"), F.col("entity_id").alias("dst")
    )
    graph_edges = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(anchors)
    # every graph endpoint is labelled, so the nodes are the new ids alone
    comp = connected_components(
        new_records.select(F.col(id_col).alias("node")), graph_edges, max_iter=max_iter
    )

    # entity_id -> merged component label (only for touched entities)
    ent_map = comp.withColumnRenamed("node", "entity_id").withColumnRenamed(
        "component", "__new_entity"
    )
    old_out = (
        old_assigned.select(id_col, "entity_id")
        .join(F.broadcast(ent_map), "entity_id", "left")
        .select(
            id_col,
            F.coalesce("__new_entity", "entity_id").alias("entity_id"),
        )
    )
    new_out = (
        new_records.select(id_col)
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col, F.coalesce("component", F.col(id_col)).alias("entity_id")
        )
    )
    return old_out.unionByName(new_out)


def survivorship(
    records: DataFrame,
    assignments: DataFrame,
    id_col: str,
    mode_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
) -> DataFrame:
    """ATTRIBUTE-level survivorship — the MDM complement of
    :func:`golden_records`: where golden keeps one whole ROW, real master
    data picks each attribute independently (Talend/Informatica-style
    survivorship rules): the most frequent value per entity for
    categorical columns (``mode_cols``, ties break to the smallest
    value — deterministic), the max/min for ``max_cols``/``min_cols``.

    One count aggregation + one window per mode column (entity-keyed,
    never global) and a single agg for the max/min columns; all
    entity-keyed shuffles. Returns one row per entity:
    ``(entity_id, n_members, <col>_survived...)``.

    NULL handling: NULL never wins a mode vote (missing data is absence
    of evidence, not a candidate value — standard survivorship
    semantics); an entity whose members are ALL NULL in a mode column
    survives NULL for it (left join), so entities are never dropped.
    ``max``/``min`` ignore NULLs by SQL aggregation semantics already."""
    joined = records.join(assignments, id_col)
    base = joined.groupBy("entity_id").agg(
        F.count("*").cast("long").alias("n_members"),
        *[F.max(c).alias(f"{c}_survived") for c in (max_cols or [])],
        *[F.min(c).alias(f"{c}_survived") for c in (min_cols or [])],
    )
    for c in mode_cols or []:
        counts = (
            joined.filter(F.col(c).isNotNull())
            .groupBy("entity_id", c)
            .agg(F.count("*").alias("__n"))
        )
        w = Window.partitionBy("entity_id").orderBy(
            F.col("__n").desc(), F.col(c).asc()
        )
        mode = (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("entity_id", F.col(c).alias(f"{c}_survived"))
        )
        base = base.join(mode, "entity_id", "left")
    return base
