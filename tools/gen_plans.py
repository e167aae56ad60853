#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for representative queries
with the scale-relevant features annotated. Run: python tools/gen_plans.py

``python tools/gen_plans.py --out-dir DIR QUERY [QUERY ...]`` instead writes
each named query's whole formatted plan to ``DIR/<query>.txt``: run it on two
trees and diff the directories to see what a change does to those plans.

Expression and plan ids are rewritten to ``#N`` / ``plan_id=N`` before
writing. They count what the process allocated earlier, so without this a
change that allocates one id more rewrites every later plan. Paths inside
the checkout are written relative to it, so two checkouts of the same
tree write the same bytes."""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry_mod
from unified_firmographic_data_pipeline_spark.session import get_spark

#: query -> what the plan demonstrates
SHOWCASE = {
    "q06_forecast_revenue": (
        "Scan-dominant query: every predicate in PushedFilters, ReadSchema "
        "keeps 4 of 11 lineitem columns, single WholeStageCodegen span."
    ),
    "q03_shipping_priority": (
        "Selective dim broadcast: customer filters then BroadcastExchange; "
        "top-10 plans as TakeOrderedAndProject (per-partition heaps, no "
        "global sort exchange)."
    ),
    "q21_sole_late_supplier": (
        "Decorrelated EXISTS/NOT-EXISTS: ONE lineitem scan; per-order "
        "distinct counts via window over the l_orderkey shuffle, supplier "
        "broadcast at the end."
    ),
    "dedup_exact_documents": (
        "Exact dedup: shuffle carries 32-hex fingerprints only (uniform "
        "key, skew-proof); wide text column never moves — survivors are "
        "semi-joined back."
    ),
    "near_dup_candidates_md5": (
        "MinHash-LSH: banded signature hashes equi-join (shuffled hash "
        "join on uniform keys) — candidate generation with no cross "
        "product anywhere in the plan. (md5-signature twin of the retired "
        "rows-only xxhash64 tier — identical plan shape, oracle-verified.)"
    ),
    "range_join_clicks_before_purchase": (
        "Binned range join: the BETWEEN predicate becomes an equi-join on "
        "(user_id, time bucket) + residual filter — a ShuffledHashJoin/"
        "SortMergeJoin instead of BroadcastNestedLoopJoin."
    ),
    "market_basket_pairs": (
        "Market-basket pairs WITHOUT a self-join: baskets aggregate once "
        "per order, pairs generate map-side from the sorted part array "
        "(posexplode + slice) — two shuffles total where the naive "
        "self-join shape shuffles the fact table twice and explodes skew."
    ),
    "event_streaks": (
        "Gaps-and-islands: two row_number windows over the SAME user_id "
        "partitioning — one Exchange feeds both sorts (the second is "
        "partition-local), then pure hash aggregation."
    ),
    "triangle_stats_copurchase": (
        "Degree-oriented triangle counting: the canonical edge set and "
        "degree table materialize ONCE (localCheckpoint scans below), "
        "degree lookups broadcast onto edges, and triangles close by "
        "EDGE-ITERATOR adjacency intersection — per-pivot out-neighbor "
        "arrays broadcast onto the oriented edges and array_intersect "
        "counts common out-neighbors in ONE stage, so the ~10^8-row wedge "
        "stream is never materialized at all (round 11: 1.8x over the "
        "wedge join + broadcast probe). The regime is the round-5 "
        "AUTO-switch (edge count vs a 5M ceiling); past it the plan falls "
        "back to the pinned-parallelism wedge self-join probed by a "
        "shuffled equi-join, with no caller flag."
    ),
    "ann_cosine_topk_ivf": (
        "IVF ANN: coarse centroids are literals (list assignment fuses "
        "into the scan as one codegen'd projection); probing is an "
        "equi-join on the list id, so the corpus shuffles on a small "
        "uniform key space and is never cross-joined with the queries."
    ),
    "bootstrap_ci_order_value": (
        "Deterministic Poisson bootstrap: an explicit-count repartition "
        "pins the 32x md5 fan-out to cluster-wide tasks (AQE's size-based "
        "coalescing would run the CPU-heavy explode in ONE task — bytes "
        "do not show multiplied compute); the resample rollup reduces to "
        "32 partial rows before the 1-row moment aggregate."
    ),
    "ks_test_value_by_variant": (
        "Two-sample KS from integer CDFs: one (type, value) shuffle with "
        "map-side partial counts, one window pass per type, and the D "
        "statistic folds to max|n1*c0 - n0*c1| — integers end to end, a "
        "single division in the projection."
    ),
    "truss_edge_support_hist": (
        "k-truss support: triangles enumerate once through the degree-"
        "oriented adjacency intersection (wedge self-join past the "
        "broadcast ceiling), then each triangle credits its 3 edges "
        "MAP-SIDE (explode, no re-join against the triangle set); the "
        "histogram reduces on the bounded support key."
    ),
    "view_to_purchase_step_gap": (
        "Higher-order-function mining: positions/filter/array_min run "
        "inside one projection over the per-session array — the only "
        "exchange is the session-key groupBy; no per-event shuffle, no "
        "self-join, no UDF."
    ),
    "adamic_adar_linkpred_topk": (
        "Link prediction: hub-capped per-center neighbor lists aggregate "
        "once, wedge pairs explode MAP-SIDE (posexplode + slice — no "
        "adjacency self-join), per-wedge 1/ln(deg) micro-weights sum as "
        "BIGINT, anti-join removes existing edges, TakeOrdered top-20."
    ),
    "repeated_ngram_span_coverage": (
        "Exact-substring dedup: 8-gram md5 hashes build inside one "
        "projection over the token array; only (doc, pos, hash) rows "
        "shuffle; shared-gram filter is one uniform-key aggregate; span "
        "merge is a per-doc window — linear end-to-end."
    ),
    "jaro_winkler_blocked_pairs": (
        "The sanctioned Python tier: blocked equi-join first (candidates "
        "bounded per block), THEN one ArrowEvalPython stage for the "
        "pandas_udf scorer — Python cost scales with candidates, not "
        "with the cross product."
    ),
    "cms_heavy_hitters": (
        "Count-min sketch as relational algebra: 4 width-512 counter "
        "aggregates (map-side combinable by construction) broadcast back "
        "onto the token table; MIN-of-rows estimate; TakeOrdered top-20."
    ),
    "ivfsq_index_search": (
        "Materialized ANN index: the corpus codes live parquet-partitioned "
        "by coarse list id, and the query batch's probe union appears as "
        "PartitionFilters on BOTH scans (codes + re-rank vectors) — "
        "unprobed list directories are never opened, so the scan cost is "
        "n_probe/n_lists of the corpus as a PLANNING fact, not a runtime "
        "filter; column pruning splits the one dataset into a codes-only "
        "scan and a vector-only re-rank read."
    ),
    "lsh_incremental_candidates": (
        "Incremental near-dup: only the INCREMENT's band-bucket rows join "
        "the full landed index on (band, bucket) — a shuffled equi-join on "
        "uniform hash keys whose cost tracks the increment's bucket "
        "matches; old x old pairs were prior runs' output and never "
        "recompute, and no cross product appears anywhere."
    ),
    "pq_adc_topk": (
        "Trained PQ under oracle verification: the codebook (learned by "
        "one integer-micro Lloyd round) rides the plan as ONE nested "
        "array literal, so encoding and the per-query ADC tables are "
        "codegen'd projections; the bounded query side (5 rows, each "
        "carrying its m x k table) broadcasts against the corpus code "
        "scan — corpus rows cost m integer lookups each, no float math "
        "after encoding, no corpus-side shuffle before the top-k window."
    ),
    "spatial_grid_nearest_supplier": (
        "Spatial join as integer-cell equi-join: the probe side explodes "
        "x9 to its 3x3 cell neighborhood map-side, both sides shuffle "
        "once on uniform (gy, gx) cell keys, and the nearest-site argmin "
        "is a probe-keyed window over cell-local candidates — never "
        "point x point, no BNLJ, no distance computed outside the "
        "neighborhood."
    ),
    "simhash_near_pairs_md5": (
        "SimHash near-pairs (round-8 rewrite): the 60-bit fingerprint is "
        "ONE whole-stage-codegen hash aggregate (token explode -> 60 "
        "conditional integer sums; map-side partials reduce the shuffle "
        "to a row per document), blocks explode x4 map-side, and "
        "candidates come from a 15-bit-block equi-join (32,768 buckets "
        "per block) — candidate volume tracks true near-dup density, "
        "never n^2/buckets; the exact Hamming filter runs on join "
        "output only."
    ),
    "source_mix_temperature_plan": (
        "Training-mix allocation: one per-source partial-agg shuffle; "
        "pow() quantizes to integer micros and the largest-remainder "
        "quota arithmetic (two 1-row scalar broadcasts: weight total, "
        "leftover) runs entirely on the |sources|-row aggregate — data "
        "volume never reaches the allocation math."
    ),
    "contrastive_triplets_mined": (
        "Hard-negative mining: the bounded anchor set broadcasts "
        "(BroadcastNestedLoopJoin with the != self predicate, the "
        "cosine_topk contract), ONE corpus scan, and positives + "
        "negatives rank in a single (query_id, same_label) window pass; "
        "the 1-row-per-anchor positive side broadcasts into the final "
        "pairing — output stays anchor-proportional."
    ),
    "mmr_rerank_topk": (
        "Greedy diversity re-rank: retrieval is the broadcast cosine_topk "
        "shape; the inherently-sequential-per-query MMR loop runs as ONE "
        "applyInPandas over the query_id grouping (FlatMapGroupsInPandas "
        "after a single query_id shuffle) — bounded candidate sets, "
        "parallel across queries, no driver-side loop."
    ),
    "curriculum_interleave_head": (
        "Training-order composition: the per-domain quality rank is a "
        "window partitioned BY DOMAIN (one shuffle, no global window); "
        "the bounded head of the interleaved order plans as "
        "TakeOrderedAndProject — at 100 TB the full serving order is a "
        "range-partitioned sort on (domain_rank, domain), never a "
        "single-reducer row-number."
    ),
    "entity_resolution_golden": (
        "End-to-end probabilistic ER: the candidate join is a same-block "
        "equi-join (SortMergeJoin on blk — linear pair fan-out by the "
        "constant-block-size contract); the EM fit consumed one "
        "pattern-space aggregation driver-side, so the scoring stage is "
        "pure integer expressions over the pair rows; the component "
        "iteration is node-keyed joins over localCheckpointed labels; "
        "the golden pick is one window per entity."
    ),
    "bigram_surprisal_scores": (
        "LM scoring: bigram extraction is an in-scan sliced-array zip "
        "(no position self-join), the model is vocab-shaped and enters "
        "as BroadcastHashJoin build sides, the vocabulary scalar is the "
        "allowlisted 1-row BroadcastNestedLoopJoin, and the document "
        "score is one doc-keyed hash aggregation of integer micro-units."
    ),
    "compaction_bin_plan": (
        "OPTIMIZE planning: one shuffle on the partition key feeds "
        "FlatMapGroupsInPandas — the sanctioned Python tier for "
        "inherently-sequential-per-group bin packing; thousands of "
        "partitions pack concurrently, and the output is plan rows, "
        "never data movement."
    ),
    "random_walk_corpus": (
        "Iterative frontier walk: each step is a frontier-x-edges "
        "equi-join (tiny frontier broadcasts) plus a per-walk "
        "min(struct(score, dst)) aggregate; the checkpointed edge table "
        "computes the basket explode ONCE for all steps and branches."
    ),
    "audio_container_probes": (
        "Multimodal plumbing: payload synth and header probe are "
        "back-to-back ArrowEvalPython/mapInPandas stages with NO exchange "
        "between them — bytes never cross a shuffle, only the metadata "
        "projection leaves the scan stage."
    ),
    "cdc_change_events": (
        "CDC derivation: ONE full-outer SortMergeJoin on the key; op "
        "classification and the column-level change mask are projections "
        "in the join's output stage — no second pass, no re-shuffle."
    ),
    "mlm_masking_plan": (
        "Masking plan: token posexplode stays in the scan stage; three "
        "md5-uniform columns are narrow expressions; the only joins are "
        "1-row (vocab count) and broadcast (vocab lookup) — the token "
        "stream itself never shuffles."
    ),
    "tcloseness_audit": (
        "Privacy audit at scale: the raw table shuffles once into the "
        "class x value counts; the EMD axis is a crossJoin of two "
        "AGGREGATED distinct frames (15 x 8 rows — axes, never data), "
        "then a BY-CLASS cumsum window over integer numerators."
    ),
    "audit_hash_chain_daily": (
        "Bounded sequential fold: the day axis aggregates distributed, "
        "collect_list+aggregate folds the md5 chain in ONE expression "
        "node — the textbook non-parallelizable fold isolated to a "
        "30-row axis, with zero Python in the plan."
    ),
    "retriever_rrf_fusion_topk": (
        "Hybrid-retrieval fusion (round 9): each retriever is the "
        "bounded-broadcast cosine_topk shape over ONE corpus scan; the "
        "fusion itself is a union of top-k-bounded lists, one (query, "
        "id) hash aggregate of integer nano terms, and a per-query "
        "window — the corpus never re-enters after retrieval."
    ),
    "leakage_safe_split_counts": (
        "Cluster-aware split audit (round 9): candidate pairs come from "
        "a chunk-fingerprint equi-join (never doc x doc), component "
        "labels from node-keyed iterative joins over localCheckpointed "
        "frames, and the split is a narrow md5 expression on the "
        "component label — the audit's only extra cost is one keyed "
        "join + two bounded aggregates + a 1-row straddle broadcast."
    ),
}


def explain(df) -> str:
    """``df.explain("formatted")`` with ids and checkout paths normalized."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = re.sub(r"#\d+L?", "#N", buf.getvalue())
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    return plan.replace(f"file:{ROOT}/", "file:./")


def plans_md(spark, sf_dir: str) -> None:
    queries = entry_mod.queries()
    out = [
        "# PLANS — representative physical plans\n",
        "Generated by `python tools/gen_plans.py` at sf0.001 (plans are",
        "shape-identical at any sf; AQE may re-plan exchanges at runtime).",
        "What to look for is annotated per query; the full inventory is",
        "plan-gated by `tests/test_plan_quality.py` (no CartesianProduct,",
        "no un-allowlisted BroadcastNestedLoopJoin, pushdown pinned).\n",
    ]
    for name, blurb in SHOWCASE.items():
        plan = explain(queries[name](spark, sf_dir))
        # keep the tree + the scan details; drop the long per-node dumps
        tree, _, details = plan.partition("\n\n")
        keep = [d for d in details.split("\n\n") if "Scan parquet" in d.split("\n")[0]]
        out.append(f"## {name}\n\n{blurb}\n")
        out.append("```\n" + tree.strip() + "\n")
        if keep:
            out.append("\n" + "\n\n".join(k.strip() for k in keep) + "\n")
        out.append("```\n")
    # hand-written plan-audit prose (kept out of the generated section so
    # regeneration never drops it)
    epilogue = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans_epilogue.md")
    if os.path.exists(epilogue):
        with open(epilogue) as f:
            out.append(f.read())
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


def dump(spark, sf_dir: str, out_dir: str, names: list[str]) -> None:
    queries = entry_mod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(explain(queries[name](spark, sf_dir)))
        print(f"wrote {path}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default=entry_mod.SF_SMOKE_DIR,
                    help="directory of the <table>.parquet files to plan over")
    ap.add_argument("--out-dir", help="write the named queries' plans here, not PLANS.md")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if bool(args.out_dir) != bool(args.queries):
        ap.error("--out-dir and query names go together")
    spark = get_spark(
        master="local[8]", extra_conf={"spark.sql.shuffle.partitions": "8"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    if args.out_dir:
        dump(spark, args.sf_dir, args.out_dir, args.queries)
    else:
        plans_md(spark, args.sf_dir)


if __name__ == "__main__":
    main()
