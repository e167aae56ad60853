"""End-to-end pretraining-corpus curation plan.

The LLM-data analogue of ``plans/firmographics.py``: where that module
wires the reference's staging→core→star DAG, this one wires the curation
ladder the repo's operators implement individually — normalize → PII
redaction → language filter → quality filter → exact dedup → (optional)
near-dup keep-best → (optional) benchmark decontamination → leakage-safe
split — into ONE lazy DataFrame pipeline, plus the chunk/pack/budget
steps that turn surviving documents into training sequences.

Composition rules (the 100 TB reasoning, stage by stage):
- Narrow stages first (normalize/redact/lang/quality are pure
  expressions — they prune rows BEFORE anything shuffles, so the dedup
  shuffles see only surviving docs).
- ``dedup_exact`` shuffles (fingerprint, id) pairs only; the wide text
  column never moves (semi-join back).
- Near-dup is opt-in: MinHash-LSH candidates → connected components over
  only the TOUCHED docs (untouched docs skip the iteration entirely) →
  keep the best-quality member per cluster.
- Decontamination is an inverted-index gram join (never doc × doc).
- The split is a keyed hash (leakage-safe: a doc lands in the same split
  under any partitioning, engine, or rerun) and happens AFTER dedup so
  near-identical docs cannot straddle train/eval.

Every stage is lazy; ``curation_funnel`` materializes per-stage counts
for the audit trail (one count job per stage, bounded output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unified_firmographic_data_pipeline_spark.functions.text import (
    collapse_ws,
    detect_lang,
    quality_score,
    redact_pii,
    shingles,
)
from unified_firmographic_data_pipeline_spark.operators.components import (
    component_representatives,
    connected_components,
)
from unified_firmographic_data_pipeline_spark.operators.curation import (
    chunk_documents,
)
from unified_firmographic_data_pipeline_spark.operators.dedup import dedup_exact
from unified_firmographic_data_pipeline_spark.operators.neardup import (
    jaccard_verify_candidates,
    minhash_lsh_candidates,
)
from unified_firmographic_data_pipeline_spark.operators.sampling import (
    split_train_eval,
    token_budget_sample,
)


def decontaminate(
    corpus: DataFrame,
    testset: DataFrame,
    n: int = 3,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop corpus documents sharing ≥ ``min_overlap`` distinct token
    ``n``-grams with a held-out test set — the thresholded (anti-join)
    form of ``curation.contamination_overlap``'s top-k report. Both sides
    explode to distinct (gram, doc) pairs and equi-join on the gram: an
    inverted-index join on a uniform key, never doc × doc."""
    test_grams = (
        testset.select(F.explode(shingles(text_col, n)).alias("gram")).distinct()
    )
    hits = (
        corpus.select(id_col, F.explode(shingles(text_col, n)).alias("gram"))
        .distinct()
        .join(test_grams, "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )
    return corpus.join(hits, id_col, "left_anti")


def decontaminate_fuzzy(
    corpus: DataFrame,
    testset: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    use_md5: bool = False,
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination — the fuzzy tier above
    :func:`decontaminate`: drop corpus documents whose MinHash-banded
    candidates against the held-out set verify at exact shingle-Jaccard
    ≥ ``threshold``. The exact-n-gram tier catches verbatim quotes; this
    one catches light rewrites (eval leakage survives token-level edits —
    the observation behind fuzzy eval-dedup in public corpus work, e.g.
    Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    Better").

    Scale shape: both sides band once (row-local signatures), candidates
    come from a corpus-vs-testset equi-join on (band, bucket) — NEVER
    corpus × testset — and the exact-Jaccard verification joins shingle
    sets onto only the candidate pairs (candidate-linear, the
    ``jaccard_verify_candidates`` shape across two frames). The testset is
    small by contract but nothing here requires it: every stage is a
    banded or candidate-bounded join.

    ``use_md5`` switches the signatures to the md5 permutations
    (``minhash_band_buckets_md5``) — identical in any engine with md5, so
    the whole drop set is SQL-oracle-checkable; the xxhash64 default
    stays the faster in-engine tier (same plan shape either way)."""
    from unified_firmographic_data_pipeline_spark.operators.neardup import (
        minhash_band_buckets,
        minhash_band_buckets_md5,
    )

    banding = minhash_band_buckets_md5 if use_md5 else minhash_band_buckets
    cb = banding(
        corpus, id_col, text_col, num_hashes, bands, shingle_n
    ).select(F.col(id_col).alias("corpus_id"), "band", "bucket")
    tb = banding(
        testset, id_col, text_col, num_hashes, bands, shingle_n
    ).select(F.col(id_col).alias("test_id"), "band", "bucket")
    pairs = cb.join(tb, ["band", "bucket"]).select("corpus_id", "test_id").distinct()
    cs = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.array_distinct(shingles(text_col, shingle_n)).alias("__sa"),
    )
    ts = testset.select(
        F.col(id_col).alias("test_id"),
        F.array_distinct(shingles(text_col, shingle_n)).alias("__sb"),
    )
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    union = (
        F.size("__sa") + F.size("__sb") - F.size(F.array_intersect("__sa", "__sb"))
    ).cast("double")
    hits = (
        pairs.join(cs, "corpus_id")
        .join(ts, "test_id")
        .filter(union > 0)
        .filter((inter / union) >= threshold)
        .select(F.col("corpus_id").alias(id_col))
        .distinct()
    )
    return corpus.join(hits, id_col, "left_anti")


def near_dedup_keep_best(
    docs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """MinHash-LSH near-dup removal that keeps the BEST copy: banded
    candidates → exact-Jaccard verification → connected components over
    only the docs that appear in a VERIFIED pair (everything else
    bypasses the iteration) → per-cluster representative by (quality
    desc, id asc). Returns the surviving docs with their original columns.

    ``verify_threshold`` gates candidates through an exact n-gram Jaccard
    before clustering (candidate-linear — ``jaccard_verify_candidates``):
    at 4 rows/band a single-band hash collision between genuinely distinct
    docs would otherwise merge their clusters and permanently drop all but
    one. Pass ``None`` to accept raw band candidates (faster, but every
    band false-positive becomes a silent document drop)."""
    pairs = minhash_lsh_candidates(
        docs, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
    )
    if verify_threshold is not None:
        pairs = jaccard_verify_candidates(
            docs, pairs, verify_threshold,
            id_col=id_col, text_col=text_col, shingle_n=shingle_n,
        )
    return _keep_best_from_pairs(docs, pairs, quality_col, id_col)


def _keep_best_from_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str,
) -> DataFrame:
    """The shared keep-best retention stage: connected components over
    only the docs appearing in a ``(id_a, id_b)`` pair (everything else
    bypasses the iteration), then the per-cluster representative by
    (quality desc, id asc). Pair SOURCE is the caller's choice — text
    MinHash-LSH (:func:`near_dedup_keep_best`) or embedding cosine LSH
    (:func:`embedding_dedup_keep_best`) — the retention semantics must
    never diverge between modalities."""
    # the labelled nodes are exactly the docs appearing in a pair
    labeled = connected_components(None, pairs, src_col="id_a", dst_col="id_b")
    scored = labeled.join(
        docs.select(
            F.col(id_col).alias("node"), F.col(quality_col).alias("__q")
        ),
        "node",
    )
    reps = component_representatives(scored, "__q", id_col="node").select(
        F.col("rep_id").alias(id_col)
    )
    untouched = docs.join(
        labeled.select(F.col("node").alias(id_col)), id_col, "left_anti"
    )
    survivors = docs.join(reps, id_col, "left_semi")
    return untouched.unionByName(survivors)


def embedding_dedup_keep_best(
    docs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """SEMANTIC near-dup removal (the SemDeDup-style embedding tier next
    to the token-level :func:`near_dedup_keep_best`): docs whose
    embeddings sit above ``threshold`` cosine pair up via seeded
    hyperplane-LSH buckets (``similarity.embedding_dup_pairs_lsh`` — an
    equi-join on the bucket key, never doc × doc; high-threshold pairs
    almost always share every hyperplane sign), then the shared keep-best
    retention keeps the highest-``quality_col`` member per connected
    cluster. ``docs`` must carry the embedding column (join your
    embedding table on ``id_col`` first); rows with NULL embeddings are
    untouched by construction (NULL cosine never crosses the threshold).

    Catches paraphrases token-level MinHash misses — the two tiers
    compose: exact dedup → token near-dup → semantic near-dup, each
    pruning before the next shuffles."""
    from unified_firmographic_data_pipeline_spark.operators.similarity import (
        embedding_dup_pairs_lsh,
    )

    pairs = embedding_dup_pairs_lsh(
        docs.filter(F.col(vec_col).isNotNull()),
        threshold=threshold, id_col=id_col, vec_col=vec_col,
        num_planes=num_planes, dim=dim, seed=seed,
    ).select("id_a", "id_b")
    return _keep_best_from_pairs(docs, pairs, quality_col, id_col)


def _narrow_curate(
    docs: DataFrame,
    lang: str | None,
    min_quality: float | None,
    redact: bool,
    text_col: str,
) -> DataFrame:
    """The expression-only prefix of the ladder (normalize → redact →
    lang → quality): pure Column transforms, so it applies identically to
    batch frames and streaming frames and always runs BEFORE anything
    stateful — rows pruned here never reach a shuffle or a state store."""
    out = docs.withColumn(text_col, collapse_ws(text_col))
    if redact:
        out = out.withColumn(text_col, redact_pii(text_col))
    out = out.withColumn("lang", detect_lang(text_col))
    if lang is not None:
        out = out.filter(F.col("lang") == lang)
    out = out.withColumn("quality", quality_score(text_col))
    if min_quality is not None:
        out = out.filter(F.col("quality") >= min_quality)
    return out


def curate_corpus(
    docs: DataFrame,
    *,
    lang: str | None = "en",
    min_quality: float | None = 0.66,
    redact: bool = True,
    exact_dedup: bool = True,
    near_dup: bool = False,
    testset: DataFrame | None = None,
    contamination_ngram: int = 3,
    min_overlap: int = 1,
    fuzzy_threshold: float | None = None,
    eval_fraction: float | None = 0.05,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The full curation ladder as one lazy pipeline. Returns the
    surviving documents with ``lang``, ``quality`` and (if
    ``eval_fraction``) ``split`` columns added. Stage order is the scale
    order: expression-only filters prune before any shuffle; dedup before
    the split so near-identical docs cannot straddle train/eval.

    Decontamination runs in up to two tiers when ``testset`` is given:
    the exact n-gram anti-join always, plus the MinHash-banded fuzzy tier
    (:func:`decontaminate_fuzzy`) when ``fuzzy_threshold`` is set — exact
    catches verbatim quotes, fuzzy catches light rewrites."""
    out = _narrow_curate(docs, lang, min_quality, redact, text_col)
    if exact_dedup:
        out = dedup_exact(out, text_col, id_col)
    if near_dup:
        out = near_dedup_keep_best(out, "quality", id_col, text_col)
    if testset is not None:
        out = decontaminate(
            out, testset, contamination_ngram, min_overlap, id_col, text_col
        )
        if fuzzy_threshold is not None:
            out = decontaminate_fuzzy(
                out, testset, fuzzy_threshold,
                id_col=id_col, text_col=text_col,
            )
    if eval_fraction:
        out = split_train_eval(out, F.col(id_col), eval_fraction)
    return out


def curation_funnel(
    docs: DataFrame,
    *,
    lang: str | None = "en",
    min_quality: float | None = 0.66,
    redact: bool = True,
    near_dup: bool = False,
    testset: DataFrame | None = None,
    contamination_ngram: int = 3,
    min_overlap: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-stage survivor counts — the audit trail of ``curate_corpus``
    (``(stage, n_docs)``, one bounded count job per stage). The stages
    mirror ``curate_corpus`` with the same parameters — including
    redaction, which rewrites text BEFORE lang/quality/dedup and so
    shifts scores and fingerprints even though it drops no rows (it
    therefore carries no funnel stage of its own, like the split)."""
    stages: list[tuple[str, DataFrame]] = [("input", docs)]
    cur = docs.withColumn(text_col, collapse_ws(text_col))
    if redact:
        cur = cur.withColumn(text_col, redact_pii(text_col))
    cur = cur.withColumn("lang", detect_lang(text_col))
    if lang is not None:
        cur = cur.filter(F.col("lang") == lang)
        stages.append(("lang_filter", cur))
    cur = cur.withColumn("quality", quality_score(text_col))
    if min_quality is not None:
        cur = cur.filter(F.col("quality") >= min_quality)
        stages.append(("quality_filter", cur))
    cur = dedup_exact(cur, text_col, id_col)
    stages.append(("exact_dedup", cur))
    if near_dup:
        cur = near_dedup_keep_best(cur, "quality", id_col, text_col)
        stages.append(("near_dedup", cur))
    if testset is not None:
        cur = decontaminate(
            cur, testset, contamination_ngram, min_overlap, id_col, text_col
        )
        stages.append(("decontaminated", cur))
    rows = [(name, df.count()) for name, df in stages]
    return docs.sparkSession.createDataFrame(rows, "stage string, n_docs long")


def training_sequences(
    curated: DataFrame,
    *,
    width: int = 128,
    stride: int = 128,
    source_budgets: dict[str, int] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Turn curated documents into training-sequence rows: optional
    per-source token budgets (``token_budget_sample`` in keyed-hash
    order), then stride-``width`` windows with provenance
    (``chunk_documents``). ``stride == width`` is non-overlapping GPT-style
    packing fodder; smaller strides give overlapping contexts. Carries
    ``split`` (and ``source``) through to the sequence rows when present
    so downstream loaders can filter without re-joining.

    A source absent from ``source_budgets`` is passed through UNCAPPED
    (a missing entry means "no budget"), never silently dropped."""
    docs = curated
    if source_budgets:
        docs = docs.withColumn(
            "__n_tok", F.size(F.split(collapse_ws(text_col), " "))
        )
        parts = [
            # sources with no budget entry flow through unchanged
            docs.filter(
                ~F.col(source_col).isin(list(source_budgets))
                | F.col(source_col).isNull()
            )
        ]
        for src, budget in sorted(source_budgets.items()):
            parts.append(
                token_budget_sample(
                    docs.filter(F.col(source_col) == src),
                    budget=budget,
                    size_col="__n_tok",
                    key=id_col,
                    group_cols=[source_col],
                )
            )
        from functools import reduce

        docs = reduce(lambda a, b: a.unionByName(b), parts).drop("__n_tok")
    chunks = chunk_documents(
        docs, width=width, stride=stride, id_col=id_col, text_col=text_col
    )
    carry = [c for c in ("split", source_col) if c in docs.columns]
    if carry:
        chunks = chunks.join(
            docs.select(F.col(id_col).alias("doc_id"), *carry), "doc_id"
        )
    return chunks


def curate_stream(
    docs: DataFrame,
    *,
    lang: str | None = "en",
    min_quality: float | None = 0.66,
    redact: bool = True,
    exact_dedup: bool = True,
    watermark: tuple[str, str] | None = None,
    eval_fraction: float | None = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The streaming tier of ``curate_corpus``: the same expression-only
    prefix (identical results row-for-row — shared ``_narrow_curate``),
    exact dedup as Spark's native streaming ``dropDuplicates`` on the
    content fingerprint, and the keyed-hash split (stateless, so a doc
    lands in the same split whether it arrived by batch or stream).

    State contract: without ``watermark``, dedup state grows with
    distinct fingerprints — right for bounded ``availableNow`` catch-up
    runs. For continuous 24×7 ingestion pass ``watermark=(ts_col,
    "24 hours")`` to bound state via ``dropDuplicatesWithinWatermark``
    (re-sent duplicates beyond the delay are NOT suppressed — the
    at-least-once window every streaming dedup chooses).

    Near-dup clustering and decontamination are batch-only by design
    (iterative components / corpus-wide joins): run them in the
    downstream batch compaction over the landed output, not per
    micro-batch."""
    out = _narrow_curate(docs, lang, min_quality, redact, text_col)
    if exact_dedup:
        from unified_firmographic_data_pipeline_spark.functions.text import (
            doc_fingerprint,
        )

        out = out.withColumn("__fp", doc_fingerprint(F.col(text_col)))
        if watermark is not None:
            ts_col, delay = watermark
            out = out.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
                ["__fp"]
            )
        else:
            out = out.dropDuplicates(["__fp"])
        out = out.drop("__fp")
    if eval_fraction:
        out = split_train_eval(out, F.col(id_col), eval_fraction)
    return out
