"""Unit tests for operators/curation.py (corpus-curation extensions):
handcrafted fixtures pin chunking boundaries, dedup ownership, repetition
math, PII patterns, contamination joins, packing overflow, and LM scoring.
The driver queries over the documents table are oracle-checked separately
(test_oracle_parity)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from unified_firmographic_data_pipeline_spark.functions.text import redact_pii
from unified_firmographic_data_pipeline_spark.operators.curation import (
    chunk_dedup_stats,
    contamination_overlap,
    pack_sequences,
    repetition_metrics,
    tfidf_top_terms,
    token_chunks,
    unigram_logprob,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_token_chunks_boundaries(spark):
    df = spark.createDataFrame(
        [("a b c d e",), ("a b c",), ("x",)], "text string"
    ).select(token_chunks("text", width=2).alias("c"))
    got = [r["c"] for r in df.collect()]
    assert got[0] == ["a b", "c d", "e"]  # partial tail kept
    assert got[1] == ["a b", "c"]
    assert got[2] == ["x"]  # shorter than one window


def test_chunk_dedup_stats_ownership(spark):
    # doc 1 and doc 2 share the chunk "a b"; first owner (min doc_id) keeps it
    df = _docs(
        spark,
        [(1, "s1", "a b c d"), (2, "s2", "a b x y"), (3, "s1", "c d a b")],
    )
    # width=2 chunks: d1 -> [a b][c d]; d2 -> [a b][x y]; d3 -> [c d][a b]
    got = {r["source"]: r for r in chunk_dedup_stats(df, width=2).collect()}
    assert got["s1"]["n_chunks"] == 4
    # s1 keeps: d1's [a b] (owner), d1's [c d] (owner); d3 loses both copies
    assert got["s1"]["n_kept"] == 2 and got["s1"]["n_dropped"] == 2
    assert got["s2"]["n_kept"] == 1 and got["s2"]["n_dropped"] == 1  # [a b] lost


def test_repetition_metrics_math(spark):
    df = _docs(spark, [(1, "s", "a b a b a"), (2, "s", "a b c d")])
    got = {r["doc_id"]: r for r in repetition_metrics(df, flag_threshold=0.2).collect()}
    # doc 1 bigrams: [a b, b a, a b, b a] -> 2 distinct of 4 -> 0.5 dup
    assert got[1]["n_bigrams"] == 4 and got[1]["dup_bigram_frac"] == 0.5
    assert got[1]["flagged"] is True
    assert got[2]["dup_bigram_frac"] == 0.0 and got[2]["flagged"] is False


def test_redact_pii_patterns(spark):
    rows = [
        ("mail me at jo.doe+x@sub.example.co.uk today",),
        ("server 192.168.001.12 rebooted",),
        ("call +1 (555) 010-3456 now",),
        ("no pii here at all",),
    ]
    out = [
        r["r"]
        for r in spark.createDataFrame(rows, "s string")
        .select(redact_pii("s").alias("r"))
        .collect()
    ]
    assert out[0] == "mail me at <EMAIL> today"
    assert out[1] == "server <IP> rebooted"
    assert out[2] == "call <PHONE> now"
    assert out[3] == "no pii here at all"


def test_contamination_overlap_counts(spark):
    test = _docs(spark, [(0, "t", "w1 w2 w3 w4")])  # trigrams: w1w2w3, w2w3w4
    corpus = _docs(
        spark,
        [
            (10, "c", "w1 w2 w3 zz w2 w3 w4"),  # shares both test trigrams
            (11, "c", "w2 w3 w4 aa bb"),  # shares one
            (12, "c", "aa bb cc dd"),  # shares none -> absent from output
        ],
    )
    got = {r["doc_id"]: r["n_overlap"] for r in contamination_overlap(corpus, test, n=3).collect()}
    assert got == {10: 2, 11: 1}


def test_pack_sequences_overflow_and_groups(spark):
    df = _docs(
        spark,
        [
            (1, "s1", "a b c"),        # 3 tokens -> pack 0
            (2, "s1", "d e f g"),      # cum 3 -> pack 0 (7 <= cap while starting at 3)
            (3, "s1", " ".join("t" for _ in range(10))),  # starts at 7 -> pack 1
            (4, "s2", "x y"),          # separate group restarts at pack 0
        ],
    )
    got = {r["doc_id"]: r for r in pack_sequences(df, capacity=5).collect()}
    assert [got[i]["pack_id"] for i in (1, 2, 3, 4)] == [0, 0, 1, 0]
    assert got[3]["n_tokens"] == 10  # oversized doc still gets one pack slot


def test_unigram_logprob_uniform_corpus(spark):
    # 4 tokens, each appearing once -> p = 1/4 for all; avg logprob = ln(1/4)
    df = _docs(spark, [(1, "s", "a b"), (2, "s", "c d")])
    got = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    want = round(math.log(0.25) * 1e6) / 1e6  # micro-rounded, n=2 cancels
    for d in (1, 2):
        assert got[d]["n_tokens"] == 2
        assert got[d]["avg_logprob"] == pytest.approx(want, abs=1e-12)


def test_tfidf_top_term_prefers_rare(spark):
    df = _docs(
        spark,
        [
            (1, "s", "common common rare"),  # 'common' df=2, 'rare' df=1
            (2, "s", "common stuff stuff"),
        ],
    )
    got = {r["doc_id"]: r["top_term"] for r in tfidf_top_terms(df).collect()}
    # doc1: rare has idf ln(2) > common's ln(1)=0 even at tf=2
    assert got[1] == "rare"
    assert got[2] == "stuff"


# ----------------------------------------------------- connected components


def _graph(spark, nodes, edges):
    n = spark.createDataFrame([(x,) for x in nodes], "node long")
    e = spark.createDataFrame(edges or [(None, None)], "src long, dst long").filter(
        F.col("src").isNotNull()
    )
    return n, e


def test_cc_two_components_and_isolated(spark):
    from unified_firmographic_data_pipeline_spark.operators.components import (
        connected_components,
    )

    n, e = _graph(spark, [1, 2, 3, 4, 5, 9], [(2, 1), (3, 2), (4, 5)])
    got = {r["node"]: r["component"] for r in connected_components(n, e).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 9: 9}


def test_cc_chain_converges_across_rounds(spark):
    from unified_firmographic_data_pipeline_spark.operators.components import (
        connected_components,
    )

    # 0-1-2-...-7 chain: min label must travel the full diameter
    n, e = _graph(spark, list(range(8)), [(i, i + 1) for i in range(7)])
    got = {r["node"]: r["component"] for r in connected_components(n, e).collect()}
    assert got == {i: 0 for i in range(8)}


def test_cc_labels_every_endpoint_and_drops_nulls(spark):
    """Every non-NULL edge endpoint is labelled, whether or not it is in
    ``nodes``; NULL ids give no row and relay no label."""
    from unified_firmographic_data_pipeline_spark.operators.components import (
        connected_components,
    )

    n = spark.createDataFrame([(1,), (2,), (None,), (5,)], "node long")
    e = spark.createDataFrame(
        [(1, None), (None, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    got = {r["node"]: r["component"] for r in connected_components(n, e).collect()}
    # 3 is only an endpoint, yet it is labelled and relays 1 to 2
    assert got == {1: 1, 2: 1, 3: 1, 5: 5}
    e = spark.createDataFrame([(7, None), (None, 8), (9, 8)], "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(None, e).collect()}
    assert got == {7: 7, 8: 8, 9: 8}


#: Spark jobs of ``connected_components`` on the two-round fixture below
#: (local[4], 4 shuffle partitions): the edge-list checkpoint and the two
#: round checkpoints, and nothing else.
CC_JOB_BUDGET = 9


def test_cc_runs_jobs_only_inside_its_checkpoints(spark, checkpoint_jobs):
    """Each round's change count comes from the round's checkpoint: no job
    runs between one checkpoint and the next, or after the last."""
    from tests.conftest import spark_job_id

    from unified_firmographic_data_pipeline_spark.operators.components import (
        connected_components,
    )

    # two stars: round 1 labels every leaf, round 2 changes nothing
    n, e = _graph(spark, list(range(7)), [(0, 1), (0, 2), (3, 4), (3, 5)])
    first = spark_job_id(spark)
    out = connected_components(n, e)
    last = spark_job_id(spark)
    assert len(checkpoint_jobs) == 3, "edge list + two rounds"
    assert [first] + [b for _, b in checkpoint_jobs] == [
        a for a, _ in checkpoint_jobs
    ] + [last], f"a job ran between checkpoints: {checkpoint_jobs}, {first}..{last}"
    assert last - first <= CC_JOB_BUDGET
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3, 6: 6}


def test_cc_raises_when_bound_too_small(spark):
    import pytest as _pytest

    from unified_firmographic_data_pipeline_spark.operators.components import (
        connected_components,
    )

    n, e = _graph(spark, list(range(6)), [(i, i + 1) for i in range(5)])
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(n, e, max_iter=2)
