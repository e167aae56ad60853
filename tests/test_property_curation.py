"""Property-based checks (hypothesis) for the curation extensions:
connected components, sequence packing, repetition metrics, and chunk dedup
must agree with brute-force Python references on arbitrary small inputs."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from unified_firmographic_data_pipeline_spark.operators.components import (
    connected_components,
)
from unified_firmographic_data_pipeline_spark.operators.curation import (
    pack_sequences,
    repetition_metrics,
)

edges_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=0,
    max_size=12,
)


import pytest

# heavy property sweep / e2e tier (see pytest.ini): excluded from the
# default driver-window run, executed by the full tier at close-out
pytestmark = pytest.mark.slow


def _brute_components(nodes, edges):
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label = {}
    for start in sorted(adj):
        if start in label:
            continue
        stack, seen = [start], {start}
        while stack:
            v = stack.pop()
            for u in adj[v]:
                if u not in seen:
                    seen.add(u)
                    stack.append(u)
        m = min(seen)
        for v in seen:
            label[v] = m
    return label


@pytest.mark.parametrize("node_set", ["all", "endpoint_subset", "none"])
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=edges_strategy, data=st.data())
def test_cc_matches_bruteforce(spark, node_set, edges, data):
    """Labels every id of ``nodes`` and every edge endpoint: ``nodes`` is
    all ten ids, a strict subset of the endpoints, or ``None``."""
    edges = edges or [(0, 0)]
    ends = sorted({v for e in edges for v in e})
    if node_set == "all":
        nodes = list(range(10))
    elif node_set == "endpoint_subset":
        nodes = data.draw(
            st.lists(st.sampled_from(ends), unique=True, max_size=len(ends) - 1)
        )
    else:
        nodes = None
    n = (
        None
        if nodes is None
        else spark.createDataFrame([(x,) for x in nodes], "node long")
    )
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(n, e).collect()}
    assert got == _brute_components(nodes or [], edges)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    lens=st.lists(st.integers(1, 12), min_size=1, max_size=12),
    cap=st.integers(2, 10),
)
def test_pack_sequences_matches_bruteforce(spark, lens, cap):
    rows = [
        (i, "s" + str(i % 2), " ".join("t" for _ in range(n)))
        for i, n in enumerate(lens)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["doc_id"]: r["pack_id"] for r in pack_sequences(df, capacity=cap).collect()}
    # brute force: per group in doc_id order, pack = floor(preceding/cap)
    for grp in ("s0", "s1"):
        preceding = 0
        for i, n in enumerate(lens):
            if "s" + str(i % 2) != grp:
                continue
            assert got[i] == preceding // cap, (i, got[i], preceding, cap)
            preceding += n
    # start-offset invariant: the first doc of each pack starts inside the
    # pack's capacity window
    assert all(v >= 0 for v in got.values())


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    toks=st.lists(st.sampled_from("abc"), min_size=2, max_size=14),
)
def test_repetition_matches_bruteforce(spark, toks):
    text = " ".join(toks)
    df = spark.createDataFrame([(1, "s", text)], "doc_id long, source string, text string")
    row = repetition_metrics(df, flag_threshold=0.5).collect()[0]
    bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    dup = round((len(bigrams) - len(set(bigrams))) / len(bigrams), 6)
    assert row["n_bigrams"] == len(bigrams)
    assert row["dup_bigram_frac"] == dup
    assert row["flagged"] == (dup > 0.5)
