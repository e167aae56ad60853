"""Round-11 optimization invariants.

The optimizations must not change what any operator computes:

- triangles: the new in-memory adjacency-intersection regime
  (``_closed_wedges_adjacency``, ``broadcast_closure=True``) must be
  bit-equal to the >memory wedge-join + shuffled-probe regime
  (``broadcast_closure=False``) for both the count and the enumeration.
- driver_queries._t: the scan-parallelism guard is opt-in and memoized.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F


def _graph_df(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


def test_triangle_regimes_bit_equal_count(spark):
    from unified_firmographic_data_pipeline_spark.operators.triangles import (
        triangle_stats,
    )

    # adversarial micro-graph: K4, pendant, C4, self-loop, dup/reversed edges
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (4, 5),
        (10, 11), (11, 12), (12, 13), (13, 10),
        (7, 7),
        (2, 1), (1, 2),
    ]
    df = _graph_df(spark, edges)
    a = triangle_stats(df, broadcast_closure=True).collect()[0]
    b = triangle_stats(df, broadcast_closure=False).collect()[0]
    assert tuple(a) == tuple(b)
    assert a["n_triangles"] == 4


def test_triangle_regimes_bit_equal_enumeration_random_graph(spark):
    from unified_firmographic_data_pipeline_spark.operators.triangles import (
        enumerate_triangles,
    )

    rng = random.Random(7)
    edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(300)})
    df = _graph_df(spark, edges)
    a = sorted(map(tuple, enumerate_triangles(df, broadcast_closure=True).collect()))
    b = sorted(map(tuple, enumerate_triangles(df, broadcast_closure=False).collect()))
    assert a == b
    assert len(a) > 0  # 300 random edges on 40 nodes are dense enough
    # canonical id order within each row, no duplicate triangles
    assert all(v1 < v2 < v3 for v1, v2, v3 in a)
    assert len(set(a)) == len(a)


def test_triangle_adjacency_helper_matches_wedge_join(spark):
    from unified_firmographic_data_pipeline_spark.operators.triangles import (
        _canonical_undirected,
        _closed_wedges_adjacency,
        _degrees,
        _orient,
        _oriented_wedges,
    )

    rng = random.Random(11)
    edges = list({(rng.randrange(25), rng.randrange(25)) for _ in range(150)})
    und = _canonical_undirected(_graph_df(spark, edges), "src", "dst")
    ori = _orient(und, _degrees(und))
    canon = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    wedge_closed = _oriented_wedges(ori).join(canon, ["x", "y"])
    adj_closed = _closed_wedges_adjacency(ori)
    a = sorted(map(tuple, wedge_closed.select("pivot", "x", "y").collect()))
    b = sorted(map(tuple, adj_closed.select("pivot", "x", "y").collect()))
    assert a == b


def test_scan_guard_memoized_and_opt_in(spark, sf_small):
    import unified_firmographic_data_pipeline_spark.plans.driver_queries as dq

    dq._SCAN_UNDERPAR.clear()
    d0 = dq._t(spark, sf_small, "documents")  # default: no guard probe
    assert dq._SCAN_UNDERPAR == {}
    d1 = dq._t(spark, sf_small, "documents", spread=True)
    path = f"{sf_small}/documents.parquet"
    key = (path, dq._file_id(path), spark.sparkContext.defaultParallelism)
    assert key in dq._SCAN_UNDERPAR
    # second guarded load answers from the memo (same decision, no re-probe)
    before = dict(dq._SCAN_UNDERPAR)
    d2 = dq._t(spark, sf_small, "documents", spread=True)
    assert dq._SCAN_UNDERPAR == before
    assert d0.count() == d1.count() == d2.count()


def test_scan_guard_probes_a_rewritten_table_again(spark, tmp_path):
    """The probe memo is keyed on the table file's identity: a table rewritten
    with a different file layout is probed again, not answered from the
    decision made for its old layout."""
    import unified_firmographic_data_pipeline_spark.plans.driver_queries as dq

    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "documents.parquet")
    rows = spark.range(64).select(F.col("id").alias("doc_id"))
    rows.coalesce(1).write.parquet(path)
    one_file = spark.read.parquet(path)
    assert one_file.rdd.getNumPartitions() < target
    assert dq._scan_guard(spark, one_file, path) is not one_file  # spread

    rows.repartition(2 * target).write.mode("overwrite").parquet(path)
    # one file per scan partition, whatever the files' sizes
    conf = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "1k")
    try:
        many_files = spark.read.parquet(path)
        assert many_files.rdd.getNumPartitions() >= target
        assert dq._scan_guard(spark, many_files, path) is many_files
    finally:
        spark.conf.set(conf, old)


def test_dedup_detector_pr_null_text_parity(spark, sf_small, tmp_path):
    """dedup_detector_pr's sorted-group truth set must not pair documents
    whose text is NULL: their prefixes are NULL, and the oracle's
    ``a.p = b.p`` never matches NULL. Three NULL-text documents beside one
    real prefix duplicate pair; the result stays bit-exact with DuckDB."""
    import os

    import duckdb

    import __spark_entry__ as entry_mod
    from tests.test_oracle_parity import TABLES, assert_bit_exact, duck_con

    for t in TABLES:
        if t != "documents":
            os.symlink(os.path.join(sf_small, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    text = "the quick brown fox jumps over the lazy dog again and again until the sun goes down"
    docs = [
        (1, text, "en", "src0", len(text)),
        (2, text + " more", "en", "src1", len(text) + 5),
        (3, None, "en", "src0", 0),
        (4, None, "en", "src1", 0),
        (5, None, "fr", "src2", 0),
        (6, "a different short document here", "en", "src2", 31),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO docs VALUES (?, ?, ?, ?, ?)", docs)
    con.execute(f"COPY docs TO '{tmp_path / 'documents.parquet'}' (FORMAT PARQUET)")
    name = "dedup_detector_pr"
    got = entry_mod.queries()[name](spark, str(tmp_path)).toPandas()
    want = duck_con(str(tmp_path)).execute(entry_mod.oracle_sql()[name]).fetchdf()
    assert int(want["n_truth"][0]) == 1  # only the (1, 2) prefix pair
    assert_bit_exact(name, got, want)
