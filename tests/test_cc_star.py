"""Large-star/small-star CC must compute the identical component-min
labels as convergent min-label propagation — on chains (worst case for
propagation), stars, cliques, and seeded random graphs — while using
O(log) rounds instead of diameter-bounded rounds."""

from __future__ import annotations

import math
import random

import duckdb
from pyspark.sql import functions as F

import pytest
from impala_base_to_cdw_sizing_spark.operators.text import (
    cc_labels_converged,
    cc_labels_star,
)


def _sym(spark, pairs, node_ids):
    edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    edges = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    nodes = spark.createDataFrame([(i,) for i in node_ids], "doc_id long")
    return edges, nodes


def _labels(df):
    return {r.doc_id: r.cluster for r in df.collect()}


@pytest.mark.slow  # re-tiered r15: driver gate = fast tier; this test's coverage stays in the release gate (pytest -m "")
def test_star_collapses_long_chain(spark):
    n = 24  # diameter 24: propagation needs 24 rounds, star needs ~log
    pairs = [(i, i + 1) for i in range(n)]
    edges, nodes = _sym(spark, pairs, range(n + 1))
    got = _labels(cc_labels_star(edges, nodes))
    assert set(got.values()) == {0}
    assert got == _labels(cc_labels_converged(edges, nodes))


def test_star_equals_converged_on_mixed_shapes(spark):
    # star, two triangles sharing a vertex, clique, singleton
    pairs = [
        (0, 1), (0, 2), (0, 3),
        (10, 11), (11, 12), (10, 12), (12, 13), (13, 14), (12, 14),
        (20, 21), (20, 22), (20, 23), (21, 22), (21, 23), (22, 23),
    ]
    ids = [0, 1, 2, 3, 10, 11, 12, 13, 14, 20, 21, 22, 23, 99]
    edges, nodes = _sym(spark, pairs, ids)
    star = _labels(cc_labels_star(edges, nodes))
    conv = _labels(cc_labels_converged(edges, nodes))
    assert star == conv
    assert star[99] == 99


def test_empty_edge_set_leaves_every_node_its_own_cluster(spark):
    # both loops size their gate and stop test from observed counts;
    # with no edge at all every node is a singleton component
    edges, nodes = _sym(spark, [], [5, 3, 9])
    expected = {5: 5, 3: 3, 9: 9}
    assert _labels(cc_labels_star(edges, nodes)) == expected
    assert _labels(cc_labels_converged(edges, nodes)) == expected


def _duck_cc_oracle(pairs, node_ids):
    """Independent fixpoint: DuckDB recursive reachability over the same
    edge list — the exact oracle shape ``dedup_components`` is checked
    against, re-run here on the synthetic fixture graph."""
    con = duckdb.connect()
    con.execute("CREATE TABLE pairs (doc_a BIGINT, doc_b BIGINT)")
    con.executemany("INSERT INTO pairs VALUES (?, ?)", [list(p) for p in pairs])
    con.execute("CREATE TABLE nodes (doc_id BIGINT)")
    con.executemany("INSERT INTO nodes VALUES (?)", [[i] for i in node_ids])
    rows = con.execute(
        """
        WITH RECURSIVE edges AS (
          SELECT doc_a, doc_b FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        reach(doc_id, r) AS (
          SELECT doc_id, doc_id FROM nodes
          UNION
          SELECT t.doc_id, e.doc_b FROM reach t JOIN edges e ON t.r = e.doc_a
        )
        SELECT doc_id, MIN(r) FROM reach GROUP BY doc_id
        """
    ).fetchall()
    return {doc_id: cluster for doc_id, cluster in rows}


@pytest.mark.slow  # re-tiered r15: driver gate = fast tier; this test's coverage stays in the release gate (pytest -m "")
def test_star_log_rounds_on_high_diameter_chain(spark):
    """The 100 TB long-chain case: a 65-node chain (diameter 64). Star,
    convergent propagation, and the DuckDB recursive-CTE oracle must all
    agree — and star must finish in ~log2(diameter) rounds while
    propagation provably needs >= diameter rounds."""
    diameter = 64
    pairs = [(i, i + 1) for i in range(diameter)]
    node_ids = list(range(diameter + 1))
    edges, nodes = _sym(spark, pairs, node_ids)

    star_rounds: list[int] = []
    star = _labels(cc_labels_star(edges, nodes, rounds_out=star_rounds))
    conv_rounds: list[int] = []
    conv = _labels(
        cc_labels_converged(
            edges, nodes, max_iters=diameter + 8, rounds_out=conv_rounds
        )
    )
    oracle = _duck_cc_oracle(pairs, node_ids)

    assert star == conv == oracle
    assert set(star.values()) == {0}
    # star: ceil(log2(diameter)) + slack (the +2 covers the final
    # digest-repeat detection round and the alternation constant)
    assert star_rounds[0] <= math.ceil(math.log2(diameter)) + 2, star_rounds
    # propagation: the min label walks one hop per round, so the chain
    # forces >= diameter rounds — the measured gap that motivates star
    assert conv_rounds[0] >= diameter
    assert star_rounds[0] * 4 < conv_rounds[0]


@pytest.mark.slow  # re-tiered r15: driver gate = fast tier; this test's coverage stays in the release gate (pytest -m "")
def test_star_equals_converged_on_random_graphs(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 40
        pairs = list(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randint(10, 60))
            }
        )
        edges, nodes = _sym(spark, pairs, range(n))
        assert _labels(cc_labels_star(edges, nodes)) == _labels(
            cc_labels_converged(edges, nodes)
        ), f"trial {trial} diverged"
