"""Behavioral pins for graph_pagerank_conserving (oracle parity runs in
the declared registry): centrality must actually separate hubs from
leaves and handle isolated docs per the documented contract."""

from __future__ import annotations

from impala_base_to_cdw_sizing_spark.operators.graph_rank import (
    _NANO,
    pagerank_ranks_conserving,
    q_graph_pagerank_conserving,
)
from tests.conftest import SF_SMALL


def test_pagerank_corpus_invariants(spark):
    rows = q_graph_pagerank_conserving(spark, SF_SMALL).collect()
    assert len(rows) == 500
    min_doc = min(r.doc_id for r in rows)
    isolated = [r for r in rows if r.outdeg == 0 and r.doc_id != min_doc]
    connected = [r for r in rows if r.outdeg > 0 and r.doc_id != min_doc]
    assert isolated and connected, "fixture needs both populations"
    # documented contract: isolated docs hold exactly the teleport base
    # plus the uniform share of the leaked mass — one value for all
    (iso_rank,) = {r.rank_nano for r in isolated}
    # every connected doc receives at least one contribution on top
    assert all(r.rank_nano > iso_rank for r in connected)
    # the conserving variant redistributes every leaked nano-unit
    assert sum(r.rank_nano for r in rows) == _NANO


def test_pagerank_degenerate_graphs(spark):
    empty_docs = spark.createDataFrame([], "doc_id long")
    empty_edges = spark.createDataFrame([], "doc_a long, doc_b long")
    assert pagerank_ranks_conserving(empty_edges, empty_docs).count() == 0
    one = spark.createDataFrame([(7,)], "doc_id long")
    rows = pagerank_ranks_conserving(empty_edges, one).collect()
    assert len(rows) == 1
    # single isolated doc: it holds the whole unit of mass
    assert rows[0].rank_nano == _NANO
    assert rows[0].outdeg == 0


def test_pagerank_hub_outranks_leaves_on_star(spark):
    """A 1-hub/12-leaf star: the hub aggregates every leaf's damped
    mass while each leaf gets only a 1/12 share back — rank must
    separate them decisively (near-dup-corpus near-cliques equalize
    ranks, so the hub property needs a shaped graph to pin)."""
    n_leaves = 12
    pairs = [(0, i) for i in range(1, n_leaves + 1)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "doc_a long, doc_b long"
    )
    docs = spark.createDataFrame(
        [(i,) for i in range(n_leaves + 1)], "doc_id long"
    )
    got = {r.doc_id: r for r in pagerank_ranks_conserving(edges, docs).collect()}
    hub, leaves = got[0], [got[i] for i in range(1, n_leaves + 1)]
    assert hub.outdeg == n_leaves
    assert all(hub.rank_nano > 2 * l.rank_nano for l in leaves)
    # leaves are symmetric: identical integer ranks, no float fuzz (the
    # hub is the min doc, so the remainder policy leaves them all alone)
    assert len({l.rank_nano for l in leaves}) == 1


def test_pagerank_conserving_sums_to_unit_every_round(spark):
    """The defining invariant: rank mass is EXACTLY 10^9 nano-units
    after every round — init, 1, 2, and 3 iterations — on a graph with
    dangling nodes (whose damped mass a plain power iteration sheds)."""
    # 2-clique {0,1} plus dangling docs 2..6 (no out-edges at all)
    edges = spark.createDataFrame(
        [(0, 1), (1, 0)], "doc_a long, doc_b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    for iters in (0, 1, 2, 3):
        rows = pagerank_ranks_conserving(edges, docs, n_iters=iters).collect()
        total = sum(r.rank_nano for r in rows)
        assert total == 10**9, f"iters={iters}: sum {total}"


def test_pagerank_conserving_preserves_ordering(spark):
    """Uniform redistribution is ordering-neutral away from the pinned
    remainder node: the star hub still ranks above its leaves."""
    n_leaves = 12
    pairs = [(0, i) for i in range(1, n_leaves + 1)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "doc_a long, doc_b long"
    )
    docs = spark.createDataFrame(
        [(i,) for i in range(n_leaves + 1)], "doc_id long"
    )
    got = {r.doc_id: r for r in pagerank_ranks_conserving(edges, docs).collect()}
    assert sum(r.rank_nano for r in got.values()) == 10**9
    hub, leaves = got[0], [got[i] for i in range(1, n_leaves + 1)]
    assert all(hub.rank_nano > 2 * l.rank_nano for l in leaves)
    # leaves 2..n are untouched by the min-doc remainder policy and stay
    # exact integer ties
    assert len({l.rank_nano for l in leaves[1:]}) == 1


def test_ppr_concentrates_mass_on_seed_neighborhood(spark):
    """Personalization is real: under PPR the seed set holds a far
    larger rank share than its population share (teleport + init both
    land on seeds), and every positive non-seed rank is reachable mass
    that flowed over edges (isolated non-seeds stay at exactly 0 —
    unlike uniform PageRank, where every node holds the teleport
    base)."""
    from impala_base_to_cdw_sizing_spark.operators.graph_rank import (
        _PPR_SEED_LANG,
        q_graph_ppr,
    )
    from tests.conftest import SF_ORACLE

    rows = q_graph_ppr(spark, SF_ORACLE).collect()
    seeds = [r for r in rows if r.is_seed == 1]
    non_seeds = [r for r in rows if r.is_seed == 0]
    assert seeds and non_seeds
    total = sum(r.rank_nano for r in rows)
    seed_mass = sum(r.rank_nano for r in seeds)
    pop_share = len(seeds) / len(rows)
    assert seed_mass / total > 3 * pop_share
    # isolated non-seeds hold exactly zero — the PPR signature
    assert all(
        r.rank_nano == 0 for r in non_seeds if r.outdeg == 0
    )
    # some mass does flow out of the seed set (the graph has de-en
    # near-dup edges at sf0.01)
    assert any(r.rank_nano > 0 for r in non_seeds)
