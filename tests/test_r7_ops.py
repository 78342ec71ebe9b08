"""Round-7 operators: weighted reservoir sampling, SQ8 ANN, bigram-LM perplexity. Each test checks a property the oracle
parity run can't: an independent pure-Python replication, a structural
invariant, or a degenerate fixture."""

from __future__ import annotations

import math

import duckdb
import pytest

from tests.conftest import SF_SMALL, ann_recall_at3


def _det_ln(ratio: float) -> int:
    """Pure-Python replication of the shared sqrt/atanh deterministic
    ln (curation.py): 16 IEEE sqrts + one polynomial, micro-quantized.
    math.sqrt is the correctly-rounded IEEE sqrt, so this reproduces
    the engines' doubles bit-for-bit."""
    y = ratio
    for _ in range(16):
        y = math.sqrt(y)
    z = (y - 1.0) / (y + 1.0)
    z2 = z * z
    series = 2.0 * z * (1.0 + z2 * (1.0 / 3.0 + z2 * (1.0 / 5.0 + z2 * (1.0 / 7.0))))
    return int(math.floor(65536.0 * series * 1000000.0 + 0.5))


# --- sample_reservoir_merged ------------------------------------------------------


def test_reservoir_matches_python_replication(spark):
    from impala_base_to_cdw_sizing_spark.operators.sampling import (
        _KNUTH,
        _RES_K,
        _RES_M,
        q_sample_reservoir_merged,
    )

    got = q_sample_reservoir_merged(spark, SF_SMALL).collect()
    docs = duckdb.sql(
        f"SELECT doc_id, n_chars FROM '{SF_SMALL}/documents.parquet'"
    ).fetchall()
    keyed = []
    for doc_id, n_chars in docs:
        h = (doc_id * _KNUTH) % _RES_M
        ln_micro = _det_ln(float(_RES_M + 1) / float(h + 1))
        keyed.append((float(ln_micro) / float(n_chars), doc_id, n_chars, ln_micro))
    keyed.sort()
    expect = keyed[:_RES_K]
    assert len(got) == min(_RES_K, len(docs))
    got_sorted = sorted((r.race_key, r.doc_id) for r in got)
    assert got_sorted == [(k, d) for k, d, _, _ in expect]
    # per-row arithmetic matches exactly too
    by_id = {d: (k, ln) for k, d, _, ln in expect}
    for r in got:
        k, ln = by_id[r.doc_id]
        assert r.ln_micro == ln and r.race_key == k


def test_reservoir_favors_heavy_docs(spark):
    """P(select) increases with weight: the selected set's mean n_chars
    must exceed the corpus mean (a weak but assumption-free check of
    the exponential-race direction — dividing by w must FAVOR large w,
    not penalize it)."""
    from impala_base_to_cdw_sizing_spark.operators.sampling import (
        q_sample_reservoir_merged,
    )

    sel = [r.n_chars for r in q_sample_reservoir_merged(spark, SF_SMALL).collect()]
    all_chars = [
        r[0]
        for r in duckdb.sql(
            f"SELECT n_chars FROM '{SF_SMALL}/documents.parquet'"
        ).fetchall()
    ]
    assert sum(sel) / len(sel) > sum(all_chars) / len(all_chars)


# --- text_chunk_overlap -----------------------------------------------------------


# --- sim_sq8_ann ------------------------------------------------------------------


def test_sq8_codes_bounded_and_recall_high(spark):
    from impala_base_to_cdw_sizing_spark.operators.similarity import (
        q_cosine_topk,
    )
    from impala_base_to_cdw_sizing_spark.operators.sq import _coded, q_sq8_ann

    coded = _coded(spark, SF_SMALL).collect()
    for r in coded:
        assert all(0 <= c <= 255 for c in r.codes)
    # 8-bit per-dim quantization distorts cosine by <1%: every approx
    # score is within 0.01 of the exact score for the same pair
    exact = {
        (r.q_id, r.neighbor_id): r.cosine
        for r in q_cosine_topk(spark, SF_SMALL).collect()
    }
    approx = q_sq8_ann(spark, SF_SMALL).collect()
    overlap = [
        (r.approx_cosine, exact[(r.q_id, r.neighbor_id)])
        for r in approx
        if (r.q_id, r.neighbor_id) in exact
    ]
    assert overlap, "approx top-k shares pairs with exact top-k"
    for a, e in overlap:
        assert abs(a - e) < 0.01
    # measured 0.93 against the exact top-3
    assert ann_recall_at3(spark, SF_SMALL, q_sq8_ann(spark, SF_SMALL)) >= 0.8


# --- text_bigram_perplexity -------------------------------------------------------


@pytest.fixture()
def tiny_corpus(spark, tmp_path):
    """4 reference docs with a skewed bigram ('a b' dominates), one
    OOV-gibberish doc, one doc made of the dominant bigram."""
    rows = [
        (0, "a b a b a b a b", "en", "s0", 15),
        (1, "a b a c a d b b", "en", "s0", 15),
        (2, "b a a b c a b b", "en", "s0", 15),
        (3, "c c a b d a b a", "en", "s0", 15),
        (10, "zz qq zz qq zz qq", "xx", "s1", 17),
        (11, "a b a b a b", "xx", "s1", 11),
    ]
    p = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{p}/documents.parquet")
    return p


def test_bigram_perplexity_degenerate_docs(spark, tiny_corpus):
    from impala_base_to_cdw_sizing_spark.operators.lm_quality import (
        q_bigram_perplexity,
    )

    out = {r.doc_id: r for r in q_bigram_perplexity(spark, tiny_corpus).collect()}
    # every doc scored, including the non-reference ones
    assert set(out) == {0, 1, 2, 3, 10, 11}
    # the all-OOV doc costs exactly ln(V) per bigram: c2 = c1 = 0
    # (replicated with the same deterministic ln)
    ref_text = [
        "a b a b a b a b", "a b a c a d b b",
        "b a a b c a b b", "c c a b d a b a",
    ]
    vocab = {t for s in ref_text for t in s.split(" ")}
    v = len(vocab)
    expect_oov = _det_ln(float(v))  # ratio (0+V)/(0+1)
    assert out[10].sum_micro == expect_oov * out[10].n_bigrams
    # the dominant-bigram doc is cheaper than every reference doc's own
    # score, and the OOV doc is the most expensive
    assert out[11].xent_nats < min(out[d].xent_nats for d in range(4))
    assert out[10].xent_nats == max(o.xent_nats for o in out.values())
    # exact replication of one seen bigram's cost: 'a b' appears
    # c2 times, context 'a' c1 times in the reference bigram counts
    bigrams = [
        (s.split(" ")[i], s.split(" ")[i + 1])
        for s in ref_text
        for i in range(len(s.split(" ")) - 1)
    ]
    c2 = bigrams.count(("a", "b"))
    c1 = sum(1 for p, _ in bigrams if p == "a")
    per_ab = _det_ln(float(c1 + v) / float(c2 + 1))
    # doc 11 is 'a b' x3 + 'b a' x2
    c2_ba = bigrams.count(("b", "a"))
    c1_b = sum(1 for p, _ in bigrams if p == "b")
    per_ba = _det_ln(float(c1_b + v) / float(c2_ba + 1))
    assert out[11].sum_micro == 3 * per_ab + 2 * per_ba


def test_bigram_perplexity_buckets_nonvacuous(spark):
    from impala_base_to_cdw_sizing_spark.operators.lm_quality import (
        q_bigram_perplexity,
    )

    buckets = {
        r.ppl_bucket
        for r in q_bigram_perplexity(spark, SF_SMALL).collect()
    }
    assert buckets == {"head", "middle", "tail"}


# --- rel_skyline ------------------------------------------------------------------


def test_skyline_equals_bruteforce_dominance(spark):
    from impala_base_to_cdw_sizing_spark.operators.olap_extra import q_skyline

    got = {
        (r.o_orderkey, float(r.o_totalprice), r.orderdate_ms)
        for r in q_skyline(spark, SF_SMALL).collect()
    }
    rows = duckdb.sql(
        f"SELECT o_orderkey, o_totalprice, epoch_ms(o_orderdate)"
        f" FROM '{SF_SMALL}/orders.parquet'"
    ).fetchall()
    # brute force O(n^2) dominance: keep rows no other row dominates;
    # coincident (price, date) points keep the lowest key only
    keep = set()
    for k, p, d in rows:
        dominated = any(
            (p2 >= p and d2 <= d and (p2 > p or d2 < d))
            or (p2 == p and d2 == d and k2 < k)
            for k2, p2, d2 in rows
            if k2 != k
        )
        if not dominated:
            keep.add((k, float(p), d))
    assert got == keep
    assert got, "frontier must be non-empty"
    # two-phase equals single-phase: the oracle SQL is the single global
    # scan and parity already pins it; here pin the local phase prunes
    # nothing that belongs (frontier is a subset of every salt's input)


def test_skyline_anticorrelated_worst_case(spark, tmp_path):
    """Adversarial fixture (r13 verdict #5): price and date strictly
    co-increasing, so NO point dominates any other — the frontier is
    the whole table, the salt-local passes prune zero rows, and the
    r13-era partition-less global window would have dragged all n rows
    through one partition. The segmented global pass must (a) still
    return every point exactly and (b) spread the prefix-min across
    many price buckets — pinning that the worst case runs parallel, not
    single-partition."""
    import datetime as dt

    from pyspark.sql import functions as F

    from impala_base_to_cdw_sizing_spark.operators.olap_extra import (
        _ABC_BUCKET_CENTS,
        q_skyline,
    )

    n = 5000
    base = dt.datetime(1995, 1, 1)
    rows = [
        (i, 900.0 + 100.0 * i, base + dt.timedelta(hours=i))
        for i in range(n)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_totalprice double, o_orderdate timestamp"
    ).withColumn("o_custkey", F.lit(0)).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    out = q_skyline(spark, str(tmp_path)).collect()
    assert len(out) == n, "anti-correlated: every point is on the frontier"
    assert {r.o_orderkey for r in out} == set(range(n))
    # the O(n) frontier lands in ~n*100/BUCKET distinct price buckets,
    # so per-bucket window input stays ~BUCKET/100 rows regardless of n
    n_buckets = len({int(-(p * 100) // _ABC_BUCKET_CENTS) for _, p, _ in rows})
    assert n_buckets >= 50, n_buckets


# --- dedup_soft_weights -----------------------------------------------------------


def test_soft_weights_conserve_cluster_mass(spark):
    from impala_base_to_cdw_sizing_spark.operators.text import q_dedup_soft

    rows = q_dedup_soft(spark, SF_SMALL).collect()
    by_hash: dict[str, list] = {}
    for r in rows:
        by_hash.setdefault(r.text_hash, []).append(r)
    n_canonical = 0
    for members in by_hash.values():
        n = len(members)
        assert all(m.n_copies == n for m in members)
        # every copy carries weight 1e6/n (rounded): cluster mass stays
        # ~1e6 regardless of copy count
        total = sum(m.weight_micro for m in members)
        assert abs(total - 1_000_000) <= n // 2 + 1
        n_canonical += sum(m.is_canonical for m in members)
        assert sum(m.is_canonical for m in members) == 1
        assert min(m.doc_id for m in members) == next(
            m.doc_id for m in members if m.is_canonical
        )
    assert n_canonical == len(by_hash)


# --- emb_hard_negatives -----------------------------------------------------------


def test_hard_negatives_vs_exact_mining(spark):
    """Structural: neg label differs from anchor, margin = pos - neg.
    Quality: the LSH-mined hard negative can never beat the exact one
    (it draws from a candidate subset), and it must EQUAL the exact
    hardest negative for most anchors — the recall-style measurement
    that justifies the banded candidate set for mining."""
    import numpy as np

    from impala_base_to_cdw_sizing_spark.operators.similarity import (
        q_hard_negatives,
    )

    rows = q_hard_negatives(spark, SF_SMALL).collect()
    assert rows
    raw = duckdb.sql(
        f"SELECT vec_id, embedding, label FROM '{SF_SMALL}/embeddings.parquet'"
        " ORDER BY vec_id"
    ).fetchall()
    vecs = {r[0]: np.asarray(r[1], dtype=np.float64) for r in raw}
    labels = {r[0]: r[2] for r in raw}
    ids = sorted(vecs)
    M = np.stack([vecs[i] / np.linalg.norm(vecs[i]) for i in ids])
    cos = M @ M.T
    idx = {v: i for i, v in enumerate(ids)}
    ranks = []
    for r in rows:
        assert labels[r.neg_id] != r.a_label == labels[r.a_id]
        if r.pos_id is not None:
            assert labels[r.pos_id] == r.a_label
            assert abs(r.margin - (r.pos_cosine - r.neg_cosine)) < 1e-12
        # rank of the mined negative among ALL exact negatives
        a = idx[r.a_id]
        negs = sorted(
            ((cos[a, idx[c]], c) for c in ids
             if c != r.a_id and labels[c] != labels[r.a_id]),
            reverse=True,
        )
        assert r.neg_cosine <= negs[0][0] + 1e-9  # can't beat exact
        ranks.append(
            next(i for i, (_, c) in enumerate(negs) if c == r.neg_id) + 1
        )
    # measured on this fixture: top-1 0.446, top-5 0.926, top-10 0.988,
    # median rank 2 — the banded candidate set reliably yields (semi-)
    # hard negatives, which is the triplet-mining contract (training
    # wants hard-ish, not provably-hardest); pin conservative floors
    ranks.sort()
    n = len(ranks)
    assert sum(1 for x in ranks if x == 1) / n >= 0.4
    assert sum(1 for x in ranks if x <= 5) / n >= 0.85
    assert ranks[n // 2] <= 3
    # the mined set carries real training signal: some anchors rank a
    # wrong-label item above their best same-label item
    assert any(r.margin is not None and r.margin < 0 for r in rows)


# --- rel_drift_psi ----------------------------------------------------------------


def test_drift_psi_stable_corpus_and_injected_drift(spark, tmp_path):
    """The synthetic corpus has no distribution change across the time
    cut, so no type can cross the 'major' threshold (the tiny sf0.001
    window does show sampling-noise PSI up to ~0.11 — honest moderate);
    a deliberately shifted current window must cross 'major'. Also
    replicates one type's PSI in pure Python through the same
    deterministic-ln construction."""
    from impala_base_to_cdw_sizing_spark.operators.olap_extra import (
        _INC_CUT_NS,
        _PSI_BINS,
        _PSI_BIN_W,
        q_drift_psi,
    )

    natural = q_drift_psi(spark, SF_SMALL).collect()
    assert natural and all(r.band in ("stable", "moderate") for r in natural)
    assert all(r.psi <= 0.25 for r in natural)

    # python replication for the first type (exact, incl. quantization)
    from impala_base_to_cdw_sizing_spark.sources.files import load_events

    et = natural[0].event_type
    e = load_events(spark, SF_SMALL).filter(f"event_type = '{et}'")
    rows = e.selectExpr(
        "ts", f"least({_PSI_BINS - 1}, greatest(0,"
        f" CAST(floor(value / {_PSI_BIN_W}) AS INT))) AS bin"
    ).collect()
    ref = [1] * _PSI_BINS
    cur = [1] * _PSI_BINS
    for r in rows:
        (ref if r.ts < _INC_CUT_NS else cur)[r.bin] += 1
    R, C = sum(ref), sum(cur)
    psi_nano = 0
    for b in range(_PSI_BINS):
        ln_micro = _det_ln((cur[b] * R) / (ref[b] * C))
        diff = cur[b] / C - ref[b] / R
        psi_nano += int(math.floor(diff * (ln_micro / 1e6) * 1e9 + 0.5))
    assert natural[0].psi_nano == psi_nano

    # inject drift: same schema, current window values shifted +300
    import pyspark.sql.functions as F

    drifted = (
        load_events(spark, SF_SMALL)
        .withColumn(
            "value",
            F.when(F.col("ts") >= _INC_CUT_NS, F.col("value") + 300.0)
            .otherwise(F.col("value")),
        )
        .withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    )
    p = str(tmp_path / "drift")
    drifted.write.parquet(f"{p}/events.parquet")
    shifted = q_drift_psi(spark, p).collect()
    assert shifted and all(r.band == "major" for r in shifted)
    assert all(r.psi > 0.25 for r in shifted)


# --- asof_view_nearest ------------------------------------------------------------


# --- dedup_soft_fuzzy -------------------------------------------------------------


# --- rel_interval_join_banded -----------------------------------------------------


def test_banded_interval_join_equals_direct(spark):
    """The banded equi-join must produce EXACTLY the pairs of the
    direct non-equi range join (banding is a plan rewrite, not an
    approximation), with no duplicates from the 3-bucket explode."""
    from impala_base_to_cdw_sizing_spark.operators.funnels import (
        _BAND_MS,
        q_interval_join_banded,
    )
    from impala_base_to_cdw_sizing_spark.sources.files import load_events

    from tests.conftest import SF_ORACLE

    # sf0.001 is too sparse for any +-60s cross-type pair; sf0.01 has ~194
    got = [
        (r.error_id, r.click_id, r.delta_ms)
        for r in q_interval_join_banded(spark, SF_ORACLE).collect()
    ]
    assert len(got) == len(set(got)), "explode must not duplicate pairs"
    ev = load_events(spark, SF_ORACLE).selectExpr(
        "event_id", "event_type", "(ts div 1000000) AS tms"
    )
    err = ev.filter("event_type = 'error'").selectExpr(
        "event_id AS error_id", "tms AS ets"
    )
    clk = ev.filter("event_type = 'click'").selectExpr(
        "event_id AS click_id", "tms AS cts"
    )
    direct = {
        (r.error_id, r.click_id, r.delta_ms)
        for r in err.crossJoin(clk)
        .filter(f"abs(cts - ets) <= {_BAND_MS}")
        .selectExpr("error_id", "click_id", "cts - ets AS delta_ms")
        .collect()
    }
    assert set(got) == direct
    assert direct, "window must be non-vacuous on the fixture"
    assert all(abs(d) <= _BAND_MS for *_ids, d in got)


# --- dedup_minhash accuracy --------------------------------------------------------


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """The 64-permutation signature's estimate against the exact shingle
    Jaccard (``dedup_ngram_jaccard``): every banded candidate is a real
    shingle-sharing pair, and the error stays within the sketch's
    resolution (measured mean 0.019 and max 0.054 on both corpora)."""
    from tests.conftest import SF_ORACLE
    from impala_base_to_cdw_sizing_spark.operators.text import (
        q_dedup_minhash,
        q_ngram_jaccard,
    )

    for sf in (SF_SMALL, SF_ORACLE):
        est = {(r.doc_a, r.doc_b): r.est_jaccard for r in q_dedup_minhash(spark, sf).collect()}
        exact = {(r.doc_a, r.doc_b): r.jaccard for r in q_ngram_jaccard(spark, sf).collect()}
        assert est and set(est) <= set(exact), sf
        err = [abs(e - exact[k]) for k, e in est.items()]
        assert sum(err) / len(err) <= 0.03, (sf, err)
        assert max(err) <= 0.07, (sf, err)


# --- graph_triangles --------------------------------------------------------------


def test_triangles_vs_networkx_free_bruteforce(spark):
    """Brute-force triangle enumeration over the same edge cut must
    agree per node, and the coefficient must separate cliques from
    stars: every 3+-member duplicate clique node shows coefficient 1.0
    (1e6 micro)."""
    from impala_base_to_cdw_sizing_spark.operators.graph_rank import (
        q_graph_triangles,
    )
    from impala_base_to_cdw_sizing_spark.operators.text import q_dedup_minhash

    got = {r.doc_id: r for r in q_graph_triangles(spark, SF_SMALL).collect()}
    pairs = {
        (r.doc_a, r.doc_b)
        for r in q_dedup_minhash(spark, SF_SMALL)
        .filter("est_jaccard >= 0.5")
        .collect()
    }
    adj: dict[int, set] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for doc, nbrs in adj.items():
        tri = sum(
            1
            for x in nbrs
            for y in nbrs
            if x < y and (x, y) in pairs
        )
        r = got[doc]
        assert r.degree == len(nbrs)
        assert r.triangles == tri
        if len(nbrs) >= 2:
            expect = int(
                math.floor(2e6 * tri / (len(nbrs) * (len(nbrs) - 1)) + 0.5)
            )
            assert r.clustcoef_micro == expect
    # the duplicate-family cliques give coefficient exactly 1.0
    clique_nodes = [
        r for r in got.values() if r.degree >= 2 and r.clustcoef_micro == 1_000_000
    ]
    assert clique_nodes, "fixture must contain a 3+-clique of near-dups"


# --- mm_phash_neardup -------------------------------------------------------------


def test_phash_neardup_banding_guarantee(spark):
    """Banding guarantee: a pair with hamming <= 3 MUST collide in at
    least one of the 4 16-bit bands (pigeonhole: 3 flipped bits cannot
    touch all 4 bands), so every such pair appears. Above 3 the bands
    are probabilistic; measure and floor the hamming<=6 recall. Every
    reported pair is verified against a from-scratch Python dHash."""
    from impala_base_to_cdw_sizing_spark.operators.multimodal import (
        _PH_HAM_MAX,
        _dhash_bmp,
        encode_bmp,
        q_mm_phash_neardup,
    )

    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in q_mm_phash_neardup(spark, SF_SMALL).collect()
    }
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF_SMALL}/documents.parquet'"
    ).fetchall()
    hashes = {}
    for doc_id, text in docs:
        w = 4 + doc_id % 13
        h = 3 + doc_id % 5
        src = text.encode() or b"\x00"
        reps = -(-w * h * 3 // len(src))
        payload = encode_bmp(w, h, (src * reps)[: w * h * 3])
        hashes[doc_id] = int(_dhash_bmp(payload), 16)
    ids = sorted(hashes)
    all_pairs = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin(hashes[a] ^ hashes[b]).count("1")
            if d <= _PH_HAM_MAX:
                all_pairs[(a, b)] = d
    # reported pairs: exact hamming values, and all within the cap
    for pair, d in got.items():
        assert all_pairs.get(pair) == d
    # guarantee: hamming <= 3 found without exception
    low = {p for p, d in all_pairs.items() if d <= 3}
    assert low <= set(got)
    # measured recall at <= 6 on this fixture; floor conservatively
    if all_pairs:
        recall = len(got) / len(all_pairs)
        assert recall >= 0.6, recall


# --- dedup_substring_scrub --------------------------------------------------------
