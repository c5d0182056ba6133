"""Independent-oracle checks for the r2 distributed kernels: each one is
verified against a plain numpy / plain-DataFrame recomputation, so the
blocked/salted/banded machinery is proven equivalent to the naive form it
replaces (the DuckDB mirror already checks SQL-expressible semantics;
these pin the kernels that have no SQL twin or whose point is the plan
shape, not the values).
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from wikidata2pg_spark.registry import all_queries
from wikidata2pg_spark.tables import load

QUERIES = all_queries()


def test_blocked_cosine_topk_equals_numpy_bruteforce(spark):
    rows = load(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    np.fill_diagonal(sims, -np.inf)
    expected = set()
    for i in range(len(ids)):
        order = np.lexsort((ids, -sims[i]))[:5]
        for rank, j in enumerate(order):
            expected.add((int(ids[i]), int(ids[j]), rank + 1))
    got = {
        (r.vec_id, r.neighbor_id, r.rank)
        for r in QUERIES["q_sim_cosine_topk"](spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_salted_join_equals_plain_join(spark):
    o = load(spark, SF_SMOKE, "orders")
    c = load(spark, SF_SMOKE, "customer")
    plain = (
        o.select(
            F.when(F.col("o_orderkey") % 10 < 7, F.lit(1))
            .otherwise(F.col("o_custkey"))
            .alias("key"),
            "o_totalprice",
        )
        .join(c.select(F.col("c_custkey").alias("key"), "c_mktsegment"), "key")
        .groupBy("key", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )
    salted = QUERIES["q_join_salted_skew"](spark, SF_SMOKE)
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b and len(a) > 0


def test_minhash_estimate_tracks_true_jaccard(spark):
    pairs = QUERIES["q_dedup_minhash"](spark, SF_SMOKE).collect()
    assert len(pairs) > 0
    # The >=0.5 lower bound is the query's own filter and est=n_eq/16 can't
    # exceed 1 — asserting the range would be tautological. Contentful
    # checks against the TRUE token-set Jaccard: (a) per pair, est never
    # UNDERshoots truth by more than 3σ of the K=16 binomial estimator
    # (σ <= 0.125 → 0.375; the upper side is selection-biased: LSH
    # candidates are the pairs whose signatures happened to collide, so
    # individual overestimates are expected by construction); (b) across
    # all flagged pairs the mean deviation stays small — bias cancels in
    # aggregate unless the signature path is broken.
    d = load(spark, SF_SMOKE, "documents").collect()
    toks = {r.doc_id: set(r.text.split(" ")) for r in d}
    devs = []
    for r in pairs:
        assert r.doc_a < r.doc_b
        a, b = toks[r.doc_a], toks[r.doc_b]
        true_j = len(a & b) / len(a | b)
        assert r.est_jaccard >= true_j - 0.375, (r.doc_a, r.doc_b, r.est_jaccard, true_j)
        devs.append(r.est_jaccard - true_j)
    assert abs(sum(devs) / len(devs)) <= 0.25, sum(devs) / len(devs)


def test_minhash_exact_duplicate_estimates_one(spark, tmp_path):
    """Identical token sets MUST get identical signatures -> est exactly
    1.0. The driver fixture contains no exact duplicates (verified), so
    synthesize a corpus with one duplicated text and run the production
    query over it — no fixture-dependent guard."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta theta",  # dup of doc 0
        "one two three four five six seven eight nine ten",
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["synth"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    pairs = QUERIES["q_dedup_minhash"](spark, str(tmp_path)).collect()
    found = {(r.doc_a, r.doc_b): r.est_jaccard for r in pairs}
    assert found.get((0, 1)) == 1.0


def test_ivf_recall_floor_vs_exact(spark):
    exact = {
        (r.vec_id, r.neighbor_id)
        for r in QUERIES["q_sim_cosine_topk"](spark, SF_SMOKE).collect()
    }
    approx = {
        (r.vec_id, r.neighbor_id)
        for r in QUERIES["q_sim_ann_ivf"](spark, SF_SMOKE).collect()
    }
    recall = len(exact & approx) / len(exact)
    # uniform-random vectors are IVF's worst case; nprobe=3/8 measured ~0.59
    assert recall >= 0.4


def test_prefix_jaccard_equals_postings_jaccard(spark):
    """ppjoin prefix filtering is EXACT: the prefix-filtered variant must
    produce byte-identical pairs to the naive postings self-join."""
    naive = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in QUERIES["q_dedup_ngram_jaccard"](spark, SF_SMOKE).collect()
    }
    pref = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in QUERIES["q_dedup_jaccard_prefix"](spark, SF_SMOKE).collect()
    }
    assert pref == naive


def test_cell_topk_kernel_keeps_all_boundary_ties():
    """Duplicate vectors tie EXACTLY at the k boundary; argpartition alone
    picks an arbitrary one of the tied elements, which diverges from the
    oracle's (sim DESC, neighbor_id ASC) row_number and flips with the
    block layout. The kernel must consider every boundary tie and keep the
    smallest neighbor_id (pure-pandas test: no Spark needed)."""
    import numpy as np
    import pandas as pd

    from wikidata2pg_spark.llm.similarity import _cell_topk_kernel

    q = pd.DataFrame({"vec_id": [0], "embedding": [np.array([1.0, 0.0])]})
    # candidates: one perfect match, then FOUR identical vectors tied at
    # sim ~0.894 competing for the last two of k=3 slots
    tied = np.array([2.0, 1.0])
    c = pd.DataFrame(
        {
            "vec_id": [10, 9, 5, 7, 3],
            "embedding": [np.array([1.0, 0.0]), tied, tied, tied, tied],
        }
    )
    out = _cell_topk_kernel(3)(q, c).sort_values("sim", ascending=False)
    assert list(out["neighbor_id"]) == [10, 3, 5]  # smallest ids among ties


def _seqsum(a, axis=-1):
    """Sequential left-fold sum along `axis` — np.sum uses PAIRWISE
    summation, which differs from the engines' pinned sequential fold in
    the last ulp for ~37% of 8-term double sums (r6 review measurement);
    near-tied distances would then flip argmins/ranks in the reference
    only. This matches aggregate(.., 0.0, +) / list_reduce exactly."""
    a = np.moveaxis(np.asarray(a, dtype=np.float64), axis, -1)
    acc = a[..., 0].copy()
    for i in range(1, a.shape[-1]):
        acc = acc + a[..., i]
    return acc


def _numpy_kmeans(rows):
    """Reference Lloyd with the exact same determinism contract as
    q_cluster_kmeans: fixed-point floor scaling, init = K lowest vec_id,
    argmin-first tie rule, exact integer centroid sums, empty clusters
    carry forward. Returns (assignments dict, per-iteration SSE list)."""
    from wikidata2pg_spark.llm.clustering import ITERS, K, SCALE

    rows = sorted(rows, key=lambda r: r[0])
    ids = [r[0] for r in rows]
    x = np.floor(np.array([r[1] for r in rows], dtype=np.float64) * SCALE + 0.5).astype(
        np.int64
    )
    cents = x[:K].astype(np.float64)
    sses = []

    def dists(c):
        return _seqsum((x[:, None, :].astype(np.float64) - c[None, :, :]) ** 2, axis=2)

    for _ in range(ITERS):
        d = dists(cents)
        a = d.argmin(axis=1)  # numpy argmin keeps the FIRST min: lowest id on ties
        sses.append(float(d[np.arange(len(ids)), a].sum()))
        for j in range(K):
            m = a == j
            if m.sum():
                cents[j] = x[m].sum(axis=0) / m.sum()
    d = dists(cents)
    a = d.argmin(axis=1)
    sses.append(float(d[np.arange(len(ids)), a].sum()))
    return dict(zip(ids, a.tolist())), sses


def test_kmeans_equals_numpy_reference(spark):
    """The distributed Lloyd loop must agree bit-for-bit with a plain
    numpy recomputation (third engine next to the DuckDB oracle) — the
    integer-accumulation design makes exact agreement achievable, so the
    test demands it."""
    raw = [
        (r.vec_id, r.embedding)
        for r in load(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding").collect()
    ]
    expected, sses = _numpy_kmeans(raw)
    got = {
        r.vec_id: r.cluster for r in QUERIES["q_cluster_kmeans"](spark, SF_SMOKE).collect()
    }
    assert got == expected
    # Lloyd must never increase SSE between assignment passes
    assert all(b <= a + 1e-9 for a, b in zip(sses, sses[1:])), sses


def test_kmeans_partition_invariant(spark):
    """Assignments are a pure function of the data — repartitioning the
    point set (7 hash partitions vs the single fixture split) must not
    change a single label, because centroid accumulation is exact-integer
    (order-invariant) and distances are identical expression trees."""
    from wikidata2pg_spark.llm import clustering as C

    base = {
        r.vec_id: r.cluster for r in C.q_cluster_kmeans(spark, SF_SMOKE).collect()
    }
    orig = C._points
    C._points = lambda sp, sf: orig(sp, sf).repartition(7)
    try:
        shuffled = {
            r.vec_id: r.cluster for r in C.q_cluster_kmeans(spark, SF_SMOKE).collect()
        }
    finally:
        C._points = orig
    assert shuffled == base


def test_pq_adc_recall_floor_vs_exact(spark):
    """q_vec_pq_adc is APPROXIMATE by design — so its recall is measured,
    not assumed (the q_sim_ann_ivf honesty rule). On the near-uniform
    fixture (same-label cosine ~0.0016) an M=8 x 16-code PQ is genuinely
    lossy: measured mean recall@5 ~0.30 vs exact L2 — far above the
    ~0.01 random floor, far below what clustered real embeddings give.
    The floor pins the quantizer keeps working; the VALUES are pinned
    bit-exactly by the DuckDB oracle, this gates the semantics."""
    from wikidata2pg_spark.llm.clustering import PQ_K, PQ_NQ, SCALE
    from wikidata2pg_spark.registry import all_queries

    rows = load(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    x = np.floor(np.array([r.embedding for r in rows], dtype=np.float64) * SCALE + 0.5)
    got: dict[int, set[int]] = {}
    for r in all_queries()["q_vec_pq_adc"](spark, SF_SMOKE).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = []
    for q in range(PQ_NQ):
        d = ((x - x[q]) ** 2).sum(axis=1)
        d[q] = np.inf
        exact = set(ids[np.lexsort((ids, d))][:PQ_K].tolist())
        assert len(got[q]) == PQ_K
        recalls.append(len(exact & got[q]) / PQ_K)
    assert sum(recalls) / len(recalls) >= 0.15, recalls


def test_pq_adc_equals_numpy_reference(spark):
    """Full triple certification for q_vec_pq_adc (the q_cluster_kmeans
    treatment): a plain numpy recomputation of the ENTIRE pipeline —
    grouped Lloyd training, code assignment, ADC tables, ranked top-k —
    must reproduce the distributed result exactly, ties and all."""
    from wikidata2pg_spark.llm.clustering import (
        DSUB,
        KC,
        M,
        PQ_ITERS,
        PQ_K,
        PQ_NQ,
        SCALE,
    )
    from wikidata2pg_spark.registry import all_queries

    rows = load(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    x = np.floor(np.array([r.embedding for r in rows], dtype=np.float64) * SCALE + 0.5)
    subs = [x[:, s * DSUB : (s + 1) * DSUB] for s in range(M)]
    codebooks = []
    for s in range(M):
        cents = subs[s][:KC].copy()
        for _ in range(PQ_ITERS):
            d = _seqsum((subs[s][:, None, :] - cents[None, :, :]) ** 2, axis=2)
            a = d.argmin(axis=1)
            for j in range(KC):
                m = a == j
                if m.sum():
                    cents[j] = subs[s][m].sum(axis=0) / m.sum()
        codebooks.append(cents)
    codes = np.stack(
        [
            _seqsum((subs[s][:, None, :] - codebooks[s][None, :, :]) ** 2, axis=2)
            .argmin(axis=1)
            for s in range(M)
        ],
        axis=1,
    )
    expected = set()
    for q in range(PQ_NQ):
        dtab = np.stack(
            [_seqsum((codebooks[s] - subs[s][q]) ** 2, axis=1) for s in range(M)]
        )  # M x KC
        adc = _seqsum(dtab[np.arange(M)[:, None].repeat(len(ids), 1).T, codes], axis=1)
        adc[q] = np.inf
        order = np.lexsort((ids, adc))
        for rank, idx in enumerate(order[:PQ_K], start=1):
            expected.add((q, int(ids[idx]), rank))
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in all_queries()["q_vec_pq_adc"](spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_regression_matches_builtin_regr(spark):
    """q_agg_regression's exact-moment OLS must agree with Spark's own
    regr_slope/regr_intercept/regr_r2 Welford aggregates to floating
    tolerance (the cents scaling cancels out of slope/intercept up to
    the /100 rescale; r2 is scale-free)."""
    from wikidata2pg_spark.registry import all_queries

    got = {
        r.l_returnflag: (r.slope, r.intercept, r.r2)
        for r in all_queries()["q_agg_regression"](spark, SF_SMOKE).collect()
    }
    ref = {
        r.l_returnflag: (r.s, r.i, r.r)
        for r in load(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("regr_slope(l_extendedprice, l_quantity)").alias("s"),
            F.expr("regr_intercept(l_extendedprice, l_quantity)").alias("i"),
            F.expr("regr_r2(l_extendedprice, l_quantity)").alias("r"),
        )
        .collect()
    }
    assert set(got) == set(ref)
    for k, (s, i, r2) in got.items():
        rs, ri, rr = ref[k]
        assert abs(s - rs) < 5e-3 and abs(i - ri) < 5e-2 and abs(r2 - rr) < 5e-4, (
            k,
            got[k],
            ref[k],
        )


def test_hybrid_rrf_matches_pandas_recomputation(spark):
    """q_retrieval_hybrid_rrf third-engine check: recompute both rankings
    (token-set Jaccard, cosine) and the RRF fusion in plain python from
    the raw tables and demand identical fused output, ranks and all."""
    from wikidata2pg_spark.llm.retrieval import K_FUSE, NQ, RRF_K, TOPN
    from wikidata2pg_spark.registry import all_queries

    docs = {
        r.doc_id: set(r.text.split(" "))
        for r in load(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    }
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding").collect()
    }
    expected = set()
    for q in range(NQ):
        lex = sorted(
            (
                (-len(docs[q] & docs[d]) / len(docs[q] | docs[d]), d)
                for d in docs
                if d != q and docs[q] & docs[d]
            ),
        )[:TOPN]
        lex_r = {d: i + 1 for i, (_, d) in enumerate(lex)}
        qa = vecs[q]
        dense = sorted(
            (
                (-float(_seqsum(qa * vecs[d])) / (np.sqrt(float(_seqsum(qa * qa))) * np.sqrt(float(_seqsum(vecs[d] * vecs[d])))), d)
                for d in vecs
                if d != q
            ),
        )[:TOPN]
        dense_r = {d: i + 1 for i, (_, d) in enumerate(dense)}
        fused = sorted(
            (
                (
                    -(1.0 / (RRF_K + lex_r[d]) if d in lex_r else 0.0)
                    - (1.0 / (RRF_K + dense_r[d]) if d in dense_r else 0.0),
                    d,
                )
                for d in set(lex_r) | set(dense_r)
            ),
        )[:K_FUSE]
        for rank, (_, d) in enumerate(fused, start=1):
            expected.add((q, d, rank))
    got = {
        (r.query_id, r.doc_id, r.fused_rank)
        for r in all_queries()["q_retrieval_hybrid_rrf"](spark, SF_SMOKE).collect()
    }
    assert got == expected


def test_skewkurt_matches_builtin(spark):
    """q_agg_skewkurt's exact-moment form must agree with Spark's own
    skewness()/kurtosis() (population skew, EXCESS kurtosis) to the 4dp
    output precision — pins both the moment algebra and the convention."""
    from wikidata2pg_spark.registry import all_queries

    got = {
        r.l_returnflag: (r.skewness, r.kurtosis)
        for r in all_queries()["q_agg_skewkurt"](spark, SF_SMOKE).collect()
    }
    ref = {
        r.l_returnflag: (r.s, r.k)
        for r in load(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.skewness("l_extendedprice").alias("s"),
            F.kurtosis("l_extendedprice").alias("k"),
        )
        .collect()
    }
    assert set(got) == set(ref)
    for k, (sk, ku) in got.items():
        assert abs(sk - ref[k][0]) < 5e-4 and abs(ku - ref[k][1]) < 5e-4, (k, got[k], ref[k])


def test_min_label_components_path_graph_and_round_bound(spark):
    """Min-label propagation on the 4-node path 1-2-3-4 (plus isolated 5)
    needs 3 changing rounds and a 4th to see the fixpoint: with that
    budget every path node gets label 1; with 2 rounds the kernel must
    raise naming its caller, never return a half-propagated labelling."""
    from wikidata2pg_spark.operators.graph import min_label_components

    pairs = [(1, 2), (2, 3), (3, 4)]
    sym = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "a BIGINT, b BIGINT"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "id BIGINT")
    got = min_label_components(nodes, sym, "path-test", max_rounds=4)
    assert sorted(map(tuple, got.collect())) == [
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 5)
    ]
    with pytest.raises(RuntimeError, match="^path-test: .*within 2 rounds"):
        min_label_components(nodes, sym, "path-test", max_rounds=2)
