"""Similarity search over the embeddings table (§2.12 L3/L4/L9/L10 + the
task-mandated cosine near-dup threshold variant).

Scale posture: exact brute-force cosine runs as a 2-D BLOCKED distributed
matmul — queries split into QB blocks, corpus into CB blocks, every
(query-block, corpus-block) cell cogrouped and handed to one Arrow-batched
``applyInPandas`` kernel (numpy BLAS inside), local top-k per cell, global
top-k as a keyed window. Nothing is ever collected to the driver and no
O(n²) pair set is materialized as rows — shuffle volume is
O(n·(QB+CB)) vectors, each task touches exactly one cell. This is the
standard distributed exact-kNN shape; at 100 TB you additionally prune
cells via LSH/IVF bucketing (q_sim_ann_lsh is that path) and keep this
same kernel inside each bucket. The only Python boundary is the cogrouped
kernel (FlatMapCoGroupsInPandas) — Arrow batches, never row-at-a-time.
The DuckDB oracle must materialize the similarity CTE (FIXTURES.md: the
naive re-evaluating form runs >10 min at sf0.1).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from wikidata2pg_spark.registry import query
from wikidata2pg_spark.tables import load
from wikidata2pg_spark.util import truncate_plan


def _vec_double(col):
    return F.transform(col, lambda x: x.cast("double"))


_BLOCK_ROWS = 4096  # per-side rows one cell kernel holds in memory (~2 MB @ d=64)


def _embedding_rows(sf_dir: str):
    """Row count from the parquet FOOTER (no Spark job, no data read) —
    the statistic every catalog/file-format already carries at scale."""
    import pyarrow.parquet as pq

    from wikidata2pg_spark.util import fixture_files

    try:
        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in fixture_files(sf_dir, "embeddings")
        )
    except Exception:
        return None


def _derived_blocks(sf_dir: str) -> int:
    """Block count for the 2-D cosine grid, derived from input size
    (VERDICT r3 #7 — the constants must scale): each side block targets
    ≤ _BLOCK_ROWS rows so a cell's two matrices stay memory-bounded at any
    corpus size; floor 4 keeps fixture-scale parallelism (and today's
    exact plan shape), cap 1024 bounds the replication factor."""
    n = _embedding_rows(sf_dir)
    if not n:
        return 4
    return max(4, min(-(-n // _BLOCK_ROWS), 1024))


def _ivf_cells(sf_dir: str) -> int:
    """IVF coarse-cell count ~ sqrt(n/8) (the classic nlist heuristic,
    shifted so the 500-row fixture keeps the measured C=8 / nprobe=3
    recall point); clamped so cells stay meaningful and the codebook
    broadcast stays small."""
    n = _embedding_rows(sf_dir)
    if not n:
        return 8
    return max(8, min(round((n / 8) ** 0.5), 65536))


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def _vectors_with_norms(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    v = _vec_double(F.col("embedding"))
    return e.select(F.col("vec_id"), F.col("label"), v.alias("v")).withColumn("nrm", _norm(F.col("v")))


_SIMS_CTE = """WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), sims AS MATERIALIZED (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_cosine_similarity(a.v, b.v) AS sim
  FROM v a JOIN v b ON a.vec_id != b.vec_id
)"""


def _blocked_cogroup(spark, sf_dir, qb_blocks: int, cb_blocks: int):
    """2-D block grid over embeddings×embeddings: the query side is
    replicated across corpus blocks and vice versa (replication factor =
    block count of the OTHER side — O(n·(QB+CB)) shuffled vectors, never
    O(n²) pairs). Returns the cogrouped object keyed by (qb, cb). The two
    sides are loaded as separate scans so the self-cogroup has unambiguous
    attribute lineage."""
    q = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    c = load(spark, sf_dir, "embeddings", fresh=True).select("vec_id", "embedding")
    cb_ids = spark.range(cb_blocks).select(F.col("id").cast("int").alias("cb"))
    qb_ids = spark.range(qb_blocks).select(F.col("id").cast("int").alias("qb"))
    qside = q.withColumn("qb", F.pmod("vec_id", F.lit(qb_blocks)).cast("int")).crossJoin(
        F.broadcast(cb_ids)
    )
    cside = c.withColumn("cb", F.pmod("vec_id", F.lit(cb_blocks)).cast("int")).crossJoin(
        F.broadcast(qb_ids)
    )
    return qside.groupby("qb", "cb").cogroup(cside.groupby("qb", "cb"))


def _norm_mats(left, right):
    import numpy as np

    qids = left["vec_id"].to_numpy(dtype="int64")
    qm = np.stack(left["embedding"].to_numpy()).astype("float64")
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    cids = right["vec_id"].to_numpy(dtype="int64")
    cm = np.stack(right["embedding"].to_numpy()).astype("float64")
    cm /= np.linalg.norm(cm, axis=1, keepdims=True)
    return qids, qm, cids, cm


def _cell_topk_kernel(k: int, id_col: str = "vec_id"):
    """THE exact per-cell top-k kernel: normalized matmul, self-exclusion,
    argpartition local top-k with deterministic (sim desc, neighbor_id
    asc) tie-break. One definition shared by q_sim_cosine_topk (block
    grid), q_sim_ann_ivf (IVF cells) and q_sim_query_topk (query batch ×
    corpus blocks) — the tie-break/self-exclusion subtleties live in
    exactly one place. ``id_col`` names the output id column."""
    import numpy as np
    import pandas as pd

    def cell_topk(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({id_col: pd.Series(dtype="int64"),
                                 "neighbor_id": pd.Series(dtype="int64"),
                                 "sim": pd.Series(dtype="float64")})
        qids, qm, cids, cm = _norm_mats(left, right)
        sims = qm @ cm.T
        sims[qids[:, None] == cids[None, :]] = -np.inf  # self-exclusion
        kk = min(k, sims.shape[1])
        out_q, out_n, out_s = [], [], []
        for i in range(len(qids)):
            row = sims[i]
            if len(row) > kk:
                # candidate set = EVERYTHING tied with the kk-th largest
                # sim, not argpartition's arbitrary pick among boundary
                # ties (duplicate vectors tie exactly; the deterministic
                # neighbor_id tie-break below must see all of them)
                kth = np.partition(row, len(row) - kk)[len(row) - kk]
                idx = np.nonzero(row >= kth)[0]
            else:
                idx = np.arange(len(row))
            idx = idx[np.lexsort((cids[idx], -row[idx]))][:kk]
            for j in idx:
                if np.isfinite(row[j]):
                    out_q.append(qids[i]); out_n.append(cids[j]); out_s.append(row[j])
        return pd.DataFrame({id_col: out_q, "neighbor_id": out_n, "sim": out_s})

    return cell_topk


def _cell_pairs_kernel(threshold: float, a_col: str = "vec_a", b_col: str = "vec_b", emit_sim: bool = True):
    """Threshold-pairs twin of :func:`_cell_topk_kernel`: per cell, every
    (a < b, sim >= threshold) pair. One definition shared by
    q_sim_cosine_neardup and q_dedup_semantic_cluster so the ordered-pair
    guard and threshold comparison cannot drift between the near-dup key
    and the clustering built on the same math."""
    import numpy as np
    import pandas as pd

    def cell_pairs(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cols = {a_col: pd.Series(dtype="int64"), b_col: pd.Series(dtype="int64")}
        if emit_sim:
            cols["sim"] = pd.Series(dtype="float64")
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(cols)
        qids, qm, cids, cm = _norm_mats(left, right)
        sims = qm @ cm.T
        ia, ib = np.nonzero((qids[:, None] < cids[None, :]) & (sims >= threshold))
        out = {a_col: qids[ia], b_col: cids[ib]}
        if emit_sim:
            out["sim"] = sims[ia, ib]
        return pd.DataFrame(out)

    return cell_pairs


def _global_topk(local, k: int, id_col: str = "vec_id"):
    """Global top-k over the per-cell survivors: keyed row_number window
    with the same (sim desc, neighbor_id asc) order as the kernel.

    Ranking on a computed double is safe here: numpy and DuckDB evaluate
    cosine with different summation orders (~1e-15 relative noise), but
    the measured minimum rank-adjacent sim gap in the fixtures is
    ~1.4e-6 (sf0.01 and sf0.1, top-6 per query) — nine orders of
    magnitude of margin before a cross-engine rank flip."""
    w = Window.partitionBy(id_col).orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


@query(
    "q_sim_cosine_topk",
    oracle=_SIMS_CTE
    + """
SELECT vec_id, neighbor_id, rank, round(sim, 6) AS sim
FROM (
  SELECT vec_id, neighbor_id, sim,
         CAST(row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM sims
) WHERE rank <= 5
""",
)
def q_sim_cosine_topk(spark, sf_dir):
    """L3: exact cosine top-5 neighbors, fully distributed.

    Per (query-block, corpus-block) cell: one numpy matmul, local top-k
    with deterministic (sim desc, neighbor_id asc) order; global top-k is a
    row_number window over the CB·k surviving candidates per query. No
    driver collect (the r1 scale flag), no materialized similarity matrix.
    Exact: any global top-k neighbor is in its cell's local top-k."""
    QB = CB = _derived_blocks(sf_dir)
    k = 5
    local = _blocked_cogroup(spark, sf_dir, QB, CB).applyInPandas(
        _cell_topk_kernel(k), "vec_id BIGINT, neighbor_id BIGINT, sim DOUBLE"
    )
    return _global_topk(local, k)


@query(
    "q_sim_cosine_neardup",
    oracle=_SIMS_CTE
    + """
SELECT vec_id AS vec_a, neighbor_id AS vec_b, round(sim, 6) AS sim
FROM sims
WHERE vec_id < neighbor_id AND sim >= 0.2
""",
)
def q_sim_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-dup: all pairs above a similarity threshold —
    the dedup-by-embedding primitive (threshold chosen to yield rows on the
    random fixture).

    Same blocked-cogroup kernel as L3 (the r1 version was a Catalyst
    all-pairs theta join — O(n²) materialized pair rows, the named
    scale-killer). Only above-threshold (a < b) pairs ever become rows."""
    QB = CB = _derived_blocks(sf_dir)
    pairs = _blocked_cogroup(spark, sf_dir, QB, CB).applyInPandas(
        _cell_pairs_kernel(0.2), "vec_a BIGINT, vec_b BIGINT, sim DOUBLE"
    )
    return pairs.select("vec_a", "vec_b", F.round("sim", 6).alias("sim"))


@query("q_sim_ann_lsh", oracle=None)  # randomized hyperplanes → rows-only
def q_sim_ann_lsh(spark, sf_dir):
    """L4: approximate NN via random-hyperplane LSH (BucketedRandomProjection)
    — the scale path: candidates come from bucket joins, not all pairs."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = load(spark, sf_dir, "embeddings")
    feat = e.select("vec_id", array_to_vector(_vec_double(F.col("embedding"))).alias("features"))
    # empty-corpus guard (r7 empty-input sweep): MLlib's fit aborts on a
    # 0-row dataset with an opaque JVM error — an empty corpus has no
    # candidate pairs, so short-circuit with the empty result frame (the
    # isEmpty probe is a limit-1 scan, negligible next to the fit's full
    # pass on any real corpus)
    if feat.isEmpty():
        return spark.createDataFrame(
            [], "vec_a BIGINT, vec_b BIGINT, l2_dist DOUBLE"
        )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="buckets", bucketLength=2.0, numHashTables=4, seed=42
    )
    model = lsh.fit(feat)
    pairs = model.approxSimilarityJoin(feat, feat, 8.0, distCol="l2_dist")
    return pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id")).select(
        F.col("datasetA.vec_id").alias("vec_a"),
        F.col("datasetB.vec_id").alias("vec_b"),
        F.round(F.col("l2_dist"), 4).alias("l2_dist"),
    )


@query("q_sim_ann_ivf", oracle=None)  # approximate recall → rows-only
def q_sim_ann_ivf(spark, sf_dir):
    """IVF-bucketed ANN — the second scale-path candidate generator next to
    LSH (L4): assign every vector to its nearest coarse cell, then run the
    SAME exact blocked-cogroup matmul kernel as L3 *within* each cell.

    Codebook: the C lowest-vec_id vectors (deterministic, no training run —
    a k-means codebook drops in without changing the plan shape). Cell
    assignment is a broadcast cross join + one Catalyst max_by over C dot
    products — codegen'd, no Python. The per-cell search is cogrouped
    applyInPandas keyed by cell id: at 100 TB each cell is a bounded
    partition and a query touches one (or nprobe) cells instead of the
    whole corpus — this cell keying is exactly what replaces the full 2-D
    grid of the exact kernel."""
    C, k, NPROBE = _ivf_cells(sf_dir), 5, 3

    def dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)

    def assigned(probes: int):
        """Each vector joined to its `probes` nearest coarse cells (corpus:
        1 — every vector lives in one cell; queries: NPROBE — the recall
        knob; on the uniform-random fixture nprobe=3/8 measures ~0.6
        recall@5 vs exact L3, the expected IVF behavior for unclustered
        data — real embedding corpora cluster far better)."""
        # both sides fresh: assigned() is invoked twice (query/corpus) and
        # internally self-joins cell assignment back to e — every subtree
        # must be distinct for unambiguous lineage
        e = load(spark, sf_dir, "embeddings", fresh=True).select("vec_id", "embedding")
        cents = (
            load(spark, sf_dir, "embeddings", fresh=True)
            .orderBy("vec_id")
            .limit(C)
            .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent"))
        )
        scored = e.crossJoin(F.broadcast(cents)).withColumn(
            "score",
            dot(_vec_double(F.col("embedding")), _vec_double(F.col("cent")))
            / (_norm(_vec_double(F.col("embedding"))) * _norm(_vec_double(F.col("cent")))),
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("score").desc(), F.col("cent_id").asc())
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= probes)
            .select("vec_id", F.col("cent_id").cast("int").alias("cell"))
            .join(e, "vec_id")
        )

    q = assigned(NPROBE)
    c = assigned(1)
    local = q.groupby("cell").cogroup(c.groupby("cell")).applyInPandas(
        _cell_topk_kernel(k), "vec_id BIGINT, neighbor_id BIGINT, sim DOUBLE"
    )
    return _global_topk(local, k)


@query(
    "q_vec_centroid",
    oracle="""
WITH ex AS (
  SELECT label, p.i AS pos, v.embedding[p.i + 1]::DOUBLE AS x
  FROM embeddings v, range(64) p(i)
)
SELECT label, pos, round(avg(x), 4) + 0.0 AS c
FROM ex GROUP BY label, pos
""",
)
def q_vec_centroid(spark, sf_dir):
    """L9: per-label centroid, one row per (label, dimension) — the grouped
    shape keeps the agg a plain hash-agg (map-side combine) at any scale.

    The rounded mean carries a `+ 0.0` sign guard on BOTH sides: centroid
    components hover around zero, and at sf0.1 four (label, pos) cells
    have a tiny-negative mean that round(,4) turns into -0.0 in DuckDB
    but +0.0 in Spark — the r5 q_agg_stats driver-hash failure class,
    caught by the r6 strict-mirror hazard sweep (IEEE -0.0 + 0.0 = +0.0,
    identity for every nonzero value)."""
    e = load(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode(_vec_double(F.col("embedding"))).alias("pos", "x")
    ).select("label", F.col("pos").cast("long").alias("pos"), "x")
    return ex.groupBy("label", "pos").agg(
        (F.round(F.avg("x"), 4) + F.lit(0.0)).alias("c")
    )


@query(
    "q_vec_normalize",
    oracle="""
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')) AS nrm
  FROM embeddings
)
SELECT vec_id, round(nrm, 6) AS norm,
       round(v[1] / nrm, 6) + 0.0 AS u1,
       round(v[2] / nrm, 6) + 0.0 AS u2,
       round(list_aggregate(list_transform(v, x -> (x / nrm) * (x / nrm)), 'sum'), 6) AS unit_len
FROM n
""",
)
def q_vec_normalize(spark, sf_dir):
    """L10: L2 normalization. NOTE: the driver fixture's embeddings are
    generated ~unit-norm already (float32 noise at the 1e-8 digit), so
    the rounded ``norm`` column is constant 1.0 on fixture data;
    tests/test_llm_pins2.py proves it equals the true numpy norm, and
    the normalization itself still moves values in the 8th digit.
    unit_len==1.0 doubles as the invariant check. u1/u2 carry the `+ 0.0`
    sign guard on both sides: a unit-vector component is tiny-negative
    whenever the raw component is, and round(,6) of such a value splits
    into -0.0 (DuckDB) vs +0.0 (Spark) — the divergence the hazard sweep
    caught live in q_vec_centroid at sf0.1 (norm and unit_len are
    non-negative by construction and stay unguarded)."""
    v = _vectors_with_norms(spark, sf_dir)
    u = F.transform(F.col("v"), lambda x: x / F.col("nrm"))
    return v.select(
        "vec_id",
        F.round("nrm", 6).alias("norm"),
        (F.round(F.element_at(u, 1), 6) + F.lit(0.0)).alias("u1"),
        (F.round(F.element_at(u, 2), 6) + F.lit(0.0)).alias("u2"),
        F.round(
            F.aggregate(F.transform(u, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("unit_len"),
    )


@query(
    "q_vec_quantize",
    oracle="""
WITH s AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127 AS scale
  FROM embeddings
)
SELECT vec_id, round(scale, 6) AS scale,
       CAST(floor(v[1] / scale + 0.5) AS BIGINT) AS q1,
       CAST(floor(v[2] / scale + 0.5) AS BIGINT) AS q2,
       round(list_max(list_transform(v, x -> abs(x - floor(x / scale + 0.5) * scale))), 6)
         AS max_abs_err
FROM s
""",
)
def q_vec_quantize(spark, sf_dir):
    """Symmetric int8 quantization per vector (scale = max|x|/127) — the
    embedding-compression step that makes billion-vector ANN affordable:
    4x smaller shuffles and broadcast candidate sets, with max-abs-err as
    the per-vector fidelity audit. Quantization uses floor(x/scale + 0.5)
    on BOTH sides, not round() — engines disagree on banker's rounding,
    floor+0.5 is dialect-free. All higher-order built-ins, zero UDF,
    linear scan."""
    e = load(spark, sf_dir, "embeddings")
    v = _vec_double(F.col("embedding"))
    # internal name `_scale` distinct from the output alias: in a select
    # list that also emits round(scale) AS scale, F.col("scale") inside the
    # error expression resolves to the ROUNDED output column (observed:
    # max_abs_err flips 0.001149 -> 0.001157 at vec_id 0)
    d = e.select("vec_id", v.alias("v")).withColumn(
        "_scale",
        F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))) / F.lit(127.0),
    )
    quant = lambda x: F.floor(x / F.col("_scale") + F.lit(0.5))  # noqa: E731
    return d.select(
        "vec_id",
        F.round("_scale", 6).alias("scale"),
        quant(F.element_at("v", 1)).cast("long").alias("q1"),
        quant(F.element_at("v", 2)).cast("long").alias("q2"),
        F.round(
            F.array_max(
                F.transform(F.col("v"), lambda x: F.abs(x - quant(x) * F.col("_scale")))
            ),
            6,
        ).alias("max_abs_err"),
    )


@query(
    "q_sim_query_topk",
    oracle="""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT * FROM v WHERE vec_id % 29 = 0
), sims AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS sim
  FROM q JOIN v c ON q.vec_id != c.vec_id
)
SELECT query_id, neighbor_id, rank, round(sim, 6) AS sim
FROM (
  SELECT query_id, neighbor_id, sim,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
  FROM sims
) WHERE rank <= 3
""",
)
def q_sim_query_topk(spark, sf_dir):
    """Asymmetric retrieval: a SMALL query set (here the deterministic
    ``vec_id % 29 = 0`` slice) searched against the FULL corpus — the shape
    every retrieval/RAG indexing job has, distinct from the all-pairs
    self-kNN of q_sim_cosine_topk.

    Scale posture: the corpus is hashed into CB blocks and scanned ONCE;
    the query set is replicated to every corpus block via a broadcast
    block-id cross join (the broadcast-join shape, expressed as a cogroup
    so the numpy kernel sees both sides as matrices — no driver collect,
    no broadcast variable to size-manage). Each (queries, corpus-block)
    cell emits a local top-k; the global top-k is a window over CB·k
    candidate rows per query. Corpus shuffle volume is one pass; query
    replication is |Q|·CB rows — the small side scales with block count,
    never with corpus size. At 100 TB this is exactly the plan you want:
    one corpus scan, partial top-k map-side, tiny final reduce."""
    CB = _derived_blocks(sf_dir)
    k = 3
    corpus = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = (
        load(spark, sf_dir, "embeddings", fresh=True)
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") % 29 == 0)
    )
    cb_ids = spark.range(CB).select(F.col("id").cast("int").alias("cb"))
    cside = corpus.withColumn("cb", F.pmod("vec_id", F.lit(CB)).cast("int"))
    qside = queries.crossJoin(F.broadcast(cb_ids))

    # left = queries (replicated to every corpus block), right = one block
    local = qside.groupby("cb").cogroup(cside.groupby("cb")).applyInPandas(
        _cell_topk_kernel(k, id_col="query_id"),
        "query_id BIGINT, neighbor_id BIGINT, sim DOUBLE",
    )
    return _global_topk(local, k, id_col="query_id")


def _sign_word(lo: int, hi: int):
    """Pack sign bits of embedding[lo..hi] (1-based, inclusive) into one
    64-bit word — shared by q_vec_binary_hamming and the recall-eval key
    so the quantization convention cannot drift between the index build
    and its quality audit."""
    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(32)])
    return F.aggregate(
        F.sequence(F.lit(lo), F.lit(hi)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.when(
            F.element_at(F.col("embedding"), j.cast("int")) > 0,
            F.element_at(pow2, (j - lo + 1).cast("int")),
        ).otherwise(F.lit(0).cast("long")),
    )


_BQ_NQ = 8  # query vectors: vec_id < 8 (the retrieval-family convention)
_BQ_K = 10  # Hamming neighbors returned per query


@query(
    "q_vec_binary_hamming",
    oracle=f"""
WITH v AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(range(1, 33),
           j -> CASE WHEN embedding[j] > 0
                     THEN CAST(1 AS BIGINT) << (j - 1) ELSE 0 END))
           AS BIGINT) AS w1,
         CAST(list_sum(list_transform(range(33, 65),
           j -> CASE WHEN embedding[j] > 0
                     THEN CAST(1 AS BIGINT) << (j - 33) ELSE 0 END))
           AS BIGINT) AS w2
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, w1 AS q1, w2 AS q2 FROM v
  WHERE vec_id < {_BQ_NQ}
), d AS (
  SELECT q.query_id, v.vec_id,
         CAST(bit_count(xor(v.w1, q.q1)) + bit_count(xor(v.w2, q.q2))
              AS BIGINT) AS hamming
  FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
)
SELECT query_id, CAST(rk AS INT) AS rank, vec_id, hamming
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY hamming, vec_id) AS rk
      FROM d) z
WHERE rk <= {_BQ_K}
""",
)
def q_vec_binary_hamming(spark, sf_dir):
    """Binary-quantized ANN: each 64-dim embedding collapses to a
    64-bit sign code (two 32-bit words, so no signed-overflow edge) and
    neighbor search becomes Hamming distance = popcount(xor) — the
    1-bit quantization behind modern binary-embedding retrieval, with
    32x memory compression and register-speed distances where
    q_sim_query_topk pays a float dot product per pair. Everything is
    INTEGER: bit packing, xor, popcount, the (distance, vec_id)
    ranking — no float exists anywhere in the operator, so the top-10
    per query is trivially bit-stable. Plan: codes are a narrow
    map-only projection (the 100 TB win: the candidate scan reads 16
    bytes/vector, not 256); the 8-query block broadcasts; per-query
    top-k is a partitioned rank over the distance column. The standard
    production shape re-ranks these candidates with exact float
    distances — that second stage IS q_sim_query_topk."""
    emb = load(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", _sign_word(1, 32).alias("w1"), _sign_word(33, 64).alias("w2")
    )
    q = v.filter(F.col("vec_id") < _BQ_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("w1").alias("q1"),
        F.col("w2").alias("q2"),
    )
    d = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (
                F.bit_count(F.col("w1").bitwiseXOR(F.col("q1")))
                + F.bit_count(F.col("w2").bitwiseXOR(F.col("q2")))
            )
            .cast("long")
            .alias("hamming"),
        )
    )
    wk = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    return (
        d.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _BQ_K)
        .select("query_id", F.col("rk").cast("int").alias("rank"), "vec_id", "hamming")
    )


@query(
    "q_retrieval_recall_eval",
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         CAST(list_sum(list_transform(range(1, 33),
           j -> CASE WHEN embedding[j] > 0
                     THEN CAST(1 AS BIGINT) << (j - 1) ELSE 0 END))
           AS BIGINT) AS w1,
         CAST(list_sum(list_transform(range(33, 65),
           j -> CASE WHEN embedding[j] > 0
                     THEN CAST(1 AS BIGINT) << (j - 33) ELSE 0 END))
           AS BIGINT) AS w2,
         list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                     (a, b) -> a + b) AS nrm
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS qe, w1 AS q1, w2 AS q2, nrm AS qn
  FROM v WHERE vec_id < {_BQ_NQ}
), ham AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, v.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             bit_count(xor(v.w1, q.q1)) + bit_count(xor(v.w2, q.q2)),
             v.vec_id) AS rk
    FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
  ) z WHERE rk <= {_BQ_K}
), cos AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, v.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_reduce(list_transform(range(1, 65),
                         j -> q.qe[j] * v.emb[j]), (a, b) -> a + b)
               / (sqrt(q.qn) * sqrt(v.nrm)) DESC,
             v.vec_id) AS rk
    FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
  ) z WHERE rk <= {_BQ_K}
)
SELECT cos.query_id,
       CAST(count(ham.vec_id) AS BIGINT) AS n_overlap,
       floor(CAST(count(ham.vec_id) AS DOUBLE) * 10000 / {_BQ_K} + 0.5)
         / 10000 AS recall
FROM cos LEFT JOIN ham
  ON cos.query_id = ham.query_id AND cos.vec_id = ham.vec_id
GROUP BY cos.query_id
""",
)
def q_retrieval_recall_eval(spark, sf_dir):
    """Recall@10 of the binary-sign Hamming index against exact cosine
    ground truth, per query — the quality audit every ANN deployment
    runs before trusting an index (is 32x compression costing recall?).
    Ground truth cosine is bit-reproducible WITHOUT rounding: dot and
    norms are left-fold sums in one fixed order (Spark aggregate seeded
    0.0 == DuckDB list_reduce since 0.0 + x == x), sqrt and one
    division are correctly-rounded IEEE ops, and ranking ties break on
    vec_id. The Hamming side reuses _sign_word, so this key audits THE
    production index, not a re-derivation. Overlap counts and the
    recall ratio are integers + one floored division. Plan: both
    rankings share the one corpus scan; the 8-query block broadcasts
    twice; the overlap join moves 8*k rows. At 100 TB ground truth is
    the expensive brute-force pass you run on a SAMPLE of queries —
    exactly this shape with the query filter as the sample."""
    v = _audit_corpus_frame(spark, sf_dir)
    q = v.filter(F.col("vec_id") < _BQ_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qe"),
        F.col("w1").alias("q1"),
        F.col("w2").alias("q2"),
        F.col("nrm").alias("qn"),
    )
    pairs = v.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    hamming = F.bit_count(F.col("w1").bitwiseXOR(F.col("q1"))) + F.bit_count(
        F.col("w2").bitwiseXOR(F.col("q2"))
    )
    wh = Window.partitionBy("query_id").orderBy(hamming, "vec_id")
    ham = (
        pairs.withColumn("rk", F.row_number().over(wh))
        .filter(F.col("rk") <= _BQ_K)
        .select("query_id", "vec_id")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("emb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    cos_sim = dot / (F.sqrt(F.col("qn")) * F.sqrt(F.col("nrm")))
    wc = Window.partitionBy("query_id").orderBy(
        F.desc(cos_sim), F.col("vec_id")
    )
    cos = (
        pairs.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= _BQ_K)
        .select("query_id", "vec_id")
    )
    hit = cos.join(
        ham.withColumn("h", F.lit(1)), ["query_id", "vec_id"], "left"
    )
    return hit.groupBy("query_id").agg(
        F.count("h").alias("n_overlap"),
        (
            F.floor(
                F.count("h").cast("double") * 10000 / F.lit(_BQ_K)
                + F.lit(0.5)
            )
            / 10000
        ).alias("recall"),
    )


@query(
    "q_vec_drift",
    oracle="""
WITH x AS (
  SELECT label, vec_id % 2 AS half,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(floor(unnest(embedding::DOUBLE[]) * 1000000 + 0.5) AS BIGINT)
           AS xi
  FROM embeddings
), s AS (
  SELECT label, half, pos, CAST(sum(xi) AS BIGINT) AS sx,
         CAST(count(*) AS BIGINT) AS n
  FROM x GROUP BY label, half, pos
), d AS (
  SELECT a.label, a.pos,
         (CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n) AS diff,
         a.n AS n0, b.n AS n1
  FROM s a JOIN s b ON a.label = b.label AND a.pos = b.pos
  WHERE a.half = 0 AND b.half = 1
)
SELECT label, CAST(any_value(n0) AS BIGINT) AS n_half0,
       CAST(any_value(n1) AS BIGINT) AS n_half1,
       round(sqrt(list_reduce(list(diff * diff ORDER BY pos),
                              (p, q) -> p + q)) / 1000000, 6)
         AS centroid_shift
FROM d GROUP BY label
""",
)
def q_vec_drift(spark, sf_dir):
    """Embedding drift monitor: per label, the L2 distance between the
    centroid of the even-id half and the odd-id half of the corpus —
    the check a retrieval system runs when re-embedding or re-crawling
    (did the representation of this class MOVE?); near zero here
    because both halves sample one distribution, which is exactly the
    null a drift alarm thresholds against. Exactness via the
    fixed-point kmeans recipe (llm/clustering.py): coordinates
    quantize to 1e-6 ints, per-(label, half, position) sums are
    exact-integer and order-invariant, each centroid coordinate is ONE
    correctly-rounded division, the squared-diff sum is a
    position-ORDERED fold, and sqrt is IEEE — bit-identical before the
    6dp display round. Plan: posexplode -> one (label, half, pos)
    combine (map-side), a 64-row-per-label join and fold — one
    embeddings pass at any scale."""
    emb = load(spark, sf_dir, "embeddings")
    x = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos", "xv"),
    ).select(
        "label",
        "half",
        "pos",
        F.floor(F.col("xv") * 1000000 + F.lit(0.5)).cast("long").alias("xi"),
    )
    s = x.groupBy("label", "half", "pos").agg(
        F.sum("xi").alias("sx"), F.count(F.lit(1)).alias("n")
    )
    a = s.filter(F.col("half") == 0).select(
        "label",
        "pos",
        F.col("sx").alias("sx0"),
        F.col("n").alias("n0"),
    )
    b = s.filter(F.col("half") == 1).select(
        "label",
        "pos",
        F.col("sx").alias("sx1"),
        F.col("n").alias("n1"),
    )
    d = a.join(b, ["label", "pos"]).select(
        "label",
        "pos",
        "n0",
        "n1",
        (
            F.col("sx0").cast("double") / F.col("n0")
            - F.col("sx1").cast("double") / F.col("n1")
        ).alias("diff"),
    )
    return d.groupBy("label").agg(
        F.first("n0").alias("n_half0"),
        F.first("n1").alias("n_half1"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "pos",
                                    (F.col("diff") * F.col("diff")).alias(
                                        "dd"
                                    ),
                                )
                            )
                        ),
                        lambda t: t["dd"],
                    ),
                    F.lit(0.0),
                    lambda p, q: p + q,
                )
            )
            / 1000000,
            6,
        ).alias("centroid_shift"),
    )


_PCA_ITERS = 3  # power-iteration steps
_PCA_SCALE = 1_000_000  # fixed-point scale of the iterated vector


def _pca_iter_sql(k: int) -> str:
    prev = f"v{k - 1}"
    return f"""w{k} AS (
  SELECT c.i, sum(CAST(c.cij AS HUGEINT) * {prev}.v) AS w
  FROM c JOIN {prev} ON {prev}.j = c.j GROUP BY c.i
), v{k} AS (
  SELECT i AS j,
         CAST(floor(CAST(w AS DOUBLE) * {_PCA_SCALE}
                    / CAST(max(abs(w)) OVER () AS DOUBLE) + 0.5) AS BIGINT)
           AS v
  FROM w{k}
)"""


_PCA_CTE = f"""x AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(floor(unnest(embedding::DOUBLE[]) * 1000 + 0.5) AS BIGINT)
           AS xi
  FROM embeddings
), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
s AS (SELECT i, CAST(sum(xi) AS BIGINT) AS si FROM x GROUP BY i),
p AS (
  SELECT a.i AS i, b.i AS j, CAST(sum(a.xi * b.xi) AS BIGINT) AS pij
  FROM x a JOIN x b ON a.vec_id = b.vec_id
  GROUP BY a.i, b.i
), c AS (
  SELECT p.i, p.j,
         CAST(nn.n AS HUGEINT) * p.pij
           - CAST(sa.si AS HUGEINT) * sb.si AS cij
  FROM p JOIN s sa ON sa.i = p.i JOIN s sb ON sb.i = p.j CROSS JOIN nn
), v0 AS (SELECT i AS j, CAST(1 AS BIGINT) AS v FROM s),
{",".join(_pca_iter_sql(k) for k in range(1, _PCA_ITERS + 1))}"""


def _pca_component(spark, sf_dir):
    """The shared fixed-point power iteration: returns (x, v) where x is
    the quantized (vec_id, i, xi) coordinate table and v the final
    (j, v) 1e-6-scaled component — q_vec_pca_power emits v,
    q_vec_pca_project joins x against it."""
    emb = load(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "xv")
    ).select(
        "vec_id",
        "i",
        F.floor(F.col("xv") * 1000 + F.lit(0.5)).cast("long").alias("xi"),
    )
    nn = emb.agg(F.count(F.lit(1)).alias("n"))
    s = x.groupBy("i").agg(F.sum("xi").alias("si"))
    a = x.select("vec_id", F.col("i").alias("ia"), F.col("xi").alias("xa"))
    b = x.select("vec_id", F.col("i").alias("jb"), F.col("xi").alias("xb"))
    p = (
        a.join(b, "vec_id")
        .groupBy(F.col("ia").alias("i"), F.col("jb").alias("j"))
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("pij"))
    )
    sa = s.select(F.col("i"), F.col("si").alias("sa"))
    sb = s.select(F.col("i").alias("j"), F.col("si").alias("sb"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    c = (
        p.join(F.broadcast(sa), "i")
        .join(F.broadcast(sb), "j")
        .crossJoin(F.broadcast(nn))
        .select(
            "i",
            "j",
            (dec(F.col("n")) * F.col("pij") - dec(F.col("sa")) * F.col("sb")).alias(
                "cij"
            ),
        )
    )
    v = s.select(F.col("i").alias("j"), F.lit(1).cast("long").alias("v"))
    wfull = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    for _ in range(_PCA_ITERS):
        w = (
            c.join(v, "j")
            .groupBy("i")
            .agg(F.sum(dec(F.col("cij")) * F.col("v")).alias("w"))
        )
        v = w.select(
            F.col("i").alias("j"),
            # try_divide (r7 degenerate class, degenerate-input sweep):
            # IDENTICAL embeddings zero the centered scatter, so every
            # matvec entry — and the max|w| normalizer — is exactly 0;
            # DuckDB nulls the 0/0 while ANSI Spark would throw. The
            # NULL loadings then propagate through the remaining
            # iterations and the projection identically on both sides.
            F.floor(
                F.try_divide(
                    F.col("w").cast("double") * _PCA_SCALE,
                    F.max(F.abs(F.col("w"))).over(wfull).cast("double"),
                )
                + F.lit(0.5)
            )
            .cast("long")
            .alias("v"),
        )
    return x, v


@query(
    "q_vec_pca_power",
    oracle=f"""
WITH {_PCA_CTE}
SELECT j AS pos, v AS loading_x1e6 FROM v{_PCA_ITERS}
""",
)
def q_vec_pca_power(spark, sf_dir):
    """Top principal component of the embedding cloud by THREE power
    iterations on the exact integer covariance — distributed linear
    algebra with a bit-reproducibility certificate (the
    llm/clustering.py fixed-point recipe applied to eigenvectors):
    coordinates quantize to 1e-3 ints, the centered scatter matrix
    n*P - S S^T is pure HUGEINT/decimal(38), every matvec is an
    exact-integer join-aggregate over the 64x64 matrix, and each
    renormalization is ONE shared-shape floored division by the max
    |entry| (int -> double casts are IEEE-nearest in both engines, so
    even > 2^53 magnitudes convert identically). Deterministic sign
    and convergence come free from the fixed all-ones start. Plan: the
    one heavy stage is the scatter build — a self-join keyed on vec_id
    with 64x64 fan-out per vector (at 100 TB: map-side outer-product
    partial aggregation, same exchange count); the iterations touch
    64-row tables only. Loadings emit as exact 1e-6-scaled BIGINTs."""
    _, v = _pca_component(spark, sf_dir)
    return v.select(F.col("j").alias("pos"), F.col("v").alias("loading_x1e6"))


@query(
    "q_vec_pca_project",
    oracle=f"""
WITH {_PCA_CTE}
SELECT x.vec_id,
       CAST(sum(CAST(x.xi AS HUGEINT) * v{_PCA_ITERS}.v) AS BIGINT)
         AS score_x1e9
FROM x JOIN v{_PCA_ITERS} ON v{_PCA_ITERS}.j = x.i
GROUP BY x.vec_id
""",
)
def q_vec_pca_project(spark, sf_dir):
    """Projection of every embedding onto the learned top component —
    the dimensionality-reduction score column (1-D PCA features for
    drift plots, stratified sampling, or coarse ANN routing). The
    score is the exact integer dot product of the 1e-3-quantized
    coordinates with the 1e-6-scaled component from _pca_component
    (shared with q_vec_pca_power — the projection provably uses THE
    shipped component, not a re-derivation), so the output is pure
    BIGINT at 1e-9 scale with zero float anywhere. Plan: the 64-row
    component broadcasts onto the coordinate table; one
    map-side-combinable rollup per vector — a single embeddings pass
    on top of the component build."""
    x, v = _pca_component(spark, sf_dir)
    j = x.join(
        F.broadcast(v), x["i"] == v["j"]
    )
    return j.groupBy("vec_id").agg(
        F.sum(F.col("xi").cast("decimal(38,0)") * F.col("v"))
        .cast("long")
        .alias("score_x1e9")
    )


_IDCG_SQL = (
    "list_reduce(list_transform(range(1, 11), "
    "i -> (11 - i) / ln(i + 1)), (a, b) -> a + b)"
)


@query(
    "q_retrieval_ndcg",
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         CAST(list_sum(list_transform(range(1, 33),
           j -> CASE WHEN embedding[j] > 0
                     THEN CAST(1 AS BIGINT) << (j - 1) ELSE 0 END))
           AS BIGINT) AS w1,
         CAST(list_sum(list_transform(range(33, 65),
           j -> CASE WHEN embedding[j] > 0
                     THEN CAST(1 AS BIGINT) << (j - 33) ELSE 0 END))
           AS BIGINT) AS w2,
         list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                     (a, b) -> a + b) AS nrm
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS qe, w1 AS q1, w2 AS q2, nrm AS qn
  FROM v WHERE vec_id < {_BQ_NQ}
), sys AS (
  SELECT query_id, vec_id, rk FROM (
    SELECT q.query_id, v.vec_id,
           CAST(row_number() OVER (PARTITION BY q.query_id ORDER BY
             bit_count(xor(v.w1, q.q1)) + bit_count(xor(v.w2, q.q2)),
             v.vec_id) AS BIGINT) AS rk
    FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
  ) z WHERE rk <= {_BQ_K}
), truth AS (
  SELECT query_id, vec_id, rt FROM (
    SELECT q.query_id, v.vec_id,
           CAST(row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_reduce(list_transform(range(1, 65),
                         j -> q.qe[j] * v.emb[j]), (a, b) -> a + b)
               / (sqrt(q.qn) * sqrt(v.nrm)) DESC,
             v.vec_id) AS BIGINT) AS rt
    FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
  ) z WHERE rt <= {_BQ_K}
), terms AS (
  SELECT s.query_id, s.rk,
         coalesce((11 - t.rt) / ln(s.rk + 1), 0.0) AS term,
         CASE WHEN t.rt IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM sys s LEFT JOIN truth t
    ON s.query_id = t.query_id AND s.vec_id = t.vec_id
), arr AS (
  SELECT query_id, list(term ORDER BY rk) AS ts,
         CAST(sum(hit) AS BIGINT) AS n_rel_hits
  FROM terms GROUP BY query_id
)
SELECT query_id, n_rel_hits,
       floor(list_reduce(list_prepend(0.0, ts), (a, b) -> a + b)
             / ({_IDCG_SQL}) * 1000000 + 0.5) / 1000000 AS ndcg
FROM arr
""",
)
def q_retrieval_ndcg(spark, sf_dir):
    """nDCG@10 of the binary-Hamming index against exact-cosine graded
    relevance — the position-aware complement of q_retrieval_recall_eval
    (recall says WHETHER the true neighbors surface; nDCG says whether
    they surface NEAR THE TOP). Grades: the exact-cosine rank rt maps
    to relevance 11-rt (10..1), items outside the true top-10 score 0.
    DCG divides each grade by ln(rank+1) — natural log on BOTH engines
    (log2 differs cross-engine in the last ulp; the ln(2) factors
    cancel in the DCG/IDCG ratio, so this IS standard nDCG) — and sums
    in ONE pinned rank order (fold seeded 0.0 == DuckDB's
    first-element seed since 0.0+x==x). IDCG is the same fold over the
    ideal grades 10..1, computed with the engine's own expressions
    (never an injected float literal). Both rankings reuse the
    production _sign_word codes and the recall key's cosine shape; one
    floored 6dp division at the end. Plan: one corpus scan feeds both
    rankings; the 8-query block broadcasts; at 100 TB this is the
    sampled-query index-quality audit, like recall_eval."""
    v = _audit_corpus_frame(spark, sf_dir)
    q = v.filter(F.col("vec_id") < _BQ_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qe"),
        F.col("w1").alias("q1"),
        F.col("w2").alias("q2"),
        F.col("nrm").alias("qn"),
    )
    pairs = v.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    hamming = F.bit_count(F.col("w1").bitwiseXOR(F.col("q1"))) + F.bit_count(
        F.col("w2").bitwiseXOR(F.col("q2"))
    )
    wh = Window.partitionBy("query_id").orderBy(hamming, "vec_id")
    sys_rank = (
        pairs.withColumn("rk", F.row_number().over(wh).cast("long"))
        .filter(F.col("rk") <= _BQ_K)
        .select("query_id", "vec_id", "rk")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("emb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    cos_sim = dot / (F.sqrt(F.col("qn")) * F.sqrt(F.col("nrm")))
    wc = Window.partitionBy("query_id").orderBy(
        F.desc(cos_sim), F.col("vec_id")
    )
    truth = (
        pairs.withColumn("rt", F.row_number().over(wc).cast("long"))
        .filter(F.col("rt") <= _BQ_K)
        .select(
            F.col("query_id").alias("tq"),
            F.col("vec_id").alias("tv"),
            "rt",
        )
    )
    t = sys_rank.join(
        truth,
        (F.col("query_id") == F.col("tq")) & (F.col("vec_id") == F.col("tv")),
        "left",
    ).select(
        "query_id",
        "rk",
        F.coalesce(
            (11 - F.col("rt")) / F.log(F.col("rk") + 1), F.lit(0.0)
        ).alias("term"),
        F.when(F.col("rt").isNotNull(), 1).otherwise(0).alias("hit"),
    )
    from wikidata2pg_spark.operators.analytics import ordered_fold

    arr = t.groupBy("query_id").agg(
        ordered_fold(F.col("rk"), F.col("term"), "dcg"),
        F.sum("hit").cast("long").alias("n_rel_hits"),
    )
    dcg = F.col("dcg")
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.lit(10)),
        F.lit(0.0),
        lambda a, i: a + (11 - i) / F.log(i + 1),
    )
    return arr.select(
        "query_id",
        "n_rel_hits",
        (F.floor(dcg / idcg * 1000000 + F.lit(0.5)) / 1000000).alias("ndcg"),
    )


_TRUNC_D = 16  # truncated prefix dims (64 -> 16: 4x compression)


def _audit_corpus_frame(spark, sf_dir):
    """Shared corpus frame for the index-audit family (recall_eval,
    ndcg, truncation_fidelity): vec_id, DOUBLE-cast embedding, sign
    words, full and {16}-dim prefix norms. Two disciplines live here:
    (1) the folds run over the DOUBLE-cast array — the oracles fold
    embedding::DOUBLE[]; folding the raw FLOAT column accumulates
    float32-rounded squares that diverge from the oracle in the ~8th
    digit and can flip a ranking at a boundary (latent cross-engine
    hazard, review catch); (2) localCheckpoint — each audit fans the
    frame into two ranking branches plus the query subset, which would
    otherwise re-scan the corpus per branch (4 FileScans observed; the
    q_sql_tpch_q15 sibling-consumer rule)."""
    emb = load(spark, sf_dir, "embeddings")
    d = _vec_double(F.col("embedding"))

    def sq(col):
        return F.aggregate(
            F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, b: a + b
        )

    return truncate_plan(emb.select(
        "vec_id",
        d.alias("emb"),
        _sign_word(1, 32).alias("w1"),
        _sign_word(33, 64).alias("w2"),
        sq(d).alias("nrm"),
        sq(F.slice(d, 1, _TRUNC_D)).alias("tnrm"),
    ))


@query(
    "q_vec_truncation_fidelity",
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                     (a, b) -> a + b) AS nrm,
         list_reduce(list_transform(range(1, {_TRUNC_D + 1}),
                     j -> (embedding::DOUBLE[])[j] * (embedding::DOUBLE[])[j]),
                     (a, b) -> a + b) AS tnrm
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS qe, nrm AS qn, tnrm AS qtn
  FROM v WHERE vec_id < {_BQ_NQ}
), full_rank AS (
  SELECT query_id, vec_id, rt FROM (
    SELECT q.query_id, v.vec_id,
           CAST(row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_reduce(list_transform(range(1, 65),
                         j -> q.qe[j] * v.emb[j]), (a, b) -> a + b)
               / (sqrt(q.qn) * sqrt(v.nrm)) DESC,
             v.vec_id) AS BIGINT) AS rt
    FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
  ) z WHERE rt <= {_BQ_K}
), trunc_rank AS (
  SELECT query_id, vec_id, rk FROM (
    SELECT q.query_id, v.vec_id,
           CAST(row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_reduce(list_transform(range(1, {_TRUNC_D + 1}),
                         j -> q.qe[j] * v.emb[j]), (a, b) -> a + b)
               / (sqrt(q.qtn) * sqrt(v.tnrm)) DESC,
             v.vec_id) AS BIGINT) AS rk
    FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
  ) z WHERE rk <= {_BQ_K}
)
SELECT t.query_id,
       CAST(count(f.vec_id) AS BIGINT) AS n_overlap,
       floor(CAST(count(f.vec_id) AS DOUBLE) * 10000 / {_BQ_K} + 0.5)
         / 10000 AS recall,
       CAST(max(CASE WHEN t.rk = 1 AND f.rt = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS top1_match
FROM trunc_rank t LEFT JOIN full_rank f
  ON t.query_id = f.query_id AND t.vec_id = f.vec_id
GROUP BY t.query_id
""",
)
def q_vec_truncation_fidelity(spark, sf_dir):
    """Truncation-fidelity audit (the Matryoshka-embedding question):
    how much of the exact 64-dim cosine top-10 survives when search
    runs on only the FIRST 16 dims (4x memory/compute compression)?
    Per query: overlap@10, recall, and whether the top-1 neighbor is
    preserved. Same bit-reproducibility recipe as recall_eval/ndcg —
    prefix dot/norm folds in one pinned order (the truncated norm is
    its own fold, NOT a slice of the full one), ties on vec_id,
    integer overlap counts, one floored division. Plan: ONE corpus
    scan computes both norm variants into a localCheckpointed frame
    (the two ranking branches + query subset would otherwise re-scan
    the corpus per branch — plan-audited in tests/test_plans.py); the
    8-query block broadcasts into both rankings. At 100 TB the
    truncated ranking is the cheap
    first-stage scan (reads 16/64 of the vector bytes — with a
    column-pruned prefix column, 4x less IO) and this audit prices
    that compression in recall, on a query sample."""
    v = _audit_corpus_frame(spark, sf_dir)
    q = v.filter(F.col("vec_id") < _BQ_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qe"),
        F.col("nrm").alias("qn"),
        F.col("tnrm").alias("qtn"),
    )
    pairs = v.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )

    def dot_fold(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda s, t: s + t,
        )

    full_sim = dot_fold(F.col("qe"), F.col("emb")) / (
        F.sqrt(F.col("qn")) * F.sqrt(F.col("nrm"))
    )
    trunc_sim = dot_fold(
        F.slice(F.col("qe"), 1, _TRUNC_D), F.slice(F.col("emb"), 1, _TRUNC_D)
    ) / (F.sqrt(F.col("qtn")) * F.sqrt(F.col("tnrm")))
    wf = Window.partitionBy("query_id").orderBy(
        F.desc(full_sim), F.col("vec_id")
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.desc(trunc_sim), F.col("vec_id")
    )
    full_rank = (
        pairs.withColumn("rt", F.row_number().over(wf).cast("long"))
        .filter(F.col("rt") <= _BQ_K)
        .select(
            F.col("query_id").alias("fq"), F.col("vec_id").alias("fv"), "rt"
        )
    )
    trunc_rank = (
        pairs.withColumn("rk", F.row_number().over(wt).cast("long"))
        .filter(F.col("rk") <= _BQ_K)
        .select("query_id", "vec_id", "rk")
    )
    j = trunc_rank.join(
        full_rank,
        (F.col("query_id") == F.col("fq")) & (F.col("vec_id") == F.col("fv")),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count("fv").cast("long").alias("n_overlap"),
        (
            F.floor(
                F.count("fv").cast("double") * 10000 / _BQ_K + F.lit(0.5)
            )
            / 10000
        ).alias("recall"),
        F.max(
            F.when((F.col("rk") == 1) & (F.col("rt") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("top1_match"),
    )


@query(
    "q_retrieval_mrr",
    oracle=f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         CAST(list_sum(list_transform(range(1, 33),
           j -> CASE WHEN embedding[j] > 0
                     THEN CAST(1 AS BIGINT) << (j - 1) ELSE 0 END))
           AS BIGINT) AS w1,
         CAST(list_sum(list_transform(range(33, 65),
           j -> CASE WHEN embedding[j] > 0
                     THEN CAST(1 AS BIGINT) << (j - 33) ELSE 0 END))
           AS BIGINT) AS w2,
         list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                     (a, b) -> a + b) AS nrm
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS qe, w1 AS q1, w2 AS q2, nrm AS qn
  FROM v WHERE vec_id < {_BQ_NQ}
), sys AS (
  SELECT q.query_id, v.vec_id,
         CAST(row_number() OVER (PARTITION BY q.query_id ORDER BY
           bit_count(xor(v.w1, q.q1)) + bit_count(xor(v.w2, q.q2)),
           v.vec_id) AS BIGINT) AS rk
  FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
), gold AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, v.vec_id,
           CAST(row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_reduce(list_transform(range(1, 65),
                         j -> q.qe[j] * v.emb[j]), (a, b) -> a + b)
               / (sqrt(q.qn) * sqrt(v.nrm)) DESC,
             v.vec_id) AS BIGINT) AS rt
    FROM v CROSS JOIN q WHERE v.vec_id <> q.query_id
  ) z WHERE rt = 1
), gr AS (
  SELECT s.query_id, s.rk
  FROM sys s JOIN gold g
    ON s.query_id = g.query_id AND s.vec_id = g.vec_id
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       floor(list_reduce(list_prepend(0.0, list(1.0 / rk ORDER BY query_id)),
                         (a, b) -> a + b) / count(*) * 1000000 + 0.5)
         / 1000000 AS mrr,
       CAST(sum(CASE WHEN rk <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_1,
       CAST(sum(CASE WHEN rk <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_3,
       CAST(sum(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_10
FROM gr
""",
)
def q_retrieval_mrr(spark, sf_dir):
    """Mean reciprocal rank of the binary-Hamming index against the
    exact-cosine TOP-1 gold neighbor — the single-gold-item retrieval
    metric (the nDCG/recall siblings grade the top-10 set; MRR grades
    where THE answer lands, the number reported for QA-style
    retrieval). Per query the gold doc is the exact-cosine rank-1
    neighbor; its position in the FULL Hamming ranking (unique
    tiebreak by vec_id, no cutoff — the gold's rank is always defined)
    gives RR = 1/rank, one exact int division per query; MRR is a
    query-ORDERED fold of those divided once by the query count
    (shared float shape, floored 6dp). Hits@1/3/10 are exact integer
    rank-band counts. Reuses the production _sign_word codes and the
    audit-corpus frame (DOUBLE-cast folds, localCheckpoint — the
    ranking fan-out rule). Plan: one corpus scan feeds both rankings;
    the query block broadcasts; at 100 TB this is the sampled-query
    index-quality audit shape shared by the whole retrieval family."""
    v = _audit_corpus_frame(spark, sf_dir)
    q = v.filter(F.col("vec_id") < _BQ_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qe"),
        F.col("w1").alias("q1"),
        F.col("w2").alias("q2"),
        F.col("nrm").alias("qn"),
    )
    pairs = v.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    hamming = F.bit_count(F.col("w1").bitwiseXOR(F.col("q1"))) + F.bit_count(
        F.col("w2").bitwiseXOR(F.col("q2"))
    )
    wh = Window.partitionBy("query_id").orderBy(hamming, "vec_id")
    sys_rank = pairs.withColumn(
        "rk", F.row_number().over(wh).cast("long")
    ).select("query_id", "vec_id", "rk")
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("emb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    cos_sim = dot / (F.sqrt(F.col("qn")) * F.sqrt(F.col("nrm")))
    wc = Window.partitionBy("query_id").orderBy(
        F.desc(cos_sim), F.col("vec_id")
    )
    gold = (
        pairs.withColumn("rt", F.row_number().over(wc).cast("long"))
        .filter(F.col("rt") == 1)
        .select(
            F.col("query_id").alias("gq"), F.col("vec_id").alias("gv")
        )
    )
    gr = sys_rank.join(
        gold,
        (F.col("query_id") == F.col("gq")) & (F.col("vec_id") == F.col("gv")),
    ).select("query_id", "rk")
    from wikidata2pg_spark.operators.analytics import ordered_fold

    return gr.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        ordered_fold(F.col("query_id"), F.lit(1.0) / F.col("rk"), "_rr"),
        F.sum(F.when(F.col("rk") <= 1, 1).otherwise(0))
        .cast("long")
        .alias("hits_at_1"),
        F.sum(F.when(F.col("rk") <= 3, 1).otherwise(0))
        .cast("long")
        .alias("hits_at_3"),
        F.sum(F.when(F.col("rk") <= 10, 1).otherwise(0))
        .cast("long")
        .alias("hits_at_10"),
    ).select(
        "n_queries",
        (
            # try_divide (r7 empty-input sweep): an EMPTY corpus has no
            # queries, so the mean divides by zero — DuckDB nulls it,
            # ANSI Spark would throw; bit-identical to / otherwise.
            F.floor(
                F.try_divide(F.col("_rr"), F.col("n_queries")) * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("mrr"),
        "hits_at_1",
        "hits_at_3",
        "hits_at_10",
    )
