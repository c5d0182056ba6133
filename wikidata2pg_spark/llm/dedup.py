"""Deduplication operators (§2.12 L1/L2 + task-mandated SimHash and n-gram
Jaccard): the training-data-pipeline workhorses.

Scale posture: exact dedup is one hash-shuffle (group by digest, map-side
combine); MinHash-LSH turns the O(n²) pair space into per-band bucket joins
with an explicit bucket-size cap (no single hot bucket can ever own the
stage — the r1 skew lesson); SimHash is a
linear scan producing a 16-bit signature groupable/bucketable at any scale;
Jaccard is expressed as a token-postings self-join — the classic
inverted-index formulation — so it shuffles on token, never materializing
the full pair matrix for dissimilar docs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikidata2pg_spark.registry import query
from wikidata2pg_spark.tables import load
from wikidata2pg_spark.util import truncate_plan


_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def canon_text(col):
    """THE engine-portable text canonicalization (README §Round-10, the
    dedup family's product contract): ``trim`` + ASCII-only case fold.
    Every digest/partition key over free text MUST use this (or its SQL
    twin ``canon_sql``) — never ``lower()``, whose full Unicode case
    mapping diverges between engines (Java FULL: U+0130 -> 'i'+U+0307;
    utf8proc SIMPLE: 'i') and across locales/Unicode versions. Pure
    codegen'd expression — no UDF in any dedup hot path."""
    return F.translate(F.trim(col), _ASCII_UPPER, _ASCII_LOWER)


def canon_sql(expr: str) -> str:
    """DuckDB twin of :func:`canon_text` — same fold, same order."""
    return f"translate(trim({expr}), '{_ASCII_UPPER}', '{_ASCII_LOWER}')"


@query(
    "q_dedup_exact",
    oracle=f"""
SELECT sha256({canon_sql('text')}) AS text_sha,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
""",
)
def q_dedup_exact(spark, sf_dir):
    """L1: exact text dedup on a normalized digest. keeper = min(doc_id),
    so the result is deterministic no matter which physical row wins.

    Canonicalization contract (engine-portable, r10): the digest key is
    ``trim`` + ASCII-ONLY case folding via ``translate('A'..'Z' ->
    'a'..'z')``, NOT full ``lower()``. Full Unicode case mapping is
    engine-divergent — Java's FULL mapping turns U+0130 'İ' into
    'i'+U+0307 while DuckDB's utf8proc SIMPLE mapping gives plain 'i',
    so lower()-keyed digests cluster a multilingual corpus differently
    per engine (r9 unicode sweep, tools/unicode_sweep.py). ASCII-only
    folding is also the right 100 TB posture: locale-/version-stable
    across engines and Unicode releases; non-ASCII bytes participate in
    the digest verbatim."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.sha2(canon_text(F.col("text")), 256).alias("text_sha"), "doc_id")
        .groupBy("text_sha")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query("q_dedup_minhash", oracle=None)  # hash-family estimate → rows-only
def q_dedup_minhash(spark, sf_dir):
    """L2: near-dup detection via banded MinHash-LSH, built entirely from
    codegen'd expressions: token → K seeded xxhash64 minhashes per doc →
    B band signatures → bucket join within (band, signature) → signature
    Jaccard estimate over candidates.

    This replaces r1's ``MinHashLSH.approxSimilarityJoin`` self-join, which
    degenerated to one skewed task doing ~all 25M pairs at sf0.1 (>10 min —
    the r1 bench killer): unigram binary vectors made most docs share a
    min-hash on common tokens, so one bucket held the whole corpus. Here
    skew is structurally bounded: a band bucket larger than CAP docs is
    dropped before the pair join (an over-common signature carries no
    near-dup signal), so no task ever materializes more than CAP² pairs per
    bucket. Every stage is a keyed shuffle (doc_id / (band, sig)) —
    100 TB-safe; K/B/R tune recall (B=8, R=2 → ≈90% recall at J=0.5)."""
    K, B, R, CAP = 16, 8, 2, 64
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    mh = toks.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.col("tok"), F.lit(i))).alias(f"mh{i}") for i in range(K)]
    )
    sig = mh.select(
        "doc_id",
        F.array(*[F.col(f"mh{i}") for i in range(K)]).alias("sig"),
        F.array(
            *[
                F.xxhash64(F.lit(b), *[F.col(f"mh{b * R + r}") for r in range(R)])
                for b in range(B)
            ]
        ).alias("bands"),
    )
    banded = sig.select("doc_id", F.posexplode("bands").alias("band", "band_sig"))
    sizes = banded.groupBy("band", "band_sig").agg(F.count(F.lit(1)).alias("bucket_n"))
    bounded = banded.join(sizes.filter(F.col("bucket_n") <= CAP), ["band", "band_sig"])
    a = bounded.select("band", "band_sig", F.col("doc_id").alias("doc_a"))
    b = bounded.select("band", "band_sig", F.col("doc_id").alias("doc_b"))
    cand = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "n_eq",
            F.aggregate(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
                F.lit(0),
                lambda acc, x: acc + x,
            ),
        )
        .withColumn("est_jaccard", F.col("n_eq") / F.lit(float(K)))
    )
    return est.filter(F.col("est_jaccard") >= 0.5).select(
        "doc_a", "doc_b", F.round("est_jaccard", 4).alias("est_jaccard")
    )


@query(
    "q_dedup_simhash",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), th AS (
  SELECT doc_id, tok, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM toks
), bits AS (
  SELECT doc_id, b.i AS bit,
         CASE WHEN sum(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) > 0
              THEN 1 ELSE 0 END AS v
  FROM th, range(16) b(i)
  GROUP BY doc_id, b.i
)
SELECT doc_id, CAST(sum(v * (1::BIGINT << bit)) AS BIGINT) AS simhash16
FROM bits GROUP BY doc_id
""",
)
def q_dedup_simhash(spark, sf_dir):
    """SimHash: 16-bit signature = per-bit majority vote of md5-derived
    token hashes. Near-dups differ in few bits; at scale, group/bucket on
    the signature (or hamming-ball probes) instead of pairwise compare."""
    d = load(spark, sf_dir, "documents")
    th = (
        d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok"))
        .withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long"))
    )
    bits = spark.range(16).select(F.col("id").cast("int").alias("bit"))
    # shiftright/shiftleft builtins take literal shift amounts; the
    # column-amount form goes through expr()
    votes = (
        th.crossJoin(F.broadcast(bits))
        .groupBy("doc_id", "bit")
        .agg(
            F.when(
                F.sum(F.when(F.expr("(h >> bit) & 1") == 1, 1).otherwise(-1)) > 0,
                1,
            )
            .otherwise(0)
            .alias("v")
        )
    )
    return votes.groupBy("doc_id").agg(
        F.sum(F.col("v").cast("long") * F.expr("shiftleft(1L, bit)")).alias("simhash16")
    )


# Shared by q_dedup_ngram_jaccard and q_dedup_jaccard_prefix: the two keys
# are contractually identical in output (asserted in tests), so they must
# share ONE oracle — duplicated SQL could drift independently.
_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents WHERE doc_id < 100
), sizes AS (
  SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       floor(i.n_shared / (sa.n + sb.n - i.n_shared) * 10000 + 0.5) / 10000 AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.n_shared / (sa.n + sb.n - i.n_shared) >= 0.5
"""


@query("q_dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def q_dedup_ngram_jaccard(spark, sf_dir):
    """Token-set Jaccard near-dup via the inverted-index (postings) self-join
    — shuffles on token, so the pair space is only materialized where overlap
    exists. doc_id<100 bounds the fixture's dense-vocabulary blowup; the
    UNBOUNDED scale path is q_dedup_ngram_jaccard_scaled (ppjoin prefix
    filtering, byte-identical semantics, hash-checked over the full table)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok"))
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    j = (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn(
            "jac",
            F.col("n_shared") / (F.col("sa.n") + F.col("sb.n") - F.col("n_shared")),
        )
    )
    return j.filter(F.col("jac") >= 0.5).select(
        "doc_a",
        "doc_b",
        # floor(x*1e4+0.5): jac is a small-int ratio (can hit exact
        # 4-decimal halves like k/32) — round() would flip vs DuckDB
        (F.floor(F.col("jac") * 10000 + F.lit(0.5)) / 10000).alias("jaccard"),
    )


@query(
    "q_dedup_semantic_cluster",
    oracle="""
WITH RECURSIVE v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), sims AS MATERIALIZED (
  SELECT a.vec_id AS a, b.vec_id AS b,
         list_cosine_similarity(a.v, b.v) AS sim
  FROM v a JOIN v b ON a.vec_id != b.vec_id
), sym AS (SELECT a, b FROM sims WHERE sim >= 0.2),
reach(a, b) AS (
  SELECT vec_id, vec_id FROM v
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS vec_id, min(b) AS cluster_id,
       (a = min(b)) AS is_canonical
FROM reach GROUP BY a
""",
)
def q_dedup_semantic_cluster(spark, sf_dir):
    """Semantic dedup endgame: near-dup PAIRS (cosine >= threshold, blocked
    cogrouped matmul — never O(n^2) rows) -> connected components via
    distributed min-label propagation -> one canonical doc per cluster
    (min vec_id). This is the full "dedup clusters, keep one" pipeline a
    pre-training corpus needs: pairs alone leave chains A~B~C unresolved,
    components make the keep/drop decision transitive. Every iteration is
    one shuffle-join + hash-agg on the label table (partitioned by id);
    only the convergence scalar reaches the driver. The oracle is the
    transitive-closure recursive CTE — tractable at fixture scale, while
    the label-prop form is the one that scales."""
    from wikidata2pg_spark.llm.similarity import (
        _blocked_cogroup,
        _cell_pairs_kernel,
        _derived_blocks,
    )
    from wikidata2pg_spark.operators.graph import min_label_components

    # same threshold-pairs kernel as q_sim_cosine_neardup (shared — the
    # ordered-pair guard and threshold comparison live in one place)
    nb = _derived_blocks(sf_dir)
    pairs = _blocked_cogroup(spark, sf_dir, nb, nb).applyInPandas(
        _cell_pairs_kernel(0.2, a_col="a", b_col="b", emit_sim=False),
        "a BIGINT, b BIGINT",
    )
    sym = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    # Materialize the pair set ONCE: every propagation round joins sym, and
    # without this each of the O(diameter) iterations would re-execute the
    # full blocked cosine matmul from lineage (k rounds = k matmuls).
    sym = truncate_plan(sym)
    # labels seed from ALL vectors — singletons are their own cluster.
    nodes = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id")
    )
    labels = min_label_components(nodes, sym, "q_dedup_semantic_cluster")
    return labels.select(
        F.col("id").alias("vec_id"),
        F.col("cluster").alias("cluster_id"),
        (F.col("id") == F.col("cluster")).alias("is_canonical"),
    )


def _jaccard_prefix_pairs(spark, sf_dir, docs, t: float = 0.5):
    """ppjoin core shared by the bounded and unbounded keys: EXACT Jaccard
    pairs (jac >= t) from a (doc_id, toks) frame via prefix filtering +
    full verification. See q_dedup_jaccard_prefix for the algorithm notes."""
    from pyspark.sql import Window

    from wikidata2pg_spark.util import SMALL_CORPUS_BROADCAST_MAX, fixture_bytes

    # carry the doc's token count through the explode — no separate sizes
    # build + doc_id join needed
    toks = docs.select("doc_id", F.size("toks").alias("n"), F.explode("toks").alias("tok"))
    df_tok = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    corpus_bytes = fixture_bytes(sf_dir, "documents")
    df_side = (
        F.broadcast(df_tok)
        if corpus_bytes and corpus_bytes <= SMALL_CORPUS_BROADCAST_MAX
        else df_tok
    )
    ordered = toks.join(df_side, "tok").withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "tok")),
    )
    # prefix length: n - ceil(t*n) + 1
    prefix = ordered.filter(
        F.col("pos") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
    ).select("doc_id", "tok")
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    verified = (
        cands.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn("n_shared", F.size(F.array_intersect("toks_a", "toks_b")))
        .withColumn(
            "jac",
            F.col("n_shared")
            / (F.size("toks_a") + F.size("toks_b") - F.col("n_shared")),
        )
        .filter(F.col("jac") >= t)
    )
    return verified.select(
        "doc_a",
        "doc_b",
        (F.floor(F.col("jac") * 10000 + F.lit(0.5)) / 10000).alias("jaccard"),
    )


@query("q_dedup_jaccard_prefix", oracle=_JACCARD_ORACLE)
def q_dedup_jaccard_prefix(spark, sf_dir):
    """EXACT Jaccard near-dup via PREFIX FILTERING (ppjoin) — the scale
    path for q_dedup_ngram_jaccard's postings join. Two sets with
    Jaccard >= t MUST share a token within each one's first
    n - ceil(t*n) + 1 tokens when both token lists are sorted by the same
    global order; ordering by document frequency (rarest first) means the
    join only ever touches RARE tokens — the hot-token postings blowup
    (stopword tokens producing quadratic pairs at 100 TB) is structurally
    eliminated, not capped. Candidates from the prefix join are then
    verified exactly with array_intersect over the full token arrays, so
    the output is identical to the naive form (same oracle SQL). All
    codegen'd built-ins; shuffles: df agg, token-vocab join (broadcast only
    under the same Heaps'-law size guard as tfidf — a 100 TB vocabulary
    falls back to a shuffle join), per-doc window, prefix join on (rare)
    tok, two doc_id verification joins.

    doc_id<100 here ONLY to share _JACCARD_ORACLE with the naive key (the
    byte-identity contract); q_dedup_ngram_jaccard_scaled runs the same
    core UNBOUNDED over the whole table."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    docs = d.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
    return _jaccard_prefix_pairs(spark, sf_dir, docs)


@query(
    "q_dedup_ngram_jaccard_scaled",
    oracle=_JACCARD_ORACLE.replace(" WHERE doc_id < 100", ""),
)
def q_dedup_ngram_jaccard_scaled(spark, sf_dir):
    """The UNBOUNDED exact-Jaccard key (VERDICT r4 task 5): the ppjoin
    prefix-filter core over the ENTIRE documents table — no doc_id bound
    on either side. The naive postings join needs the bound because the
    fixture's dense shared vocabulary makes candidate pairs quadratic;
    prefix filtering only joins on each doc's rarest tokens, so the full
    corpus is tractable here and at 100 TB. Oracle: the same naive SQL,
    unbounded — DuckDB verifies every pair the prefix join may NOT miss."""
    d = load(spark, sf_dir, "documents")
    docs = d.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
    return _jaccard_prefix_pairs(spark, sf_dir, docs)


@query(
    "q_dedup_url_canonical",
    oracle="""
WITH urls AS (
  SELECT c_custkey,
         'shop.example.com/' || lower(c_mktsegment) || '/p/'
             || (c_custkey % 100) || '?nation=' || c_nationkey AS canonical
  FROM customer
)
SELECT canonical,
       min(c_custkey)::BIGINT AS keep_custkey,
       count(*)::BIGINT AS n_variants
FROM urls
GROUP BY canonical
""",
)
def q_dedup_url_canonical(spark, sf_dir):
    """URL canonicalization + dedup — the first gate of a web-corpus
    pipeline: strip tracking parameters and fragments, normalize case,
    then keep one representative per canonical URL. The raw URLs carry a
    deterministic utm_source parameter and fragment on a subset of rows;
    canonical form = host + path + the single retained query param,
    rebuilt from parse_url components (pure JVM codegen). Dedup is one
    hash-shuffle on the canonical key with min-key keep — identical plan
    shape to q_dedup_exact. The oracle states the canonical form directly
    from the source columns, so the check also proves the parse/strip
    roundtrip drops exactly the tracking noise."""
    c = load(spark, sf_dir, "customer")
    raw = c.select(
        "c_custkey",
        F.concat(
            F.lit("https://shop.example.com/"),
            F.lower("c_mktsegment"),
            F.lit("/p/"),
            F.col("c_custkey") % 100,
            F.lit("?nation="),
            F.col("c_nationkey"),
            # deterministic tracking noise the canonicalizer must strip
            F.when(F.col("c_custkey") % 3 == 0, F.lit("&utm_source=mail")).otherwise(
                F.lit("")
            ),
            F.when(F.col("c_custkey") % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
        ).alias("url"),
    )
    canon = raw.select(
        "c_custkey",
        F.concat(
            F.parse_url("url", F.lit("HOST")),
            F.parse_url("url", F.lit("PATH")),
            F.lit("?nation="),
            F.parse_url("url", F.lit("QUERY"), F.lit("nation")),
        ).alias("canonical"),
    )
    return canon.groupBy("canonical").agg(
        F.min("c_custkey").cast("long").alias("keep_custkey"),
        F.count(F.lit(1)).cast("long").alias("n_variants"),
    )


@query(
    "q_dedup_incremental",
    oracle=f"""
WITH d AS (
  SELECT doc_id, sha256({canon_sql('text')}) AS digest FROM documents
), corpus AS (
  SELECT DISTINCT digest FROM d WHERE doc_id % 5 != 0
), batch AS (
  SELECT doc_id, digest FROM d WHERE doc_id % 5 = 0
), keepers AS (
  SELECT digest, min(doc_id) AS keeper FROM batch GROUP BY digest
)
SELECT b.doc_id,
       CASE WHEN c.digest IS NOT NULL THEN 'dup_corpus'
            WHEN b.doc_id != k.keeper THEN 'dup_batch'
            ELSE 'new' END AS status
FROM batch b
LEFT JOIN corpus c ON b.digest = c.digest
JOIN keepers k ON b.digest = k.digest
""",
)
def q_dedup_incremental(spark, sf_dir):
    """Incremental (batch-vs-corpus) exact dedup — the continuous-crawl
    shape: each new batch must be deduped BOTH against itself (keep-min
    within the batch) and against the already-ingested corpus, without
    re-deduping the corpus. Here the deterministic ``doc_id % 5`` split
    stands in for (corpus, new batch).

    Scale posture: the batch is small relative to the corpus, so the plan
    broadcasts BATCH digests into the corpus scan as a semi join — the
    corpus is read once, filtered down to only digests the batch actually
    contains (≤|batch| rows survive), and that tiny hit set is broadcast
    back for the final status join. The corpus side is never shuffled and
    no corpus-wide distinct is computed; at 100 TB the corpus digest scan
    is a column-pruned pass over a pre-materialized signature table, which
    is exactly what the first select models. Within-batch keep-min is one
    small hash agg."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(canon_text(F.col("text")), 256).alias("digest")
    )
    corpus = d.filter(F.col("doc_id") % 5 != 0).select("digest")
    batch = d.filter(F.col("doc_id") % 5 == 0)
    batch_digests = batch.select("digest").distinct()
    # corpus scan pruned by the broadcast batch digest set, then collapsed
    # to the distinct hit set (small by construction: subset of the batch)
    corpus_hits = (
        corpus.join(F.broadcast(batch_digests), "digest", "leftsemi")
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    keepers = batch.groupBy("digest").agg(F.min("doc_id").alias("keeper"))
    return (
        batch.join(F.broadcast(corpus_hits), "digest", "left")
        .join(F.broadcast(keepers), "digest")
        .select(
            "doc_id",
            F.when(F.col("in_corpus"), F.lit("dup_corpus"))
            .when(F.col("doc_id") != F.col("keeper"), F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


@query(
    "q_pipeline_neardup",
    oracle="""
WITH RECURSIVE toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), sizes AS (
  SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS s
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT i.a, i.b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.a
  JOIN sizes sb ON sb.doc_id = i.b
  WHERE i.s / (sa.n + sb.n - i.s) >= 0.95
), sym AS (
  SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
), reach(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT a AS doc_id, min(b) AS component, (a = min(b)) AS is_canonical
FROM reach GROUP BY a
""",
)
def q_pipeline_neardup(spark, sf_dir):
    """The composed near-duplicate dedup pipeline — candidate pairs ->
    transitive components -> one canonical doc per component — as ONE
    hash-certified operator (the fuzzy sibling of q_pipeline_pretraining's
    exact-digest stage, and the fineweb/C4-style fuzzy-dedup decision a
    pretraining corpus actually applies): pairwise near-dup relations are
    not transitive, so keep/drop must be decided per COMPONENT, not per
    pair. Stage 1 reuses the proven ppjoin prefix-filter core (exact
    Jaccard >= 0.95, unbounded — q_dedup_ngram_jaccard_scaled's kernel;
    0.95 because the fixture's dense shared vocabulary makes lower
    thresholds collapse everything into one component: measured 344
    components / 324 singletons / max 137 members at sf0.01). Stage 2 is
    distributed min-label propagation seeded from EVERY document
    (singletons stay their own component). Output (doc_id, component,
    is_canonical) is pure integers/booleans — no float hazard. The oracle
    recomputes candidates naively and the components via the
    transitive-closure recursive CTE, so the banded/filtered distributed
    form is checked against the mathematical definition end-to-end.

    100 TB posture: both stages are the proven scale paths — the prefix
    join only shuffles rare-token postings; propagation is one keyed
    join + agg per round on a checkpointed edge set, rounds bounded by
    component diameter (near-dup clusters are shallow)."""
    from wikidata2pg_spark.operators.graph import min_label_components

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    pairs = _jaccard_prefix_pairs(spark, sf_dir, docs, t=0.95).select("doc_a", "doc_b")
    sym = truncate_plan(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .distinct()
    )
    nodes = docs.select(F.col("doc_id").alias("id"))
    labels = min_label_components(nodes, sym, "q_pipeline_neardup")
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("cluster").alias("component"),
        (F.col("id") == F.col("cluster")).alias("is_canonical"),
    )


_CDC_B = 131  # polynomial base of the 16-gram rolling hash
_CDC_M = 1 << 20  # hash modulus
_CDC_W = 16  # window (minimum chunk granularity)
_CDC_MASK = 64  # boundary when hash % 64 == 0 -> ~64-char expected chunks
_CDC_POW = [pow(_CDC_B, _CDC_W - 1 - j, _CDC_M) for j in range(_CDC_W)]


def _cdc_sql() -> str:
    pow_sql = "[" + ",".join(str(p) for p in _CDC_POW) + "]"
    return f"""
WITH d AS (
  SELECT doc_id, text, length(text) AS L,
         list_transform(string_split(text, ''),
                        c -> CAST(ascii(c) AS BIGINT)) AS codes
  FROM documents
), h AS (
  SELECT doc_id, text, L,
         list_filter(range(1, L - {_CDC_W} + 2),
           i -> list_sum(list_transform(range(0, {_CDC_W}),
                  j -> codes[i + j] * ({pow_sql})[j + 1]))
                % {_CDC_M} % {_CDC_MASK} = 0) AS bpos
  FROM d WHERE L >= {_CDC_W}
), ends AS (
  SELECT doc_id, text,
         list_append(list_filter(list_transform(bpos, p -> p + {_CDC_W} - 1),
                                 e -> e < L), L) AS es
  FROM h
), ch AS (
  SELECT doc_id, text,
         unnest(list_transform(range(1, len(es) + 1),
           k -> {{'s': CASE WHEN k = 1 THEN 1 ELSE es[k - 1] + 1 END,
                 'e': es[k]}})) AS c
  FROM ends
), chunks AS (
  SELECT doc_id, md5(substr(text, c.s, c.e - c.s + 1)) AS chunk_md5,
         CAST(c.e - c.s + 1 AS BIGINT) AS chunk_len
  FROM ch
)
SELECT chunk_md5, any_value(chunk_len) AS chunk_len,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       min(doc_id) AS first_doc
FROM chunks
GROUP BY chunk_md5
HAVING count(DISTINCT doc_id) > 1
"""


@query("q_dedup_cdc_chunks", oracle=_cdc_sql())
def q_dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (the FastCDC/rsync family): a 16-char
    polynomial rolling hash over each document cuts a chunk wherever
    hash % 64 == 0, so chunk boundaries are a pure function of LOCAL
    content — insert a word at the front and, unlike fixed-size
    blocks, every later boundary stays put. The output is the
    cross-document duplicate-chunk report (chunk hash, length,
    occurrence/document counts): the byte-granular dedup signal that
    catches shared boilerplate exact-dedup misses and MinHash only
    scores, and the storage-dedup primitive. Exactness: the hash is
    pure integer modular arithmetic (codes * precomputed B^j mod 2^20,
    every term positive, far below 2^63), boundary positions are
    integer comparisons, chunk extraction is substring on agreed
    1-based offsets, and the report is exact counting on md5 keys —
    no floats anywhere. Plan: the whole chunker is per-row expression
    work (nested higher-order functions — zero Python, zero shuffle),
    then ONE map-side-combinable groupBy on chunk_md5; at 100 TB that
    single exchange moves (hash, len) pairs, not text."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.length("text").alias("L"),
        F.transform(
            F.split("text", ""), lambda c: F.ascii(c).cast("long")
        ).alias("codes"),
    ).filter(F.col("L") >= _CDC_W)
    powarr = F.array(*[F.lit(p) for p in _CDC_POW])
    gram = lambda i: F.aggregate(  # noqa: E731
        F.sequence(F.lit(0), F.lit(_CDC_W - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: acc
        + F.element_at(F.col("codes"), (i + j).cast("int"))
        * F.element_at(powarr, (j + 1).cast("int")),
    )
    bpos = F.filter(
        F.sequence(F.lit(1), F.col("L") - _CDC_W + 1),
        lambda i: (gram(i) % _CDC_M) % _CDC_MASK == 0,
    )
    ends = F.concat(
        F.filter(
            F.transform(bpos, lambda p: p + _CDC_W - 1),
            lambda e: e < F.col("L"),
        ),
        F.array(F.col("L").cast("int")),
    )
    h = d.select("doc_id", "text", ends.alias("es"))
    spans = F.transform(
        F.sequence(F.lit(1), F.size("es")),
        lambda k: F.struct(
            F.when(k == 1, F.lit(1))
            .otherwise(F.element_at(F.col("es"), (k - 1).cast("int")) + 1)
            .alias("s"),
            F.element_at(F.col("es"), k.cast("int")).alias("e"),
        ),
    )
    ch = h.select("doc_id", "text", F.explode(spans).alias("c"))
    chunks = ch.select(
        "doc_id",
        F.md5(
            F.col("text").substr(
                F.col("c.s"), F.col("c.e") - F.col("c.s") + F.lit(1)
            )
        ).alias("chunk_md5"),
        (F.col("c.e") - F.col("c.s") + 1).cast("long").alias("chunk_len"),
    )
    return (
        chunks.groupBy("chunk_md5")
        .agg(
            F.any_value("chunk_len").alias("chunk_len"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


_FID_K = 16  # md5-seeded minhash slots (engine-neutral, unlike xxhash64)
_FID_CAP = 64  # LSH bucket cap, same skew bound as q_dedup_minhash


@query(
    "q_dedup_minhash_fidelity",
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT doc_id, u.tok
  FROM documents, unnest(string_split(text, ' ')) AS u(tok)
), mh AS (
  SELECT doc_id,
         {", ".join(
            f"min(('0x' || substr(md5({i} || ':' || tok), 1, 15))::BIGINT)"
            f" AS mh{i}" for i in range(_FID_K)
         )},
         CAST(count(*) AS BIGINT) AS nt
  FROM toks GROUP BY doc_id
), banded AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {i} AS slot, mh{i} AS h FROM mh"
      for i in range(_FID_K)
  )}
), ok_buckets AS (
  SELECT slot, h FROM banded GROUP BY slot, h
  HAVING count(*) BETWEEN 2 AND {_FID_CAP}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN ok_buckets ob ON a.slot = ob.slot AND a.h = ob.h
       JOIN banded b ON b.slot = ob.slot AND b.h = ob.h
  WHERE a.doc_id < b.doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c JOIN toks ta ON ta.doc_id = c.doc_a
       JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       CAST({" + ".join(
           f"CASE WHEN a.mh{k} = b.mh{k} THEN 1 ELSE 0 END"
           for k in range(_FID_K)
       )} AS BIGINT) AS n_eq,
       i.n_inter,
       a.nt + b.nt - i.n_inter AS n_union,
       floor(CAST(i.n_inter AS DOUBLE) * 10000
             / (a.nt + b.nt - i.n_inter) + 0.5) / 10000 AS jaccard,
       abs(625 * CAST({" + ".join(
           f"CASE WHEN a.mh{k} = b.mh{k} THEN 1 ELSE 0 END"
           for k in range(_FID_K)
       )} AS BIGINT)
           - CAST(floor(CAST(i.n_inter AS DOUBLE) * 10000
                  / (a.nt + b.nt - i.n_inter) + 0.5) AS BIGINT))
         AS err_1e4
FROM inter i JOIN mh a ON a.doc_id = i.doc_a JOIN mh b ON b.doc_id = i.doc_b
""",
)
def q_dedup_minhash_fidelity(spark, sf_dir):
    """Sketch-fidelity audit for MinHash dedup: for every LSH candidate
    pair, the 16-slot signature-agreement estimate NEXT TO the exact
    token-set Jaccard, and their gap — the calibration run that tells
    you whether your banding threshold actually corresponds to the
    similarity you think it does (q_dedup_minhash ships the index;
    this key measures it — the same audit-the-sketch pattern as
    q_retrieval_recall_eval). Minhashes here use the module's
    engine-neutral md5-prefix recipe (xxhash64 has no DuckDB twin,
    which is exactly why q_dedup_minhash is rows-only — this key is
    the family's hash-verified fidelity witness). EVERYTHING is
    integer: slot minima, agreement counts, estimate in 1e-4 units
    (625 * n_eq since 10000/16 = 625), exact intersection/union, one
    floored Jaccard division, integer error. Buckets sized [2, CAP]
    bound skew exactly as the production key. Plan: one token shuffle
    builds signatures AND the exact intersection probe; candidates
    join on (slot, minhash) buckets — at 100 TB the audit rides the
    same exchanges as the dedup itself."""
    # array_distinct already dedups within the doc and doc_id is unique
    # per exploded row — a .distinct() here would add a full shuffle
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    )
    mh = toks.groupBy("doc_id").agg(
        *[
            F.min(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.lit(i), F.col("tok"))), 1, 15
                    ),
                    16,
                    10,
                ).cast("long")
            ).alias(f"mh{i}")
            for i in range(_FID_K)
        ],
        F.count(F.lit(1)).alias("nt"),
    )
    banded = mh.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"mh{i}") for i in range(_FID_K)])
        ).alias("slot", "h"),
    )
    ok = (
        banded.groupBy("slot", "h")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter((F.col("bn") >= 2) & (F.col("bn") <= _FID_CAP))
        .select("slot", "h")
    )
    inb = banded.join(ok, ["slot", "h"])
    cand = (
        inb.select("slot", "h", F.col("doc_id").alias("doc_a"))
        .join(inb.select("slot", "h", F.col("doc_id").alias("doc_b")), ["slot", "h"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ma = mh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("nt").alias("nt_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(_FID_K)],
    )
    mb = mh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("nt").alias("nt_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(_FID_K)],
    )
    j = inter.join(ma, "doc_a").join(mb, "doc_b")
    n_eq = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(_FID_K)
    ).cast("long")
    n_union = F.col("nt_a") + F.col("nt_b") - F.col("n_inter")
    jac_1e4 = F.floor(
        F.col("n_inter").cast("double") * 10000 / n_union + F.lit(0.5)
    ).cast("long")
    return j.select(
        "doc_a",
        "doc_b",
        n_eq.alias("n_eq"),
        "n_inter",
        n_union.alias("n_union"),
        (jac_1e4.cast("double") / 10000).alias("jaccard"),
        F.abs(625 * n_eq - jac_1e4).alias("err_1e4"),
    )
