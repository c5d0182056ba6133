"""Text-analysis operators (§2.12 L5-L8 + task-mandated language-ID,
quality scoring, token counting, fingerprinting).

Everything stays in built-in expressions (split/explode/higher-order/
regexp) — tokenization of 100 TB of text is exactly the workload where a
Python UDF would dominate the runtime; these all run inside whole-stage
codegen. Aggregations are hash-aggs on (doc_id|word) keys with map-side
combine.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from wikidata2pg_spark.llm.dedup import canon_sql, canon_text
from wikidata2pg_spark.registry import query
from wikidata2pg_spark.tables import load
from wikidata2pg_spark.util import truncate_plan

_STOPWORDS = ["the", "a"]
# the same list, rendered for the DuckDB oracles — extending _STOPWORDS
# must change BOTH engines or the langid/quality hash checks fail silently
_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


def _bigrams(text_col):
    """Aligned-slice zip bigrams over a whitespace tokenization — ONE
    expression shared by q_text_ngrams and q_text_repetition so the
    windowing (and its empty-text guard) cannot drift between the corpus
    counter and the repetition gate."""
    t = F.split(text_col, " ")
    return F.zip_with(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )


def _packed_offsets(df, order_col: str, nparts: int):
    """Two-pass distributed global prefix sum of ``n_toks`` in ``order_col``
    order: deterministic bucket ids (ordered_bucket — NEVER physical
    partition ids, the r5 nondeterminism incident), per-bucket running sum,
    plus a broadcast P-row prefix of bucket subtotals. Adds ``start_off``.
    ONE implementation shared by q_pack_sequences and
    q_pipeline_pretraining so the packing math cannot drift between the
    standalone key and the pipeline that claims to compose it.
    asc_nulls_last pairs with ordered_bucket's NULL-to-last-bucket
    routing (callers order by non-null doc ids today; enforced anyway
    per the helper contract — r7 /code-review catch)."""
    from pyspark.sql import Window

    from wikidata2pg_spark.operators.windows import ordered_bucket

    parts = ordered_bucket(df, order_col, nparts)
    within = Window.partitionBy("pid").orderBy(
        F.col(order_col).asc_nulls_last()
    ).rowsBetween(Window.unboundedPreceding, 0)
    psums = parts.groupBy("pid").agg(F.sum("n_toks").alias("psum"))
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = psums.select(
        "pid", F.coalesce(F.sum("psum").over(woff), F.lit(0)).alias("poff")
    )
    return (
        parts.withColumn("cum_in_part", F.sum("n_toks").over(within))
        .join(F.broadcast(offs), "pid")
        .withColumn("start_off", F.col("poff") + F.col("cum_in_part") - F.col("n_toks"))
    )


@query(
    "q_text_tokens_wordcount",
    oracle="""
SELECT u.word AS word, count(*) AS cnt
FROM documents, unnest(string_split(text, ' ')) AS u(word)
GROUP BY u.word
""",
)
def q_text_tokens_wordcount(spark, sf_dir):
    """L5: tokenize + corpus word count."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "q_text_tfidf",
    oracle="""
WITH tf AS (
  SELECT doc_id, u.word AS word, count(*) AS tf
  FROM documents, unnest(string_split(text, ' ')) AS u(word)
  GROUP BY doc_id, u.word
), df AS (
  SELECT word, count(*) AS df FROM tf GROUP BY word
), n AS (SELECT count(*) AS n FROM documents)
SELECT tf.doc_id, tf.word, tf.tf,
       round(tf.tf * ln(n.n / df.df), 4) AS tfidf
FROM tf, df, n
WHERE tf.word = df.word
""",
)
def q_text_tfidf(spark, sf_dir):
    """L6: exact TF-IDF per (doc, word) — hash-checkable, unlike the
    hashed-feature ML variant. Two size-guarded physical forms (the same
    corpus-bytes guard, Heaps'-law proxy for vocab size):

    * small corpus: tf once, df via a word-partitioned window COUNT over
      the tf rows — ONE aggregation of the exploded tokens. The join form
      executes that aggregation twice (the broadcast-df lineage recomputes
      it; verified r5 — no ReusedExchange under AQE on or off, measured
      0.63s vs 0.52s at sf0.1). Per-word window partitions are bounded by
      df(word) <= N_docs, tractable at small-corpus sizes.
    * large corpus: tf ⋈ df word-keyed shuffle join (AQE-planned) — a
      stopword's window partition would be billions of rows in one task at
      100 TB, while the shuffle join stays fully parallel; recomputing tf
      is the right trade there (VERDICT r3 #8's fallback, flipped: the
      join IS the fallback's scale path).

    The corpus size N enters as a broadcast 1-row aggregate (no eager
    ``d.count()`` driver action — one job instead of two, VERDICT r1 #7)."""
    from pyspark.sql import Window

    from wikidata2pg_spark.util import SMALL_CORPUS_BROADCAST_MAX, fixture_bytes

    d = load(spark, sf_dir, "documents")
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    from wikidata2pg_spark.tables import spread_if_few_splits

    # Tokenize (split+explode) is the CPU cost and runs inside the scan
    # task; on a single-file corpus that is ONE task. Spread it across a
    # shuffle first — measured 0.57s -> 0.37s at sf0.1. Multi-split
    # inputs skip the exchange (see spread_if_few_splits).
    tok_src = spread_if_few_splits(d.select("doc_id", "text"), sf_dir, "documents")
    tf = (
        tok_src.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    corpus_bytes = fixture_bytes(sf_dir, "documents")
    if corpus_bytes and corpus_bytes <= SMALL_CORPUS_BROADCAST_MAX:
        with_df = tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("word"))
        )
    else:
        df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
        with_df = tf.join(df, "word")
    return with_df.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "word",
        "tf",
        F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4).alias("tfidf"),
    )


@query(
    "q_text_ngrams",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
SELECT t[p.i + 1] || ' ' || t[p.i + 2] AS bigram, count(*) AS cnt
FROM toks, LATERAL (SELECT unnest(range(len(t) - 1)) ) p(i)
GROUP BY 1
""",
)
def q_text_ngrams(spark, sf_dir):
    """L7: bigram generation via aligned-slice zip (no UDF) + corpus count."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(_bigrams("text")).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "q_text_lang_stats",
    oracle="""
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       floor(avg(n_chars) * 100 + 0.5) / 100 AS avg_chars,
       count(DISTINCT sha256(text)) AS n_distinct_texts
FROM documents
GROUP BY lang, source
""",
)
def q_text_lang_stats(spark, sf_dir):
    """L8: per-(lang, source) corpus stats incl. distinct-text (dup-rate)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.floor(F.avg("n_chars") * 100 + F.lit(0.5)) / 100).alias("avg_chars"),
        F.countDistinct(F.sha2("text", 256)).alias("n_distinct_texts"),
    )


@query(
    "q_text_langid",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(toks, x -> x IN ({_STOPWORDS_SQL}))) AS BIGINT) AS n_stop,
       CAST(len(toks) AS BIGINT) AS n_toks,
       CASE WHEN len(list_filter(toks, x -> x IN ({_STOPWORDS_SQL}))) * 1.0 / len(toks) > 0.05
            THEN 'en' ELSE 'und' END AS lang_guess
FROM t
""",
)
def q_text_langid(spark, sf_dir):
    """Language-ID heuristic: stopword-marker density (the real thing swaps
    in per-language n-gram profiles; the Spark plumbing — filter/ratio/
    threshold over token arrays — is identical)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(_STOPWORDS)))
    return d.select(
        "doc_id",
        n_stop.cast("long").alias("n_stop"),
        F.size(toks).cast("long").alias("n_toks"),
        F.when(n_stop * 1.0 / F.size(toks) > 0.05, "en").otherwise("und").alias("lang_guess"),
    )


@query(
    "q_text_quality",
    oracle=f"""
WITH t AS (
  SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_toks,
       floor(list_aggregate(list_transform(toks, x -> length(x)), 'sum') * 1.0 / len(toks) * 10000 + 0.5) / 10000 AS avg_tok_len,
       floor(len(list_distinct(toks)) * 1.0 / len(toks) * 10000 + 0.5) / 10000 AS type_token_ratio,
       floor(len(list_filter(toks, x -> x IN ({_STOPWORDS_SQL}))) * 1.0 / len(toks) * 10000 + 0.5) / 10000 AS stopword_ratio,
       len(toks) BETWEEN 10 AND 1000
         AND len(list_distinct(toks)) * 1.0 / len(toks) > 0.2 AS passes_quality
FROM t
""",
)
def q_text_quality(spark, sf_dir):
    """Quality scoring: length bounds, lexical diversity (type/token),
    stopword ratio — the standard pre-training corpus filters."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) * 1.0 / n
    return d.select(
        "doc_id",
        n.cast("long").alias("n_toks"),
        # floor(x*1e4+0.5), not round(,4): these are ratios of small ints
        # (n_toks <= ~1000) which CAN land on exact 4-decimal halves
        # (sum/32 = x.03125) where the engines' half rules disagree
        (
            F.floor(
                F.aggregate(F.transform(toks, lambda x: F.length(x).cast("long")), F.lit(0).cast("long"), lambda a, x: a + x)
                * 1.0 / n * 10000 + F.lit(0.5)
            ) / 10000
        ).alias("avg_tok_len"),
        (F.floor(ttr * 10000 + F.lit(0.5)) / 10000).alias("type_token_ratio"),
        (
            F.floor(F.size(F.filter(toks, lambda x: x.isin(_STOPWORDS))) * 1.0 / n * 10000 + F.lit(0.5)) / 10000
        ).alias("stopword_ratio"),
        (n.between(10, 1000) & (ttr > 0.2)).alias("passes_quality"),
    )


@query(
    "q_text_tokencount",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_split_to_array(text, '[^a-z0-9]+')) AS BIGINT) AS bpe_ish_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_actual,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_llm_tokens
FROM documents
""",
)
def q_text_tokencount(spark, sf_dir):
    """Token counting: whitespace split, BPE-ish regex split, and the
    chars/4 LLM-token approximation."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.size(F.split("text", "[^a-z0-9]+")).cast("long").alias("bpe_ish_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.ceil(F.length("text") / 4.0).alias("approx_llm_tokens"),
    )


@query(
    "q_text_fingerprint",
    oracle="""
WITH toks AS (
  SELECT doc_id, p.i AS pos, t[p.i + 1] AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       LATERAL (SELECT unnest(range(len(t))) ) p(i)
)
SELECT doc_id,
       CAST(sum((('0x' || substr(md5(tok), 1, 15))::BIGINT % 1000000007) * (pos + 1) % 1000000007)
         % 1000000007 AS BIGINT) AS fingerprint
FROM toks GROUP BY doc_id
""",
)
def q_text_fingerprint(spark, sf_dir):
    """Document fingerprint: position-weighted hash Σ (h(tok) mod M)·(pos+1)
    mod M — order-sensitive (unlike a bag-of-words hash), pure integer math
    so it is engine-exact, and computable as one hash-agg at any scale."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    m = F.lit(1000000007).cast("long")
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long") % m
    return toks.groupBy("doc_id").agg(
        (F.sum((h * (F.col("pos") + 1)) % m) % m).alias("fingerprint")
    )


@query(
    "q_corpus_clean",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents
), q AS (
  SELECT doc_id, lang, text, len(toks) AS n_toks
  FROM t
  WHERE len(toks) BETWEEN 10 AND 1000
    AND len(list_distinct(toks)) * 1.0 / len(toks) > 0.2
), d AS (
  SELECT doc_id, lang, n_toks,
         row_number() OVER (PARTITION BY sha256({canon_sql('text')})
                            ORDER BY doc_id) AS rn
  FROM q
)
SELECT doc_id, lang, CAST(n_toks AS BIGINT) AS n_toks
FROM d WHERE rn = 1
""",
)
def q_corpus_clean(spark, sf_dir):
    """Pipeline-composition extra (r2): the canonical pre-training corpus
    clean — quality gate (length bounds + lexical diversity), then exact
    dedup keeping the lowest doc_id per normalized digest. One narrow pass
    then one digest-keyed window; a near-dup stage (L2 minhash pairs →
    anti-join) plugs in between without changing the shape. Everything is
    built-in expressions; the digest window shuffles once on the digest."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) * 1.0 / n
    q = d.filter(n.between(10, 1000) & (ttr > 0.2)).select(
        "doc_id", "lang", "text", n.cast("long").alias("n_toks")
    )
    w = Window.partitionBy(F.sha2(canon_text(F.col("text")), 256)).orderBy("doc_id")
    return (
        q.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_toks")
    )


@query(
    "q_text_pii_scrub",
    oracle="""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' contact user' || doc_id || '@example.com now'
              WHEN doc_id % 7 = 0
              THEN text || ' call 555-867-5309 today'
              ELSE text END AS t
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                        '<EMAIL>', 'g'),
         '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(
         t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(t, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS BIGINT)
         AS n_phones
FROM injected
""",
)
def q_text_pii_scrub(spark, sf_dir):
    """PII redaction — the compliance gate every training-data pipeline runs
    before anything else. The fixture corpus carries no PII, so deterministic
    addresses/phones are injected first (keyed on doc_id — both sides inject
    identically), then scrubbed with email/phone patterns chosen from the
    Java-regex/RE2 common subset so Spark and DuckDB match byte-for-byte.
    Pure codegen expressions (regexp_replace / regexp_extract_all) — a
    linear scan, no shuffle, embarrassingly parallel at any scale."""
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\b\d{3}-\d{3}-\d{4}\b"
    d = load(spark, sf_dir, "documents")
    t = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" contact user"), F.col("doc_id"),
                     F.lit("@example.com now")),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" call 555-867-5309 today")),
        )
        .otherwise(F.col("text"))
    )
    inj = d.select("doc_id", t.alias("t"))
    return inj.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("t"), email_re, "<EMAIL>"),
            phone_re,
            "<PHONE>",
        ).alias("clean_text"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(email_re), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t"), F.lit(phone_re), 0)).cast("long").alias("n_phones"),
    )


@query(
    "q_text_chunk",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (
  SELECT doc_id, f.i AS chunk_idx,
         list_slice(toks, f.i * 24 + 1, f.i * 24 + 32) AS chunk
  FROM t, LATERAL (SELECT unnest(range((len(toks) + 23) // 24))) f(i)
)
SELECT doc_id, chunk_idx,
       CAST(len(chunk) AS BIGINT) AS n_chunk_toks,
       array_to_string(chunk, ' ') AS chunk_text
FROM c
""",
)
def q_text_chunk(spark, sf_dir):
    """Document chunking — fixed 32-token windows with stride 24 (8-token
    overlap), the step that turns a raw corpus into context-window-sized
    training samples. The 1→N expansion is explode over a computed index
    sequence + slice: all codegen'd built-ins, no UDF, and the expansion
    happens inside the scan task (no shuffle), so 100 TB chunks exactly as
    fast as it scans."""
    W, S = 32, 24
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_chunks = F.floor((F.size(toks) + F.lit(S - 1)) / F.lit(S)).cast("int")
    d2 = d.select("doc_id", toks.alias("toks"), n_chunks.alias("nc"))
    d3 = d2.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("chunk_idx"),
    )
    chunk = F.slice(F.col("toks"), F.col("chunk_idx") * S + 1, W)
    return d3.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_chunk_toks"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


@query(
    "q_text_decontaminate",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(greatest(len(toks) - 7, 0)),
                       i -> array_to_string(list_slice(toks, i + 1, i + 8), ' ')))
           AS gs
  FROM t
),
doc_grams AS (SELECT doc_id, g.gram FROM grams, unnest(gs) AS g(gram)),
bench_grams AS (
  SELECT DISTINCT gram FROM doc_grams WHERE doc_id % 97 = 0
)
SELECT d.doc_id,
       count(b.gram) AS n_shared_grams,
       count(b.gram) > 0 AS is_contaminated
FROM doc_grams d LEFT JOIN bench_grams b ON d.gram = b.gram
WHERE d.doc_id % 97 != 0
GROUP BY d.doc_id
""",
)
def q_text_decontaminate(spark, sf_dir):
    """Benchmark decontamination — flag training docs sharing any 8-gram
    with a held-out evaluation set (here: the deterministic doc_id%97
    pseudo-benchmark; in production the real benchmark suite). The
    benchmark's distinct 8-grams BROADCAST (eval sets are tiny next to the
    corpus), so the overlap check is a map-side join against the full
    corpus's gram stream — no shuffle of corpus data, the only shuffle is
    the per-doc count. This is the standard n-gram-overlap decontamination
    of C4/GPT-3-style pipelines."""
    d = load(spark, sf_dir, "documents")
    base = d.select("doc_id", F.split("text", " ").alias("toks"))
    tk = F.col("toks")
    grams = F.when(
        F.size(tk) >= 8,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(tk) - 8),
                lambda i: F.array_join(F.slice(tk, i + 1, 8), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    doc_grams = base.select("doc_id", F.explode(grams).alias("gram"))
    bench = (
        doc_grams.filter(F.col("doc_id") % 97 == 0)
        .select("gram")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        doc_grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("_hit").alias("n_shared_grams"),
            (F.count("_hit") > 0).alias("is_contaminated"),
        )
    )


@query(
    "q_text_repetition",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bi AS (
  SELECT doc_id, t[p.i + 1] || ' ' || t[p.i + 2] AS bigram
  FROM toks, LATERAL (SELECT unnest(range(len(t) - 1))) p(i)
),
freq AS (
  SELECT doc_id, bigram, count(*) AS cnt FROM bi GROUP BY doc_id, bigram
)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       CAST(max(cnt) AS BIGINT) AS top_bigram_cnt,
       floor(max(cnt) * 1.0 / sum(cnt) * 10000 + 0.5) / 10000 AS top_bigram_share,
       max(cnt) * 1.0 / sum(cnt) < 0.2 AS passes_repetition
FROM freq GROUP BY doc_id
""",
)
def q_text_repetition(spark, sf_dir):
    """Intra-document repetition filter (Gopher-style): share of the most
    frequent bigram — boilerplate/spam pages repeat the same phrases and
    fail the gate. One hash-agg on (doc, bigram) with map-side combine,
    then a per-doc agg: two shuffles on keys that can't hot-spot (doc_id
    is unique). Threshold 0.2 mirrors published repetition gates."""
    d = load(spark, sf_dir, "documents")
    freq = (
        d.select("doc_id", F.explode(_bigrams("text")).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    share = F.max("cnt") * F.lit(1.0) / F.sum("cnt")
    # floor(x*1e4+0.5), not round(,4): the share is a ratio of small ints
    # and CAN land exactly on a 4-decimal half (1/32 = 0.03125), where
    # Spark HALF_UP and DuckDB half-to-even disagree (verify-skill rule)
    return freq.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_bigrams"),
        F.max("cnt").cast("long").alias("top_bigram_cnt"),
        (F.floor(share * 10000 + F.lit(0.5)) / 10000).alias("top_bigram_share"),
        (share < 0.2).alias("passes_repetition"),
    )


@query(
    "q_pack_sequences",
    oracle="""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents
), c AS (
  SELECT doc_id, n_toks,
         sum(n_toks) OVER (ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_toks AS start_off
  FROM t
)
SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
       CAST(start_off AS BIGINT) AS start_off,
       CAST(start_off // 512 AS BIGINT) AS first_window,
       CAST((start_off + n_toks - 1) // 512 AS BIGINT) AS last_window,
       (start_off // 512) != ((start_off + n_toks - 1) // 512) AS straddles
FROM c
""",
)
def q_pack_sequences(spark, sf_dir):
    """Sequence packing — concatenate the corpus in a deterministic order
    and split at fixed context-window boundaries (512 tokens here): the
    GPT-style pretraining batch-prep step. Each doc gets its global token
    offset, its first/last window ids, and a straddle flag (docs crossing
    a boundary get split across samples).

    The global running sum is computed the way it must be at 100 TB — the
    TWO-PASS distributed prefix sum, not `Window.orderBy(...)` over one
    partition (which funnels the entire corpus through a single task):
    range-partition by doc_id, cumsum WITHIN each partition, then add a
    broadcast prefix of per-partition subtotals (a P-row aggregate). Sum
    is associative and doc_id is range-ordered across partitions, so the
    result is exactly the naive global cumsum at any partition count
    (covered by the partition-invariance gate)."""
    CAP = 512
    NPARTS = 8
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(F.split("text", " ")).alias("n_toks"))
    c = _packed_offsets(t, "doc_id", NPARTS)
    first = F.floor(F.col("start_off") / CAP)
    last = F.floor((F.col("start_off") + F.col("n_toks") - 1) / CAP)
    return c.select(
        "doc_id",
        F.col("n_toks").cast("long").alias("n_toks"),
        F.col("start_off").cast("long").alias("start_off"),
        first.alias("first_window"),
        last.alias("last_window"),
        (first != last).alias("straddles"),
    )


@query(
    "q_pipeline_pretraining",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents
), q AS (
  SELECT doc_id, lang, text, toks, len(toks) AS n_toks
  FROM t
  WHERE len(toks) BETWEEN 10 AND 1000
    AND len(list_distinct(toks)) * 1.0 / len(toks) > 0.2
), s AS (
  SELECT doc_id, lang, toks, n_toks,
         row_number() OVER (PARTITION BY sha256({canon_sql('text')})
                            ORDER BY doc_id) AS rn
  FROM q
), survivors AS (
  SELECT doc_id, lang, toks, n_toks FROM s WHERE rn = 1
), allgrams AS (
  SELECT doc_id,
         list_distinct(list_transform(range(greatest(len(toks) - 7, 0)),
                       i -> array_to_string(list_slice(toks, i + 1, i + 8), ' ')))
           AS gs
  FROM t
), bench AS (
  SELECT DISTINCT g.gram FROM allgrams, unnest(gs) AS g(gram)
  WHERE allgrams.doc_id % 97 = 0
), survgrams AS (
  SELECT sv.doc_id, g.gram
  FROM (SELECT doc_id,
               list_distinct(list_transform(range(greatest(len(toks) - 7, 0)),
                             i -> array_to_string(list_slice(toks, i + 1, i + 8), ' ')))
                 AS gs
        FROM survivors) sv, unnest(gs) AS g(gram)
), contaminated AS (
  SELECT DISTINCT sg.doc_id FROM survgrams sg JOIN bench b ON sg.gram = b.gram
), clean AS (
  SELECT doc_id, lang, n_toks FROM survivors
  WHERE doc_id % 97 != 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
), c AS (
  SELECT doc_id, lang, n_toks,
         sum(n_toks) OVER (ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n_toks AS start_off
  FROM clean
)
SELECT doc_id, lang, CAST(n_toks AS BIGINT) AS n_toks,
       CAST(start_off AS BIGINT) AS start_off,
       CAST(start_off // 512 AS BIGINT) AS first_window,
       CAST((start_off + n_toks - 1) // 512 AS BIGINT) AS last_window
FROM c
""",
)
def q_pipeline_pretraining(spark, sf_dir):
    """The full pretraining data pipeline as ONE declarative plan —
    quality gate → exact dedup → benchmark decontamination → sequence
    packing, i.e. the composition of q_corpus_clean, q_text_decontaminate
    and q_pack_sequences into the end-to-end flow a user actually runs.
    Every stage keeps its individual scale shape (narrow quality scan;
    one digest-keyed shuffle; broadcast benchmark grams so the corpus
    never shuffles for the overlap check; two-pass distributed prefix
    sum), and Catalyst pipelines them — no materialization boundaries
    between stages. The oracle is the same composition as chained CTEs,
    so the hash check certifies the WHOLE pipeline, not just its parts."""
    from pyspark.sql import Window

    CAP = 512
    NPARTS = 8
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    ttr = F.size(F.array_distinct(toks)) * 1.0 / n
    q = d.filter(n.between(10, 1000) & (ttr > 0.2)).select(
        "doc_id", "lang", "text", toks.alias("toks"), n.cast("long").alias("n_toks")
    )
    w = Window.partitionBy(F.sha2(canon_text(F.col("text")), 256)).orderBy(
        "doc_id"
    )
    survivors = (
        q.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "toks", "n_toks")
    )

    def _grams(df):
        tk = F.col("toks")
        gs = F.when(
            F.size(tk) >= 8,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(tk) - 8),
                    lambda i: F.array_join(F.slice(tk, i + 1, 8), " "),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
        return df.select("doc_id", F.explode(gs).alias("gram"))

    bench = (
        _grams(d.select("doc_id", toks.alias("toks")))
        .filter(F.col("doc_id") % 97 == 0)
        .select("gram")
        .distinct()
    )
    contaminated = (
        _grams(survivors)
        .join(F.broadcast(bench), "gram")
        .select("doc_id")
        .distinct()
    )
    clean = survivors.filter(F.col("doc_id") % 97 != 0).join(
        contaminated, "doc_id", "left_anti"
    )

    c = _packed_offsets(clean, "doc_id", NPARTS)
    first = F.floor(F.col("start_off") / CAP)
    last = F.floor((F.col("start_off") + F.col("n_toks") - 1) / CAP)
    return c.select(
        "doc_id",
        "lang",
        F.col("n_toks").cast("long").alias("n_toks"),
        F.col("start_off").cast("long").alias("start_off"),
        first.alias("first_window"),
        last.alias("last_window"),
    )


@query(
    "q_text_line_dedup",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents
), lines AS (
  SELECT doc_id, i AS line_no,
         array_to_string(list_slice(words, i * 10 + 1, i * 10 + 10), ' ') AS line
  FROM w, (SELECT unnest(range(0, 256)) AS i) g  -- cap >> max fixture doc (~40 words); Spark side uncapped
  WHERE i * 10 < len(words)
), ranked AS (
  SELECT doc_id, line_no, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
  FROM lines
)
SELECT doc_id, string_agg(line, ' ' ORDER BY line_no) AS cleaned_text,
       count(*) AS n_lines_kept
FROM ranked WHERE rn = 1
GROUP BY doc_id
""",
)
def q_text_line_dedup(spark, sf_dir):
    """Cross-document line-level exact dedup (the C4 cleaning step: every
    repeated line survives only in its first document) — here a "line" is
    a fixed 10-word chunk since the fixture text has no newlines; the
    chunking is the same in both engines so the semantics under test are
    the global first-occurrence keep and per-doc reassembly.

    Scale posture: exactly two keyed shuffles — one on the line text (the
    global dedup; map-side nothing to combine, but the key space is the
    line space so skew equals true line popularity, which is precisely the
    thing being removed), one back on doc_id for reassembly. Line order is
    restored via array_sort over (line_no, line) structs, not a window.
    Docs whose every line was claimed elsewhere drop out (no empty-string
    rows), matching the SQL group-by."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.trim(F.col("text")), " ")
    n_lines = F.floor((F.size(words) - F.lit(1)) / F.lit(10)).cast("int")
    lines = (
        d.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_lines),
                    lambda i: F.array_join(F.slice(words, i * 10 + 1, 10), " "),
                )
            ).alias("line_no", "line"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("line").orderBy("doc_id", "line_no")
    kept = lines.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("line_no", "line"))).alias("ls"),
            F.count(F.lit(1)).alias("n_lines_kept"),
        )
        .select(
            "doc_id",
            F.array_join(F.transform(F.col("ls"), lambda s: s["line"]), " ").alias(
                "cleaned_text"
            ),
            "n_lines_kept",
        )
    )


@query(
    "q_text_bm25",
    oracle="""
WITH dl AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
), st AS (
  SELECT count(*) AS n, sum(dl) AS sdl FROM dl
), toks AS (
  SELECT doc_id, u.word AS word
  FROM documents, unnest(string_split(text, ' ')) AS u(word)
), tf AS (
  SELECT doc_id, word, count(*) AS tf FROM toks
  WHERE word IN ('table', 'join', 'query')
  GROUP BY doc_id, word
), df AS (
  SELECT word, count(*) AS df FROM tf GROUP BY word
)
SELECT tf.doc_id,
       round(sum(
         ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * tf.tf * 2.2
         / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (st.sdl / st.n)))
       ), 4) AS bm25
FROM tf
JOIN dl ON tf.doc_id = dl.doc_id
JOIN df ON tf.word = df.word
CROSS JOIN st
GROUP BY tf.doc_id
""",
)
def q_text_bm25(spark, sf_dir):
    """BM25 relevance scoring (k1=1.2, b=0.75) for a fixed query term set
    — the ranking function behind Lucene/Elasticsearch and the retrieval
    half of every RAG corpus build, upgraded from q_text_search's raw-tf
    scoring. Scores every document containing >=1 query term; ordering is
    left to the caller (ranking by a rounded double would hash a
    tie-order, FIXTURES rule 2).

    Plan shape at 100 TB: the term filter pushes into the postings build
    (only matching (doc, term) rows shuffle), doc lengths are a narrow
    per-doc projection joined on doc_id, and the df table and the 1-row
    corpus stats (N, sum dl) are broadcast; no all-docs shuffle. The
    dl/stats/tf branches each rescan the column-pruned documents
    projection (Catalyst does not share scans across sibling aggregates);
    a real corpus build amortizes that by materializing the tokenized
    projection once — the length/stats pass is cheap relative to the
    postings pass either way.

    Cross-engine determinism: tf/df/N/dl are exact integers, avgdl is
    bigint/bigint (double division in BOTH engines), and the floating
    expression trees are shaped identically, left-associated so every
    multiply has a double operand first — DuckDB parses bare `2.2` as
    DECIMAL(2,1), and an int*decimal product would round differently than
    Spark's int*double. The 3-term sum then rounds at 4 decimals (ulp-
    noise site, FIXTURES rule 1 — the q_text_tfidf precedent)."""
    TERMS = ["table", "join", "query"]
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    dl = d.select("doc_id", F.size("toks").alias("dl"))
    st = dl.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl"))
    tf = (
        d.select("doc_id", F.explode("toks").alias("word"))
        .filter(F.col("word").isin(TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfr = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    joined = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfr), "word")
        .crossJoin(F.broadcast(st))
    )
    avgdl = F.col("sdl") / F.col("n")
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    term = (
        idf
        * F.col("tf")
        * 2.2
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / avgdl))
    )
    return joined.groupBy("doc_id").agg(F.round(F.sum(term), 4).alias("bm25"))


@query(
    "q_text_dupspans",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), s AS (
  SELECT doc_id, array_to_string(t[u.i + 1:u.i + 8], ' ') AS sh
  FROM t, LATERAL (SELECT unnest(range(len(t) - 7))) u(i)
  WHERE len(t) >= 8
), g AS (
  SELECT sh FROM s GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
)
SELECT s.doc_id, count(*) AS n_spans,
       count(g.sh) AS n_dup_spans,
       floor(CAST(count(g.sh) AS DOUBLE) * 10000 / count(*) + 0.5) / 10000
         AS dup_ratio
FROM s LEFT JOIN g ON s.sh = g.sh
GROUP BY s.doc_id
""",
)
def q_text_dupspans(spark, sf_dir):
    """Exact duplicated-span detection — the substring-level dedup signal
    (which exact-substring training-data dedup keys on, as opposed to the
    whole-doc similarity of minhash/simhash): shingle every document into
    8-token windows, find shingles appearing in >= 2 distinct documents,
    and score each doc by its fraction of cross-document spans. Map-side
    shingling (transform over token positions — no self-join), one
    shuffle on the shingle to build the shared set, one shuffle back to
    the doc rollup. The shingle STRING is the join key so both engines
    agree exactly; at 100 TB you would key on a 128-bit shingle hash
    instead to shuffle fixed-width keys (same plan shape). Docs shorter
    than 8 tokens have no spans and are excluded on both sides.
    dup_ratio is an int ratio -> floor pattern with the single-division
    op order."""
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("t")).filter(F.size("t") >= 8)
    s = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 8),"
                " i -> array_join(slice(t, i + 1, 8), ' '))"
            )
        ).alias("sh"),
    )
    g = (
        s.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh", F.lit(1).alias("dup"))
    )
    j = s.join(g, "sh", "left")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.count("dup").alias("n_dup_spans"),
        (
            F.floor(
                F.count("dup").cast("double") * 10000 / F.count(F.lit(1)) + F.lit(0.5)
            )
            / 10000
        ).alias("dup_ratio"),
    )


@query(
    "q_text_lm_score",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), freq AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), total AS (
  SELECT count(*) AS t FROM toks
)
SELECT toks.doc_id,
       count(*) AS n_toks,
       round(sum(-ln(CAST(freq.c AS DOUBLE) / (SELECT t FROM total)))
             / count(*), 2) AS avg_nll
FROM toks JOIN freq USING (tok)
GROUP BY toks.doc_id
""",
)
def q_text_lm_score(spark, sf_dir):
    """Unigram language-model quality score — each document's average
    negative log-likelihood under the corpus's own unigram distribution
    (the CCNet-style 'perplexity proxy': documents full of rare tokens
    score high, formulaic ones low; the standard cheap filter before an
    expensive LM pass). Two corpus aggregates (token freqs + total) and
    one join back to the token stream — freqs follow Heaps' law so the
    frequency table broadcasts at any corpus size; Spark's plan is scan
    -> explode -> broadcast join -> per-doc agg with no fact shuffle
    except the doc rollup. p = c/T is an int ratio (identical doubles);
    ln is transcendental so the per-doc mean rides on ulp noise only —
    round(,2) per FIXTURES rule 1."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = toks.agg(F.count(F.lit(1)).alias("t"))
    j = toks.join(F.broadcast(freq), "tok").crossJoin(F.broadcast(total))
    nll = -F.log(F.col("c").cast("double") / F.col("t"))
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.round(F.sum(nll) / F.count(F.lit(1)), 2).alias("avg_nll"),
    )


@query(
    "q_text_lexical_diversity",
    oracle="""
WITH tf AS (
  SELECT doc_id, u.word AS word, count(*) AS n
  FROM documents, unnest(string_split(text, ' ')) AS u(word)
  GROUP BY doc_id, u.word
)
SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(count(*) FILTER (WHERE n = 1) AS BIGINT) AS n_hapax,
       floor(CAST(count(*) AS DOUBLE) * 1000000 / sum(n) + 0.5) / 1000000
         AS ttr,
       floor(CAST(count(*) FILTER (WHERE n = 1) AS DOUBLE) * 1000000 / sum(n)
             + 0.5) / 1000000 AS hapax_share
FROM tf GROUP BY doc_id
""",
)
def q_text_lexical_diversity(spark, sf_dir):
    """Lexical diversity per document: type-token ratio (distinct words
    over total words) and hapax-legomenon share (words occurring once)
    — the corpus-linguistics quality signals that flag boilerplate
    (low TTR) and OCR noise (high hapax share) in pretraining data,
    complementing q_text_quality's surface ratios. Same whitespace
    tokenizer as every other text key. Two keyed shuffles —
    (doc_id, word) term frequencies, then the per-doc rollup — both
    partial-aggregable; ratios are exact-integer counts under the
    single-division floor pattern. At 100 TB this is the word-count
    shape, no vocab broadcast needed."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    fl6 = lambda num, den: (  # noqa: E731
        F.floor(num.cast("double") * 1000000 / den + F.lit(0.5)) / 1000000
    )
    return tf.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.count(F.when(F.col("n") == 1, 1)).alias("n_hapax"),
        fl6(F.count(F.lit(1)), F.sum("n")).alias("ttr"),
        fl6(F.count(F.when(F.col("n") == 1, 1)), F.sum("n")).alias("hapax_share"),
    )


@query(
    "q_text_zipf",
    oracle="""
WITH tf AS (
  SELECT u.word AS word, count(*) AS freq
  FROM documents, unnest(string_split(text, ' ')) AS u(word)
  GROUP BY u.word
), r AS (
  SELECT word, freq, row_number() OVER (ORDER BY freq DESC, word) AS rnk
  FROM tf
), l AS (
  SELECT CAST(floor(ln(rnk) * 1000000 + 0.5) AS BIGINT) AS x,
         CAST(floor(ln(freq) * 1000000 + 0.5) AS BIGINT) AS y
  FROM r
), s AS (
  SELECT count(*) AS n,
         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(x * x AS HUGEINT)) AS sxx,
         sum(CAST(y * y AS HUGEINT)) AS syy,
         sum(CAST(x * y AS HUGEINT)) AS sxy
  FROM l
), d AS (
  SELECT CAST(n AS BIGINT) AS n_vocab,
         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         CAST(sy AS DOUBLE) AS syd,
         CAST(n * sxx - sx * sx AS DOUBLE) AS dx,
         CAST(n * syy - sy * sy AS DOUBLE) AS dy,
         CAST(n * sxy - sx * sy AS DOUBLE) AS dxy
  FROM s
)
SELECT n_vocab,
       floor(dxy / dx * 10000 + 0.5) / 10000 AS zipf_slope,
       floor((syd - dxy / dx * sxd) / nd / 1000000.0 * 10000 + 0.5) / 10000
         AS intercept,
       floor(dxy / dx * dxy / dy * 10000 + 0.5) / 10000 AS r2
FROM d
""",
)
def q_text_zipf(spark, sf_dir):
    """Zipf's-law fit over the corpus frequency table: OLS slope of
    ln(freq) against ln(rank) (natural text sits near -1), with
    intercept and R^2 — the standard corpus-health check that flags
    template spam (flat head) and OCR noise (fat tail) in pretraining
    data. The rank is the DISTRIBUTED two-pass _global_rank over
    (freq DESC, word), never a single-task total-order window; the
    regression is the exact-integer-moment recipe with one twist: the
    transcendental ln values are snapped to fixed-point micros
    (floor(ln(v)*1e6+0.5)) BEFORE summing, so accumulation is exact
    integers in any order. The snap itself is the only cross-engine
    exposure: a 1-ulp libm divergence flips a bucket only if ln lands
    within 1 ulp of a 1e-6 boundary (~1e-9 per value — vanishing, and
    the 4-dp output floor adds a second guard)."""
    from wikidata2pg_spark.operators.windows import _global_rank

    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("negf", -F.col("freq"))
    )
    ranked = _global_rank(tf, "negf", "word")
    fp = lambda c: F.floor(F.log(c.cast("double")) * 1000000 + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    l = ranked.select(fp(F.col("global_rank")).alias("x"), fp(F.col("freq")).alias("y"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = l.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("syy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
    )
    n = dec(F.col("n"))
    dd = s.select(
        F.col("n").cast("long").alias("n_vocab"),
        F.col("n").cast("double").alias("nd"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sy").cast("double").alias("syd"),
        (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double").alias("dx"),
        (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double").alias("dy"),
        (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double").alias("dxy"),
    )
    fl4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    slope = F.col("dxy") / F.col("dx")
    return dd.select(
        "n_vocab",
        fl4(slope).alias("zipf_slope"),
        fl4((F.col("syd") - slope * F.col("sxd")) / F.col("nd") / F.lit(1000000.0)).alias(
            "intercept"
        ),
        fl4(slope * F.col("dxy") / F.col("dy")).alias("r2"),
    )


_COLL_TOPK = 20  # collocations reported


@query(
    "q_text_collocations",
    oracle=f"""
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
uni AS (
  SELECT u.word AS w, CAST(count(*) AS BIGINT) AS c
  FROM documents, unnest(string_split(text, ' ')) AS u(word) GROUP BY 1
),
utot AS (SELECT CAST(sum(c) AS BIGINT) AS u FROM uni),
big AS (
  SELECT r[1] AS w1, r[2] AS w2
  FROM toks, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u(r)
),
bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY 1, 2),
btot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM big),
sc AS (
  SELECT bc.w1, bc.w2, bc.c,
         ((CAST(bc.c AS DOUBLE) * utot.u) * utot.u)
           / ((CAST(btot.n AS DOUBLE) * u1.c) * u2.c) AS lift_raw
  FROM bc
  JOIN uni u1 ON u1.w = bc.w1
  JOIN uni u2 ON u2.w = bc.w2
  CROSS JOIN utot CROSS JOIN btot
)
SELECT w1, w2, c AS n_pairs, CAST(rk AS INT) AS rank,
       floor(lift_raw * 10000 + 0.5) / 10000 AS lift
FROM (SELECT *, row_number() OVER (ORDER BY lift_raw DESC, w1, w2) AS rk
      FROM sc) z
WHERE rk <= {_COLL_TOPK}
""",
)
def q_text_collocations(spark, sf_dir):
    """Collocation mining: the corpus's top-20 adjacent word
    pairs by pointwise-lift P(xy)/(P(x)P(y)) — the PMI ranking (Church
    & Hanks 1990) minus the log, which is order-preserving and keeps
    the statistic transcendental-free: lift = (c_xy*U*U)/(N*c_x*c_y)
    over exact integer counts, computed as a pinned association of
    IEEE multiplies and ONE division, so both engines hold the
    IDENTICAL double and the DESC ranking cannot diverge (ties break
    on the words). Plan: one tokenize pass feeds both the unigram agg
    and the in-array bigram zip (zip_with over adjacent slices — no
    self-join, no posexplode matching), counts are map-side
    combinable, corpus totals are 1-row broadcasts, and the final
    top-k window runs over the bigram-type table (vocabulary-sized,
    tiny vs the corpus). The classic phrase-detection pass (word2vec
    preprocessing) runs exactly like this at corpus scale."""
    d = load(spark, sf_dir, "documents")
    t = F.split("text", " ")
    uni = (
        d.select(F.explode(t).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    utot = uni.agg(F.sum("c").alias("u"))
    pairs = F.zip_with(
        F.slice(t, 1, F.size(t) - 1),
        F.slice(t, 2, F.size(t) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = d.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    btot = big.agg(F.count(F.lit(1)).alias("n"))
    sc = (
        bc.join(F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))), "w1")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))), "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            "c",
            (
                (F.col("c").cast("double") * F.col("u")) * F.col("u")
                / ((F.col("n").cast("double") * F.col("c1")) * F.col("c2"))
            ).alias("lift_raw"),
        )
    )
    wk = Window.orderBy(F.col("lift_raw").desc(), "w1", "w2")
    return (
        sc.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _COLL_TOPK)
        .select(
            "w1",
            "w2",
            F.col("c").alias("n_pairs"),
            F.col("rk").cast("int").alias("rank"),
            (F.floor(F.col("lift_raw") * 10000 + F.lit(0.5)) / 10000).alias("lift"),
        )
    )


@query(
    "q_text_ngram_novelty",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
), g AS (
  SELECT DISTINCT doc_id,
         tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS ng
  FROM t, unnest(range(1, len(tk) - 1)) AS u(i)
  WHERE len(tk) >= 3
), f AS (
  SELECT doc_id, ng, min(doc_id) OVER (PARTITION BY ng) AS first_doc
  FROM g
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_ngrams,
       CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       floor(CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                  AS DOUBLE) * 10000 / count(*) + 0.5) / 10000
         AS novelty
FROM f GROUP BY doc_id
""",
)
def q_text_ngram_novelty(spark, sf_dir):
    """Per-document trigram novelty in corpus (doc_id) order: the share
    of a document's distinct word 3-grams whose FIRST corpus occurrence
    is this document — the incremental-contribution signal dedup
    pipelines use to rank near-redundant crawl snapshots (a doc whose
    n-grams all appeared earlier adds nothing to a training mix even if
    no single earlier doc matches it, which is exactly the case
    pairwise MinHash misses). First-occurrence attribution is one
    min(doc_id) window per trigram partition over the DISTINCT
    (doc, trigram) set; counts are integers and the ratio is one
    floored division. Docs with < 3 tokens have no trigram and drop
    out (documented; the oracle prunes identically). Plan: explode ->
    distinct is the heavy shuffle (keyed on the trigram, the right key
    — attribution needs global grouping by gram); the per-doc rollup
    re-shuffles only (doc_id, flag) pairs. At 100 TB you'd hash the
    grams to 64-bit first (q_dedup_exact's trick) — same plan shape."""
    d = load(spark, sf_dir, "documents")
    t = F.split("text", " ")
    tri = F.transform(
        F.sequence(F.lit(1), F.size(t) - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(t, i.cast("int")),
            F.element_at(t, (i + 1).cast("int")),
            F.element_at(t, (i + 2).cast("int")),
        ),
    )
    g = (
        d.filter(F.size(t) >= 3)
        .select("doc_id", F.explode(tri).alias("ng"))
        .distinct()
    )
    f = g.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("ng"))
    )
    novel = F.sum(
        F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
    )
    return f.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        novel.alias("n_novel"),
        (
            F.floor(novel.cast("double") * 10000 / F.count(F.lit(1)) + F.lit(0.5))
            / 10000
        ).alias("novelty"),
    )


@query(
    "q_text_vocab_growth",
    oracle="""
WITH toks AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
  FROM documents
), firsts AS (
  SELECT min(doc_id) AS doc_id, CAST(count(DISTINCT tok) AS BIGINT) AS nv
  FROM (SELECT doc_id, u.tok,
               min(doc_id) OVER (PARTITION BY u.tok) AS fd
        FROM documents, unnest(string_split(text, ' ')) AS u(tok)) x
  WHERE doc_id = fd
  GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(sum(t.n_toks) OVER w AS BIGINT) AS tokens_cum,
       CAST(sum(coalesce(f.nv, 0)) OVER w AS BIGINT) AS vocab_cum
FROM toks t LEFT JOIN firsts f ON f.doc_id = t.doc_id
WINDOW w AS (ORDER BY t.doc_id ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)
""",
)
def q_text_vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary growth curve: cumulative distinct
    vocabulary vs cumulative token count at every document checkpoint
    in corpus (doc_id) order — the diminishing-returns curve that
    answers 'does more of this source still add new language?' when
    sizing a training mix (the corpus-level twin of per-doc
    q_text_ngram_novelty). Cumulative-distinct is NOT a running
    countDistinct: each token attributes to its FIRST document (one
    min window per token — the q_agg_growth_curve trick on tokens),
    new-vocab counts roll up per doc, and both curves are plain
    cumulative sums. All integers. Plan: the token-keyed shuffle for
    first-occurrence attribution is the one heavy exchange (at 100 TB:
    hash tokens to 64-bit first); the curves are the two-pass
    global_cumsum split (r7 — |docs| is corpus-sized at scale, so the
    blanket SinglePartition sweep rightly flagged the old global
    window; integer addition makes the two-pass bit-identical)."""
    from wikidata2pg_spark.operators.windows import global_cumsum

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_toks")
    )
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    firsts = (
        tok.withColumn(
            "fd", F.min("doc_id").over(Window.partitionBy("tok"))
        )
        .filter(F.col("doc_id") == F.col("fd"))
        .groupBy("doc_id")
        .agg(F.countDistinct("tok").alias("nv"))
    )
    j = toks.join(firsts, "doc_id", "left").withColumn(
        "nv", F.coalesce(F.col("nv"), F.lit(0))
    )
    c = global_cumsum(
        j, ("doc_id",), {"n_toks": "tokens_cum", "nv": "vocab_cum"}
    )
    return c.select("doc_id", "tokens_cum", "vocab_cum")


_BURST_TOPK = 10  # most frequent tokens profiled


@query(
    "q_text_burstiness",
    oracle=f"""
WITH cnt AS (
  SELECT doc_id, u.tok, CAST(count(*) AS BIGINT) AS c
  FROM documents, unnest(string_split(text, ' ')) AS u(tok)
  GROUP BY doc_id, u.tok
), nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
top AS (
  SELECT tok, CAST(sum(c) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS df,
         CAST(sum(c * c) AS BIGINT) AS sq
  FROM cnt GROUP BY tok
  ORDER BY total DESC, tok LIMIT {_BURST_TOPK}
)
SELECT tok, total, df,
       round((CAST(nd.n AS DOUBLE) * sq - CAST(total AS DOUBLE) * total)
             / (CAST(nd.n AS DOUBLE) * (nd.n - 1))
             / (CAST(total AS DOUBLE) / nd.n), 6) AS vmr
FROM top CROSS JOIN nd
""",
)
def q_text_burstiness(spark, sf_dir):
    """Token burstiness for the 10 most frequent tokens: the
    variance-to-mean ratio of per-document counts (docs with zero
    occurrences included via the moment identity — never materialized).
    VMR ~ 1 means Poisson-like function words; VMR >> 1 means the
    token clumps into few documents — the dispersion signal behind
    stopword induction and topical-keyword detection (Church & Gale's
    burstiness). Per-doc counts, document totals, df and squared sums
    are exact integers; variance uses the n*sq - total^2 moment form
    (zero-count docs contribute 0 to both), and the final VMR is one
    shared-shape float expression rounded 6dp. Plan: one (doc, token)
    combine, a token rollup, a 10-row TakeOrdered, one broadcast
    scalar — a corpus pass at 100 TB."""
    d = load(spark, sf_dir, "documents")
    cnt = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nd = d.agg(F.count(F.lit(1)).alias("n"))
    top = (
        cnt.groupBy("tok")
        .agg(
            F.sum("c").alias("total"),
            F.count(F.lit(1)).alias("df"),
            F.sum(F.col("c") * F.col("c")).alias("sq"),
        )
        .orderBy(F.col("total").desc(), "tok")
        .limit(_BURST_TOPK)
    )
    j = top.crossJoin(F.broadcast(nd))
    ndd = F.col("n").cast("double")
    # try_divide (r7 degenerate-division class): a SINGLE-document
    # corpus zeroes the n*(n-1) variance denominator with an exactly
    # zero numerator — DuckDB nulls the 0/0 double division while ANSI
    # Spark would throw; the NULL variance propagates to a NULL vmr on
    # both sides (total >= 1 keeps the vmr division itself safe). No
    # sqrt involved, so a rounding-negative numerator needs no clamp.
    var = F.try_divide(
        ndd * F.col("sq") - F.col("total").cast("double") * F.col("total"),
        ndd * (ndd - 1),
    )
    return j.select(
        "tok",
        "total",
        "df",
        F.round(var / (F.col("total").cast("double") / F.col("n")), 6).alias(
            "vmr"
        ),
    )


@query(
    "q_text_vocab_richness",
    oracle="""
WITH t AS (
  SELECT string_split(text, ' ') AS ws FROM documents
), g AS (
  SELECT unnest(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS tg
  FROM t WHERE len(ws) >= 3
), c AS (
  SELECT tg, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY tg
)
SELECT CAST(count(*) AS BIGINT) AS s_obs,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
       CAST(sum(c) AS BIGINT) AS n_grams,
       floor((count(*) + CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                              * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
                              AS DOUBLE)
                         / (2 * (sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1)))
             * 10000 + 0.5) / 10000 AS chao1,
       floor((1 - CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / sum(c)) * 1000000 + 0.5) / 1000000 AS gt_coverage
FROM c
""",
)
def q_text_vocab_richness(spark, sf_dir):
    """Corpus vocabulary-richness estimate over word TRIGRAM types:
    Chao1 (bias-corrected: S_obs + f1(f1-1)/(2(f2+1))) plus Good-Turing
    coverage (1 - singletons/tokens) — the 'how much unseen diversity
    is left' audit a pretraining-data pipeline runs before deciding to
    crawl more (coverage near 1 = the corpus has saturated; a low
    Chao1/S_obs ratio = sampling more of the same). Trigram types, not
    words: the fixture's word vocabulary is closed (f1 = 0, Chao1
    degenerate), while trigram contexts keep Zipf tails at every
    corpus size — and context-level richness is the signal that
    actually predicts LM data value. Everything is exact-integer
    frequencies-of-frequencies; the two estimator divisions are single
    shared float expressions (floored 4dp/6dp). Plan: trigram expand ->
    one (gram) combine -> 1-row frequency-of-frequency aggregate; at
    100 TB it is the word-count shuffle shape with a 3x wider key —
    partial aggregation absorbs the duplicate mass map-side."""
    d = load(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(t) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - 3),
            lambda i: F.array_join(F.slice(t, i + 1, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    c = (
        d.select(F.explode(grams).alias("tg"))
        .groupBy("tg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    f1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
    f2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long")
    s_obs = F.count(F.lit(1)).cast("long")
    n = F.sum("c").cast("long")
    agg = c.agg(
        s_obs.alias("s_obs"),
        f1.alias("f1"),
        f2.alias("f2"),
        n.alias("n_grams"),
    )
    chao1 = F.col("s_obs") + (
        F.col("f1") * (F.col("f1") - 1)
    ).cast("double") / (2 * (F.col("f2") + 1))
    cov = 1 - F.col("f1").cast("double") / F.col("n_grams")
    return agg.select(
        "s_obs",
        "f1",
        "f2",
        "n_grams",
        (F.floor(chao1 * 10000 + F.lit(0.5)) / 10000).alias("chao1"),
        (F.floor(cov * 1000000 + F.lit(0.5)) / 1000000).alias("gt_coverage"),
    )


@query(
    "q_text_jsd_sources",
    oracle="""
WITH c AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents)
  GROUP BY 1, 2
), n AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1
), words AS (
  SELECT DISTINCT w FROM c
), grid AS (
  SELECT n.source, n.n, words.w, coalesce(c.c, 0) AS c
  FROM n CROSS JOIN words
  LEFT JOIN c ON c.source = n.source AND c.w = words.w
), terms AS (
  SELECT g1.source AS s1, g2.source AS s2, g1.w,
         CASE WHEN g1.c > 0 THEN
           CAST(g1.c AS DOUBLE) / g1.n
             * ln(CAST(2 * g1.c * g2.n AS DOUBLE)
                  / (g1.c * g2.n + g2.c * g1.n))
         ELSE 0.0 END
         + CASE WHEN g2.c > 0 THEN
           CAST(g2.c AS DOUBLE) / g2.n
             * ln(CAST(2 * g2.c * g1.n AS DOUBLE)
                  / (g1.c * g2.n + g2.c * g1.n))
         ELSE 0.0 END AS term
  FROM grid g1 JOIN grid g2 ON g1.w = g2.w AND g1.source < g2.source
)
SELECT s1, s2,
       round(0.5 * list_reduce(list_prepend(0.0, list(term ORDER BY w)),
                               (a, b) -> a + b), 6) AS jsd
FROM terms GROUP BY s1, s2
""",
)
def q_text_jsd_sources(spark, sf_dir):
    """Pairwise Jensen-Shannon divergence between per-source word
    distributions — the symmetric, bounded [0, ln 2] corpus-mixture
    distance (which ingest sources are interchangeable, which add
    genuinely different text?) used to pick domain weights before
    training. Complements q_dq_kl_drift (each source vs THE corpus,
    asymmetric) with the full source-to-source geometry. Each term
    keeps the probability ratio INSIDE the log as a pure integer ratio
    (p/m = 2*c1*n2 / (c1*n2 + c2*n1) — no float division feeds the
    transcendental), zero cells are materialized via the full
    source-x-word grid (the contingency_fold lesson: a product-space
    sum over observed cells only silently drops the one-sided words
    whose p*ln(2) mass is exactly where divergence lives), term sums
    are word-ORDERED folds on both engines, and only the final 0.5*sum
    is rounded (6dp, transcendental per FIXTURES rule 1). Plan: one
    (source, word) combine collapses the corpus; the grid is
    |sources| x |vocab| (broadcastable by construction after a vocab
    cap); the pair join fans 190 source pairs over the shared word
    axis — at 100 TB the corpus is touched once and every later stage
    is vocabulary-bounded."""
    d = load(spark, sf_dir, "documents")
    # feeds totals, vocab, and the dense grid
    c = truncate_plan(
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return jsd_pairs_frame(c)


def jsd_pairs_frame(c):
    """JSD core over a (source, w, c) count frame — the production
    expression tree, importable so worked-example tests (disjoint
    vocabularies -> JSD == ln 2, identical distributions -> 0) drive
    the exact code path."""
    from wikidata2pg_spark.operators.analytics import ordered_fold

    n = c.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    words = c.select("w").distinct()
    grid = (
        n.crossJoin(F.broadcast(words))
        .join(c, ["source", "w"], "left")
        .select(
            "source", "n", "w", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
    )
    g1 = grid.select(
        F.col("source").alias("s1"),
        F.col("n").alias("n1"),
        "w",
        F.col("c").alias("c1"),
    )
    g2 = grid.select(
        F.col("source").alias("s2"),
        F.col("n").alias("n2"),
        F.col("w").alias("w2"),
        F.col("c").alias("c2"),
    )
    pairs = g1.join(
        g2, (F.col("w") == F.col("w2")) & (F.col("s1") < F.col("s2"))
    )
    denom = F.col("c1") * F.col("n2") + F.col("c2") * F.col("n1")
    term = F.when(
        F.col("c1") > 0,
        F.col("c1").cast("double")
        / F.col("n1")
        * F.log((2 * F.col("c1") * F.col("n2")).cast("double") / denom),
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("c2") > 0,
        F.col("c2").cast("double")
        / F.col("n2")
        * F.log((2 * F.col("c2") * F.col("n1")).cast("double") / denom),
    ).otherwise(F.lit(0.0))
    return pairs.groupBy("s1", "s2").agg(
        F.round(
            0.5 * ordered_fold(F.col("w"), term, "_s"), 6
        ).alias("jsd")
    )


_HILL_K = 50  # tail order statistics used by the Hill estimator


@query(
    "q_text_hill_tail",
    oracle=f"""
WITH r AS (
  SELECT n_chars,
         CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
              AS BIGINT) AS rn
  FROM documents
), ref AS (
  SELECT n_chars AS x_ref FROM r WHERE rn = {_HILL_K} + 1
), terms AS (
  SELECT r.rn, ref.x_ref, ln(CAST(r.n_chars AS DOUBLE) / ref.x_ref) AS term
  FROM r CROSS JOIN ref WHERE r.rn <= {_HILL_K}
)
-- GROUP BY x_ref (not a bare aggregate): a corpus smaller than k+1
-- documents has NO reference order statistic, so the estimator is
-- undefined and BOTH engines must emit zero rows — an ungrouped
-- aggregate here fabricated a (NULL, 0.0) row where Spark's grouped
-- fold produced none (r7 degenerate-input sweep catch). The alpha
-- division k/s is NULL on both sides when every top-k length equals
-- the reference (all ln terms 0).
SELECT CAST({_HILL_K} AS BIGINT) AS k,
       CAST(x_ref AS BIGINT) AS x_ref,
       floor(list_reduce(list_prepend(0.0, list(term ORDER BY rn)),
                         (a, b) -> a + b) / {_HILL_K} * 1000000 + 0.5)
         / 1000000 AS hill,
       floor({_HILL_K} / list_reduce(list_prepend(0.0,
                                                  list(term ORDER BY rn)),
                                     (a, b) -> a + b) * 10000 + 0.5)
         / 10000 AS alpha
FROM terms GROUP BY x_ref
""",
)
def q_text_hill_tail(spark, sf_dir):
    """Hill tail-index estimate of the document-length distribution —
    the heavy-tail diagnostic a pretraining pipeline runs before
    choosing packing/batching strategy (a small alpha means rare giant
    documents dominate token mass; truncation policy and sequence
    packing both key off it). Hill = (1/k) sum ln(x_(i)/x_(k+1)) over
    the k largest lengths, alpha = 1/Hill. Lengths are exact integers,
    the k-th/k+1-th order statistics come from an integer rank with a
    unique (n_chars, doc_id) tiebreak, each log term is ln of an
    exact-integer ratio (one shared division), and the term sum is a
    rank-ORDERED fold; the two displayed ratios are floored 6dp/4dp.
    Plan: global top-(k+1) via TakeOrdered-shaped rank (k is tiny and
    fixed), the reference scalar broadcasts, and the fold runs on k
    rows — at 100 TB the only full-data stage is the scan feeding the
    top-k, which Spark executes as per-partition partial top-k."""
    from wikidata2pg_spark.operators.analytics import ordered_fold

    d = load(spark, sf_dir, "documents")
    # rank-filter BEFORE the checkpoint: Catalyst rewrites the
    # rank-limit into TakeOrderedAndProject(limit=k+1) — a per-partition
    # partial top-k — and the checkpoint then snapshots 51 rows, not the
    # whole ranked corpus (the q_dq_freshness review-catch class;
    # plan-asserted in test_plans.py)
    # feeds the top-k terms AND the k+1 reference
    r = truncate_plan(
        d.select(
            "n_chars",
            F.row_number()
            .over(Window.orderBy(F.desc("n_chars"), "doc_id"))
            .cast("long")
            .alias("rn"),
        )
        .filter(F.col("rn") <= _HILL_K + 1)
    )
    ref = r.filter(F.col("rn") == _HILL_K + 1).select(
        F.col("n_chars").alias("x_ref")
    )
    terms = (
        r.filter(F.col("rn") <= _HILL_K)
        .crossJoin(F.broadcast(ref))
        .select(
            "rn",
            # try_divide (r7 review catch on the sweep batch): a corpus
            # where the k+1-th longest document is EMPTY (n_chars = 0 —
            # routine in real crawls) zeroes the reference divisor; the
            # NULL ratio nulls ln/term/fold/outputs identically on both
            # sides (DuckDB's x/0.0 is NULL already).
            F.log(
                F.try_divide(F.col("n_chars").cast("double"), F.col("x_ref"))
            ).alias("term"),
            "x_ref",
        )
    )
    agg = terms.groupBy("x_ref").agg(ordered_fold(F.col("rn"), F.col("term"), "s"))
    return agg.select(
        F.lit(_HILL_K).cast("long").alias("k"),
        F.col("x_ref").cast("long").alias("x_ref"),
        (F.floor(F.col("s") / _HILL_K * 1000000 + F.lit(0.5)) / 1000000).alias(
            "hill"
        ),
        # try_divide (r7 degenerate class): a top-k of ALL-EQUAL lengths
        # makes every ln term — and their fold — exactly 0.0, where
        # DuckDB nulls k/0.0 and ANSI Spark would throw.
        (
            F.floor(
                F.try_divide(F.lit(_HILL_K), F.col("s")) * 10000 + F.lit(0.5)
            )
            / 10000
        ).alias("alpha"),
    )


@query(
    "q_text_bigram_entropy",
    oracle="""
WITH b AS (
  SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
         CAST(count(*) AS BIGINT) AS c12
  FROM (
    SELECT unnest(list_transform(range(1, len(ws)),
                  i -> ws[i] || ' ' || ws[i + 1])) AS bg
    FROM (SELECT string_split(text, ' ') AS ws FROM documents) t
    WHERE len(ws) >= 2
  ) g GROUP BY 1, 2
), m1 AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM b GROUP BY 1
), m2 AS (
  SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM b GROUP BY 1
), tot AS (
  SELECT CAST(sum(c12) AS BIGINT) AS nn FROM b
), folds AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_bigram_types,
    (SELECT nn FROM tot) AS n_bigrams,
    (SELECT list_reduce(list_prepend(0.0,
        list(CAST(c12 AS DOUBLE) / tot.nn
             * ln(CAST(m1.c1 AS DOUBLE) / c12) ORDER BY b.w1, b.w2)),
        (a, bb) -> a + bb)
     FROM b JOIN m1 USING (w1) CROSS JOIN tot) AS h_cond,
    (SELECT list_reduce(list_prepend(0.0,
        list(CAST(c2 AS DOUBLE) / tot.nn
             * ln(CAST(tot.nn AS DOUBLE) / c2) ORDER BY w2)),
        (a, bb) -> a + bb)
     FROM m2 CROSS JOIN tot) AS h_w2
)
SELECT n_bigram_types, n_bigrams,
       round(h_cond, 6) AS h_cond,
       round(h_w2, 6) AS h_w2,
       round(greatest(0.0, h_w2 - h_cond), 6) AS mutual_info
-- WHERE mirrors Spark's grouped fold (r7 empty-input sweep): a corpus
-- with no bigrams produces ZERO rows there (the groupBy has no groups),
-- while this bare-aggregate CTE would fabricate one; any real corpus has
-- n_bigram_types >= 1, so the filter is a no-op
FROM folds WHERE n_bigram_types > 0
""",
)
def q_text_bigram_entropy(spark, sf_dir):
    """Corpus bigram predictability: conditional entropy H(w2|w1), the
    unconditional next-word entropy H(w2), and their difference — the
    mutual information between adjacent words (the order-1 Markov
    predictability gain; a template-heavy corpus shows high MI, a
    shuffled-word corpus shows ~0 — the statistical complement of
    q_text_repetition's top-bigram share). Every probability stays an
    integer ratio INSIDE the log (p(w2|w1) = c12/c1 becomes
    ln(c1/c12); the marginal term ln(N/c2)); term sums are
    (w1,w2)-ORDERED folds on both engines; MI is clamped at 0.0 BEFORE
    rounding (mathematically >= 0, but fold noise at 1e-17 scale could
    otherwise round to -0.0 — the r5 signed-zero class). round(,6) per
    the transcendental rule. Plan: one bigram combine (the
    q_text_ngrams shuffle), two tiny marginal re-aggs, folds over the
    vocabulary-bounded cell table — one corpus pass at 100 TB."""
    from wikidata2pg_spark.operators.analytics import ordered_fold

    d = load(spark, sf_dir, "documents")
    # feeds both marginals, the total, the fold
    b = truncate_plan(
        d.select(F.explode(_bigrams("text")).alias("bg"))
        .select(
            F.split(F.col("bg"), " ")[0].alias("w1"),
            F.split(F.col("bg"), " ")[1].alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    m1 = b.groupBy("w1").agg(F.sum("c12").alias("c1"))
    m2 = b.groupBy("w2").agg(F.sum("c12").alias("c2"))
    tot = b.agg(
        F.sum("c12").alias("nn"),
        F.count(F.lit(1)).alias("n_types"),
    )
    cond_terms = (
        b.join(F.broadcast(m1), "w1")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            (
                F.col("c12").cast("double")
                / F.col("nn")
                * F.log(F.col("c1").cast("double") / F.col("c12"))
            ).alias("term"),
            "nn",
            "n_types",
        )
    )
    h_cond = cond_terms.groupBy("nn", "n_types").agg(
        ordered_fold(F.struct("w1", "w2"), F.col("term"), "h_cond")
    )
    h2_terms = m2.crossJoin(F.broadcast(tot.select("nn"))).select(
        "w2",
        (
            F.col("c2").cast("double")
            / F.col("nn")
            * F.log(F.col("nn").cast("double") / F.col("c2"))
        ).alias("term"),
    )
    h_w2 = h2_terms.agg(ordered_fold(F.col("w2"), F.col("term"), "h_w2"))
    out = h_cond.crossJoin(h_w2)
    return out.select(
        F.col("n_types").cast("long").alias("n_bigram_types"),
        F.col("nn").cast("long").alias("n_bigrams"),
        F.round(F.col("h_cond"), 6).alias("h_cond"),
        F.round(F.col("h_w2"), 6).alias("h_w2"),
        F.round(
            F.greatest(F.lit(0.0), F.col("h_w2") - F.col("h_cond")), 6
        ).alias("mutual_info"),
    )
