"""Warehouse-audit and sequence-analytics operators: interval union
(gaps-and-islands coverage), event-transition matrix, time-weighted
average, Benford first-digit audit, and referential-integrity audit —
the data-quality / sessions-adjacent rollups every analytics warehouse
ships (SURVEY.md §2 events + DQ families).

Determinism recipe (FIXTURES.md + verify-skill rules):
  * every timestamp becomes exact integer microseconds (unix_micros /
    epoch_us) before any arithmetic — interval merging, gap weighting
    and coverage sums are pure int64/decimal, zero float hazard;
  * monetary values become exact integer cents via floor(x*100+0.5);
  * ratios of exact integers use the single-division floor pattern
    floor(v*10^n / s + 0.5)/10^n on BOTH sides;
  * every window ORDER BY ends with the unique event_id tiebreaker.

Scale notes:
  * interval union / transitions / TWA are one shuffle on user_id with
    all windows sharing that single partitioning (Catalyst chains the
    Window nodes after one Exchange), then a tiny re-agg;
  * Benford reduces to 9 rows before its share window;
  * the referential audit's dimension joins (part/supplier/customer)
    broadcast; the lineitem->orders probe is a keyed shuffle join — at
    100 TB that is the correct plan (orders is not broadcastable), and
    each audit emits ONE row so the union moves nothing.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from wikidata2pg_spark.registry import query
from wikidata2pg_spark.tables import load
from wikidata2pg_spark.util import truncate_plan

_SPAN_MIN = 30  # each event opens a 30-minute activity interval


def ordered_fold(key_col, term, name):
    """ONE ordered left fold of float ``term`` over rows sorted by
    ``key_col`` — the repo's float-sum discipline (float addition does
    not commute across plan differences, so cross-engine hash equality
    requires a pinned order). Shared by every multi-term transcendental
    aggregate in this module (MI, KL, circular stats, ANOVA, PSI)."""
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(key_col, term.alias("t")))),
            lambda s: s["t"],
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    ).alias(name)


def contingency_fold(x, rk: str, ck: str):
    """Categorical frame -> single-row (chi2_raw, nr, nc, n): the
    chi-square-of-independence pipeline shared by q_dq_chi2 and
    cramers_v_frame. Observed counts collapse map-side, marginals
    derive from the cells (localCheckpoint: they feed the grid join
    too), and the term sum runs over the FULL nr x nc grid — an EMPTY
    cell still contributes its (0-e)^2/e = r*c/n term (summing
    observed cells only understates chi2; caught by the Cramer's-V
    closed-form edge case). Each term is the algebraically cleared
    (n*O - r*c)^2/(n*r*c) — exact-integer numerator/denominator, two
    IEEE-identical double ops — and the cross-cell sum is one
    pinned-order fold (ordered_fold's 0.0 seed == DuckDB list_reduce's
    first-element seed since 0.0 + x == x)."""
    cells = truncate_plan(x.groupBy(rk, ck).agg(F.count(F.lit(1)).alias("o")))
    r = cells.groupBy(rk).agg(F.sum("o").alias("r"))
    c = cells.groupBy(ck).agg(F.sum("o").alias("c"))
    n = cells.agg(F.sum("o").alias("n"))
    grid = (
        r.crossJoin(F.broadcast(c))
        .join(cells, [rk, ck], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
    )
    d = (F.col("n") * F.col("o") - F.col("r") * F.col("c")).cast("double")
    den = (F.col("n") * F.col("r") * F.col("c")).cast("double")
    t = grid.crossJoin(F.broadcast(n)).select(
        rk, ck, "n", (d * d / den).alias("term")
    )
    return t.agg(
        ordered_fold(F.struct(rk, ck), F.col("term"), "chi2_raw"),
        F.countDistinct(rk).alias("nr"),
        F.countDistinct(ck).alias("nc"),
        F.first("n").alias("n"),
    )




@query(
    "q_time_interval_union",
    oracle=f"""
WITH s AS (
  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS s,
         epoch_us(ts::TIMESTAMP) + {_SPAN_MIN} * 60 * 1000000 AS e
  FROM events
), g AS (
  SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS pmax
  FROM s
), f AS (
  SELECT *, CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS new_i
  FROM g
), i AS (
  SELECT *, sum(new_i) OVER (PARTITION BY user_id ORDER BY s, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS island
  FROM f
), isl AS (
  SELECT user_id, island, min(s) AS i_start, max(e) AS i_end
  FROM i GROUP BY user_id, island
)
SELECT user_id, count(*) AS n_islands,
       CAST(sum(i_end - i_start) AS BIGINT) AS covered_micros,
       CAST(max(i_end - i_start) AS BIGINT) AS longest_micros
FROM isl GROUP BY user_id
""",
)
def q_time_interval_union(spark, sf_dir):
    """Interval union (gaps-and-islands): each event opens a 30-minute
    activity interval [ts, ts+30min); overlapping or touching intervals
    per user merge into islands; output per user = island count, total
    covered time, longest island. The classic distributed formulation:
    a running max of interval-end over the PRECEDING frame marks island
    starts (s > max-end-so-far), a running sum of those marks numbers
    the islands — no self-join, no iteration. All three windows and the
    island rollup share ONE user_id hash partitioning (single Exchange);
    arithmetic is exact integer microseconds end-to-end, so both engines
    hold identical int64s and no rounding exists anywhere. At 100 TB
    this is the standard one-shuffle coverage operator (contrast the
    O(n^2) overlap self-join)."""
    span_us = _SPAN_MIN * 60 * 1_000_000
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(span_us)).alias("e"),
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = e.withColumn("pmax", F.max("e").over(wprev))
    f = g.withColumn(
        "new_i",
        F.when(F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1).otherwise(0),
    )
    i = f.withColumn("island", F.sum("new_i").over(wrun))
    isl = i.groupBy("user_id", "island").agg(
        F.min("s").alias("i_start"), F.max("e").alias("i_end")
    )
    return isl.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start")).alias("covered_micros"),
        F.max(F.col("i_end") - F.col("i_start")).alias("longest_micros"),
    )


@query(
    "q_seq_transitions",
    oracle="""
WITH t AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts::TIMESTAMP, event_id) AS next_type
  FROM events
), p AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
  FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       floor(CAST(n AS DOUBLE) * 1000000 / sum(n) OVER (PARTITION BY from_type)
             + 0.5) / 1000000 AS prob
FROM p
""",
)
def q_seq_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams:
    count (event_type -> next event_type) adjacent pairs (lead over the
    (ts, event_id)-ordered user partition), then the row-normalized
    transition probability per source type. One shuffle on user_id for
    the lead, a partial-aggregable rollup to <=|types|^2 rows, and the
    normalizing window runs over that tiny matrix — the standard
    clickstream/sequence-mining building block (next-page prediction,
    session flow graphs). Probabilities are exact-integer ratios under
    the single-division floor pattern; per-row probs sum to ~1 per
    source (asserted in pytest)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    p = t.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    wnorm = Window.partitionBy("from_type")
    prob = (
        F.floor(
            F.col("n").cast("double") * 1000000 / F.sum("n").over(wnorm)
            + F.lit(0.5)
        )
        / 1000000
    )
    return p.select("from_type", "to_type", "n", prob.alias("prob"))


@query(
    "q_time_twa",
    oracle="""
WITH x AS (
  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS t,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
  FROM events
), g AS (
  SELECT *, lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS t_next
  FROM x
), w AS (
  SELECT user_id, v_cents, t_next - t AS dt FROM g WHERE t_next IS NOT NULL
), s AS (
  SELECT user_id, sum(CAST(v_cents AS HUGEINT) * dt) AS sw, sum(dt) AS sd,
         count(*) AS n
  FROM w GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
       floor(CAST(sw AS DOUBLE) / CAST(sd AS DOUBLE) / 100.0 * 10000 + 0.5)
         / 10000 AS twa
FROM s WHERE sd > 0
""",
)
def q_time_twa(spark, sf_dir):
    """Time-weighted average (the TimescaleDB `time_weight('LOCF')`
    rollup): each observation's value holds until the user's next event,
    so TWA = sum(value * gap) / sum(gap) per user — the honest average
    of an irregularly-sampled series, where the plain avg() over-weights
    bursts. Values become exact integer cents and gaps exact integer
    microseconds; the per-row value*gap product is multiplied WIDE
    (decimal(38,0) Spark-side / one HUGEINT operand oracle-side — the
    r8 extreme-magnitude recipe: cents at ~1e15 x gaps at ~1e12 pass
    int64) and the per-user SUMS stay in the same wide type —
    both exact, one cast each to double, one shared floating tree with
    the single-division floor pattern. One shuffle on user_id (lead
    window + rollup co-partitioned); partial-aggregable at any scale."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v_cents"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    g = e.withColumn("t_next", F.lead("t").over(w)).filter(
        F.col("t_next").isNotNull()
    )
    dt = F.col("t_next") - F.col("t")
    s = g.select(
        "user_id",
        (F.col("v_cents").cast("decimal(38,0)") * dt).alias("vdt"),
        dt.alias("dt"),
    ).groupBy("user_id").agg(
        F.sum(F.col("vdt")).alias("sw"),
        F.sum(F.col("dt").cast("decimal(38,0)")).alias("sd"),
        F.count(F.lit(1)).alias("n"),
    )
    twa = (
        F.floor(
            F.col("sw").cast("double") / F.col("sd").cast("double") / F.lit(100.0)
            * 10000
            + F.lit(0.5)
        )
        / 10000
    )
    return s.filter(F.col("sd") > 0).select(
        "user_id", F.col("n").cast("long").alias("n_gaps"), twa.alias("twa")
    )


# 4-decimal Benford expectations log10(1 + 1/d), pinned as literals on
# BOTH sides: computing them in-engine would make the hash depend on two
# libm implementations agreeing to the last ulp for no analytical gain.
_BENFORD = {
    1: 0.3010, 2: 0.1761, 3: 0.1249, 4: 0.0969, 5: 0.0792,
    6: 0.0669, 7: 0.0580, 8: 0.0512, 9: 0.0458,
}


@query(
    "q_dq_benford",
    oracle="""
WITH c AS (
  SELECT CAST(substr(CAST(abs(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                          AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
), d AS (
  SELECT digit, count(*) AS n FROM c GROUP BY digit
)
SELECT digit, n,
       floor(CAST(n AS DOUBLE) * 1000000 / sum(n) OVER () + 0.5) / 1000000
         AS obs_share,
       CAST(CASE digit WHEN 1 THEN 0.3010 WHEN 2 THEN 0.1761
                       WHEN 3 THEN 0.1249 WHEN 4 THEN 0.0969
                       WHEN 5 THEN 0.0792 WHEN 6 THEN 0.0669
                       WHEN 7 THEN 0.0580 WHEN 8 THEN 0.0512
                       WHEN 9 THEN 0.0458 END AS DOUBLE) AS exp_share
FROM d
""",
)
def q_dq_benford(spark, sf_dir):
    """Benford first-digit audit over order totals — the classic
    fraud/synthetic-data screen: the observed share of each leading
    significant digit vs the Benford expectation log10(1+1/d). The
    leading digit is read from the DIGITS of the exact integer
    ABSOLUTE cents (string head), never via log10 of a double —
    scaling by 100 cannot change a leading significant digit, the
    string route keeps both engines in exact-integer land, and abs()
    makes refund-shaped negative totals contribute their magnitude's
    digit instead of crashing the '-' cast (r9 negative-measures
    sweep catch). The rollup collapses to 9 rows before
    the share window, so the global window is free; expectations are
    pinned 4-decimal literals (see _BENFORD). Output: digit, count,
    observed share (floor-pattern 6dp), expected share."""
    o = load(spark, sf_dir, "orders")
    cents = F.abs(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    d = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    wall = Window.partitionBy()
    obs = (
        F.floor(
            F.col("n").cast("double") * 1000000 / F.sum("n").over(wall)
            + F.lit(0.5)
        )
        / 1000000
    )
    exp = F.lit(None).cast("double")
    for k in sorted(_BENFORD, reverse=True):
        exp = F.when(F.col("digit") == k, F.lit(_BENFORD[k])).otherwise(exp)
    return d.select(
        "digit",
        "n",
        obs.alias("obs_share"),
        exp.alias("exp_share"),
    )


_FK_AUDITS = (
    # (label, fact table, fk col, dim table, pk col, dim broadcastable)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey", True),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey", True),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey", True),
)


@query(
    "q_dq_referential",
    oracle="""
SELECT 'lineitem.l_orderkey->orders' AS fk, count(*) AS n_rows,
       count(*) FILTER (WHERE o.o_orderkey IS NULL) AS n_orphans
FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
UNION ALL
SELECT 'lineitem.l_partkey->part', count(*),
       count(*) FILTER (WHERE p.p_partkey IS NULL)
FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
UNION ALL
SELECT 'lineitem.l_suppkey->supplier', count(*),
       count(*) FILTER (WHERE s.s_suppkey IS NULL)
FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
UNION ALL
SELECT 'orders.o_custkey->customer', count(*),
       count(*) FILTER (WHERE c.c_custkey IS NULL)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
""",
)
def q_dq_referential(spark, sf_dir):
    """Referential-integrity audit: for each declared foreign key, the
    fact row count and the number of orphans (fact rows whose key has no
    dimension match) — the first gate any warehouse load runs. Each
    probe is a single left join projected to the two key columns +
    count_if(pk IS NULL): the small dimensions (part/supplier/customer)
    broadcast, the lineitem->orders probe shuffles on the key — the
    right plan at 100 TB, where orders cannot broadcast and an orphan
    scan must stream. Each audit reduces to ONE row before the union.
    Orphan injection is covered in tests/test_analytics.py by rewriting
    a fixture copy with dangling keys and asserting the exact count."""
    out = None
    for label, fact, fk, dim, pk, small in _FK_AUDITS:
        f = load(spark, sf_dir, fact).select(fk)
        d = load(spark, sf_dir, dim).select(pk)
        if small:
            d = F.broadcast(d)
        row = (
            f.join(d, f[fk] == d[pk], "left")
            .agg(
                F.lit(label).alias("fk"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(F.col(pk).isNull(), 1)).alias("n_orphans"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


@query(
    "q_pareto_abc",
    oracle="""
WITH r AS (
  SELECT l_partkey,
         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS cents
  FROM lineitem GROUP BY l_partkey
), c AS (
  SELECT l_partkey, CAST(cents AS BIGINT) AS cents,
         CAST(sum(cents) OVER (ORDER BY cents DESC NULLS LAST, l_partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(sum(cents) OVER () AS BIGINT) AS total
  FROM r
)
SELECT l_partkey, cents AS revenue_cents,
       floor(CAST(cum AS DOUBLE) * 1000000 / total + 0.5) / 1000000
         AS cum_share,
       CASE WHEN cum * 10 <= total * 7 THEN 'A'
            WHEN cum * 10 <= total * 9 THEN 'B' ELSE 'C' END AS abc_class
FROM c
""",
)
def q_pareto_abc(spark, sf_dir):
    """Pareto / ABC inventory analysis: parts ranked by revenue, each
    with its CUMULATIVE share of total revenue and the classic A (top
    70% of revenue) / B (to 90%) / C class. The global running sum is
    the q_pack_sequences distributed prefix-sum shape, not a
    single-task total-order window: deterministic ordered buckets on
    descending revenue (ordered_bucket — a pure function of the row),
    within-bucket cumulative sums in parallel, and broadcast P-row
    bucket offsets stitched on top; the only single-partition stage is
    the P-row offset window. Revenue is exact integer cents, the ABC
    boundary test is pure integer arithmetic (cum*10 <= total*7 — no
    double ever decides a class), and the displayed share uses the
    single-division floor pattern."""
    from wikidata2pg_spark.operators.windows import ordered_bucket

    li = load(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    # Materialize the per-part aggregate ONCE: three consumers read it
    # (the bucket range probe, the within-bucket window, the bucket
    # totals) and Catalyst does not dedupe sibling subtrees — without
    # this the plan re-scans lineitem four times (observed; the
    # q_dedup_semantic_cluster precedent). The checkpoint holds only
    # |parts| rows, negligible at any scale next to a lineitem scan.
    r = truncate_plan(
        li.select("l_partkey", cents.alias("c"))
        .groupBy("l_partkey")
        .agg(F.sum("c").alias("cents"))
        .withColumn("neg", -F.col("cents"))
    )
    parts = ordered_bucket(r, "neg", 8)
    # asc_nulls_last pairs with ordered_bucket's NULL-to-last-bucket
    # routing (its docstring contract): an all-NULL-revenue part ranks
    # LAST — its frame then spans every real value, so cum = total,
    # cum_share = 1.0, class C, matching the oracle's DESC NULLS LAST
    # (r7 /code-review catch; probe-pinned in test_boundary_probes9).
    win = (
        Window.partitionBy("pid")
        .orderBy(F.col("neg").asc_nulls_last(), "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = parts.withColumn("cum_in", F.sum("cents").over(win))
    sums = parts.groupBy("pid").agg(F.sum("cents").alias("bucket_cents"))
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    wtot = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = sums.select(
        "pid",
        F.coalesce(F.sum("bucket_cents").over(woff), F.lit(0)).alias("poff"),
        F.sum("bucket_cents").over(wtot).alias("total"),
    )
    # cum_in is NULL when every frame row in the bucket has NULL cents
    # (an all-NULL-revenue part landing alone in the last bucket): the
    # oracle's DESC NULLS LAST running sum carries the real total through
    # that row, so coalesce to 0 and let poff supply it. When the INPUT
    # is all-NULL, total is NULL and cum_share stays NULL on both sides
    # (ADVICE r7; probe in test_boundary_probes9).
    c = ranked.join(F.broadcast(offs), "pid").withColumn(
        "cum", F.col("poff") + F.coalesce(F.col("cum_in"), F.lit(0))
    )
    share = (
        F.floor(
            F.col("cum").cast("double") * 1000000 / F.col("total") + F.lit(0.5)
        )
        / 1000000
    )
    klass = (
        F.when(F.col("cum") * 10 <= F.col("total") * 7, "A")
        .when(F.col("cum") * 10 <= F.col("total") * 9, "B")
        .otherwise("C")
    )
    return c.select(
        "l_partkey",
        F.col("cents").alias("revenue_cents"),
        share.alias("cum_share"),
        klass.alias("abc_class"),
    )


def _ntile5(base, metric, descending, out):
    """Distributed NTILE(5) over (metric [DESC], o_custkey) — the
    q_win_ntile_distributed bucket arithmetic on top of the two-pass
    _global_rank, packaged for the three RFM scores. Never funnels the
    data through one task; ties break on the unique custkey."""
    from wikidata2pg_spark.operators.windows import _global_rank

    proj = base.select(
        "o_custkey", (-F.col(metric) if descending else F.col(metric)).alias("_m")
    )
    ranked = _global_rank(proj, "_m", "o_custkey")
    rn, n = F.col("global_rank"), F.col("n_total")
    q = (n / 5).cast("long")
    r = n % 5
    boundary = r * (q + F.lit(1))
    tile = F.when(rn <= boundary, ((rn - 1) / (q + 1)).cast("long") + 1).otherwise(
        r + ((rn - boundary - 1) / F.greatest(q, F.lit(1))).cast("long") + 1
    )
    return ranked.select("o_custkey", tile.cast("int").alias(out))


@query(
    "q_orders_rfm",
    oracle="""
WITH g AS (SELECT max(o_orderdate::TIMESTAMP)::DATE AS dmax FROM orders),
c AS (
  SELECT o_custkey,
         CAST(date_diff('day', max(o_orderdate::TIMESTAMP)::DATE,
                        (SELECT dmax FROM g)) AS INT) AS r_days,
         CAST(count(*) AS BIGINT) AS f,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS m_cents
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, r_days, f, m_cents,
       CAST(ntile(5) OVER (ORDER BY r_days DESC, o_custkey) AS INT) AS r_score,
       CAST(ntile(5) OVER (ORDER BY f ASC, o_custkey) AS INT) AS f_score,
       CAST(ntile(5) OVER (ORDER BY m_cents ASC NULLS LAST, o_custkey) AS INT)
         AS m_score
FROM c
""",
)
def q_orders_rfm(spark, sf_dir):
    """RFM customer segmentation — recency (days since last order, vs
    the corpus max date), frequency (order count), monetary (exact cent
    total), each scored 1-5 by quintile so 5 is always "best" (most
    recent / most frequent / highest spend). The three quintiles are
    distributed NTILEs (two-pass _global_rank + the exact SQL NTILE
    bucket arithmetic, q_win_ntile_distributed's shape) over the
    per-customer AGGREGATE — orders shuffles once on o_custkey, the
    three rankings then move only one row per customer and never pass the
    table through a single task. All three metrics are exact integers;
    ties break on the unique custkey."""
    o = load(spark, sf_dir, "orders")
    dmax = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("dmax"))
    # r10: materialize the per-customer aggregate once — it feeds the
    # three two-pass distributed NTILEs plus the final three joins, and
    # Catalyst does not dedupe sibling subtrees, so the orders
    # scan+agg re-executed ~7x (52 scans in the unrolled plan; guide
    # §5 localCheckpoint note / §3.3). One row per customer, the same
    # distributed-materialization size every downstream pass already
    # shuffles. Measured build+exec 3.9 -> 2.4 s at sf0.01,
    # 5.1 -> 1.7 s at sf0.1; values identical.
    c = truncate_plan(
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("dlast"),
            F.count(F.lit(1)).alias("f"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("m_cents"),
        )
        .crossJoin(F.broadcast(dmax))
        .select(
            "o_custkey",
            F.datediff("dmax", "dlast").cast("int").alias("r_days"),
            "f",
            "m_cents",
        )
    )
    r = _ntile5(c, "r_days", True, "r_score")
    fsc = _ntile5(c, "f", False, "f_score")
    m = _ntile5(c, "m_cents", False, "m_score")
    return (
        c.join(r, "o_custkey").join(fsc, "o_custkey").join(m, "o_custkey")
    )


@query(
    "q_agg_corr_matrix",
    oracle="""
WITH b AS (
  SELECT l_returnflag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
         CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS z
  FROM lineitem
), s AS (
  SELECT l_returnflag, count(*) AS n,
         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(z AS HUGEINT)) AS sz,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy,
         sum(CAST(z AS HUGEINT) * z) AS szz,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * z) AS sxz,
         sum(CAST(y AS HUGEINT) * z) AS syz
  FROM b GROUP BY l_returnflag
), d AS (
  SELECT l_returnflag, CAST(n AS BIGINT) AS n,
         CAST(n * sxx - sx * sx AS DOUBLE) AS dx,
         CAST(n * syy - sy * sy AS DOUBLE) AS dy,
         CAST(n * szz - sz * sz AS DOUBLE) AS dz,
         CAST(n * sxy - sx * sy AS DOUBLE) AS dxy,
         CAST(n * sxz - sx * sz AS DOUBLE) AS dxz,
         CAST(n * syz - sy * sz AS DOUBLE) AS dyz
  FROM s
)
SELECT l_returnflag, n,
       floor(dxy / sqrt(dx * dy) * 10000 + 0.5) / 10000 AS corr_qty_price,
       floor(dxz / sqrt(dx * dz) * 10000 + 0.5) / 10000 AS corr_qty_disc,
       floor(dyz / sqrt(dy * dz) * 10000 + 0.5) / 10000 AS corr_price_disc
FROM d
""",
)
def q_agg_corr_matrix(spark, sf_dir):
    """Pairwise correlation matrix (quantity x price x discount per
    return flag) — the q_agg_stats/q_agg_regression exact-moment recipe
    extended to every off-diagonal pair: all inputs become exact
    integers (quantity integral, price cents, discount basis points),
    the ten moment sums accumulate in decimal(38,0) / HUGEINT and each
    ROW product multiplies wide too (r8 extreme sweep: ~3e9+ cents
    squared overflows int64), and
    each correlation is ONE shared floating tree dab/sqrt(da*db) over
    one correctly-rounded cast per sum — sqrt is IEEE-exact, so both
    engines produce bit-identical doubles before the floor rounding,
    which itself can never emit -0.0 (integer 0 / 10^4 is +0.0: the
    signed-zero class that broke round(corr,2) in r5 is structurally
    absent). Still a single partial-aggregable groupBy at any scale."""
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    z = F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    b = li.select("l_returnflag", x.alias("x"), y.alias("y"), z.alias("z"))
    s = b.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("z"))).alias("sz"),
        # wide-before-multiply (r8 extreme sweep): squaring ~3e9+ in
        # long overflows; decimal products keep the identical integers
        F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y")) * dec(F.col("y"))).alias("syy"),
        F.sum(dec(F.col("z")) * dec(F.col("z"))).alias("szz"),
        F.sum(dec(F.col("x")) * dec(F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x")) * dec(F.col("z"))).alias("sxz"),
        F.sum(dec(F.col("y")) * dec(F.col("z"))).alias("syz"),
    )
    n = dec(F.col("n"))
    d = s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double").alias("dx"),
        (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double").alias("dy"),
        (n * F.col("szz") - F.col("sz") * F.col("sz")).cast("double").alias("dz"),
        (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double").alias("dxy"),
        (n * F.col("sxz") - F.col("sx") * F.col("sz")).cast("double").alias("dxz"),
        (n * F.col("syz") - F.col("sy") * F.col("sz")).cast("double").alias("dyz"),
    )
    fl = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    # try_divide on each correlation: a CONSTANT column within a group
    # zeroes its variance term, so the divisor sqrt(da*db) is 0.0 —
    # DuckDB's double division yields NULL there while ANSI Spark would
    # THROW (the q_agg_anova_eta degenerate-division class, r7). The
    # variances are exact-integer differences so sqrt's argument is
    # never negative, and on nonzero divisors try_divide is
    # bit-identical to /. Probe: tests/test_degenerate_division_probes.py.
    dv = F.try_divide
    return d.select(
        "l_returnflag",
        "n",
        fl(dv(F.col("dxy"), F.sqrt(F.col("dx") * F.col("dy")))).alias("corr_qty_price"),
        fl(dv(F.col("dxz"), F.sqrt(F.col("dx") * F.col("dz")))).alias("corr_qty_disc"),
        fl(dv(F.col("dyz"), F.sqrt(F.col("dy") * F.col("dz")))).alias("corr_price_disc"),
    )


@query(
    "q_agg_log_histogram",
    oracle="""
WITH c AS (
  SELECT l_returnflag,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
), b AS (
  SELECT l_returnflag,
         CASE WHEN cents > 0 THEN length(printf('%b', cents)) - 1
              WHEN cents IS NOT NULL THEN -1 END AS bucket
  FROM c
)
SELECT l_returnflag, CAST(bucket AS INT) AS bucket,
       CASE WHEN bucket >= 0
            THEN CAST((1::BIGINT << bucket) AS BIGINT) END AS lo_cents,
       CASE WHEN bucket >= 0
            THEN CAST((1::BIGINT << (bucket + 1)) - 1 AS BIGINT)
       END AS hi_cents,
       count(*) AS n
FROM b GROUP BY l_returnflag, bucket
""",
)
def q_agg_log_histogram(spark, sf_dir):
    """Log2-bucketed histogram (the HdrHistogram / DDSketch bucket
    family with gamma=2): each POSITIVE price lands in bucket
    floor(log2(cents)), computed as the bit LENGTH of the exact integer
    cents minus one — pure integer arithmetic, no transcendental
    anywhere, so the bucket id can never disagree between engines.
    Non-positive values (refunds, zero) take the DDSketch convention of
    a dedicated bucket -1 with NULL bounds — before the r9
    negative-measures sweep, Spark's two's-complement bin() silently
    bucketed them at 63 while DuckDB's signed '%b' crashed the shift.
    NULL measures keep a NULL bucket (missing is not "non-positive").
    Log buckets give constant RELATIVE error at any magnitude, which is
    why latency/money distributions standardize on them over linear
    bins (q_agg_histogram is the linear counterpart). One
    partial-aggregable groupBy; bucket bounds are exact shifted
    integers."""
    li = load(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    # NULL measures stay in a NULL bucket (missing != non-positive): a
    # bare otherwise(-1) would silently count them as refund/zero rows
    # (ADVICE r9). The -1 arm is therefore isNotNull-gated on both sides.
    bucket = (
        F.when(cents > 0, F.length(F.bin(cents)) - 1)
        .when(cents.isNotNull(), F.lit(-1))
        .cast("int")
    )
    in_range = F.col("bucket") >= 0
    return (
        li.select("l_returnflag", bucket.alias("bucket"))
        .groupBy("l_returnflag", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "l_returnflag",
            "bucket",
            # pyspark's shiftleft() helper only takes a literal shift; the
            # SQL form accepts the bucket column
            F.when(
                in_range, F.expr("shiftleft(CAST(1 AS BIGINT), bucket)")
            ).alias("lo_cents"),
            F.when(
                in_range,
                F.expr("shiftleft(CAST(1 AS BIGINT), bucket + 1) - 1"),
            ).alias("hi_cents"),
            "n",
        )
    )


@query(
    "q_time_anomaly",
    oracle="""
WITH x AS (
  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS t,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events
), w AS (
  SELECT *,
         count(v) OVER fr AS n,
         sum(v) OVER fr AS s,
         sum(CAST(v AS HUGEINT) * v) OVER fr AS s2
  FROM x
  WINDOW fr AS (PARTITION BY user_id ORDER BY t, event_id
                ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
), f AS (
  SELECT user_id, event_id, t, v,
         CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s, s2
  FROM w WHERE n >= 5
)
SELECT user_id, event_id, v AS v_cents,
       floor((CAST(n AS DOUBLE) * v - CAST(s AS DOUBLE))
             / sqrt(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
             * 10000 + 0.5) / 10000 AS z
FROM f
WHERE CAST(n * v - s AS HUGEINT) * (n * v - s)
      > 9 * (n * s2 - CAST(s AS HUGEINT) * s)
  AND n * s2 - CAST(s AS HUGEINT) * s > 0
""",
)
def q_time_anomaly(spark, sf_dir):
    """Rolling z-score anomaly detection with an EXACT-INTEGER decision
    rule: each event is compared to its user's trailing 20-observation
    baseline (frame EXCLUDES the current row), and flagged when
    |v - mean| > 3*sigma. The flag never touches a double: the
    inequality is algebraically cleared of divisions and square roots —
    (n*v - s)^2 > 9*(n*s2 - s^2) over exact integer cents, every square
    multiplied WIDE (decimal(38,0) Spark-side / one HUGEINT operand
    oracle-side, the r8 extreme-magnitude recipe; the 20-row frame
    bounds each factor at ~20x max-cents so the wide squares hold to
    ~1e18 cents per value) — so both engines make
    the IDENTICAL keep/drop decision on every row; the threshold
    boundary that plagues float z-scores cannot flip. The displayed z
    itself is one shared floating tree over the same exact integers,
    floor-rounded. One user_id exchange, three frame aggregates in one
    Window node; at 100 TB this is the standard streaming-compatible
    trailing-baseline screen (no global statistics, no second pass)."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    fr = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(-20, -1)
    )
    w = (
        e.withColumn("n", F.count("v").over(fr))
        .withColumn("s", F.sum("v").over(fr))
        .withColumn(
            "s2",
            F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).over(fr),
        )
        .filter(F.col("n") >= 5)
    )
    nv_s = (F.col("n") * F.col("v") - F.col("s")).cast("decimal(38,0)")
    var_n2 = (
        F.col("n") * F.col("s2")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    )
    nd = F.col("n").cast("double")
    z = (
        (nd * F.col("v") - F.col("s").cast("double"))
        / F.sqrt(
            nd * F.col("s2").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double")
        )
    )
    return (
        w.filter((nv_s * nv_s > 9 * var_n2) & (var_n2 > 0))
        .select(
            "user_id",
            "event_id",
            F.col("v").alias("v_cents"),
            (F.floor(z * 10000 + F.lit(0.5)) / 10000).alias("z"),
        )
    )


_TOUCH_HOURS = 24


@query(
    "q_attribution_last_touch",
    oracle=f"""
WITH u AS (
  SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type,
         CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END AS is_t,
         CASE WHEN event_type <> 'purchase' THEN event_type END AS t_type,
         CASE WHEN event_type <> 'purchase' THEN ts::TIMESTAMP END AS t_ts
  FROM events
), w AS (
  SELECT *,
         last_value(t_type IGNORE NULLS) OVER fr AS last_type,
         last_value(t_ts IGNORE NULLS) OVER fr AS last_ts
  FROM u
  WINDOW fr AS (PARTITION BY user_id ORDER BY ts, is_t DESC, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), p AS (
  SELECT CASE WHEN last_ts IS NOT NULL
               AND epoch_us(ts) - epoch_us(last_ts)
                   <= CAST({_TOUCH_HOURS} AS BIGINT) * 3600 * 1000000
              THEN last_type ELSE 'none' END AS touch
  FROM w WHERE event_type = 'purchase'
)
SELECT touch, count(*) AS n,
       floor(CAST(count(*) AS DOUBLE) * 1000000 / sum(count(*)) OVER () + 0.5)
         / 1000000 AS share
FROM p GROUP BY touch
""",
)
def q_attribution_last_touch(spark, sf_dir):
    """Last-touch marketing attribution: every purchase is credited to
    the user's most recent NON-purchase event within the preceding 24 h
    ('none' when cold), then rolled up to credit share per touch type —
    the baseline attribution model every growth team runs first. Same
    single-scan tag-and-union as-of shape as q_join_asof (touches sort
    before a same-microsecond purchase so ties credit the touch), the
    tolerance as a post-window null-out on exact integer microseconds,
    and a rollup to <=|types| rows before the share window. One
    user_id exchange end-to-end."""
    e = load(spark, sf_dir, "events")
    is_t = (F.col("event_type") != "purchase").cast("int")
    u = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        is_t.alias("is_t"),
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias(
            "t_type"
        ),
        F.when(F.col("event_type") != "purchase", F.col("ts")).alias("t_ts"),
    )
    fr = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_t").desc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = u.withColumn(
        "last_type", F.last("t_type", ignorenulls=True).over(fr)
    ).withColumn("last_ts", F.last("t_ts", ignorenulls=True).over(fr))
    within = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("last_ts"))
        <= _TOUCH_HOURS * 3600 * 1_000_000
    )
    p = w.filter(F.col("event_type") == "purchase").select(
        F.when(F.col("last_ts").isNotNull() & within, F.col("last_type"))
        .otherwise(F.lit("none"))
        .alias("touch")
    )
    g = p.groupBy("touch").agg(F.count(F.lit(1)).alias("n"))
    wall = Window.partitionBy()
    share = (
        F.floor(
            F.col("n").cast("double") * 1000000 / F.sum("n").over(wall)
            + F.lit(0.5)
        )
        / 1000000
    )
    return g.select("touch", "n", share.alias("share"))


_CUSUM_K = 1600  # slack per observation, integer cents
_CUSUM_H = 16000  # alarm threshold, integer cents


@query(
    "q_time_cusum",
    oracle=f"""
WITH x AS (
  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS t,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events
), u AS (
  SELECT *, count(*) OVER (PARTITION BY user_id) AS n,
            sum(v) OVER (PARTITION BY user_id) AS s
  FROM x
), p AS (
  SELECT *, sum(n * v - s - {_CUSUM_K} * n) OVER w AS pre
  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), c AS (
  SELECT *, pre - least(0, min(pre) OVER w) AS sn
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), a AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY t, event_id) AS rn
  FROM c WHERE sn > {_CUSUM_H} * n
)
SELECT user_id,
       count(*) AS n_alarms,
       max(CASE WHEN rn = 1 THEN event_id END) AS first_alarm_event,
       CAST(floor(CAST(max(sn) AS DOUBLE) / any_value(n) + 0.5) AS BIGINT)
         AS peak_cents
FROM a GROUP BY user_id
""",
)
def q_time_cusum(spark, sf_dir):
    """CUSUM change-point detection per user — the classic
    drift-from-baseline alarm (Page 1954): S_i = max(0, S_{{i-1}} +
    (x_i - mean - k)), alarm when S_i > h. The recursion is NEVER
    folded: S_i = P_i - min(0, min_{{j<=i}} P_j) where P is the plain
    prefix sum of the deviations, so the whole detector is two
    cumulative windows — fully distributed, no per-user collect.
    Every quantity is cleared to exact integers by scaling through n
    (the user's observation count): a_t = n*v_t - s - k*n, alarm test
    S_i > h*n — both engines make the identical keep/drop decision on
    every row (|a_t| <= n*max_cents ~ 5.5e6 at sf0.1; the prefix sum
    stays far below 2^63 even at 1000x the per-user activity).
    Output is the per-user alarm digest (count, first alarm event,
    peak n-normalized excursion in cents via one floored division).
    One user_id exchange shared by all windows, then a tiny re-agg;
    the shape is streaming-compatible (prefix state only)."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    wu = Window.partitionBy("user_id")
    run = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = e.withColumn("n", F.count(F.lit(1)).over(wu)).withColumn(
        "s", F.sum("v").over(wu)
    )
    a = F.col("n") * F.col("v") - F.col("s") - _CUSUM_K * F.col("n")
    p = u.withColumn("pre", F.sum(a).over(run))
    c = p.withColumn(
        "sn", F.col("pre") - F.least(F.lit(0), F.min("pre").over(run))
    )
    alarms = (
        c.filter(F.col("sn") > _CUSUM_H * F.col("n"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("t", "event_id")
            ),
        )
    )
    return alarms.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_alarms"),
        F.max(F.when(F.col("rn") == 1, F.col("event_id"))).alias(
            "first_alarm_event"
        ),
        F.floor(
            F.max("sn").cast("double") / F.any_value("n") + F.lit(0.5)
        )
        .cast("long")
        .alias("peak_cents"),
    )


@query(
    "q_dq_chi2",
    oracle="""
WITH x AS (
  SELECT CAST(floor(epoch_us(ts::TIMESTAMP) / 86400000000) % 7 AS BIGINT)
           AS day, event_type AS et
  FROM events
), cells AS (
  SELECT day, et, CAST(count(*) AS BIGINT) AS o FROM x GROUP BY day, et
), r AS (SELECT day, sum(o) AS r FROM cells GROUP BY day),
c AS (SELECT et, sum(o) AS c FROM cells GROUP BY et),
n AS (SELECT sum(o) AS n FROM cells),
grid AS (
  SELECT r.day, c.et, r.r, c.c, coalesce(cells.o, 0) AS o
  FROM r CROSS JOIN c LEFT JOIN cells USING (day, et)
),
t AS (
  SELECT grid.day, grid.et,
         CAST(n.n * grid.o - grid.r * grid.c AS DOUBLE)
           * CAST(n.n * grid.o - grid.r * grid.c AS DOUBLE)
           / CAST(n.n * grid.r * grid.c AS DOUBLE) AS term
  FROM grid CROSS JOIN n
), arr AS (
  -- list_prepend/coalesce: empty input folds to 0.0 like Spark's seeded
  -- fold (r7 empty-input sweep); 0.0 + x == x on nonempty input
  SELECT list_prepend(0.0, coalesce(list(term ORDER BY day, et), [])) AS terms,
         count(*) AS n_cells,
         count(DISTINCT day) AS nd, count(DISTINCT et) AS nt
  FROM t
)
SELECT floor(list_reduce(terms, (acc, x) -> acc + x) * 10000 + 0.5) / 10000
         AS chi2,
       CAST((nd - 1) * (nt - 1) AS BIGINT) AS dof,
       CAST(n_cells AS BIGINT) AS n_cells
FROM arr
""",
)
def q_dq_chi2(spark, sf_dir):
    """Chi-square test of independence between day-of-week and event
    type — the standard drift/DQ check that a categorical mix is stable
    across a second dimension. Exactness: the day key is pure integer
    arithmetic on epoch microseconds (no timezone/engine calendar in
    play), observed counts and all marginals are exact integers, and
    each cell's term is algebraically cleared to
    (n*O - r*c)^2 / (n*r*c) — the numerator difference is an EXACT
    int64 (|n*O| <= 1e10 at sf0.1), so each term is two IEEE-identical
    double ops. The cross-cell sum (the one order-sensitive float
    reduction) is a pinned-order left fold over the (day, et)-sorted
    term list — bit-identical in both engines (the EWMA/kmeans
    recipe), then one floor-round for display. Plan: one scan,
    map-side-combined groupBy to <=42 cells, marginals re-aggregated
    from the cells (no second scan), broadcast joins, single-row out."""
    e = load(spark, sf_dir, "events").select(
        (F.floor(F.unix_micros("ts") / F.lit(86400000000)) % 7)
        .cast("long")
        .alias("day"),
        F.col("event_type").alias("et"),
    )
    arr = contingency_fold(e, "day", "et")
    return arr.select(
        (F.floor(F.col("chi2_raw") * 10000 + F.lit(0.5)) / 10000).alias(
            "chi2"
        ),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        (F.col("nr") * F.col("nc")).cast("long").alias("n_cells"),
    )


@query(
    "q_agg_winsorized_mean",
    oracle="""
WITH x AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem WHERE l_extendedprice IS NOT NULL
), g AS (
  SELECT flag, cents, CAST(count(*) AS BIGINT) AS cnt
  FROM x GROUP BY flag, cents
), w AS (
  SELECT *, sum(cnt) OVER (PARTITION BY flag ORDER BY cents) AS cum,
            CAST(sum(cnt) OVER (PARTITION BY flag) AS BIGINT) AS tot
  FROM g
), b AS (
  SELECT flag, any_value(tot) AS tot,
         min(CASE WHEN cum >= CAST(floor((5 * tot + 99) / 100) AS BIGINT)
                  THEN cents END) AS lo,
         min(CASE WHEN cum >= CAST(floor((95 * tot + 99) / 100) AS BIGINT)
                  THEN cents END) AS hi
  FROM w GROUP BY flag
)
SELECT g.flag, any_value(b.tot) AS n,
       any_value(b.lo) AS lo_cents, any_value(b.hi) AS hi_cents,
       CAST(floor(CAST(sum(least(greatest(g.cents, b.lo), b.hi) * g.cnt)
                       AS DOUBLE) / any_value(b.tot) + 0.5) AS BIGINT)
         AS winsor_mean_cents,
       CAST(floor(CAST(sum(g.cents * g.cnt) AS DOUBLE)
                  / any_value(b.tot) + 0.5) AS BIGINT) AS mean_cents
FROM g JOIN b USING (flag)
GROUP BY g.flag
""",
)
def q_agg_winsorized_mean(spark, sf_dir):
    """5/95 winsorized mean of extended price per return flag — the
    outlier-robust mean every metrics pipeline reports next to the raw
    one. Percentiles use the LOWER (no-interpolation) definition at
    rank ceil(p*n), so cut points are exact integer cents selected by a
    cumulative count — the whole computation stays in integers except
    two final floored divisions (the weighted-median recipe). The scan
    is first collapsed to a (flag, cents) value histogram (map-side
    combinable, orders of magnitude smaller than the table), the
    cumulative window runs over the HISTOGRAM not the raw rows — the
    distributed exact-percentile shape that survives 100 TB (no
    full-table sort; the flag-partitioned window sorts only distinct
    values). Cut points broadcast back; clamp + integer dot product.
    NULL prices are excluded on BOTH sides (the aggregate-ignores-NULL
    convention — a NULL would otherwise shift the cumulative ranks,
    r7 NULL-measure sweep catch)."""
    x = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice").isNotNull())
        .select(
            F.col("l_returnflag").alias("flag"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
    )
    g = x.groupBy("flag", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    wf = Window.partitionBy("flag")
    wc = wf.orderBy("cents").rangeBetween(Window.unboundedPreceding, 0)
    w = g.withColumn("cum", F.sum("cnt").over(wc)).withColumn(
        "tot", F.sum("cnt").over(wf)
    )
    k05 = F.floor((5 * F.col("tot") + 99) / 100)
    k95 = F.floor((95 * F.col("tot") + 99) / 100)
    b = w.groupBy("flag").agg(
        F.any_value("tot").alias("tot"),
        F.min(F.when(F.col("cum") >= k05, F.col("cents"))).alias("lo"),
        F.min(F.when(F.col("cum") >= k95, F.col("cents"))).alias("hi"),
    )
    j = g.join(F.broadcast(b), "flag")
    clamped = F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
    return j.groupBy("flag").agg(
        F.any_value("tot").alias("n"),
        F.any_value("lo").alias("lo_cents"),
        F.any_value("hi").alias("hi_cents"),
        F.floor(
            F.sum(clamped * F.col("cnt")).cast("double")
            / F.any_value("tot")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("winsor_mean_cents"),
        F.floor(
            F.sum(F.col("cents") * F.col("cnt")).cast("double")
            / F.any_value("tot")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("mean_cents"),
    )


_DS_B = 12  # downsample buckets per user series


@query(
    "q_time_downsample",
    oracle=f"""
WITH x AS (
  SELECT user_id, event_id,
         CAST(floor(epoch_us(ts::TIMESTAMP) / 1000000) AS BIGINT) AS t_sec,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
), p AS (
  SELECT *, t_sec - min(t_sec) OVER (PARTITION BY user_id) AS tr,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY t_sec, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM x
), pb AS (
  SELECT *, least({_DS_B} - 1,
                  CAST(floor((rn - 1) * {_DS_B} / n) AS BIGINT)) AS b,
         CAST(floor((n - 1) * {_DS_B} / n) AS BIGINT) AS maxb
  FROM p
), s AS (
  SELECT user_id, b, CAST(count(*) AS BIGINT) AS m,
         CAST(sum(tr) AS BIGINT) AS st, CAST(sum(v) AS BIGINT) AS sv
  FROM pb GROUP BY user_id, b
), nb AS (
  SELECT *, lag(m) OVER w AS mp, lag(st) OVER w AS stp, lag(sv) OVER w AS svp,
         lead(m) OVER w AS mn, lead(st) OVER w AS stn, lead(sv) OVER w AS svn
  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY b)
), sc AS (
  SELECT pb.*, abs((pb.tr * nb.mp - nb.stp) * (nb.svn * nb.mp - nb.svp * nb.mn)
                   - (pb.v * nb.mp - nb.svp) * (nb.stn * nb.mp - nb.stp * nb.mn))
                AS area2
  FROM pb JOIN nb ON pb.user_id = nb.user_id AND pb.b = nb.b
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, b
    ORDER BY CASE WHEN b = 0 THEN rn
                  WHEN b = maxb THEN n - rn
                  ELSE -area2 END,
             tr, event_id) AS pick
  FROM sc
)
SELECT user_id, CAST(b AS BIGINT) AS bucket, event_id, t_sec,
       v AS v_cents
FROM r WHERE pick = 1
""",
)
def q_time_downsample(spark, sf_dir):
    """Largest-triangle time-series downsampling (the LTTB family,
    Steinarsson 2013) with FIXED bucket anchors: each user's series is
    split into 12 rank buckets; the first bucket keeps its first point,
    the last keeps its last, and every middle bucket keeps the point
    forming the largest triangle with its NEIGHBOR BUCKETS' CENTROIDS.
    Anchoring on centroids (the LTOB/LTTB fixed-reference variant)
    instead of the previously-selected point removes the sequential
    dependency, so the whole pass is windows + one self-sized join —
    fully parallel, unlike the textbook LTTB fold. Exactness: times
    rebase to per-user integer seconds, values to integer cents, and
    the triangle-area argmax is cleared of the centroid divisions by
    scaling 2*area through mp^2*mn — every comparison is between exact
    int64s (|terms| < 3e14 at fixture scale; bucket size, not series
    length, bounds the factors), ties break on (time, event_id), so
    both engines select the identical 12 points per user. Plan: one
    user_id exchange shared by all windows, a bucket-summary table
    ~B rows/user, and a co-partitioned join back — the standard
    dashboard-rendering reduction (n points -> B) at any scale."""
    B = _DS_B
    # NULL-valued points are excluded on BOTH sides: a point with no
    # value has no triangle area and cannot be plotted (r7 NULL-measure
    # sweep catch).
    x = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.floor(F.unix_micros("ts") / F.lit(1000000))
            .cast("long")
            .alias("t_sec"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        )
    )
    wu = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("t_sec", "event_id")
    p = (
        x.withColumn("tr", F.col("t_sec") - F.min("t_sec").over(wu))
        .withColumn("rn", F.row_number().over(wo))
        .withColumn("n", F.count(F.lit(1)).over(wu))
    )
    pb = p.withColumn(
        "b",
        F.least(
            F.lit(B - 1), F.floor((F.col("rn") - 1) * B / F.col("n")).cast("long")
        ),
    ).withColumn(
        "maxb", F.floor((F.col("n") - 1) * B / F.col("n")).cast("long")
    )
    s = pb.groupBy("user_id", "b").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("tr").alias("st"),
        F.sum("v").alias("sv"),
    )
    wb = Window.partitionBy("user_id").orderBy("b")
    nb = (
        s.withColumn("mp", F.lag("m").over(wb))
        .withColumn("stp", F.lag("st").over(wb))
        .withColumn("svp", F.lag("sv").over(wb))
        .withColumn("mn", F.lead("m").over(wb))
        .withColumn("stn", F.lead("st").over(wb))
        .withColumn("svn", F.lead("sv").over(wb))
        .drop("m", "st", "sv")
    )
    sc = pb.join(nb, ["user_id", "b"])
    area2 = F.abs(
        (F.col("tr") * F.col("mp") - F.col("stp"))
        * (F.col("svn") * F.col("mp") - F.col("svp") * F.col("mn"))
        - (F.col("v") * F.col("mp") - F.col("svp"))
        * (F.col("stn") * F.col("mp") - F.col("stp") * F.col("mn"))
    )
    sel = sc.withColumn(
        "pick",
        F.row_number().over(
            Window.partitionBy("user_id", "b").orderBy(
                F.when(F.col("b") == 0, F.col("rn"))
                .when(F.col("b") == F.col("maxb"), F.col("n") - F.col("rn"))
                .otherwise(-area2),
                "tr",
                "event_id",
            )
        ),
    )
    return sel.filter(F.col("pick") == 1).select(
        "user_id",
        F.col("b").cast("long").alias("bucket"),
        "event_id",
        "t_sec",
        F.col("v").alias("v_cents"),
    )


_ACF_LAGS = 3  # autocorrelation lags reported


@query(
    "q_time_acf",
    oracle=f"""
WITH x AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS t, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events
), u AS (
  SELECT *, count(*) OVER (PARTITION BY user_id) AS n,
            sum(v) OVER (PARTITION BY user_id) AS s
  FROM x
), l AS (
  SELECT *,
         lead(v, 1) OVER w AS v1, lead(v, 2) OVER w AS v2,
         lead(v, 3) OVER w AS v3
  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), den AS (
  SELECT user_id, any_value(n) AS n,
         sum((n * v - s) * (n * v - s)) AS d
  FROM l GROUP BY user_id
), num AS (
  SELECT user_id, lag, sum(prod) AS nk, count(*) AS pairs
  FROM (
    SELECT user_id, 1 AS lag, (n * v - s) * (n * v1 - s) AS prod
    FROM l WHERE v1 IS NOT NULL
    UNION ALL
    SELECT user_id, 2 AS lag, (n * v - s) * (n * v2 - s) AS prod
    FROM l WHERE v2 IS NOT NULL
    UNION ALL
    SELECT user_id, 3 AS lag, (n * v - s) * (n * v3 - s) AS prod
    FROM l WHERE v3 IS NOT NULL
  ) z GROUP BY user_id, lag
)
SELECT num.user_id, CAST(num.lag AS INT) AS lag,
       CAST(num.pairs AS BIGINT) AS pairs,
       floor(CAST(num.nk AS DOUBLE) / CAST(den.d AS DOUBLE) * 1000000 + 0.5)
         / 1000000 AS acf
FROM num JOIN den ON num.user_id = den.user_id
WHERE den.d > 0
""",
)
def q_time_acf(spark, sf_dir):
    """Sample autocorrelation function at lags 1-3 per user series —
    the Box-Jenkins identification tool (is the series white noise,
    AR-ish, or mean-reverting?). The estimator r_k =
    sum (x_i - m)(x_i+k - m) / sum (x_i - m)^2 is cleared of the
    rational mean by scaling every deviation through n: numerator and
    denominator become EXACT int64 sums of (n*v - s) products (bounded
    by frame counts, far below 2^63 at fixture scales), so the only
    float op is the ONE final division, floor-rounded — both engines
    agree bit-for-bit. Plan: one user_id exchange shared by the count/
    sum/lead windows, the three lag products are in-row expressions
    (no extra shuffle for the union — Spark sees three projections of
    the same windowed child), and the per-(user, lag) rollup is
    partial-aggregable. The denominator joins back co-partitioned on
    user_id. Streaming-compatible shape (bounded lag state)."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    wu = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("t", "event_id")
    l = (
        e.withColumn("n", F.count(F.lit(1)).over(wu))
        .withColumn("s", F.sum("v").over(wu))
        .withColumn("v1", F.lead("v", 1).over(wo))
        .withColumn("v2", F.lead("v", 2).over(wo))
        .withColumn("v3", F.lead("v", 3).over(wo))
    )
    dev = F.col("n") * F.col("v") - F.col("s")
    den = l.groupBy("user_id").agg(
        F.any_value("n").alias("n"), F.sum(dev * dev).alias("d")
    )
    lagged = [
        l.filter(F.col(f"v{k}").isNotNull()).select(
            "user_id",
            F.lit(k).alias("lag"),
            (dev * (F.col("n") * F.col(f"v{k}") - F.col("s"))).alias("prod"),
        )
        for k in range(1, _ACF_LAGS + 1)
    ]
    stacked = lagged[0]
    for d2 in lagged[1:]:
        stacked = stacked.unionByName(d2)
    num = stacked.groupBy("user_id", "lag").agg(
        F.sum("prod").alias("nk"), F.count(F.lit(1)).alias("pairs")
    )
    return (
        num.join(den.filter(F.col("d") > 0), "user_id")
        .select(
            "user_id",
            F.col("lag").cast("int").alias("lag"),
            F.col("pairs").cast("long").alias("pairs"),
            (
                F.floor(
                    F.col("nk").cast("double") / F.col("d").cast("double") * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("acf"),
        )
    )


@query(
    "q_agg_spearman",
    oracle="""
WITH x AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
  FROM lineitem
), qh AS (
  SELECT flag, q, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY flag, q
), qr AS (
  SELECT flag, q,
         2 * sum(cnt) OVER (PARTITION BY flag ORDER BY q) - cnt + 1 AS rq
  FROM qh
), ch AS (
  SELECT flag, c, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY flag, c
), cr AS (
  SELECT flag, c,
         2 * sum(cnt) OVER (PARTITION BY flag ORDER BY c) - cnt + 1 AS rc
  FROM ch
), r AS (
  SELECT x.flag, qr.rq, cr.rc
  FROM x JOIN qr ON x.flag = qr.flag AND x.q = qr.q
         JOIN cr ON x.flag = cr.flag AND x.c = cr.c
), m AS (
  SELECT flag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rq) AS BIGINT) AS sx, CAST(sum(rc) AS BIGINT) AS sy,
         CAST(sum(rq * rq) AS BIGINT) AS sxx,
         CAST(sum(rc * rc) AS BIGINT) AS syy,
         CAST(sum(rq * rc) AS BIGINT) AS sxy
  FROM r GROUP BY flag
)
SELECT flag, n,
       floor((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt(greatest((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                             * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy),
                             0.0))
             * 1000000 + 0.5) / 1000000 AS rho
FROM m
""",
)
def q_agg_spearman(spark, sf_dir):
    """Spearman rank correlation of quantity vs extended price per
    return flag — Pearson on AVERAGE ranks, the tie-correct textbook
    definition, and the robust complement to q_agg_corr_matrix's
    Pearson. Exactness: ranks are computed on VALUE HISTOGRAMS (the
    winsorized-mean shape — the rank window sorts distinct values, not
    rows), and the average rank of a tie group, (2*cum - cnt + 1)/2,
    is kept DOUBLED so it stays an exact integer; all five moment sums
    are then exact int64 (|sum(rq*rc)| <= n*(2n)^2 ~ 9e17 at sf0.1).
    The final rho combines them in one pinned IEEE double tree (the
    int64->double casts round identically in both engines) with a
    single floor-round — the doubling cancels between numerator and
    denominator. Plan: two histogram windows partitioned by flag, two
    co-partitioned hash joins back to the fact rows (at 100 TB the
    cents histogram is not broadcastable; the join key carries the
    flag so both joins share the fact's partitioning), one moment agg."""
    x = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("q"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("c"),
    )

    def ranks(col):
        h = x.groupBy("flag", col).agg(F.count(F.lit(1)).alias("cnt"))
        w = (
            Window.partitionBy("flag")
            .orderBy(col)
            .rangeBetween(Window.unboundedPreceding, 0)
        )
        return h.select(
            "flag",
            col,
            (2 * F.sum("cnt").over(w) - F.col("cnt") + 1).alias(f"r_{col}"),
        )

    r = x.join(ranks("q"), ["flag", "q"]).join(ranks("c"), ["flag", "c"])
    m = r.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r_q").alias("sx"),
        F.sum("r_c").alias("sy"),
        F.sum(F.col("r_q") * F.col("r_q")).alias("sxx"),
        F.sum(F.col("r_c") * F.col("r_c")).alias("syy"),
        F.sum(F.col("r_q") * F.col("r_c")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    # Degenerate guards (r7 class, tests/test_degenerate_division_probes
    # .py), identical on both sides and no-ops on non-degenerate input:
    # a CONSTANT column within a flag ties every rank, zeroing its
    # variance term (DuckDB nulls the 0-division, ANSI Spark would
    # throw — try_divide), and the variance product is a FLOAT tree
    # over moment casts that can round past 2^53, so a true zero can
    # land tiny-negative where DuckDB's sqrt throws (greatest-clamp).
    rho_raw = F.try_divide(
        nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"),
        F.sqrt(
            F.greatest(
                (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
                * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")),
                F.lit(0.0),
            )
        ),
    )
    return m.select(
        "flag",
        "n",
        (F.floor(rho_raw * 1000000 + F.lit(0.5)) / 1000000).alias("rho"),
    )


@query(
    "q_agg_theilsen",
    oracle="""
WITH x AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts::TIMESTAMP) / 1000000) AS BIGINT) AS t,
         event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events WHERE user_id < 100
), p AS (
  SELECT a.user_id, CAST(b.v - a.v AS DOUBLE) / (b.t - a.t) AS slope
  FROM x a JOIN x b ON a.user_id = b.user_id
  WHERE a.t < b.t
), r AS (
  SELECT user_id, slope,
         row_number() OVER (PARTITION BY user_id ORDER BY slope) AS rn,
         count(*) OVER (PARTITION BY user_id) AS m
  FROM p
), sl AS (
  SELECT user_id, slope, CAST(m AS BIGINT) AS n_pairs
  FROM r WHERE rn = CAST(floor((m + 1) / 2) AS BIGINT)
), res AS (
  SELECT x.user_id, sl.slope, sl.n_pairs, x.v - sl.slope * x.t AS resid
  FROM x JOIN sl ON x.user_id = sl.user_id
), ri AS (
  SELECT user_id, slope, n_pairs, resid,
         row_number() OVER (PARTITION BY user_id ORDER BY resid) AS rn,
         count(*) OVER (PARTITION BY user_id) AS k
  FROM res
)
SELECT user_id, n_pairs,
       floor(slope * 1000000 + 0.5) / 1000000 AS slope_cps,
       floor(resid * 100 + 0.5) / 100 AS intercept_cents
FROM ri WHERE rn = CAST(floor((k + 1) / 2) AS BIGINT)
""",
)
def q_agg_theilsen(spark, sf_dir):
    """Theil-Sen robust trend per user: the median of all pairwise
    slopes (up to 29.3% outlier breakdown vs OLS's zero), plus the
    companion robust intercept = median residual at that slope — the
    estimator monitoring teams use when q_agg_regression's OLS line
    chases spikes. Determinism: each slope is ONE IEEE division of
    exact integers (cents over whole seconds, same-second pairs
    excluded), so both engines hold identical doubles; the median is
    the LOWER order statistic (row_number, no interpolation) and ties
    in the sort are harmless because the VALUE is selected; residuals
    reuse the selected slope in one shared multiply-subtract tree.
    Plan: the pairwise self-join is co-partitioned on user_id and the
    quadratic blowup is bounded per entity (<=C(99,2) pairs at the
    fixture cap; the user_id < 100 filter bounds the demo exactly like
    q_time_ewma) — at scale you run this on bounded per-entity windows
    or sampled pairs, never across entities. One exchange feeds join,
    both windows, and the residual re-join."""
    x = load(spark, sf_dir, "events").filter(F.col("user_id") < 100).select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(1000000)).cast("long").alias("t"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    a, b = x.alias("a"), x.alias("b")
    p = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id")) & (F.col("a.t") < F.col("b.t")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        (
            (F.col("b.v") - F.col("a.v")).cast("double")
            / (F.col("b.t") - F.col("a.t"))
        ).alias("slope"),
    )
    wp = Window.partitionBy("user_id")
    r = p.withColumn(
        "rn", F.row_number().over(wp.orderBy("slope"))
    ).withColumn("m", F.count(F.lit(1)).over(wp))
    sl = r.filter(F.col("rn") == F.floor((F.col("m") + 1) / 2)).select(
        "user_id", "slope", F.col("m").alias("n_pairs")
    )
    res = x.join(sl, "user_id").withColumn(
        "resid", F.col("v") - F.col("slope") * F.col("t")
    )
    ri = res.withColumn(
        "rn", F.row_number().over(wp.orderBy("resid"))
    ).withColumn("k", F.count(F.lit(1)).over(wp))
    return ri.filter(F.col("rn") == F.floor((F.col("k") + 1) / 2)).select(
        "user_id",
        "n_pairs",
        (F.floor(F.col("slope") * 1000000 + F.lit(0.5)) / 1000000).alias(
            "slope_cps"
        ),
        (F.floor(F.col("resid") * 100 + F.lit(0.5)) / 100).alias(
            "intercept_cents"
        ),
    )


@query(
    "q_ab_delta_method",
    oracle="""
WITH u AS (
  SELECT user_id, user_id % 2 AS arm,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY user_id
), m AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy,
         sum(CAST(x AS HUGEINT) * y) AS sxy
  FROM u GROUP BY arm
), d AS (
  SELECT arm, n, CAST(sx AS DOUBLE) / sy AS r,
         CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
         CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
  FROM m
), s AS (
  SELECT arm, n, r,
         sqrt(greatest((sxxd - 2 * r * sxyd + r * r * syyd)
                       - nd * (sxd / nd - r * (syd / nd))
                            * (sxd / nd - r * (syd / nd)), 0.0)
              / (nd - 1) / nd) / (syd / nd) AS se
  FROM d
)
SELECT CAST(arm AS BIGINT) AS arm, n,
       floor(r * 1000000 + 0.5) / 1000000 AS ratio_cents_per_event,
       floor(se * 1000000 + 0.5) / 1000000 AS se,
       floor((r - 1.96 * se) * 1000000 + 0.5) / 1000000 AS ci_lo,
       floor((r + 1.96 * se) * 1000000 + 0.5) / 1000000 AS ci_hi
FROM s
""",
)
def q_ab_delta_method(spark, sf_dir):
    """Ratio-metric inference for A/B tests via the delta method
    (Deng et al., KDD 2018's formulation): the experiment unit is the
    USER, the metric is revenue-per-event = sum(x_u)/sum(y_u), and the
    naive per-event variance is wrong because events cluster within
    users — the delta method corrects it from the per-user moment sums:
    Var(R) ~ (s_x^2 - 2R s_xy + R^2 s_y^2) / (n * ybar^2). Arms are a
    deterministic unit split (user_id % 2 — the fixture stand-in for a
    salted assignment hash). Exactness: x (purchase cents) and y
    (event counts) are exact integers, all six moment sums are exact
    int64, and R/SE/CI are ONE pinned IEEE tree over their casts
    (1.96 parses to the identical double in both engines), floored at
    6dp. Plan: one user-keyed partial agg (events -> |users| rows),
    one 2-row arm agg — the whole analysis is two map-side-combinable
    aggregations regardless of event volume, which is why this exact
    shape is the standard 100 TB experimentation readout."""
    e = load(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("x"),
        F.count(F.lit(1)).alias("y"),
    ).withColumn("arm", F.col("user_id") % 2)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # wide-before-multiply + decimal sums (r8 extreme sweep): a per-user
    # cents total past ~3e9 squares over int64, and arm-level sums are
    # corpus-sized; identical exact integers at any magnitude
    m = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y")) * dec(F.col("y"))).alias("syy"),
        F.sum(dec(F.col("x")) * dec(F.col("y"))).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, syyd = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxyd = F.col("sxy").cast("double")
    r = sxd / F.col("sy")
    mean_dev = sxd / nd - r * (syd / nd)
    # Two degenerate guards (r7 probe file
    # tests/test_degenerate_division_probes.py), both IDENTICAL on both
    # engines and no-ops on non-degenerate input:
    #   * greatest(.., 0.0): the variance numerator is mathematically
    #     >= 0 but is a FLOAT tree — an arm whose users have exactly
    #     proportional (x, y) lands ~-4e-12, where DuckDB's sqrt THROWS
    #     while Spark yields NaN. Clamping to 0.0 makes se exactly 0.
    #   * try_divide(.., n-1): a single-user arm divides by zero —
    #     DuckDB nulls the double division, ANSI Spark would throw.
    var_num = F.greatest(
        (sxxd - 2 * r * sxyd + r * r * syyd) - nd * mean_dev * mean_dev,
        F.lit(0.0),
    )
    se = F.sqrt(F.try_divide(var_num, nd - 1) / nd) / (syd / nd)
    f6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    return m.select(
        F.col("arm").cast("long").alias("arm"),
        "n",
        f6(r).alias("ratio_cents_per_event"),
        f6(se).alias("se"),
        f6(r - 1.96 * se).alias("ci_lo"),
        f6(r + 1.96 * se).alias("ci_hi"),
    )


@query(
    "q_time_drawdown",
    oracle="""
WITH x AS (
  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS t,
         CASE WHEN event_type = 'purchase'
              THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
              ELSE -CAST(floor(value * 100 + 0.5) AS BIGINT) END AS v
  FROM events WHERE event_type IN ('purchase', 'error')
), c0 AS (
  SELECT *, CAST(sum(v) OVER w AS BIGINT) AS cum
  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), c AS (
  SELECT *, max(cum) OVER w AS peak
  FROM c0 WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), d AS (
  SELECT user_id, event_id, t, peak - cum AS dd, cum
  FROM c
), m AS (
  SELECT user_id, max(dd) AS max_dd FROM d GROUP BY user_id
), a AS (
  SELECT d.user_id, d.event_id, d.dd, d.cum,
         row_number() OVER (PARTITION BY d.user_id ORDER BY d.t, d.event_id)
           AS rn
  FROM d JOIN m ON d.user_id = m.user_id AND d.dd = m.max_dd
)
SELECT a.user_id, a.dd AS max_drawdown_cents, a.event_id AS trough_event,
       (SELECT max(cum) FROM d WHERE d.user_id = a.user_id)
         AS peak_cum_cents
FROM a WHERE rn = 1
""",
)
def q_time_drawdown(spark, sf_dir):
    """Maximum drawdown of each user's NET-revenue curve (purchases
    credit, errors debit — a signed P&L so the curve actually dips) —
    the risk metric every trading/revenue dashboard carries: the
    deepest drop from a running peak, with the event where the trough
    is FIRST reached. Nested windows do it in one pass: cumulative
    sum, running max of that sum, drawdown = peak - cum — EXACT cents
    (DuckDB nests the window pair; Spark chains two Window nodes over
    the same partitioning), so every comparison and the argmax
    tie-break ((t, event_id) order on equal depth) is integer-decided.
    One user_id exchange shared by both windows and the rollup; at
    100 TB this is the standard single-shuffle prefix-statistic shape
    (contrast the O(n^2) pairwise peak-trough join)."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    x = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "error"))
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("t"),
            F.when(F.col("event_type") == "purchase", cents)
            .otherwise(-cents)
            .alias("v"),
        )
    )
    run = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = x.withColumn("cum", F.sum("v").over(run)).withColumn(
        "peak", F.max("cum").over(run)
    )
    d = c.withColumn("dd", F.col("peak") - F.col("cum"))
    m = d.groupBy("user_id").agg(
        F.max("dd").alias("max_dd"), F.max("cum").alias("peak_cum_cents")
    )
    a = d.join(m, "user_id").filter(F.col("dd") == F.col("max_dd"))
    first = a.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy("t", "event_id")
        ),
    ).filter(F.col("rn") == 1)
    return first.select(
        "user_id",
        F.col("dd").alias("max_drawdown_cents"),
        F.col("event_id").alias("trough_event"),
        "peak_cum_cents",
    )


@query(
    "q_agg_ks_test",
    oracle="""
WITH s AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is1,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events WHERE event_type IN ('purchase', 'view')
    AND value IS NOT NULL
), g AS (
  SELECT v, CAST(sum(is1) AS BIGINT) AS d1,
         CAST(sum(1 - is1) AS BIGINT) AS d2
  FROM s GROUP BY v
), c AS (
  SELECT v,
         sum(d1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS c1,
         sum(d2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS c2
  FROM g
), t AS (
  SELECT CAST(sum(is1) AS BIGINT) AS n1,
         CAST(sum(1 - is1) AS BIGINT) AS n2
  FROM s
), d AS (
  SELECT c.v, abs(t.n2 * c.c1 - t.n1 * c.c2) AS diff, t.n1, t.n2
  FROM c CROSS JOIN t
)
SELECT n1, n2,
       -(max(row(diff, -v)))[2] AS ks_at_cents,
       floor(CAST(max(diff) AS DOUBLE) * 1000000 / (n1 * n2) + 0.5)
         / 1000000 AS ks_d
FROM d GROUP BY n1, n2
""",
)
def q_agg_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic between the purchase and
    view value distributions — the standard nonparametric
    did-the-distribution-shift test (drift monitors, A/B guardrails).
    D = max_x |F1(x) - F2(x)| is computed EXACTLY: both ECDFs live on
    the pooled distinct cent values via one cumulative window, and the
    max is taken over the INTEGER cross-multiplied gap
    |n2*c1 - n1*c2| (the common-denominator trick — no float enters
    until one final shared-order division). The argmax location
    tie-breaks to the smallest value via max(struct(diff, -v)).
    Plan: one groupBy on cents collapses the scan to |distinct values|
    rows, the ECDF window runs on that tiny set, and totals broadcast —
    at 100 TB the statistic costs one map-side-combinable aggregation.
    NULL values are excluded on BOTH sides: an ECDF is defined over
    observed values only (r7 NULL-measure sweep catch)."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
        & F.col("value").isNotNull()
    )
    s = e.select(
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(0))
        .alias("is1"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    g = s.groupBy("v").agg(
        F.sum("is1").alias("d1"), F.sum(1 - F.col("is1")).alias("d2")
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wfull = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = g.select(
        "v",
        F.sum("d1").over(wc).alias("c1"),
        F.sum("d2").over(wc).alias("c2"),
        # totals from the SAME collapsed stream (already one partition
        # after the ECDF window) — never a second events aggregation
        F.sum("d1").over(wfull).alias("n1"),
        F.sum("d2").over(wfull).alias("n2"),
    )
    d = c.withColumn(
        "diff", F.abs(F.col("n2") * F.col("c1") - F.col("n1") * F.col("c2"))
    )
    best = d.groupBy("n1", "n2").agg(
        F.max("diff").alias("dnum"),
        (-F.max(F.struct(F.col("diff"), (-F.col("v")).alias("nv")))["nv"]).alias(
            "ks_at_cents"
        ),
    )
    return best.select(
        "n1",
        "n2",
        "ks_at_cents",
        (
            F.floor(
                F.col("dnum").cast("double")
                * 1000000
                / (F.col("n1") * F.col("n2"))
                + F.lit(0.5)
            )
            / 1000000
        ).alias("ks_d"),
    )


@query(
    "q_orders_reorder_interval",
    oracle="""
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(floor(epoch_us(o_orderdate::TIMESTAMP) / 86400000000)
              AS BIGINT) AS day
  FROM orders
), g AS (
  SELECT o_custkey,
         day - lag(day) OVER (PARTITION BY o_custkey
                              ORDER BY day, o_orderkey) AS gap
  FROM o
), f AS (
  SELECT o_custkey, gap FROM g WHERE gap IS NOT NULL
)
SELECT o_custkey,
       CAST(count(*) + 1 AS BIGINT) AS n_orders,
       min(gap) AS min_gap_days,
       (list(gap ORDER BY gap))[CAST(floor((count(*) + 1) / 2) AS INT)]
         AS median_gap_days,
       max(gap) AS max_gap_days,
       floor(CAST(sum(gap) AS DOUBLE) * 100 / count(*) + 0.5) / 100
         AS avg_gap_days
FROM f GROUP BY o_custkey
""",
)
def q_orders_reorder_interval(spark, sf_dir):
    """Inter-purchase interval profile per repeat customer — the
    replenishment-cycle metric behind reorder reminders and churn-risk
    clocks: for every customer with >= 2 orders, the min / lower-median
    / max / mean of the day gaps between consecutive orders. Gaps are
    exact integer day differences ((date, orderkey)-ordered lag over
    one customer partition); the lower median indexes the sorted gap
    list at floor((n+1)/2) so no interpolation float exists, and the
    mean is one floor-rounded division of exact integers. Plan: one
    shuffle on o_custkey shared by the lag window and the rollup —
    the same single-exchange prefix shape as q_time_drawdown; output
    is bounded by |repeat customers|."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.floor(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            / F.lit(86400000000)
        )
        .cast("long")
        .alias("day"),
    )
    wl = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    g = o.withColumn("gap", F.col("day") - F.lag("day").over(wl)).filter(
        F.col("gap").isNotNull()
    )
    agg = g.groupBy("o_custkey").agg(
        (F.count(F.lit(1)) + 1).alias("n_orders"),
        F.min("gap").alias("min_gap_days"),
        F.element_at(
            F.array_sort(F.collect_list("gap")),
            F.floor((F.count(F.lit(1)) + 1) / 2).cast("int"),
        ).alias("median_gap_days"),
        F.max("gap").alias("max_gap_days"),
        (
            F.floor(
                F.sum("gap").cast("double") * 100 / F.count(F.lit(1))
                + F.lit(0.5)
            )
            / 100
        ).alias("avg_gap_days"),
    )
    return agg


@query(
    "q_agg_mannwhitney",
    oracle="""
WITH s AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is1,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events WHERE event_type IN ('purchase', 'view')
), g AS (
  SELECT v, CAST(sum(is1) AS BIGINT) AS cnt1,
         CAST(count(*) AS BIGINT) AS cnt
  FROM s GROUP BY v
), r AS (
  SELECT cnt1,
         2 * coalesce(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
             PRECEDING AND 1 PRECEDING), 0) + cnt + 1 AS rank2
  FROM g
), t AS (
  SELECT CAST(sum(is1) AS BIGINT) AS n1,
         CAST(sum(1 - is1) AS BIGINT) AS n2
  FROM s
)
SELECT t.n1, t.n2,
       CAST(sum(r.cnt1 * r.rank2) AS BIGINT) - t.n1 * (t.n1 + 1) AS u1_x2,
       2 * t.n1 * t.n2 + t.n1 * (t.n1 + 1)
         - CAST(sum(r.cnt1 * r.rank2) AS BIGINT) AS u2_x2,
       floor(CAST(sum(r.cnt1 * r.rank2) - t.n1 * (t.n1 + 1) AS DOUBLE)
             * 1000000 / (2 * t.n1 * t.n2) + 0.5) / 1000000 AS auc
FROM r CROSS JOIN t GROUP BY t.n1, t.n2
""",
)
def q_agg_mannwhitney(spark, sf_dir):
    """Mann-Whitney U (Wilcoxon rank-sum) between purchase and view
    values — the nonparametric are-purchases-larger test, with the
    common-language effect size U1/(n1*n2), which IS the ROC AUC of
    'value separates purchases from views'. EXACT despite midranks:
    tied values get the average rank, which is a half-integer, so the
    whole computation carries 2x-scaled ranks (rank2 = 2*cum_prev +
    cnt + 1 per distinct value) and both 2*U statistics stay pure
    BIGINT (U1 = R1 - n1(n1+1)/2, the purchase-side statistic, so
    AUC > 0.5 means purchases stochastically dominate); the AUC is
    one floored division at the end. The identity
    U1 + U2 = n1*n2 is asserted by the test. Plan: identical to
    q_agg_ks_test — one cents-keyed combine collapses the scan,
    the rank window runs on |distinct values| rows, totals broadcast;
    at 100 TB the test costs one map-side-combinable aggregation."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    s = e.select(
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(0))
        .alias("is1"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    g = s.groupBy("v").agg(
        F.sum("is1").alias("cnt1"), F.count(F.lit(1)).alias("cnt")
    )
    wp = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    wfull = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = g.select(
        "cnt1",
        (
            2 * F.coalesce(F.sum("cnt").over(wp), F.lit(0))
            + F.col("cnt")
            + 1
        ).alias("rank2"),
        F.sum("cnt1").over(wfull).alias("n1"),
        (F.sum("cnt").over(wfull) - F.sum("cnt1").over(wfull)).alias("n2"),
    )
    agg = r.groupBy("n1", "n2").agg(
        F.sum(F.col("cnt1") * F.col("rank2")).alias("r1_x2")
    )
    u1_x2 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    u2_x2 = (
        2 * F.col("n1") * F.col("n2")
        + F.col("n1") * (F.col("n1") + 1)
        - F.col("r1_x2")
    )
    return agg.select(
        "n1",
        "n2",
        u1_x2.alias("u1_x2"),
        u2_x2.alias("u2_x2"),
        (
            # try_divide (r7 degenerate-division class): a one-sided
            # input (no purchases OR no views) makes n1*n2 = 0 — DuckDB
            # nulls the division, ANSI Spark would throw; bit-identical
            # to / on nonzero divisors.
            F.floor(
                F.try_divide(
                    u1_x2.cast("double") * 1000000,
                    2 * F.col("n1") * F.col("n2"),
                )
                + F.lit(0.5)
            )
            / 1000000
        ).alias("auc"),
    )


@query(
    "q_agg_growth_curve",
    oracle="""
WITH d AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts::TIMESTAMP) / 86400000000) AS BIGINT) AS day
  FROM events
), act AS (
  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
  FROM d GROUP BY day
), firsts AS (
  SELECT user_id, min(day) AS first_day FROM d GROUP BY user_id
), new_ AS (
  SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_new
  FROM firsts GROUP BY first_day
)
SELECT act.day, act.n_active,
       coalesce(new_.n_new, 0) AS n_new,
       CAST(sum(coalesce(new_.n_new, 0)) OVER (ORDER BY act.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_users,
       floor(CAST(coalesce(new_.n_new, 0) AS DOUBLE) * 10000
             / act.n_active + 0.5) / 10000 AS pct_new
FROM act LEFT JOIN new_ ON act.day = new_.day
""",
)
def q_agg_growth_curve(spark, sf_dir):
    """Audience growth curve: per active day, distinct active users,
    first-time users, the cumulative registered-user count, and the
    new-user share — the DAU/new/cumulative triple on every growth
    dashboard. Cumulative distinct is NOT a running countDistinct
    (quadratic re-scan): each user collapses to one min(day) row and
    the curve is a plain cumulative sum over per-day new-user counts —
    the standard exact trick that scales because state is one row per
    user, then one row per day. All integers; the share is one floored
    division. Plan: two map-side-combinable aggs over the same scan
    (per-day distinct, per-user min), a broadcast-size day join, and a
    window over |days| rows. At 100 TB the only real exchange is the
    user_id/day shuffle feeding the two aggs."""
    d = load(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(86400000000))
        .cast("long")
        .alias("day"),
    )
    act = d.groupBy("day").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    firsts = d.groupBy("user_id").agg(F.min("day").alias("first_day"))
    new = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    j = act.join(new, "day", "left").withColumn(
        "n_new", F.coalesce(F.col("n_new"), F.lit(0))
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return j.select(
        "day",
        "n_active",
        "n_new",
        F.sum("n_new").over(wc).alias("cum_users"),
        (
            F.floor(
                F.col("n_new").cast("double") * 10000 / F.col("n_active")
                + F.lit(0.5)
            )
            / 10000
        ).alias("pct_new"),
    )


@query(
    "q_time_seasonal_naive",
    oracle="""
WITH r AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts::TIMESTAMP) / 86400000000) AS BIGINT) AS day,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY event_type, day
), j AS (
  SELECT a.event_type, a.day, a.cents AS actual, f.cents AS forecast
  FROM r a JOIN r f
    ON a.event_type = f.event_type AND f.day = a.day - 7
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(abs(actual - forecast)) AS BIGINT) AS abs_err_cents,
       floor(CAST(sum(abs(actual - forecast)) AS DOUBLE) * 1000000
             / sum(actual) + 0.5) / 1000000 AS wape,
       floor(CAST(sum(abs(actual - forecast)) AS DOUBLE) * 100
             / count(*) + 0.5) / 100 AS mae_cents
FROM j GROUP BY event_type
""",
)
def q_time_seasonal_naive(spark, sf_dir):
    """Seasonal-naive forecast backtest: predict each day's per-type
    revenue with the value seven days earlier and score WAPE + MAE —
    the baseline every forecasting system must beat, and the exact
    backtest harness (join actuals to their own lag) that evaluates a
    real model at scale. The 7-day lag is a self-JOIN on day-7, not a
    lag window, so calendar gaps score only genuinely comparable days.
    Daily totals are exact integer cents; both error metrics are one
    floored division of exact integers. Plan: one (type, day) combine
    collapses the scan to a tiny series; the self-join and rollup run
    on |types|*|days| rows. At 100 TB the backtest costs the one
    events shuffle that builds the daily series."""
    r = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(F.unix_micros("ts") / F.lit(86400000000))
            .cast("long")
            .alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("cents"))
    )
    a, f = r.alias("a"), r.alias("f")
    j = a.join(
        f,
        (F.col("a.event_type") == F.col("f.event_type"))
        & (F.col("f.day") == F.col("a.day") - 7),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.cents").alias("actual"),
        F.col("f.cents").alias("forecast"),
    )
    err = F.sum(F.abs(F.col("actual") - F.col("forecast")))
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        err.alias("abs_err_cents"),
        (
            F.floor(err.cast("double") * 1000000 / F.sum("actual") + F.lit(0.5))
            / 1000000
        ).alias("wape"),
        (
            F.floor(err.cast("double") * 100 / F.count(F.lit(1)) + F.lit(0.5))
            / 100
        ).alias("mae_cents"),
    )


_PK_AUDIT = (
    ("orders", ("o_orderkey",)),
    ("customer", ("c_custkey",)),
    ("part", ("p_partkey",)),
    ("supplier", ("s_suppkey",)),
    ("lineitem", ("l_orderkey", "l_linenumber")),
    ("events", ("event_id",)),
    ("documents", ("doc_id",)),
    ("embeddings", ("vec_id",)),
)


@query(
    "q_dq_duplicate_keys",
    oracle=" UNION ALL ".join(
        f"""SELECT '{t}' AS tbl,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
       CAST(sum(c - 1) AS BIGINT) AS n_excess_rows
FROM (SELECT count(*) AS c FROM {t} GROUP BY {", ".join(ks)}) g"""
        for t, ks in _PK_AUDIT
    ),
)
def q_dq_duplicate_keys(spark, sf_dir):
    """Primary-key uniqueness audit across every table of the schema:
    per declared key, row count, distinct-key count, violated keys and
    excess rows — the companion to q_dq_referential (that one audits
    edges, this one audits identities; together they are the DQ gate a
    warehouse runs before promoting a snapshot). The fixture itself
    makes the audit non-vacuous: the synthetic lineitem does NOT keep
    (l_orderkey, l_linenumber) unique, and the audit reports it. Pure integer counting
    off one groupBy per table; each table reduces to ONE row, so the
    union moves nothing. Plan: every branch is a map-side-combinable
    count on the key columns with nothing else read (column pruning
    leaves a key-only scan); at 100 TB each audit costs one pass over
    its key columns and the branches schedule independently."""
    outs = []
    for t, ks in _PK_AUDIT:
        g = (
            load(spark, sf_dir, t)
            .groupBy(*[F.col(k) for k in ks])
            .agg(F.count(F.lit(1)).alias("c"))
        )
        outs.append(
            g.agg(
                F.sum("c").alias("n_rows"),
                F.count(F.lit(1)).alias("n_keys"),
                F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias(
                    "n_dup_keys"
                ),
                F.sum(F.col("c") - 1).alias("n_excess_rows"),
            ).select(F.lit(t).alias("tbl"), "*")
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


_QBANDS = (10, 25, 50, 75, 90)  # nearest-rank percentiles reported


@query(
    "q_agg_quantile_bands",
    oracle=f"""
WITH x AS (
  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
), l AS (
  SELECT event_type, list(v ORDER BY v) AS vs,
         CAST(count(*) AS BIGINT) AS n
  FROM x GROUP BY event_type
)
SELECT event_type, n,
       {", ".join(
           f"vs[CAST(floor(({p} * n + 99) / 100) AS INT)] AS p{p}_cents"
           for p in _QBANDS
       )}
FROM l
""",
)
def q_agg_quantile_bands(spark, sf_dir):
    """Exact nearest-rank percentile bands (P10/P25/P50/P75/P90) of the
    value distribution per event type — the distribution summary on
    every latency/revenue SLO dashboard, computed WITHOUT interpolation
    so every band is an actual observed value (pure integer cents,
    rank = ceil(p*n/100) in integer arithmetic — zero float anywhere).
    The Spark side is the DISTRIBUTED formulation: a per-group
    row_number over the sorted values + one count join, selecting the
    five ranked rows with conditional aggregation — no per-group
    collect, so a 10-billion-row group costs one sort-shuffle, while
    the oracle indexes an ordered list (same multiset, same order
    statistic, method-independent). At 100 TB this is the exact-
    percentile plan you run when approx_percentile's error bound is
    not acceptable. NULL values are excluded on BOTH sides (percentiles
    range over observed values — r7 NULL-measure sweep catch)."""
    x = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        )
    )
    wn = Window.partitionBy("event_type").orderBy("v")
    n = x.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    j = x.withColumn("rn", F.row_number().over(wn)).join(
        F.broadcast(n), "event_type"
    )
    aggs = [F.first("n").alias("n")]
    for p in _QBANDS:
        rank = F.floor((F.lit(p) * F.col("n") + 99) / 100).cast("long")
        aggs.append(
            F.max(F.when(F.col("rn") == rank, F.col("v"))).alias(
                f"p{p}_cents"
            )
        )
    return j.groupBy("event_type").agg(*aggs)


_MI_BUCKET_CENTS = 5000  # $50 value buckets
_MI_BUCKET_CAP = 6  # buckets 0..6 (top bucket open-ended)


@query(
    "q_agg_mutual_info",
    oracle=f"""
WITH s AS (
  SELECT event_type AS x,
         least(CAST(floor(floor(value * 100 + 0.5) / {_MI_BUCKET_CENTS})
                    AS BIGINT), {_MI_BUCKET_CAP}) AS y
  FROM events
), jnt AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS nxy FROM s GROUP BY x, y
), mx AS (
  SELECT x, CAST(count(*) AS BIGINT) AS nx FROM s GROUP BY x
), my AS (
  SELECT y, CAST(count(*) AS BIGINT) AS ny FROM s GROUP BY y
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM s
), terms AS (
  SELECT jnt.x, jnt.y,
         CAST(jnt.nxy AS DOUBLE) / tot.n
           * ln(CAST(tot.n * jnt.nxy AS DOUBLE) / (mx.nx * my.ny)) AS term,
         tot.n AS n
  FROM jnt JOIN mx ON jnt.x = mx.x JOIN my ON jnt.y = my.y CROSS JOIN tot
), folded AS (
  SELECT any_value(n) AS n, CAST(count(*) AS BIGINT) AS n_cells,
         -- list_prepend(0.0, coalesce(.., [])) = Spark's seeded fold:
         -- an EMPTY input folds to 0.0 on both sides instead of DuckDB's
         -- NULL list (r7 empty-input sweep); 0.0 + x == x keeps nonempty
         -- values bit-identical
         list_reduce(list_prepend(0.0, coalesce(list(term ORDER BY x, y), [])),
                     (a, b) -> a + b) AS mi
  FROM terms
)
SELECT n, n_cells, round(mi, 6) AS mi_nats FROM folded
""",
)
def q_agg_mutual_info(spark, sf_dir):
    """Mutual information (nats) between event type and the $50 value
    bucket — the model-free dependence measure feature selection uses
    where correlation only sees linear signal. Every count is exact;
    each cell's term is an identically-shaped float expression on
    exact-integer ratios; and the cell terms are summed by ONE ordered
    left fold over the (x, y)-sorted term list on both engines (never
    an unordered SUM — float addition does not commute across plan
    differences), then rounded at 6dp (ln is the only
    non-correctly-rounded op; FIXTURES rule 1). Plan: the joint table
    is a tiny map-side-combinable rollup (|types| x 7 cells); marginals
    re-aggregate those cells, NOT the scan; the fold runs on one row.
    At 100 TB MI costs exactly one events pass."""
    s = load(spark, sf_dir, "events").select(
        F.col("event_type").alias("x"),
        F.least(
            F.floor(
                F.floor(F.col("value") * 100 + F.lit(0.5))
                / F.lit(_MI_BUCKET_CENTS)
            ).cast("long"),
            F.lit(_MI_BUCKET_CAP).cast("long"),
        ).alias("y"),
    )
    jnt = s.groupBy("x", "y").agg(F.count(F.lit(1)).alias("nxy"))
    mx = jnt.groupBy("x").agg(F.sum("nxy").alias("nx"))
    my = jnt.groupBy("y").agg(F.sum("nxy").alias("ny"))
    tot = jnt.agg(F.sum("nxy").alias("n"))
    terms = (
        jnt.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            "n",
            (
                F.col("nxy").cast("double")
                / F.col("n")
                * F.log(
                    (F.col("n") * F.col("nxy")).cast("double")
                    / (F.col("nx") * F.col("ny"))
                )
            ).alias("term"),
        )
    )
    folded = terms.agg(
        F.first("n").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        ordered_fold(F.struct("x", "y"), F.col("term"), "mi"),
    )
    return folded.select("n", "n_cells", F.round("mi", 6).alias("mi_nats"))


@query(
    "q_join_fanout_audit",
    oracle="""
WITH f AS (
  SELECT o.o_orderkey, CAST(count(l.l_orderkey) AS BIGINT) AS fanout
  FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey
), h AS (
  SELECT fanout, CAST(count(*) AS BIGINT) AS n_orders FROM f GROUP BY fanout
), t AS (
  SELECT CAST(sum(n_orders) AS BIGINT) AS total FROM h
)
SELECT h.fanout, h.n_orders,
       floor(CAST(h.n_orders AS DOUBLE) * 10000 / t.total + 0.5) / 10000
         AS share
FROM h CROSS JOIN t
""",
)
def q_join_fanout_audit(spark, sf_dir):
    """Join-multiplicity histogram for orders -> lineitem: how many
    orders match 0, 1, 2, ... lineitems — the audit you run BEFORE
    trusting any join: an unexpected fanout silently multiplies
    metrics downstream (the classic double-counting bug), and a 0-band
    exposes broken referential integrity from the other direction than
    q_dq_referential. The LEFT join + count(right-key) counts zeros
    correctly (count of a null column skips it). All integers plus one
    floored share division. Plan: the per-key count is a map-side-
    combinable agg on the join key itself (no row explosion ever
    materializes); the histogram is |distinct fanouts| rows. At 100 TB
    this is strictly cheaper than the join it de-risks."""
    o = load(spark, sf_dir, "orders").select("o_orderkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    f = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("fanout"))
    )
    h = f.groupBy("fanout").agg(F.count(F.lit(1)).alias("n_orders"))
    t = h.agg(F.sum("n_orders").alias("total"))
    return h.crossJoin(F.broadcast(t)).select(
        "fanout",
        "n_orders",
        (
            F.floor(
                F.col("n_orders").cast("double") * 10000 / F.col("total")
                + F.lit(0.5)
            )
            / 10000
        ).alias("share"),
    )


@query(
    "q_orders_abc_migration",
    oracle="""
WITH li AS (
  SELECT l_partkey, epoch_us(l_shipdate::TIMESTAMP) AS t,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem
), b AS (
  SELECT min(t) + CAST(floor((max(t) - min(t)) / 2) AS BIGINT) AS mid FROM li
), rev AS (
  SELECT CASE WHEN li.t < b.mid THEN 0 ELSE 1 END AS half, l_partkey,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM li CROSS JOIN b GROUP BY half, l_partkey
), c AS (
  SELECT half, l_partkey,
         sum(cents) OVER (PARTITION BY half ORDER BY cents DESC, l_partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(cents) OVER (PARTITION BY half) AS total
  FROM rev
), cls AS (
  SELECT half, l_partkey,
         CASE WHEN cum * 10 <= total * 7 THEN 'A'
              WHEN cum * 10 <= total * 9 THEN 'B' ELSE 'C' END AS cls
  FROM c
)
SELECT coalesce(h0.cls, 'N') AS class_h1, coalesce(h1.cls, 'N') AS class_h2,
       CAST(count(*) AS BIGINT) AS n_parts
FROM (SELECT l_partkey, cls FROM cls WHERE half = 0) h0
FULL OUTER JOIN (SELECT l_partkey, cls FROM cls WHERE half = 1) h1
  ON h0.l_partkey = h1.l_partkey
GROUP BY 1, 2
""",
)
def q_orders_abc_migration(spark, sf_dir):
    """ABC-class migration matrix between the two halves of the
    shipping timeline: how many parts moved A->C, entered (N->A), or
    churned out (A->N) — the segment-migration view merchandisers run
    on q_pareto_abc's classification to see assortment drift, and the
    same transition-matrix shape as RFM migration or plan tier churn.
    Classification reuses the pareto conventions exactly: revenue in
    exact integer cents, (revenue DESC, partkey) order, and the
    INTEGER boundary test cum*10 <= total*7 / *9 — no double ever
    decides a class; the time midpoint is exact integer microseconds.
    Parts absent from a half class as 'N' via the FULL OUTER join.
    Plan: one lineitem pass builds both halves' revenue in a single
    (half, part) aggregation; each half's running sum partitions by
    half (at 100 TB swap in ordered_bucket per half, as q_pareto_abc
    does); the matrix reduces to <= 16 rows."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("t"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    b = li.agg(
        (
            F.min("t")
            + F.floor((F.max("t") - F.min("t")) / 2).cast("long")
        ).alias("mid")
    )
    rev = (
        li.crossJoin(F.broadcast(b))
        .select(
            F.when(F.col("t") < F.col("mid"), 0).otherwise(1).alias("half"),
            "l_partkey",
            "cents",
        )
        .groupBy("half", "l_partkey")
        .agg(F.sum("cents").alias("cents"))
    )
    wcum = (
        Window.partitionBy("half")
        .orderBy(F.col("cents").desc(), "l_partkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("half")
    c = rev.select(
        "half",
        "l_partkey",
        F.sum("cents").over(wcum).alias("cum"),
        F.sum("cents").over(wtot).alias("total"),
    )
    cls = c.select(
        "half",
        "l_partkey",
        F.when(F.col("cum") * 10 <= F.col("total") * 7, "A")
        .when(F.col("cum") * 10 <= F.col("total") * 9, "B")
        .otherwise("C")
        .alias("cls"),
    )
    h0 = cls.filter(F.col("half") == 0).select(
        "l_partkey", F.col("cls").alias("c0")
    )
    h1 = cls.filter(F.col("half") == 1).select(
        "l_partkey", F.col("cls").alias("c1")
    )
    m = h0.join(h1, "l_partkey", "full_outer")
    return m.groupBy(
        F.coalesce(F.col("c0"), F.lit("N")).alias("class_h1"),
        F.coalesce(F.col("c1"), F.lit("N")).alias("class_h2"),
    ).agg(F.count(F.lit(1)).alias("n_parts"))


@query(
    "q_agg_hhi",
    oracle="""
WITH r AS (
  SELECT o_custkey,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
), t AS (
  SELECT CAST(sum(cents) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_cust,
         CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sq
  FROM r
), topk AS (
  SELECT CAST(sum(cents) AS BIGINT) AS top10_cents
  FROM (SELECT cents FROM r ORDER BY cents DESC, o_custkey LIMIT 10) z
)
SELECT t.n_cust,
       floor(CAST(t.sq AS DOUBLE) * 1000000
             / (CAST(t.total AS DOUBLE) * t.total) + 0.5) / 1000000
         AS hhi,
       floor(CAST(topk.top10_cents AS DOUBLE) * 10000 / t.total + 0.5)
         / 10000 AS top10_share
FROM t CROSS JOIN topk
""",
)
def q_agg_hhi(spark, sf_dir):
    """Customer revenue concentration: the Herfindahl-Hirschman index
    (sum of squared revenue shares) plus the top-10-customer share —
    the two numbers a key-account-risk review runs (HHI is the
    antitrust-grade concentration measure; 1/HHI is the 'effective
    number of customers'). HHI = sum(c_i^2) / total^2 keeps everything
    integer until ONE final division: squared cents sums exceed int64
    range at warehouse scale, so the accumulator is Spark DECIMAL(38)
    against DuckDB HUGEINT — both exact — and the per-row square itself
    is multiplied WIDE on both sides (r8 extreme-magnitude recipe: a
    single customer past ~3e9 cents overflows an int64 square). The top-10 slice is a
    (cents DESC, custkey) TakeOrdered, never a full sort. Plan: one
    per-customer combine, a 10-row limit, two broadcast scalars — one
    orders pass at any scale."""
    r = load(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    t = r.agg(
        F.sum("cents").alias("total"),
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        ).alias("sq"),
    )
    topk = (
        r.orderBy(F.col("cents").desc(), "o_custkey")
        .limit(10)
        .agg(F.sum("cents").alias("top10_cents"))
    )
    j = t.crossJoin(F.broadcast(topk))
    return j.select(
        "n_cust",
        (
            F.floor(
                F.col("sq").cast("double")
                * 1000000
                / (F.col("total").cast("double") * F.col("total"))
                + F.lit(0.5)
            )
            / 1000000
        ).alias("hhi"),
        (
            F.floor(
                F.col("top10_cents").cast("double") * 10000 / F.col("total")
                + F.lit(0.5)
            )
            / 10000
        ).alias("top10_share"),
    )


@query(
    "q_dq_kl_drift",
    oracle="""
WITH c AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS nsl
  FROM documents GROUP BY source, lang
), s AS (
  SELECT source, CAST(sum(nsl) AS BIGINT) AS ns FROM c GROUP BY source
), l AS (
  SELECT lang, CAST(sum(nsl) AS BIGINT) AS nl FROM c GROUP BY lang
), t AS (
  SELECT CAST(sum(nsl) AS BIGINT) AS n FROM c
), terms AS (
  SELECT c.source, c.lang,
         CAST(c.nsl AS DOUBLE) / s.ns
           * ln(CAST(c.nsl * t.n AS DOUBLE) / (s.ns * l.nl)) AS term,
         s.ns
  FROM c JOIN s ON c.source = s.source JOIN l ON c.lang = l.lang
       CROSS JOIN t
)
SELECT source, any_value(ns) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_langs,
       round(list_reduce(list(term ORDER BY lang), (a, b) -> a + b), 6)
         AS kl_nats
FROM terms GROUP BY source
""",
)
def q_dq_kl_drift(spark, sf_dir):
    """Per-source language-distribution drift: KL(source || corpus)
    over the lang marginal — the distribution-shift monitor a corpus
    pipeline runs per ingest source (a source whose language mix
    diverges from the corpus is the first sign of a scraper gone
    wrong; same family as q_agg_mutual_info, pointed at drift).
    Counts are exact; each cell term is one identically-shaped float
    expression on integer ratios (absent (source, lang) cells
    contribute exactly 0 and are skipped); per-source term sums are
    lang-ORDERED left folds on both engines, rounded 6dp (ln is the
    only non-correctly-rounded op). Plan: one (source, lang) combine
    collapses the corpus; marginals re-aggregate those cells; folds
    run on |sources| rows. One documents pass at 100 TB."""
    c = load(spark, sf_dir, "documents").groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("nsl")
    )
    s = c.groupBy("source").agg(F.sum("nsl").alias("ns"))
    lt = c.groupBy("lang").agg(F.sum("nsl").alias("nl"))
    t = c.agg(F.sum("nsl").alias("n"))
    terms = (
        c.join(F.broadcast(s), "source")
        .join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(t))
        .select(
            "source",
            "lang",
            "ns",
            (
                F.col("nsl").cast("double")
                / F.col("ns")
                * F.log(
                    (F.col("nsl") * F.col("n")).cast("double")
                    / (F.col("ns") * F.col("nl"))
                )
            ).alias("term"),
        )
    )
    return terms.groupBy("source").agg(
        F.first("ns").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.round(
            ordered_fold(F.col("lang"), F.col("term"), "kl"), 6
        ).alias("kl_nats"),
    )


@query(
    "q_orders_fulfillment_latency",
    oracle="""
WITH x AS (
  SELECT o.o_orderpriority,
         CAST(floor(epoch_us(l.l_shipdate::TIMESTAMP) / 86400000000)
              AS BIGINT)
           - CAST(floor(epoch_us(o.o_orderdate::TIMESTAMP) / 86400000000)
                  AS BIGINT) AS lat_days
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), l AS (
  SELECT o_orderpriority, list(lat_days ORDER BY lat_days) AS vs,
         CAST(count(*) AS BIGINT) AS n
  FROM x GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       vs[1] AS min_days,
       vs[CAST(floor((50 * n + 99) / 100) AS INT)] AS p50_days,
       vs[CAST(floor((90 * n + 99) / 100) AS INT)] AS p90_days,
       vs[CAST(len(vs) AS INT)] AS max_days,
       floor(CAST(list_sum(vs) AS DOUBLE) * 100 / n + 0.5) / 100
         AS avg_days
FROM l
""",
)
def q_orders_fulfillment_latency(spark, sf_dir):
    """Order-to-ship latency distribution per order priority — the SLA
    view every fulfillment dashboard leads with (does URGENT actually
    ship faster?). Latency is an exact integer day difference across
    the orders |><| lineitem join; min/P50/P90/max are nearest-rank
    order statistics via the same distributed row_number + count
    selection as q_agg_quantile_bands (the oracle indexes an ordered
    list — same multiset, same statistic); the mean is one floored
    division. Plan: the fact-to-fact join shuffles on the order key
    (the right plan — orders is not broadcastable at scale), then one
    combine per priority; the quantile window partitions by the
    5-value priority with the latency sort."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            / F.lit(86400000000)
        )
        .cast("long")
        .alias("od"),
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(
            F.unix_micros(F.col("l_shipdate").cast("timestamp"))
            / F.lit(86400000000)
        )
        .cast("long")
        .alias("sd"),
    )
    x = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        "o_orderpriority", (F.col("sd") - F.col("od")).alias("lat_days")
    )
    wn = Window.partitionBy("o_orderpriority").orderBy("lat_days")
    n = x.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    j = x.withColumn("rn", F.row_number().over(wn)).join(
        F.broadcast(n), "o_orderpriority"
    )
    p50 = F.floor((50 * F.col("n") + 99) / 100).cast("long")
    p90 = F.floor((90 * F.col("n") + 99) / 100).cast("long")
    return j.groupBy("o_orderpriority").agg(
        F.first("n").alias("n"),
        F.min("lat_days").alias("min_days"),
        F.max(F.when(F.col("rn") == p50, F.col("lat_days"))).alias(
            "p50_days"
        ),
        F.max(F.when(F.col("rn") == p90, F.col("lat_days"))).alias(
            "p90_days"
        ),
        F.max("lat_days").alias("max_days"),
        (
            F.floor(
                F.sum("lat_days").cast("double") * 100 / F.count(F.lit(1))
                + F.lit(0.5)
            )
            / 100
        ).alias("avg_days"),
    )


@query(
    "q_agg_runs_test",
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch_us(ts::TIMESTAMP) / 86400000000) AS BIGINT)
           AS day,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY day
), med AS (
  SELECT (list(cents ORDER BY cents))
           [CAST(floor((count(*) + 1) / 2) AS INT)] AS m
  FROM d
), s AS (
  SELECT day, CASE WHEN cents > med.m THEN 1 ELSE 0 END AS hi
  FROM d CROSS JOIN med
), r AS (
  SELECT hi,
         CASE WHEN lag(hi) OVER (ORDER BY day) IS DISTINCT FROM hi
              THEN 1 ELSE 0 END AS brk
  FROM s
), agg AS (
  SELECT CAST(sum(hi) AS BIGINT) AS n1,
         CAST(sum(1 - hi) AS BIGINT) AS n2,
         CAST(sum(brk) AS BIGINT) AS runs
  FROM r
)
SELECT n1, n2, runs,
       round((runs - (2.0 * n1 * n2 / (n1 + n2) + 1))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((CAST(n1 + n2 AS DOUBLE) * (n1 + n2))
                       * (n1 + n2 - 1))), 4) AS z
FROM agg
""",
)
def q_agg_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test on the daily-revenue series: is the
    above/below-median sequence random, or does it trend/cluster?
    (the randomness check that completes the nonparametric battery
    next to q_agg_ks_test / q_agg_mannwhitney / q_dq_chi2). The median
    is the exact lower order statistic (integer cents, no
    interpolation), the hi/lo coding and run counting (a run starts
    where lag differs — IS DISTINCT FROM handles the first row) are
    pure integer window ops, and only the closed-form z statistic
    touches floats — one identically-shaped expression, round 4dp.
    Plan: the day rollup collapses the scan; everything after runs on
    |days| rows."""
    d = (
        load(spark, sf_dir, "events")
        .select(
            F.floor(F.unix_micros("ts") / F.lit(86400000000))
            .cast("long")
            .alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("cents"))
    )
    med = d.agg(
        F.element_at(
            F.array_sort(F.collect_list("cents")),
            F.floor((F.count(F.lit(1)) + 1) / 2).cast("int"),
        ).alias("m")
    )
    s = d.crossJoin(F.broadcast(med)).select(
        "day",
        F.when(F.col("cents") > F.col("m"), 1).otherwise(0).alias("hi"),
    )
    wl = Window.orderBy("day")
    r = s.select(
        "hi",
        F.when(
            ~F.lag("hi").over(wl).eqNullSafe(F.col("hi")), 1
        )
        .otherwise(0)
        .alias("brk"),
    )
    agg = r.agg(
        F.sum("hi").alias("n1"),
        F.sum(1 - F.col("hi")).alias("n2"),
        F.sum("brk").alias("runs"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    # try_divide twice (r7 degenerate-division class): a single-day
    # series makes sig's denominator (n1+n2-1 term) zero with a zero
    # numerator, and an all-above/all-below-median series (n1 or n2 =
    # 0 — e.g. CONSTANT daily revenue, where cents > median never
    # holds) makes sig itself exactly 0.0 under z — DuckDB nulls both
    # double divisions while ANSI Spark would throw. The sig numerator
    # 2*n1*n2*(2*n1*n2-n1-n2) is nonnegative for all integer n1,n2>=0
    # (AM-GM: 2*n1*n2 >= n1+n2 whenever both are >=1, and the factor
    # is 0 otherwise), so no sqrt clamp is needed. mu's denominator
    # n1+n2 counts the days and cannot vanish on a produced row.
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1
    sig = F.sqrt(
        F.try_divide(
            2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2),
            ((n1 + n2).cast("double") * (n1 + n2)) * (n1 + n2 - 1),
        )
    )
    return agg.select(
        "n1",
        "n2",
        "runs",
        F.round(F.try_divide(F.col("runs") - mu, sig), 4).alias("z"),
    )


_CONC_SPAN_US = 30 * 60 * 1_000_000  # each event opens a 30-min session


@query(
    "q_win_concurrency",
    oracle=f"""
WITH pts AS (
  SELECT epoch_us(ts::TIMESTAMP) AS t, 1 AS delta FROM events
  UNION ALL
  SELECT epoch_us(ts::TIMESTAMP) + {_CONC_SPAN_US}, -1 FROM events
), c AS (
  SELECT t, delta,
         sum(delta) OVER (ORDER BY t, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS conc
  FROM pts
)
SELECT CAST(max(conc) AS BIGINT) AS peak_concurrency,
       CAST(-(max(row(conc, -t)))[2] AS BIGINT) AS peak_at_us,
       CAST(count(*) AS BIGINT) AS n_points
FROM c
""",
)
def q_win_concurrency(spark, sf_dir):
    """Peak concurrency via the sweep line: every event opens a 30-min
    session (+1 at start, -1 at expiry), the running sum over the
    time-ordered deltas IS the live-session count, and its max is the
    capacity number an SRE sizes for. Ends sort BEFORE starts at the
    same instant (ORDER BY t, delta with delta -1 < +1 — the standard
    half-open [t, t+span) convention), so a session expiring exactly
    when another starts never double-counts. The argmax timestamp
    tie-breaks earliest via max(struct(conc, -t)). Everything is
    integer. Plan (r7, caught by the blanket SinglePartition sweep):
    the global running sum is the two-pass global_cumsum split —
    per-bucket partial sums + broadcast prefix offsets (integer
    addition, bit-identical to the single window); no full-data
    single-partition stage remains."""
    from wikidata2pg_spark.operators.windows import global_cumsum

    e = load(spark, sf_dir, "events").select(F.unix_micros("ts").alias("t"))
    pts = e.select("t", F.lit(1).alias("delta")).unionByName(
        e.select(
            (F.col("t") + _CONC_SPAN_US).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    c = global_cumsum(pts, ("t", "delta"), {"delta": "conc"})
    best = c.agg(
        F.max("conc").alias("peak_concurrency"),
        (
            -F.max(
                F.struct(F.col("conc"), (-F.col("t")).alias("nt"))
            )["nt"]
        ).alias("peak_at_us"),
        F.count(F.lit(1)).alias("n_points"),
    )
    return best


@query(
    "q_agg_ols2",
    oracle="""
WITH per AS (
  SELECT l_orderkey,
         CAST(count(*) AS BIGINT) AS x1,
         CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS x2,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS y
  FROM lineitem GROUP BY l_orderkey
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(x1 * x1) AS BIGINT) AS s11,
         CAST(sum(x1 * x2) AS BIGINT) AS s12,
         CAST(sum(x2 * x2) AS BIGINT) AS s22,
         sum(CAST(x1 AS HUGEINT) * y) AS s1y,
         sum(CAST(x2 AS HUGEINT) * y) AS s2y,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM per
), c AS (
  SELECT n,
         CAST(n AS DOUBLE) * s11 - CAST(s1 AS DOUBLE) * s1 AS a11,
         CAST(n AS DOUBLE) * s12 - CAST(s1 AS DOUBLE) * s2 AS a12,
         CAST(n AS DOUBLE) * s22 - CAST(s2 AS DOUBLE) * s2 AS a22,
         CAST(n AS DOUBLE) * CAST(s1y AS DOUBLE)
           - CAST(s1 AS DOUBLE) * CAST(sy AS DOUBLE) AS b1,
         CAST(n AS DOUBLE) * CAST(s2y AS DOUBLE)
           - CAST(s2 AS DOUBLE) * CAST(sy AS DOUBLE) AS b2,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS byy,
         s1, s2, CAST(sy AS DOUBLE) AS syd
  FROM m
)
SELECT n,
       round((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12), 6) AS beta1,
       round((b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12), 6) AS beta2,
       round((syd - (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) * s1
              - (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) * s2) / n,
             2) AS beta0_cents,
       round(((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) * b1
              + (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) * b2)
             / byy, 6) AS r2
FROM c
""",
)
def q_agg_ols2(spark, sf_dir):
    """Two-feature OLS by exact normal equations: order value (cents)
    regressed on basket size and total quantity — the closed-form
    multiple regression a warehouse runs without any ML runtime
    (q_agg_regression's simple-linear big sibling; same class as
    q_agg_corr_matrix). ALL ten moments are exact integers (HUGEINT /
    DECIMAL(38) where products overflow int64); the centered 2x2
    system solves by Cramer's rule in doubles built from those exact
    moments with one shared expression shape — betas, intercept and
    R^2 round at the end (FIXTURES rule 1). Plan: one per-order
    combine then a 1-row moment rollup — a full multiple regression
    for the cost of one lineitem pass at 100 TB."""
    per = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("x1"),
            F.sum(
                F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
            ).alias("x2"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("y"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = per.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(dec("y")).alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(dec("x1") * dec("y")).alias("s1y"),
        F.sum(dec("x2") * dec("y")).alias("s2y"),
        F.sum(dec("y") * dec("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    a11 = nd * F.col("s11") - F.col("s1").cast("double") * F.col("s1")
    a12 = nd * F.col("s12") - F.col("s1").cast("double") * F.col("s2")
    a22 = nd * F.col("s22") - F.col("s2").cast("double") * F.col("s2")
    syd = F.col("sy").cast("double")
    b1 = nd * F.col("s1y").cast("double") - F.col("s1").cast("double") * syd
    b2 = nd * F.col("s2y").cast("double") - F.col("s2").cast("double") * syd
    byy = nd * F.col("syy").cast("double") - syd * syd
    det = a11 * a22 - a12 * a12
    # try_divide (r7 degenerate-division class): COLLINEAR or constant
    # features (e.g. every order has the same line count) zero the
    # Cramer determinant exactly, and a constant response zeroes byy —
    # DuckDB nulls the double divisions while ANSI Spark would throw;
    # the NULL betas propagate through beta0/r2 identically on both
    # sides. Bit-identical to / on nonzero divisors.
    beta1 = F.try_divide(b1 * a22 - b2 * a12, det)
    beta2 = F.try_divide(b2 * a11 - b1 * a12, det)
    return m.select(
        "n",
        F.round(beta1, 6).alias("beta1"),
        F.round(beta2, 6).alias("beta2"),
        F.round(
            (syd - beta1 * F.col("s1") - beta2 * F.col("s2")) / F.col("n"), 2
        ).alias("beta0_cents"),
        F.round(F.try_divide(beta1 * b1 + beta2 * b2, byy), 6).alias("r2"),
    )


_VOL_WIN = 7  # rolling window (days)


@query(
    "q_time_volatility",
    oracle=f"""
WITH d AS (
  SELECT CAST(floor(epoch_us(ts::TIMESTAMP) / 86400000000) AS BIGINT)
           AS day,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM events GROUP BY day
), w AS (
  SELECT day, cents,
         CAST(count(*) OVER win AS BIGINT) AS n,
         CAST(sum(cents) OVER win AS BIGINT) AS s,
         sum(CAST(cents AS HUGEINT) * cents) OVER win AS sq
  FROM d WINDOW win AS (ORDER BY day RANGE BETWEEN {_VOL_WIN - 1} PRECEDING
                        AND CURRENT ROW)
)
SELECT day, cents,
       floor(CAST(s AS DOUBLE) * 100 / n + 0.5) / 100 AS mean_cents,
       round(sqrt(greatest(CAST(n AS DOUBLE) * CAST(sq AS DOUBLE)
                           - CAST(s AS DOUBLE) * s, 0.0)
                  / (CAST(n AS DOUBLE) * (n - 1))),
             2) AS std_cents
FROM w WHERE n = {_VOL_WIN}
""",
)
def q_time_volatility(spark, sf_dir):
    """Rolling 7-day volatility of daily revenue: the moving standard
    deviation every risk/ops dashboard plots under its trend line
    (q_time_anomaly's z-score uses the same moments — this key exposes
    the band itself). Window moments n / sum / sum-of-squares are
    EXACT integers (HUGEINT / decimal(38) for the squares), the sample
    std is one shared-shape float expression (the n*sq - s^2 moment
    identity), the frame is a calendar RANGE over the day value (a
    missing day narrows the window rather than silently stretching it
    — the row-count-vs-calendar trap), and partial windows are
    excluded (n = 7 exactly) so every band is a full, gap-free week. Plan: the day rollup collapses the
    scan; the moving frame runs on |days| rows."""
    d = (
        load(spark, sf_dir, "events")
        .select(
            F.floor(F.unix_micros("ts") / F.lit(86400000000))
            .cast("long")
            .alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("cents"))
    )
    win = Window.orderBy("day").rangeBetween(-(_VOL_WIN - 1), 0)
    w = d.select(
        "day",
        "cents",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("cents").over(win).alias("s"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).over(
            win
        ).alias("sq"),
    ).filter(F.col("n") == _VOL_WIN)
    nd = F.col("n").cast("double")
    return w.select(
        "day",
        "cents",
        (
            F.floor(F.col("s").cast("double") * 100 / F.col("n") + F.lit(0.5))
            / 100
        ).alias("mean_cents"),
        F.round(
            # greatest-clamp (r7 degenerate class, sqrt-of-tiny-negative
            # side): the variance numerator is a FLOAT tree over cents
            # sums whose squares pass 2^53, so a CONSTANT 7-day window
            # with large daily totals can land a true zero tiny-negative
            # — DuckDB's sqrt throws there while Spark yields NaN. The
            # window always holds exactly _VOL_WIN rows, so the n*(n-1)
            # denominator never vanishes.
            F.sqrt(
                F.greatest(
                    nd * F.col("sq").cast("double")
                    - F.col("s").cast("double") * F.col("s"),
                    F.lit(0.0),
                )
                / (nd * (F.col("n") - 1))
            ),
            2,
        ).alias("std_cents"),
    )


_EB_PRIOR = 5  # pseudo-count weight of the corpus prior


@query(
    "q_agg_smoothed_rate",
    oracle=f"""
WITH u AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS conv
  FROM events GROUP BY user_id
), g AS (
  SELECT CAST(sum(n) AS BIGINT) AS gn, CAST(sum(conv) AS BIGINT) AS gc
  FROM u
)
SELECT u.user_id, u.n AS n_events, u.conv AS n_conv,
       floor(CAST(u.conv AS DOUBLE) * 10000 / u.n + 0.5) / 10000
         AS raw_rate,
       floor(CAST(CAST(u.conv AS HUGEINT) * g.gn
                  + {_EB_PRIOR} * CAST(g.gc AS HUGEINT) AS DOUBLE) * 1000000
             / CAST(CAST(g.gn AS HUGEINT) * (u.n + {_EB_PRIOR}) AS DOUBLE)
             + 0.5) / 1000000
         AS smoothed_rate
FROM u CROSS JOIN g
""",
)
def q_agg_smoothed_rate(spark, sf_dir):
    """Pseudo-count-smoothed per-user conversion rate: shrink each
    user's purchase rate toward the corpus rate with a 5-event prior —
    (conv + 5*p_global) / (n + 5), the empirical-Bayes fix for 'this
    user is 1-for-1, is he really a 100% converter?' that makes
    low-volume rate rankings sane. The shrunk rate is kept EXACT by
    clearing the global-rate denominator: (conv*gn + 5*gc) /
    (gn*(n+5)) — pure integers into ONE floored division; the raw rate
    is the same pattern. Plan: one per-user combine, one 1-row global
    rollup derived FROM it (never a second events scan), broadcast
    back. One events pass at 100 TB."""
    # two consumers (the global rollup and the projection) — pin the
    # |users|-row aggregate so events is scanned once (the
    # q_pareto_abc localCheckpoint precedent)
    u = truncate_plan(
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
        )
    )
    g = u.agg(F.sum("n").alias("gn"), F.sum("conv").alias("gc"))
    j = u.crossJoin(F.broadcast(g))
    return j.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.col("conv").alias("n_conv"),
        (
            F.floor(F.col("conv").cast("double") * 10000 / F.col("n") + F.lit(0.5))
            / 10000
        ).alias("raw_rate"),
        (
            F.floor(
                (
                    F.col("conv").cast("decimal(38,0)") * F.col("gn")
                    + _EB_PRIOR * F.col("gc").cast("decimal(38,0)")
                ).cast("double")
                * 1000000
                / (
                    F.col("gn").cast("decimal(38,0)")
                    * (F.col("n") + _EB_PRIOR)
                ).cast("double")
                + F.lit(0.5)
            )
            / 1000000
        ).alias("smoothed_rate"),
    )


# Exact-integer revenue: cents * (100 - discount%) in 1e-4-dollar units.
_REV_U_SQL = (
    "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))"
)


def _rev_u():
    return F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
        "long"
    ) * (100 - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long"))


@query(
    "q_sql_tpch_q3",
    oracle=f"""
SELECT l.l_orderkey, o.o_orderdate,
       floor(CAST(sum({_REV_U_SQL}) AS DOUBLE) / 100 + 0.5) / 100
         AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate::TIMESTAMP > TIMESTAMP '1998-01-01'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY sum({_REV_U_SQL}) DESC, l.l_orderkey LIMIT 10
""",
)
def q_sql_tpch_q3(spark, sf_dir):
    """TPC-H Q3 (shipping priority), adapted to this schema: top-10
    unshipped BUILDING-segment orders by revenue — the canonical
    3-way fact join + filtered aggregate + top-k every SQL engine
    benchmarks. Revenue is EXACT: cents * (100 - discount%) is a pure
    BIGINT per line (the fixture's discounts are 2dp), summed
    exactly, displayed with one floored division — so the top-10
    ORDER BY compares integers, never floats (float-revenue ties are
    the classic Q3 nondeterminism). Plan: customer (filtered to one
    segment) broadcasts, orders|><|lineitem shuffles on the order key,
    TakeOrderedAndProject caps the sort at 10 rows. Both date filters
    push to the scans."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("timestamp")
        > F.lit("1998-01-01").cast("timestamp")
    )
    j = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_rev_u()).alias("rev_u"))
    )
    return (
        j.orderBy(F.col("rev_u").desc(), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            "o_orderdate",
            (
                F.floor(F.col("rev_u").cast("double") / 100 + F.lit(0.5))
                / 100
            ).alias("revenue"),
        )
    )


@query(
    "q_sql_tpch_q5",
    oracle=f"""
SELECT n.n_name,
       floor(CAST(sum({_REV_U_SQL}) AS DOUBLE) / 100 + 0.5) / 100
         AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
                AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
""",
)
def q_sql_tpch_q5(spark, sf_dir):
    """TPC-H Q5 (local supplier volume), adapted: 1997 revenue per
    ASIAN nation where the customer and supplier share the nation —
    the 6-way snowflake join with the famous non-key join predicate
    (c_nationkey = s_nationkey) that turns a star into a cycle.
    Revenue uses the exact integer form (see q_sql_tpch_q3). Plan:
    region/nation/supplier/customer all broadcast (dimension-sized);
    the only real shuffle is orders |><| lineitem on the order key;
    the nation equality applies as a post-join filter on broadcast
    columns. The date filter pushes to the orders scan."""
    r = (
        load(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    n = load(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load(spark, sf_dir, "supplier").join(
        F.broadcast(n.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = load(spark, sf_dir, "lineitem")
    j = (
        o.join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s.select("s_suppkey", "s_nationkey", "n_name")),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return j.groupBy("n_name").agg(
        (
            F.floor(F.sum(_rev_u()).cast("double") / 100 + F.lit(0.5)) / 100
        ).alias("revenue")
    )


@query(
    "q_sql_tpch_q10",
    oracle=f"""
SELECT c.c_custkey, c.c_name,
       floor(CAST(sum({_REV_U_SQL}) AS DOUBLE) / 100 + 0.5) / 100
         AS revenue,
       c.c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY sum({_REV_U_SQL}) DESC, c.c_custkey LIMIT 20
""",
)
def q_sql_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting), adapted: top-20 customers
    by revenue lost to returns in 1997Q1 — the returned-goods
    churn-risk report. Same exact-integer revenue discipline as Q3,
    so the top-20 ranking is integer-decided (tie-break custkey).
    Plan: nation broadcasts onto customer, customer broadcasts onto
    the orders|><|lineitem shuffle join, the returnflag and date
    filters push to their scans, and TakeOrderedAndProject keeps 20
    rows. At 100 TB this is the canonical star-join-with-top-k shape
    the engine must get right."""
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = load(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    j = (
        o.join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(
            F.broadcast(
                c.select("c_custkey", "c_name", "c_acctbal", "n_name")
            ),
            o["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev_u()).alias("rev_u"))
    )
    return (
        j.orderBy(F.col("rev_u").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            (
                F.floor(F.col("rev_u").cast("double") / 100 + F.lit(0.5))
                / 100
            ).alias("revenue"),
            "c_acctbal",
            "n_name",
        )
    )


@query(
    "q_time_peak_hours",
    oracle="""
WITH m AS (
  SELECT event_type,
         CAST(floor((epoch_us(ts::TIMESTAMP) % 86400000000) / 60000000)
              AS BIGINT) AS minute,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY event_type, minute
), t AS (
  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
         list_reduce(list(cnt * sin(2 * pi() * minute / 1440)
                          ORDER BY minute), (a, b) -> a + b) AS s,
         list_reduce(list(cnt * cos(2 * pi() * minute / 1440)
                          ORDER BY minute), (a, b) -> a + b) AS c
  FROM m GROUP BY event_type
)
SELECT event_type, n,
       round(((atan2(s, c) / (2 * pi()) * 1440) + 1440) % 1440, 2)
         AS peak_minute,
       round(sqrt(s * s + c * c) / n, 6) AS concentration
FROM t
""",
)
def q_time_peak_hours(spark, sf_dir):
    """Circular time-of-day statistics per event type: the circular
    mean minute (where in the day activity peaks) and the resultant
    length R in [0, 1] (how concentrated it is) — the CORRECT way to
    average times of day, where a naive mean of 23:50 and 00:10 says
    noon and the circular mean says midnight. Minutes collapse to at
    most 1440 cells per type; the sin/cos term sums are minute-ORDERED
    folds (the q_agg_mutual_info float-sum discipline — sin/cos are
    the only non-correctly-rounded ops, bounded by the 2dp/6dp display
    rounds); atan2/sqrt are IEEE. Plan: one (type, minute) combine
    collapses the scan, folds run on |types| rows — one events pass at
    100 TB."""
    import math as _math

    m = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(
                (F.unix_micros("ts") % F.lit(86400000000)) / F.lit(60000000)
            )
            .cast("long")
            .alias("minute"),
        )
        .groupBy("event_type", "minute")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    two_pi = F.lit(2 * _math.pi)
    sin_t = F.col("cnt") * F.sin(two_pi * F.col("minute") / 1440)
    cos_t = F.col("cnt") * F.cos(two_pi * F.col("minute") / 1440)

    t = m.groupBy("event_type").agg(
        F.sum("cnt").alias("n"),
        ordered_fold(F.col("minute"), sin_t, "s"),
        ordered_fold(F.col("minute"), cos_t, "c"),
    )
    return t.select(
        "event_type",
        "n",
        F.round(
            (
                (F.atan2(F.col("s"), F.col("c")) / two_pi * 1440) + 1440
            )
            % 1440,
            2,
        ).alias("peak_minute"),
        F.round(
            F.sqrt(F.col("s") * F.col("s") + F.col("c") * F.col("c"))
            / F.col("n"),
            6,
        ).alias("concentration"),
    )


_Q18_QTY = 150  # large-volume threshold (sum of quantities per order)


@query(
    "q_sql_tpch_q18",
    oracle=f"""
WITH big AS (
  SELECT l_orderkey
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) > {_Q18_QTY}
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
         AS totalprice_cents,
       CAST(sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT)) AS BIGINT)
         AS total_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
         o.o_totalprice
""",
)
def q_sql_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customers), adapted: orders whose total
    quantity exceeds 150, with their customers — the classic
    HAVING-subquery-driving-a-semi-join shape (the IN-subquery
    becomes a left-semi hash join on the order key; Catalyst plans it
    without materializing `big` twice thanks to exchange reuse).
    Quantities and prices are exact integers (the fixture's
    l_quantity is integral; floor(+0.5) pins any float dust), so the
    threshold and every output column are integer-decided. Plan: the
    per-order quantity rollup and the main join share the order-key
    partitioning; customer broadcasts."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qty"),
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("tq"))
        .filter(F.col("tq") > _Q18_QTY)
        .select("l_orderkey")
    )
    o = load(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big["l_orderkey"], "left_semi"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("totalprice_cents"),
        )
        .agg(F.sum("qty").alias("total_qty"))
    )
    return j


@query(
    "q_agg_anova_eta",
    oracle="""
WITH g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS ng,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sg,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)
                  * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS HUGEINT)
           AS qg
  FROM events GROUP BY event_type
), t AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(ng) AS BIGINT) AS n,
         CAST(sum(sg) AS HUGEINT) AS s,
         CAST(sum(qg) AS HUGEINT) AS q,
         list_reduce(list(CAST(sg AS DOUBLE) * sg / ng
                          ORDER BY event_type), (a, b) -> a + b) AS sb_raw
  FROM g
)
SELECT k, n,
       round((sb_raw - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
             / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                / n), 6) AS eta2,
       round(((sb_raw - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
              / (k - 1))
             / ((CAST(q AS DOUBLE) - sb_raw) / (n - k)), 4) AS f_stat
FROM t
""",
)
def q_agg_anova_eta(spark, sf_dir):
    """One-way ANOVA of value by event type: the F statistic and the
    eta-squared effect size (share of variance explained by the
    grouping) — the does-the-segment-matter test that complements
    q_agg_mutual_info's nonparametric view with the classical
    variance decomposition. All moments (group counts, sums, squared
    sums) are exact integers, the per-row square multiplied WIDE on
    both sides (decimal(38,0) / one HUGEINT operand — the r8
    extreme-magnitude recipe); SSB's per-group S_g^2/n_g terms are one
    shared-shape division each, summed by an event_type-ORDERED fold
    (never an unordered float SUM); SST and the final ratios are the
    same exact-moment forms as q_agg_ols2. Plan: one
    map-side-combinable combine to |types| rows, one fold — a single
    events pass at 100 TB."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    g = load(spark, sf_dir, "events").select(
        "event_type", cents.alias("c")
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("c").alias("sg"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("qg"),
    )
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum(F.col("sg").cast("decimal(38,0)")).alias("s"),
        F.sum("qg").alias("q"),
        ordered_fold(
            F.col("event_type"),
            F.col("sg").cast("double") * F.col("sg") / F.col("ng"),
            "sb_raw",
        ),
    )
    sd = F.col("s").cast("double")
    qd = F.col("q").cast("double")
    ssb = F.col("sb_raw") - sd * sd / F.col("n")
    sst = qd - sd * sd / F.col("n")
    ssw = qd - F.col("sb_raw")
    # try_divide on every ratio whose denominator can be zero on
    # DEGENERATE inputs (all-constant table -> sst = 0; zero
    # within-group variance -> ssw = 0; one group -> k-1 = 0; all
    # singleton groups -> n-k = 0): DuckDB's double division yields
    # NULL there while ANSI Spark would THROW — try_divide aligns the
    # engines (r7 closed-form pin caught the divergence). On any
    # non-degenerate input the divisors are nonzero and try_divide is
    # bit-identical to /.
    return t.select(
        "k",
        "n",
        F.round(F.try_divide(ssb, sst), 6).alias("eta2"),
        F.round(
            F.try_divide(
                F.try_divide(ssb, (F.col("k") - 1).cast("double")),
                F.try_divide(ssw, (F.col("n") - F.col("k")).cast("double")),
            ),
            4,
        ).alias("f_stat"),
    )


_LAG_MAX = 3  # cross-correlation lags tested: -3..+3 days


@query(
    "q_time_lag_corr",
    oracle=f"""
WITH d AS (
  SELECT CAST(floor(epoch_us(ts::TIMESTAMP) / 86400000000) AS BIGINT)
           AS day,
         CAST(sum(CASE WHEN event_type = 'view'
                       THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS views,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS buys
  FROM events GROUP BY day
), lags AS (
  SELECT unnest(range(-{_LAG_MAX}, {_LAG_MAX} + 1)) AS lag
), j AS (
  SELECT lags.lag, a.views AS x, b.buys AS y
  FROM lags JOIN d a ON true JOIN d b ON b.day = a.day + lags.lag
), m AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM j GROUP BY lag
)
SELECT lag, n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(greatest(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0))
                * sqrt(greatest(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0.0))),
             6)
         AS xcorr
FROM m
""",
)
def q_time_lag_corr(spark, sf_dir):
    """Lead-lag cross-correlation between daily view revenue and daily
    purchase revenue at lags -3..+3 days — does browsing LEAD buying,
    and by how many days? (the marketing-mix / demand-sensing staple;
    the lag with max |r| is the conversion delay estimate). Per lag,
    the day series self-joins shifted by the lag (calendar-correct —
    missing days never misalign as a row-number lag would), and the
    Pearson r comes from exact HUGEINT/decimal(38) moments with one
    shared closed-form float expression (the q_graph_assortativity
    discipline). Plan: one day-rollup collapses the scan; the 7-lag
    band join and moment rollups run on |days| rows."""
    # two self-join sides + 7 lags consume this |days|-row aggregate
    d = truncate_plan(
        load(spark, sf_dir, "events")
        .select(
            F.floor(F.unix_micros("ts") / F.lit(86400000000))
            .cast("long")
            .alias("day"),
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "view", F.col("cents")).otherwise(0)
            ).alias("views"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("cents")
                ).otherwise(0)
            ).alias("buys"),
        )
    )
    lags = spark.range(-_LAG_MAX, _LAG_MAX + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    a = d.select(F.col("day").alias("da"), F.col("views").alias("x"))
    b = d.select(F.col("day").alias("db"), F.col("buys").alias("y"))
    j = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = j.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    # Degenerate guards (r7 class): a CONSTANT daily series zeroes a
    # variance term (DuckDB nulls the 0-division, ANSI Spark would
    # throw — try_divide), and the variance terms are float trees over
    # HUGEINT casts that can round past 2^53, so a true zero can land
    # tiny-negative where DuckDB's sqrt throws (greatest-clamp). Both
    # guards are identical on both sides and no-ops otherwise.
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    den = F.sqrt(
        F.greatest(
            nd * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double"),
            F.lit(0.0),
        )
    ) * F.sqrt(
        F.greatest(
            nd * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double"),
            F.lit(0.0),
        )
    )
    return m.select(
        "lag", "n", F.round(F.try_divide(num, den), 6).alias("xcorr")
    )


_PSI_BUCKETS = 10  # fixed $33 value buckets (0..9, top open-ended)
_PSI_WIDTH = 3300  # bucket width in cents


@query(
    "q_dq_psi",
    oracle=f"""
WITH e AS (
  SELECT epoch_us(ts::TIMESTAMP) AS t,
         least(CAST(floor(floor(value * 100 + 0.5) / {_PSI_WIDTH})
                    AS BIGINT), {_PSI_BUCKETS - 1}) AS bucket
  FROM events
), b AS (
  SELECT min(t) + CAST(floor((max(t) - min(t)) / 2) AS BIGINT) AS mid
  FROM e
), h AS (
  SELECT e.bucket,
         CAST(sum(CASE WHEN e.t < b.mid THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN e.t >= b.mid THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM e CROSS JOIN b GROUP BY e.bucket
), t AS (
  SELECT CAST(sum(n0) AS BIGINT) AS t0, CAST(sum(n1) AS BIGINT) AS t1,
         CAST(count(*) AS BIGINT) AS nb,
         -- list_prepend/coalesce: empty input folds to 0.0 like Spark's
         -- seeded fold (r7 empty-input sweep); 0.0 + x == x on nonempty
         list_reduce(list_prepend(0.0, coalesce(list(
           ((n0 + 1.0) / ((SELECT sum(n0) FROM h) + (SELECT count(*) FROM h))
            - (n1 + 1.0)
              / ((SELECT sum(n1) FROM h) + (SELECT count(*) FROM h)))
           * ln(((n0 + 1.0)
                 / ((SELECT sum(n0) FROM h) + (SELECT count(*) FROM h)))
                / ((n1 + 1.0)
                   / ((SELECT sum(n1) FROM h) + (SELECT count(*) FROM h))))
           ORDER BY bucket), [])), (a, b) -> a + b) AS psi
  FROM h
)
SELECT t0 AS n_first_half, t1 AS n_second_half, nb AS n_buckets,
       round(psi, 6) AS psi
FROM t
""",
)
def q_dq_psi(spark, sf_dir):
    """Population Stability Index of the value distribution between the
    first and second half of the event timeline — THE model-monitoring
    drift score (PSI < 0.1 stable, > 0.25 retrain): sum over fixed $33
    buckets of (p0 - p1) * ln(p0/p1). Fixed-width buckets (not
    quantiles) make the expected/actual comparison well-defined at any
    scale; counts are exact integers, the midpoint is exact
    microseconds, each bucket term is one shared-shape float
    expression of integer ratios with add-one Laplace smoothing (the
    production guard — an empty bucket in one half would otherwise
    send ln(p0/p1) to infinity), and the term sum is a bucket-ORDERED
    fold rounded 6dp. Plan: a 2-row min/max broadcast, one
    (bucket, half) combine, a 10-row fold — one events pass."""
    e = load(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("t"),
        F.least(
            F.floor(
                F.floor(F.col("value") * 100 + F.lit(0.5)) / F.lit(_PSI_WIDTH)
            ).cast("long"),
            F.lit(_PSI_BUCKETS - 1).cast("long"),
        ).alias("bucket"),
    )
    b = e.agg(
        (
            F.min("t") + F.floor((F.max("t") - F.min("t")) / 2).cast("long")
        ).alias("mid")
    )
    h = (
        e.crossJoin(F.broadcast(b))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("t") < F.col("mid"), 1).otherwise(0)).alias(
                "n0"
            ),
            F.sum(F.when(F.col("t") >= F.col("mid"), 1).otherwise(0)).alias(
                "n1"
            ),
        )
    )
    wfull = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    hh = (
        h.withColumn("t0", F.sum("n0").over(wfull))
        .withColumn("t1", F.sum("n1").over(wfull))
        .withColumn("nb", F.count(F.lit(1)).over(wfull))
    )
    p0 = (F.col("n0") + F.lit(1.0)) / (F.col("t0") + F.col("nb"))
    p1 = (F.col("n1") + F.lit(1.0)) / (F.col("t1") + F.col("nb"))
    term = (p0 - p1) * F.log(p0 / p1)
    t = hh.agg(
        F.first("t0").alias("n_first_half"),
        F.first("t1").alias("n_second_half"),
        F.count(F.lit(1)).alias("n_buckets"),
        ordered_fold(F.col("bucket"), term, "psi"),
    )
    return t.select(
        "n_first_half",
        "n_second_half",
        "n_buckets",
        F.round("psi", 6).alias("psi"),
    )


_RBO_P = 0.9  # rank-biased overlap persistence
_RBO_D = 10  # evaluation depth
# weights injected as IDENTICAL double literals on both engines (pow() is
# not guaranteed correctly rounded; Python's repeated ** is one fixed value)
_RBO_W = [repr((1 - _RBO_P) * _RBO_P**k) for k in range(_RBO_D)]


@query(
    "q_win_rbo",
    oracle=f"""
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS m
  FROM lineitem GROUP BY l_partkey
), qty AS (
  SELECT l_partkey,
         CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS m
  FROM lineitem GROUP BY l_partkey
), r1 AS (
  SELECT l_partkey, row_number() OVER (ORDER BY m DESC, l_partkey) AS pos
  FROM rev QUALIFY pos <= {_RBO_D}
), r2 AS (
  SELECT l_partkey, row_number() OVER (ORDER BY m DESC, l_partkey) AS pos
  FROM qty QUALIFY pos <= {_RBO_D}
), j AS (
  SELECT coalesce(r1.pos, {_RBO_D} + 1) AS p1,
         coalesce(r2.pos, {_RBO_D} + 1) AS p2
  FROM r1 FULL OUTER JOIN r2 ON r1.l_partkey = r2.l_partkey
), a AS (
  SELECT d.d,
         CAST(sum(CASE WHEN j.p1 <= d.d AND j.p2 <= d.d THEN 1 ELSE 0 END)
              AS BIGINT) AS ov
  FROM (SELECT unnest(range(1, {_RBO_D} + 1)) AS d) d CROSS JOIN j
  GROUP BY d.d
)
SELECT CAST((SELECT ov FROM a WHERE d = {_RBO_D}) AS BIGINT)
         AS overlap_at_{_RBO_D},
       -- list_prepend/coalesce: empty input folds to 0.0 like Spark's
       -- seeded fold (r7 empty-input sweep); 0.0 + x == x on nonempty
       round(list_reduce(list_prepend(0.0, coalesce(list(
         [{", ".join(_RBO_W)}][CAST(d AS INT)] * ov / d ORDER BY d), [])),
         (x, y) -> x + y), 6) AS rbo
FROM a
""",
)
def q_win_rbo(spark, sf_dir):
    """Rank-biased overlap (Webber et al. 2010, truncated at depth 10,
    p = 0.9) between two part rankings — by revenue vs by unit volume:
    the top-weighted rank-similarity measure search and recsys teams
    use where Spearman over-weights the tail ('do our two bestseller
    lists agree where it matters?'). Both rankings are integer-decided
    (exact cents / exact quantities, partkey tiebreak); per-depth
    prefix overlaps are pure counts off ONE full-outer position join;
    the geometric weights are injected as IDENTICAL double literals on
    both engines (pow() is not correctly rounded — precomputed
    constants are); the weighted sum is a depth-ORDERED fold, rounded
    6dp. Plan: two TakeOrdered top-10s off one lineitem-rollup pass, a
    20-row join, a 10-row fold."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("rc"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qc"),
    )
    agg = li.groupBy("l_partkey").agg(
        F.sum("rc").alias("rev"), F.sum("qc").alias("qty")
    )

    def top(metric, pos_name):
        w = Window.orderBy(F.col(metric).desc(), "l_partkey")
        return (
            agg.withColumn(pos_name, F.row_number().over(w))
            .filter(F.col(pos_name) <= _RBO_D)
            .select("l_partkey", pos_name)
        )

    r1, r2 = top("rev", "p1"), top("qty", "p2")
    j = r1.join(r2, "l_partkey", "full_outer").select(
        F.coalesce(F.col("p1"), F.lit(_RBO_D + 1)).alias("p1"),
        F.coalesce(F.col("p2"), F.lit(_RBO_D + 1)).alias("p2"),
    )
    depths = load(spark, sf_dir, "lineitem").sparkSession.range(
        1, _RBO_D + 1
    ).select(F.col("id").cast("long").alias("d"))
    a = (
        j.crossJoin(F.broadcast(depths))
        .groupBy("d")
        .agg(
            F.sum(
                F.when(
                    (F.col("p1") <= F.col("d")) & (F.col("p2") <= F.col("d")),
                    1,
                ).otherwise(0)
            ).alias("ov")
        )
    )
    wlits = F.array(*[F.lit(float(w)) for w in _RBO_W])
    term = F.element_at(wlits, F.col("d").cast("int")) * F.col("ov") / F.col(
        "d"
    )
    res = a.agg(
        F.max(F.when(F.col("d") == _RBO_D, F.col("ov"))).alias(
            f"overlap_at_{_RBO_D}"
        ),
        F.round(ordered_fold(F.col("d"), term, "rbo"), 6).alias("rbo"),
    )
    return res


@query(
    "q_agg_gains_table",
    oracle="""
WITH c AS (
  SELECT o_custkey,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
), d AS (
  SELECT CAST(ntile(10) OVER (ORDER BY cents DESC NULLS LAST, o_custkey)
              AS BIGINT) AS decile,
         cents
  FROM c
), g AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
         CAST(sum(cents) AS BIGINT) AS revenue_cents
  FROM d GROUP BY decile
), t AS (
  SELECT CAST(sum(n_cust) AS BIGINT) AS nt,
         CAST(sum(revenue_cents) AS BIGINT) AS rt
  FROM g
)
SELECT g.decile, g.n_cust, g.revenue_cents,
       floor(CAST(g.revenue_cents AS DOUBLE) * 1000000 / t.rt + 0.5)
         / 1000000 AS rev_share,
       sum(floor(CAST(g.revenue_cents AS DOUBLE) * 1000000 / t.rt + 0.5)
           / 1000000) OVER (ORDER BY g.decile
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum_share,
       floor(CAST(CAST(g.revenue_cents AS HUGEINT) * t.nt AS DOUBLE)
             * 10000 / (CAST(t.rt AS HUGEINT) * g.n_cust) + 0.5) / 10000
         AS lift
FROM g CROSS JOIN t
""",
)
def q_agg_gains_table(spark, sf_dir):
    """Decile gains/lift table over customer revenue — the chart behind
    every 'top 10% of customers drive X% of revenue' claim and every
    model-targeting gains curve: customers NTILE(10)'d by revenue
    (distributed two-pass rank, never a single-task total order), then
    per decile the revenue share, the cumulative share, and the lift
    vs a uniform customer base. Shares and lift are floored divisions
    of exact integers (lift's cross-multiplied form rev*N_cust /
    (total*n_d) stays in HUGEINT/decimal(38)); the cumulative column
    sums the ALREADY-floored shares so both engines add identical
    doubles. Plan: one per-customer combine, the two-pass global rank,
    a 10-row rollup."""
    c = load(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    from wikidata2pg_spark.operators.windows import _global_rank

    ranked = _global_rank(
        c.select("o_custkey", (-F.col("cents")).alias("_m"), "cents"),
        "_m",
        "o_custkey",
    )
    rn, n = F.col("global_rank"), F.col("n_total")
    q = (n / 10).cast("long")
    r = n % 10
    boundary = r * (q + F.lit(1))
    tile = F.when(
        rn <= boundary, ((rn - 1) / (q + 1)).cast("long") + 1
    ).otherwise(
        r + ((rn - boundary - 1) / F.greatest(q, F.lit(1))).cast("long") + 1
    )
    d = ranked.select(tile.alias("decile"), "cents")
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum("cents").alias("revenue_cents"),
    )
    t = g.agg(
        F.sum("n_cust").alias("nt"), F.sum("revenue_cents").alias("rt")
    )
    j = g.crossJoin(F.broadcast(t))
    share = (
        F.floor(
            F.col("revenue_cents").cast("double") * 1000000 / F.col("rt")
            + F.lit(0.5)
        )
        / 1000000
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        j.withColumn("rev_share", share)
        .withColumn("cum_share", F.sum("rev_share").over(wc))
        .withColumn(
            "lift",
            F.floor(
                (
                    F.col("revenue_cents").cast("decimal(38,0)") * F.col("nt")
                ).cast("double")
                * 10000
                / (
                    F.col("rt").cast("decimal(38,0)") * F.col("n_cust")
                ).cast("double")
                + F.lit(0.5),
            )
            / 10000,
        )
        .select(
            "decile", "n_cust", "revenue_cents", "rev_share", "cum_share", "lift"
        )
    )


@query(
    "q_agg_welch_ttest",
    oracle="""
WITH x AS (
  SELECT l_returnflag AS g,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
  FROM lineitem WHERE l_returnflag IN ('R', 'A')
), m AS (
  SELECT
    sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS n1,
    sum(CASE WHEN g = 'R' THEN cents ELSE 0 END) AS s1,
    sum(CASE WHEN g = 'R' THEN CAST(cents AS HUGEINT) * cents
        ELSE 0 END) AS ss1,
    sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS n2,
    sum(CASE WHEN g = 'A' THEN cents ELSE 0 END) AS s2,
    sum(CASE WHEN g = 'A' THEN CAST(cents AS HUGEINT) * cents
        ELSE 0 END) AS ss2
  FROM x
), v AS (
  SELECT n1, n2,
    CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
    CAST(n1 * ss1 - s1 * s1 AS DOUBLE) / CAST(n1 * (n1 - 1) AS DOUBLE)
      AS v1,
    CAST(n2 * ss2 - s2 * s2 AS DOUBLE) / CAST(n2 * (n2 - 1) AS DOUBLE)
      AS v2
  FROM m
), w AS (
  SELECT n1, n2, m1, m2, v1, v2,
         v1 / n1 + v2 / n2 AS se2 FROM v
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       floor((m1 - m2) / sqrt(se2) * 10000 + 0.5) / 10000 AS t_stat,
       floor(se2 * se2 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                          + (v2 / n2) * (v2 / n2) / (n2 - 1))
             * 10000 + 0.5) / 10000 AS df
FROM w
""",
)
def q_agg_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance two-sample t-test between the R and A
    return-flag populations of line-item price — the A/B-testing
    statistic that does NOT assume equal variances (the real-world
    default; Student's pooled test is the special case). Exactness: the
    six sufficient statistics (n, sum, sum-of-squares per group, in
    integer cents) come from ONE conditional aggregation over exact
    BIGINTs/decimal(38,0); each sample variance is the algebraically
    cleared (n*ss - s^2)/(n*(n-1)) — exact-integer numerator and
    denominator, one division; t and the Welch-Satterthwaite df are
    then a handful of IEEE-identical double ops floored at 4dp.
    Semantics pinned by a hand-derived worked example in
    tests/test_stats_extra.py ([1,2,3] vs [5,7,9] -> t=-3.8730,
    df=2.9412 — the r6 lesson: green hashes don't prove the formula).
    Plan: one scan, map-side combine to a single row; at 100 TB the
    moments ride decimal(38,0) (cents^2 sums overflow int64)."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    is1 = F.col("l_returnflag") == "R"
    m = li.select(cents.alias("cents"), is1.alias("is1")).agg(
        F.sum(F.when(F.col("is1"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("is1"), dec(F.col("cents"))).otherwise(
            F.lit(0).cast("decimal(38,0)"))).alias("s1"),
        F.sum(F.when(F.col("is1"),
                     dec(F.col("cents")) * dec(F.col("cents"))).otherwise(
            F.lit(0).cast("decimal(38,0)"))).alias("ss1"),
        F.sum(F.when(~F.col("is1"), 1).otherwise(0)).alias("n2"),
        F.sum(F.when(~F.col("is1"), dec(F.col("cents"))).otherwise(
            F.lit(0).cast("decimal(38,0)"))).alias("s2"),
        F.sum(F.when(~F.col("is1"),
                     dec(F.col("cents")) * dec(F.col("cents"))).otherwise(
            F.lit(0).cast("decimal(38,0)"))).alias("ss2"),
    )
    return welch_from_moments(m)


def welch_from_moments(m):
    """(n1,s1,ss1,n2,s2,ss2) single-row frame -> (n1, n2, t_stat, df).
    Shared by q_agg_welch_ttest and the worked-example test, so the
    test exercises THE production expression tree, not a re-derivation."""
    # try_divide on every zeroable divisor (r7 degenerate-division
    # class): an EMPTY or SINGLE-row group zeroes n and n*(n-1), and
    # two CONSTANT groups zero se2 under t and the df denominator —
    # DuckDB nulls each double division while ANSI Spark would throw;
    # the NULLs then propagate identically on both sides. The variance
    # numerators are exact decimal differences cast to double, so
    # sqrt(se2) never sees a negative. Bit-identical to / on nonzero
    # divisors. Probes: tests/test_degenerate_division_probes.py.
    m1 = F.try_divide(F.col("s1").cast("double"), F.col("n1"))
    m2 = F.try_divide(F.col("s2").cast("double"), F.col("n2"))
    v1 = F.try_divide(
        (F.col("n1") * F.col("ss1") - F.col("s1") * F.col("s1")).cast("double"),
        (F.col("n1") * (F.col("n1") - 1)).cast("double"),
    )
    v2 = F.try_divide(
        (F.col("n2") * F.col("ss2") - F.col("s2") * F.col("s2")).cast("double"),
        (F.col("n2") * (F.col("n2") - 1)).cast("double"),
    )
    x = m.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        m1.alias("m1"), m2.alias("m2"), v1.alias("v1"), v2.alias("v2"),
    ).withColumn("se2", F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2"))
    t = F.try_divide(F.col("m1") - F.col("m2"), F.sqrt(F.col("se2")))
    df = F.try_divide(
        F.col("se2") * F.col("se2"),
        (F.col("v1") / F.col("n1")) * (F.col("v1") / F.col("n1"))
        / (F.col("n1") - 1)
        + (F.col("v2") / F.col("n2")) * (F.col("v2") / F.col("n2"))
        / (F.col("n2") - 1),
    )
    return x.select(
        "n1",
        "n2",
        (F.floor(t * 10000 + F.lit(0.5)) / 10000).alias("t_stat"),
        (F.floor(df * 10000 + F.lit(0.5)) / 10000).alias("df"),
    )


@query(
    "q_dq_cramers_v",
    oracle="""
WITH x AS (
  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), cells AS (
  SELECT seg, pri, CAST(count(*) AS BIGINT) AS o FROM x GROUP BY seg, pri
), r AS (SELECT seg, sum(o) AS r FROM cells GROUP BY seg),
c AS (SELECT pri, sum(o) AS c FROM cells GROUP BY pri),
n AS (SELECT sum(o) AS n FROM cells),
grid AS (
  SELECT r.seg, c.pri, r.r, c.c, coalesce(cells.o, 0) AS o
  FROM r CROSS JOIN c LEFT JOIN cells USING (seg, pri)
),
t AS (
  SELECT grid.seg, grid.pri,
         CAST(n.n * grid.o - grid.r * grid.c AS DOUBLE)
           * CAST(n.n * grid.o - grid.r * grid.c AS DOUBLE)
           / CAST(n.n * grid.r * grid.c AS DOUBLE) AS term
  FROM grid CROSS JOIN n
), arr AS (
  -- list_prepend/coalesce: empty input folds to 0.0 like Spark's seeded
  -- fold (r7 empty-input sweep); 0.0 + x == x on nonempty input
  SELECT list_prepend(0.0, coalesce(list(term ORDER BY seg, pri), [])) AS terms,
         count(DISTINCT seg) AS nr, count(DISTINCT pri) AS nc,
         (SELECT n FROM n) AS n
  FROM t
)
SELECT floor(list_reduce(terms, (acc, x) -> acc + x) * 10000 + 0.5) / 10000
         AS chi2,
       floor(sqrt(list_reduce(terms, (acc, x) -> acc + x)
                  / (CAST(n AS DOUBLE)
                     * (CASE WHEN nr < nc THEN nr ELSE nc END - 1)))
             * 1000000 + 0.5) / 1000000 AS cramers_v,
       CAST(n AS BIGINT) AS n
FROM arr
""",
)
def q_dq_cramers_v(spark, sf_dir):
    """Cramer's V between customer market segment and order priority —
    the normalized effect size ([0,1]) that makes chi-square
    comparable across table shapes; the DQ check for "are these two
    business dimensions entangled?". Same exactness recipe as
    q_dq_chi2 on a DIFFERENT contingency source (a fact-dimension
    join, not a single table): integer cells/marginals, algebraically
    cleared terms (n*O - r*c)^2/(n*r*c), one pinned-order fold, then
    V = sqrt(chi2 / (n * (min(r,c) - 1))) as shared-shape IEEE ops,
    floored at 6dp. Closed-form edge cases (independence -> V=0,
    perfect association -> V=1) pinned in tests/test_stats_extra.py.
    Plan: the join shuffles on custkey once, cells collapse map-side
    to <=25 rows, marginals derive from the cells (no re-scan)."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cst = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    x = o.join(cst, F.col("o_custkey") == F.col("c_custkey")).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("pri"),
    )
    return cramers_v_frame(x)


def cramers_v_frame(x):
    """(seg, pri) categorical frame -> single-row (chi2, cramers_v, n).
    Thin wrapper over contingency_fold (the shared full-grid chi-square
    pipeline — see its docstring for the empty-cell lesson this family
    learned); shared by q_dq_cramers_v and the closed-form edge-case
    tests."""
    arr = contingency_fold(x, "seg", "pri")
    k = F.when(F.col("nr") < F.col("nc"), F.col("nr")).otherwise(
        F.col("nc")
    )
    chi2 = F.col("chi2_raw")
    # try_divide (r7 degenerate-division class): a 1xC or Rx1 table
    # makes min(r,c)-1 = 0 — DuckDB nulls the double division while
    # ANSI Spark would throw; chi2 is a sum of nonnegative terms so
    # sqrt needs no clamp. Bit-identical to / on nonzero divisors.
    v = F.sqrt(F.try_divide(chi2, F.col("n").cast("double") * (k - 1)))
    return arr.select(
        (F.floor(chi2 * 10000 + F.lit(0.5)) / 10000).alias("chi2"),
        (F.floor(v * 1000000 + F.lit(0.5)) / 1000000).alias("cramers_v"),
        F.col("n").cast("long").alias("n"),
    )


@query(
    "q_time_decompose",
    oracle="""
WITH daily AS (
  SELECT CAST(floor(epoch_us(o_orderdate::TIMESTAMP) / 86400000000)
              AS BIGINT) AS day,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS value_c
  FROM orders GROUP BY 1
), t AS (
  SELECT day, value_c,
         CAST(sum(value_c) OVER w AS BIGINT) AS trend_u,
         count(*) OVER w AS cnt7
  FROM daily
  WINDOW w AS (ORDER BY day RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), f AS (
  SELECT day, day % 7 AS wd, value_c,
         7 * value_c - trend_u AS detr_u, trend_u
  FROM t WHERE cnt7 = 7
), s AS (
  SELECT wd, CAST(sum(detr_u) AS BIGINT) AS s_sum,
         CAST(count(*) AS BIGINT) AS s_cnt
  FROM f GROUP BY wd
)
SELECT f.day, f.wd,
       CAST(f.value_c AS DOUBLE) / 100 AS revenue,
       floor(CAST(f.trend_u AS DOUBLE) / 7 + 0.5) / 100 AS trend,
       floor(CAST(s.s_sum AS DOUBLE) / (7 * s.s_cnt) + 0.5) / 100
         AS seasonal,
       floor(CAST(f.detr_u * s.s_cnt - s.s_sum AS DOUBLE) / (7 * s.s_cnt)
             + 0.5) / 100 AS residual
FROM f JOIN s USING (wd)
""",
)
def q_time_decompose(spark, sf_dir):
    """Classical additive time-series decomposition of daily order
    revenue: trend = centered 7-day moving average (RANGE frame on the
    integer day value — the calendar-correct form; a ROWS frame would
    silently span gaps), seasonal = per-weekday mean of the detrended
    series, residual = remainder. EVERYTHING is exact integer until
    display: value in cents, trend kept as the un-divided 7-day sum
    (trend_u), detrended as 7*value - trend_u (units of cents/7),
    seasonal as the integer pair (sum, count), residual cleared to
    detr*cnt - sum over the common denominator 7*cnt — so every output
    cell is ONE floored division of exact int64s. Edges with fewer
    than 7 neighbors are dropped (cnt7=7), weekday is day%7 (no engine
    calendar). Plan: one shuffle collapses orders to the daily series;
    the series is CALENDAR-BOUNDED (~2.5k rows for 7 years at ANY data
    scale — 100 TB included), so the global-ordered window and the
    7-row seasonal broadcast are safe by construction; the daily frame
    is localCheckpointed once and feeds the window, the seasonal
    aggregate, and the final join without re-scanning orders."""
    day = (
        F.floor(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            / F.lit(86400000000)
        )
    ).cast("long")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    daily = truncate_plan(
        load(spark, sf_dir, "orders")
        .select(day.alias("day"), cents.alias("c"))
        .groupBy("day")
        .agg(F.sum("c").alias("value_c"))
    )
    w = Window.orderBy("day").rangeBetween(-3, 3)
    t = daily.select(
        "day",
        "value_c",
        F.sum("value_c").over(w).alias("trend_u"),
        F.count(F.lit(1)).over(w).alias("cnt7"),
    ).filter(F.col("cnt7") == 7)
    f = truncate_plan(t.select(
        "day",
        (F.col("day") % 7).alias("wd"),
        "value_c",
        (7 * F.col("value_c") - F.col("trend_u")).alias("detr_u"),
        "trend_u",
    ))
    s = f.groupBy("wd").agg(
        F.sum("detr_u").alias("s_sum"), F.count(F.lit(1)).alias("s_cnt")
    )
    j = f.join(F.broadcast(s), "wd")
    den = 7 * F.col("s_cnt")
    return j.select(
        "day",
        "wd",
        (F.col("value_c").cast("double") / 100).alias("revenue"),
        (
            F.floor(F.col("trend_u").cast("double") / 7 + F.lit(0.5)) / 100
        ).alias("trend"),
        (
            F.floor(F.col("s_sum").cast("double") / den + F.lit(0.5)) / 100
        ).alias("seasonal"),
        (
            F.floor(
                (F.col("detr_u") * F.col("s_cnt") - F.col("s_sum")).cast(
                    "double"
                )
                / den
                + F.lit(0.5)
            )
            / 100
        ).alias("residual"),
    )


# Poisson(1) inverse-CDF thresholds on the EXACT 32-bit integer scale:
# T[k] = floor(P(X<=k) * 2^32). Injected as integer literals on both
# engines, so weight assignment is a pure-integer comparison — no float
# exists anywhere in the resampling. Tail capped at 6 (P(X>6|lambda=1)
# ~ 8e-5; the cap is part of the operator's definition on both sides).
_POIS_T = (1580030168, 3160060337, 3950075421, 4213413783, 4279248373,
           4292415291)
_BOOT_B = 40  # replicates; 90% CI = 2nd / 38th order statistics


def _pois_w_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE {cases} ELSE 6 END"


@query(
    "q_agg_bootstrap_ci",
    oracle=f"""
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), rep AS (
  SELECT o.k, o.cents, b.b,
         ('0x' || substr(md5(o.k::VARCHAR || ':' || b.b::VARCHAR), 1, 8))
           ::BIGINT AS u32
  FROM o CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b
), w AS (
  SELECT b, cents, {_pois_w_sql('u32')} AS w FROM rep
), means AS (
  SELECT b, CAST(sum(w * cents) AS DOUBLE) / CAST(sum(w) AS BIGINT) AS m
  FROM w GROUP BY b
), ranked AS (
  SELECT m, CAST(row_number() OVER (ORDER BY m, b) AS BIGINT) AS r
  FROM means
), pt AS (
  SELECT CAST(sum(cents) AS DOUBLE) / count(*) AS pm,
         CAST(count(*) AS BIGINT) AS n
  FROM o
)
SELECT pt.n AS n_orders,
       floor(pt.pm + 0.5) / 100 AS point_mean,
       floor((SELECT m FROM ranked WHERE r = 2) + 0.5) / 100 AS ci_lo,
       floor((SELECT m FROM ranked WHERE r = {_BOOT_B - 2}) + 0.5) / 100
         AS ci_hi
FROM pt
""",
)
def q_agg_bootstrap_ci(spark, sf_dir):
    """Poisson bootstrap 90% CI for the mean order value — THE
    bootstrap that works on data too large to index: instead of
    drawing n rows with replacement (impossible distributedly), each
    row independently receives a Poisson(1) multiplicity per
    replicate, which converges to the multinomial bootstrap as n
    grows. Fully deterministic and engine-exact: the per-(row,
    replicate) uniform is the repo's md5-prefix 32-bit integer, the
    Poisson inverse CDF is a pure INTEGER ladder against injected
    integer thresholds (floor(cdf * 2^32) — no float anywhere in
    resampling), replicate means are exact-integer sums with ONE
    division, and the percentile CI picks lower order statistics
    (rank 2 / rank B-2 of B=40) with ties broken by replicate id.
    Display = floored cents. Plan: the B-way explode is a map-side
    flatMap (no shuffle until the 40-group aggregate, which
    map-side-combines to B rows per task); at 100 TB the sums ride
    decimal-capable BIGINTs per replicate and the whole operator is
    one scan + one tiny shuffle — contrast a with-replacement join
    bootstrap, which would shuffle n*B rows."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    rep = o.select(
        "k", "cents", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b")
    )
    from wikidata2pg_spark.llm.sampling import hash_u32

    u32 = hash_u32(
        F.concat_ws(":", F.col("k").cast("string"), F.col("b").cast("string"))
    )
    w = F.lit(6)
    for k in range(len(_POIS_T) - 1, -1, -1):
        w = F.when(u32 < _POIS_T[k], k).otherwise(w)
    means = (
        rep.withColumn("w", w)
        .groupBy("b")
        .agg(
            (
                F.sum(F.col("w") * F.col("cents")).cast("double")
                / F.sum("w").cast("long")
            ).alias("m")
        )
    )
    ranked = means.withColumn(
        "r", F.row_number().over(Window.orderBy("m", "b")).cast("long")
    )
    # BOTH order statistics from ONE aggregation over the ranked means —
    # separate filter branches would re-execute the whole B-way
    # explode + aggregate subtree (sibling-consumer re-scan trap)
    ci = ranked.agg(
        F.max(F.when(F.col("r") == 2, F.col("m"))).alias("lo"),
        F.max(F.when(F.col("r") == _BOOT_B - 2, F.col("m"))).alias("hi"),
    )
    pt = o.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("pm"),
    )
    return (
        pt.crossJoin(F.broadcast(ci))
        .select(
            "n_orders",
            (F.floor(F.col("pm") + F.lit(0.5)) / 100).alias("point_mean"),
            (F.floor(F.col("lo") + F.lit(0.5)) / 100).alias("ci_lo"),
            (F.floor(F.col("hi") + F.lit(0.5)) / 100).alias("ci_hi"),
        )
    )


@query(
    "q_dq_srm",
    oracle="""
WITH a AS (
  SELECT CASE WHEN ('0x' || substr(md5(c_custkey::VARCHAR), 1, 8))::BIGINT
                   % 2 = 0 THEN 1 ELSE 0 END AS in_a
  FROM customer
), m AS (
  SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
         CAST(count(*) - sum(in_a) AS BIGINT) AS n_b,
         CAST(count(*) AS BIGINT) AS n
  FROM a
)
SELECT n_a, n_b,
       floor(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / n * 1000000
             + 0.5) / 1000000 AS chi2,
       CASE WHEN CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / n > 3.841
            THEN 1 ELSE 0 END AS srm_flag
FROM m
""",
)
def q_dq_srm(spark, sf_dir):
    """Sample-ratio-mismatch guardrail — the FIRST check every A/B
    platform runs before reading a metric: does the realized 50/50
    assignment split actually look 50/50? Assignment is the repo's
    deterministic md5-prefix hash (parity of the 32-bit prefix), so
    the check audits THE production bucketing, and the goodness-of-fit
    chi-square against equal expected counts collapses algebraically
    to (n_a - n_b)^2 / n — exact integer numerator, ONE division,
    floored at 6dp; the 5%-level flag compares the same pre-floor
    double to the chi2(1) critical value 3.841 on both engines
    (hand-derived worked example: 510 vs 490 -> chi2 = 400/1000 =
    0.4, not flagged). Plan: one scan, map-side combine to a single
    row — the cheapest possible guardrail at any scale."""
    from wikidata2pg_spark.llm.sampling import _hash_pct

    cst = load(spark, sf_dir, "customer")
    in_a = F.when(_hash_pct(F.col("c_custkey"), 2) == 0, 1).otherwise(0)
    m = cst.select(in_a.alias("in_a")).agg(
        F.sum("in_a").cast("long").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("in_a")).cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return srm_from_counts(m)


def srm_from_counts(m):
    """(n_a, n_b, n) single-row frame -> (n_a, n_b, chi2, srm_flag).
    Shared by q_dq_srm and the hand-derived worked-example test so the
    test drives the production expression tree."""
    chi2_raw = (
        (F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))
    ).cast("double") / F.col("n")
    return m.select(
        "n_a",
        "n_b",
        (F.floor(chi2_raw * 1000000 + F.lit(0.5)) / 1000000).alias("chi2"),
        F.when(chi2_raw > 3.841, 1).otherwise(0).alias("srm_flag"),
    )


@query(
    "q_time_changepoint",
    oracle="""
WITH daily AS (
  SELECT CAST(floor(epoch_us(o_orderdate::TIMESTAMP) / 86400000000)
              AS BIGINT) AS day,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
  FROM orders GROUP BY 1
), idx AS (
  SELECT day, v,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
         CAST(sum(v) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS s,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(v) OVER () AS BIGINT) AS tot
  FROM daily
), obj AS (
  SELECT day, i, n, s, tot,
         (CAST(s AS DOUBLE) / i - CAST(tot - s AS DOUBLE) / (n - i))
           * (CAST(s AS DOUBLE) / i - CAST(tot - s AS DOUBLE) / (n - i))
           * (CAST(i * (n - i) AS DOUBLE) / n) AS g
  FROM idx WHERE i < n
), best AS (
  SELECT day, i, n, s, tot, g,
         CAST(row_number() OVER (ORDER BY g DESC, day) AS BIGINT) AS r
  FROM obj
)
SELECT day AS split_day,
       floor(CAST(s AS DOUBLE) / i + 0.5) / 100 AS before_mean,
       floor(CAST(tot - s AS DOUBLE) / (n - i) + 0.5) / 100 AS after_mean,
       g AS objective
FROM best WHERE r = 1
""",
)
def q_time_changepoint(spark, sf_dir):
    """Single change-point detection on the daily-revenue series by
    binary segmentation: pick the split k maximizing the between-
    segment sum of squares  g(k) = k(n-k)/n * (mean_left - mean_right)^2
    — the first step of the classic binary-segmentation changepoint
    algorithm, and the exact-SSE-decomposition objective (total SSE =
    within + g). Everything upstream of g is exact integers (daily
    cents, prefix sums via ONE ordered window, totals from the same
    pass); g itself is a handful of IEEE-identical double ops whose
    ARGMAX is compared on identical values in both engines, ties
    broken by day. Output: split day, segment means (floored cents),
    objective. Plan: the collapsed daily series is calendar-bounded
    (the q_time_decompose argument), so the global-ordered prefix-sum
    window and the argmax rank are safe at any data scale; orders is
    scanned once. The synthetic step-series worked example (level 10
    -> 20 must split exactly at the boundary) is pinned in
    tests/test_stats_extra.py via changepoint_frame."""
    day = (
        F.floor(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            / F.lit(86400000000)
        )
    ).cast("long")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    daily = (
        load(spark, sf_dir, "orders")
        .select(day.alias("day"), cents.alias("c"))
        .groupBy("day")
        .agg(F.sum("c").alias("v"))
    )
    return changepoint_frame(daily)


def changepoint_frame(daily):
    """(day, v) integer series -> 1-row (split_day, before_mean,
    after_mean, objective). Shared by q_time_changepoint and the
    synthetic step-series worked example."""
    wo = Window.orderBy("day")
    wall = Window.partitionBy()
    idx = daily.select(
        "day",
        "v",
        F.row_number().over(wo).cast("long").alias("i"),
        F.sum("v")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("s"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        F.sum("v").over(wall).cast("long").alias("tot"),
    )
    diff = F.col("s").cast("double") / F.col("i") - (
        F.col("tot") - F.col("s")
    ).cast("double") / (F.col("n") - F.col("i"))
    g = diff * diff * (
        (F.col("i") * (F.col("n") - F.col("i"))).cast("double") / F.col("n")
    )
    obj = idx.filter(F.col("i") < F.col("n")).withColumn("g", g)
    best = obj.withColumn(
        "r",
        F.row_number()
        .over(Window.orderBy(F.desc("g"), "day"))
        .cast("long"),
    ).filter(F.col("r") == 1)
    return best.select(
        F.col("day").alias("split_day"),
        (
            F.floor(F.col("s").cast("double") / F.col("i") + F.lit(0.5))
            / 100
        ).alias("before_mean"),
        (
            F.floor(
                (F.col("tot") - F.col("s")).cast("double")
                / (F.col("n") - F.col("i"))
                + F.lit(0.5)
            )
            / 100
        ).alias("after_mean"),
        # raw g, no display rounding: g is cents^2-scaled (exceeds 2^63
        # at sf0.1, where Spark's LONG floor would clamp while DuckDB's
        # DOUBLE floor does not) and is already bit-identical by shape
        F.col("g").alias("objective"),
    )


@query(
    "q_time_hampel",
    oracle="""
WITH x AS (
  SELECT user_id, event_id, ts::TIMESTAMP AS ts,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
  FROM events WHERE user_id < 50
), w AS (
  SELECT user_id, event_id, vc,
         list(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS lv
  FROM x
), m AS (
  SELECT user_id, event_id, vc,
         list_sort(lv)[(len(lv) + 1) // 2] AS med_c,
         lv
  FROM w
), d AS (
  SELECT user_id, event_id, vc, med_c,
         list_sort(list_transform(lv, e -> abs(e - med_c)))
           [(len(lv) + 1) // 2] AS mad_c
  FROM m
)
SELECT user_id, event_id, vc AS value_c, med_c, mad_c,
       CASE WHEN abs(vc - med_c) * 10000 > 44478 * mad_c
            THEN 1 ELSE 0 END AS is_outlier,
       CASE WHEN abs(vc - med_c) * 10000 > 44478 * mad_c
            THEN med_c ELSE vc END AS filtered_c
FROM d
""",
)
def q_time_hampel(spark, sf_dir):
    """Hampel filter — the robust rolling-outlier detector (replace a
    point when it sits more than 3 scaled MADs from the rolling
    median; the standard despiking pass before any time-series model).
    ENTIRELY integer: values in exact cents, the 7-row centered
    window's median and MAD both use the LOWER order statistic
    (documented deviation from interpolated medians — it keeps every
    quantity int64), and the textbook threshold |dev| > 3*1.4826*MAD
    is cleared to |dev|*10000 > 44478*MAD — an exact integer compare,
    so no float exists anywhere in the operator. Output keeps cents
    (no display division). Plan: one key-partitioned window, O(frame)
    per-row state like q_win_moving_median; at scale this is the
    map-side despiking stage of any ingest pipeline."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    vc = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, 3)
    )
    x = e.select("user_id", "event_id", "ts", vc.alias("vc")).withColumn(
        "_lv", F.collect_list("vc").over(w)
    )
    srt = F.sort_array(F.col("_lv"))
    x = x.withColumn(
        "med_c",
        F.element_at(srt, ((F.size(srt) + 1) / 2).cast("int")),
    )
    devs = F.sort_array(
        F.transform(F.col("_lv"), lambda e_: F.abs(e_ - F.col("med_c")))
    )
    x = x.withColumn(
        "mad_c",
        F.element_at(devs, ((F.size(devs) + 1) / 2).cast("int")),
    )
    out = F.abs(F.col("vc") - F.col("med_c")) * 10000 > 44478 * F.col("mad_c")
    return x.select(
        "user_id",
        "event_id",
        F.col("vc").alias("value_c"),
        "med_c",
        "mad_c",
        F.when(out, 1).otherwise(0).alias("is_outlier"),
        F.when(out, F.col("med_c")).otherwise(F.col("vc")).alias("filtered_c"),
    )


@query(
    "q_agg_trimmed_mean",
    oracle="""
WITH x AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         l_orderkey, l_linenumber
  FROM lineitem
), r AS (
  SELECT flag, cents,
         CAST(row_number() OVER (PARTITION BY flag
              ORDER BY cents, l_orderkey, l_linenumber) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY flag) AS BIGINT) AS n
  FROM x
)
SELECT flag,
       CAST(n AS BIGINT) AS n,
       CAST(n - 2 * (n // 10) AS BIGINT) AS n_kept,
       floor(CAST(sum(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                           THEN cents ELSE 0 END) AS DOUBLE)
             / (n - 2 * (n // 10)) + 0.5) / 100 AS trimmed_mean
FROM r GROUP BY flag, n
""",
)
def q_agg_trimmed_mean(spark, sf_dir):
    """10%-trimmed mean per return flag — the robust-mean sibling of
    q_agg_winsorized_mean that DROPS each tail instead of clamping it
    (different estimator, different breakdown behavior). The trim
    count is the INTEGER n//10 on both engines (no percentile float),
    membership is an exact integer rank band over a unique-tiebreak
    ordering, and the mean is one floored division of exact cents.
    Plan: one flag-partitioned rank window feeding a conditional
    aggregate on the SAME partitioning (single exchange). At 100 TB
    the rank pass rides the distributed two-pass ordered_bucket shape
    if the per-flag partitions skew (three giant groups) — the
    semantics stay identical."""
    li = load(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    x = li.select(
        F.col("l_returnflag").alias("flag"),
        cents.alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    wp = Window.partitionBy("flag")
    wr = wp.orderBy("cents", "l_orderkey", "l_linenumber")
    r = x.select(
        "flag",
        "cents",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wp).cast("long").alias("n"),
    )
    t = F.floor(F.col("n") / 10).cast("long")
    kept = (F.col("rn") > t) & (F.col("rn") <= F.col("n") - t)
    return r.groupBy("flag", "n").agg(
        (F.first("n") - 2 * F.floor(F.first("n") / 10).cast("long"))
        .cast("long")
        .alias("n_kept"),
        (
            F.floor(
                F.sum(F.when(kept, F.col("cents")).otherwise(0)).cast(
                    "double"
                )
                / (
                    F.first("n")
                    - 2 * F.floor(F.first("n") / 10).cast("long")
                )
                + F.lit(0.5)
            )
            / 100
        ).alias("trimmed_mean"),
    ).select("flag", "n", "n_kept", "trimmed_mean")


@query(
    "q_time_forecast_accuracy",
    oracle="""
WITH daily AS (
  SELECT CAST(floor(epoch_us(o_orderdate::TIMESTAMP) / 86400000000)
              AS BIGINT) AS day,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
  FROM orders GROUP BY 1
), j AS (
  SELECT a.day, a.v AS actual, f.v AS forecast
  FROM daily a JOIN daily f ON a.day = f.day + 7
)
SELECT CAST(count(*) AS BIGINT) AS n_days,
       floor(CAST(sum(abs(actual - forecast)) * 1000000 AS DOUBLE)
             / CAST(sum(actual) AS DOUBLE) + 0.5) / 1000000 AS wape,
       floor(CAST(sum(actual - forecast) * 1000000 AS DOUBLE)
             / CAST(sum(actual) AS DOUBLE) + 0.5) / 1000000 AS bias
FROM j
""",
)
def q_time_forecast_accuracy(spark, sf_dir):
    """Forecast-accuracy scorecard for the seasonal-naive baseline
    (forecast(d) = actual(d-7), the companion of q_time_seasonal_naive
    — every forecasting deployment scores its baseline first): WAPE =
    sum|err|/sum(actual) and bias = sum(err)/sum(actual), the two
    metrics that survive at scale because they aggregate EXACT INTEGER
    numerators/denominators before the single division (per-row MAPE
    ratios would need an ordered float fold). The lag-7 pairing is a
    calendar self-join on day = day+7 (gap-proof — a LAG window over
    row positions would silently pair across missing days). Plan: one
    orders scan collapses to the calendar-bounded daily series; the
    self-join and aggregate are driver-trivial at any data scale."""
    day = (
        F.floor(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            / F.lit(86400000000)
        )
    ).cast("long")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    daily = truncate_plan(
        load(spark, sf_dir, "orders")
        .select(day.alias("day"), cents.alias("c"))
        .groupBy("day")
        .agg(F.sum("c").alias("v"))
    )
    f = daily.select(
        (F.col("day") + 7).alias("fday"), F.col("v").alias("forecast")
    )
    j = daily.join(f, F.col("day") == F.col("fday")).select(
        F.col("v").alias("actual"), "forecast"
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        (
            F.floor(
                (F.sum(F.abs(F.col("actual") - F.col("forecast"))) * 1000000)
                .cast("double")
                / F.sum("actual").cast("double")
                + F.lit(0.5)
            )
            / 1000000
        ).alias("wape"),
        (
            F.floor(
                (F.sum(F.col("actual") - F.col("forecast")) * 1000000)
                .cast("double")
                / F.sum("actual").cast("double")
                + F.lit(0.5)
            )
            / 1000000
        ).alias("bias"),
    )


@query(
    "q_win_skyline",
    oracle="""
WITH x AS (
  SELECT p_partkey,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c,
         CAST(p_size AS BIGINT) AS size
  FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
), m AS (
  SELECT p_partkey, price_c, size,
         max(size) OVER (ORDER BY price_c
              RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS m_strict,
         max(size) OVER (ORDER BY price_c
              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS m_incl
  FROM x
)
SELECT p_partkey, price_c, size
FROM m
WHERE NOT (coalesce(m_strict >= size, FALSE)
           OR coalesce(m_incl > size, FALSE))
""",
)
def q_win_skyline(spark, sf_dir):
    """2-D skyline (Pareto frontier) over parts: minimize price,
    maximize size — the classic dominance query (a part survives iff
    no other part is cheaper-or-equal AND bigger-or-equal with one
    strict). The O(n^2) pair formulation collapses to ONE ordered
    sweep: dominated iff (max size among STRICTLY cheaper) >= mine,
    or (max size among cheaper-or-equal) > mine — two RANGE frames on
    the integer price value sharing one sort, so equal-price ties and
    duplicate points fall out correctly (mutually non-dominating
    duplicates all survive). All integer: cents, sizes, MAX — no
    float anywhere. Distributed two-pass (r7, the ordered_bucket
    pattern of windows.py::_global_rank): bucket on price_c (pid is a
    pure monotone function of the value, so every row in an earlier
    bucket is STRICTLY cheaper), run both RANGE frames per bucket,
    then lift each to the global frame with the broadcast exclusive
    prefix-max of per-bucket maxima — max(local, prefix) is exact for
    MAX because prefix rows are strictly-cheaper for BOTH frames. The
    only single-partition stages carry O(P) aggregate rows
    (plan-asserted in test_plans.py); the full table never funnels
    through one task. Brute-forced against the O(n^2) dominance
    definition in pytest."""
    from wikidata2pg_spark.operators.windows import ordered_bucket

    # Points with a NULL price or size are excluded on BOTH sides: a
    # partially-unknown point has no dominance relation (r7 NULL-measure
    # sweep catch).
    p = load(spark, sf_dir, "part").filter(
        F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
    )
    x = p.select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_c"),
        F.col("p_size").cast("long").alias("size"),
    )
    parts = ordered_bucket(x, "price_c", 16)
    # asc_nulls_last honors the ordered_bucket contract (NULLs route to
    # the last bucket AND sort last within it) independently of the
    # isNotNull filter above — if that filter is ever relaxed, the
    # within-bucket order still agrees with the oracle (ADVICE r7).
    wloc = Window.partitionBy("pid").orderBy(F.col("price_c").asc_nulls_last())
    m = parts.select(
        "pid",
        "p_partkey",
        "price_c",
        "size",
        F.max("size")
        .over(wloc.rangeBetween(Window.unboundedPreceding, -1))
        .alias("ms_loc"),
        F.max("size")
        .over(wloc.rangeBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("mi_loc"),
    )
    bmax = parts.groupBy("pid").agg(F.max("size").alias("bmax"))
    wpre = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    pre = bmax.select("pid", F.max("bmax").over(wpre).alias("pre_max"))
    j = m.join(F.broadcast(pre), "pid")
    # greatest() skips nulls (first row of a bucket has null ms_loc;
    # bucket 0 has null pre_max) — null survives only when BOTH sides
    # are empty, exactly the global window's null; coalesce -> FALSE.
    m_strict = F.greatest("ms_loc", "pre_max")
    m_incl = F.greatest("mi_loc", "pre_max")
    dominated = F.coalesce(
        m_strict >= F.col("size"), F.lit(False)
    ) | F.coalesce(m_incl > F.col("size"), F.lit(False))
    return j.filter(~dominated).select("p_partkey", "price_c", "size")


@query(
    "q_time_mann_kendall",
    oracle="""
WITH m AS (
  SELECT o_orderpriority AS priority,
         CAST(strftime(o_orderdate::TIMESTAMP, '%Y%m') AS INTEGER) AS ym,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
  FROM orders GROUP BY 1, 2
), s AS (
  SELECT a.priority,
         CAST(sum(CASE WHEN b.v > a.v THEN 1
                       WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM m a JOIN m b ON a.priority = b.priority AND a.ym < b.ym
  GROUP BY 1
), n AS (
  SELECT priority, CAST(count(*) AS BIGINT) AS n FROM m GROUP BY 1
), ties AS (
  SELECT priority,
         CAST(coalesce(sum(c * (c - 1) * (2 * c + 5)), 0) AS BIGINT) AS tie
  FROM (SELECT priority, v, CAST(count(*) AS BIGINT) AS c
        FROM m GROUP BY 1, 2) g
  WHERE c > 1 GROUP BY 1
), j AS (
  SELECT n.priority, n.n, coalesce(s.s, 0) AS s,
         n.n * (n.n - 1) * (2 * n.n + 5) - coalesce(t.tie, 0) AS var18
  FROM n LEFT JOIN s ON n.priority = s.priority
  LEFT JOIN ties t ON n.priority = t.priority
)
SELECT priority, n AS n_periods, s AS s_stat,
       CAST(var18 AS BIGINT) AS var18,
       CASE WHEN s > 0 THEN
              floor((s - 1) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                    * 10000 + 0.5) / 10000
            WHEN s < 0 THEN
              floor((s + 1) / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                    * 10000 + 0.5) / 10000
            ELSE 0.0 END AS z,
       CASE WHEN s > 0 AND (s - 1) * (s - 1) * 180000 > 38416 * var18
              THEN 'increasing'
            WHEN s < 0 AND (s + 1) * (s + 1) * 180000 > 38416 * var18
              THEN 'decreasing'
            ELSE 'no trend' END AS trend
FROM j
""",
)
def q_time_mann_kendall(spark, sf_dir):
    """Mann-Kendall trend test on the monthly revenue series per order
    priority — the standard nonparametric is-this-series-trending test
    (and the significance companion of q_agg_theilsen's slope: MK says
    WHETHER a monotone trend exists, Theil-Sen says how steep). The S
    statistic is a pure integer (sum of pairwise sign comparisons over
    exact-cent monthly sums), the tie-corrected variance stays on the
    INTEGER 18*Var scale (n(n-1)(2n+5) - sum t(t-1)(2t+5); never
    divided), and the significance call at alpha=0.05 is an exact
    integer comparison — (S-+1)^2 * 180000 > 38416 * 18Var clears
    z^2 > 1.96^2 of all floats, so both engines make the identical
    trend/no-trend call. Only the DISPLAYED z touches doubles (one
    shared continuity-corrected expression, floored 4dp). Plan: the
    month rollup collapses orders map-side to ~80 rows per priority;
    the pairwise self-join runs on that tiny aggregate (never on raw
    rows) — at 100 TB the O(k^2) pair stage is bounded by the PERIOD
    count, not the data, which is exactly why MK scales where
    rank-regression on raw rows would not."""
    return mann_kendall_frame(_monthly_revenue_by_priority(spark, sf_dir))


def _monthly_revenue_by_priority(spark, sf_dir):
    """(priority, ym, v) monthly exact-cent revenue series — the shared
    collapse feeding q_time_mann_kendall and q_agg_hodges_lehmann (one
    recipe: cents rounding, ym = year*100+month, localCheckpoint for
    the multi-consumer fan-out)."""
    o = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    return truncate_plan(
        o.groupBy(
            F.col("o_orderpriority").alias("priority"),
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("int")
            .alias("ym"),
        )
        .agg(F.sum(cents).alias("v"))
    )


def mann_kendall_frame(m):
    """Mann-Kendall core over a (priority, ym, v) series frame — the
    production expression tree, importable so worked-example tests can
    drive it on hand-built series (the welch_from_moments discipline).
    ``v`` must be an exact integer (cents); ``ym`` any ordered int."""
    a = m.select("priority", F.col("ym").alias("ym1"), F.col("v").alias("v1"))
    b = m.select(
        F.col("priority").alias("p2"),
        F.col("ym").alias("ym2"),
        F.col("v").alias("v2"),
    )
    s = (
        a.join(
            b,
            (F.col("priority") == F.col("p2")) & (F.col("ym1") < F.col("ym2")),
        )
        .groupBy("priority")
        .agg(
            F.sum(
                F.when(F.col("v2") > F.col("v1"), 1)
                .when(F.col("v2") < F.col("v1"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    n = m.groupBy("priority").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        m.groupBy("priority", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .filter(F.col("c") > 1)
        .groupBy("priority")
        .agg(
            F.sum(
                F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5)
            )
            .cast("long")
            .alias("tie")
        )
    )
    j = (
        # LEFT joins: a single-period series has zero pairs and no tie
        # groups — it must still report n_periods=1 / S=0 / 'no trend',
        # never vanish (the silent-row-drop review catch)
        n.join(s, "priority", "left")
        .join(ties, "priority", "left")
        .select(
            "priority",
            "n",
            F.coalesce(F.col("s"), F.lit(0)).alias("s"),
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.coalesce(F.col("tie"), F.lit(0))
            ).alias("var18"),
        )
    )
    sd = F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    r4 = lambda x: F.floor(x * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    sig_pos = (
        (F.col("s") - 1) * (F.col("s") - 1) * 180000 > 38416 * F.col("var18")
    )
    sig_neg = (
        (F.col("s") + 1) * (F.col("s") + 1) * 180000 > 38416 * F.col("var18")
    )
    return j.select(
        "priority",
        F.col("n").alias("n_periods"),
        F.col("s").alias("s_stat"),
        F.col("var18").cast("long").alias("var18"),
        F.when(F.col("s") > 0, r4((F.col("s") - 1) / sd))
        .when(F.col("s") < 0, r4((F.col("s") + 1) / sd))
        .otherwise(F.lit(0.0))
        .alias("z"),
        F.when((F.col("s") > 0) & sig_pos, F.lit("increasing"))
        .when((F.col("s") < 0) & sig_neg, F.lit("decreasing"))
        .otherwise(F.lit("no trend"))
        .alias("trend"),
    )


@query(
    "q_time_control_chart",
    oracle="""
WITH d AS (
  SELECT CAST(floor(epoch_us(o_orderdate::TIMESTAMP) / 86400000000)
              AS BIGINT) AS day,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
              AS BIGINT) AS v
  FROM orders GROUP BY 1
), l AS (
  SELECT day, v, lag(v) OVER (ORDER BY day) AS prev FROM d
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(v) AS sv,
         CAST(count(prev) AS BIGINT) AS m, sum(abs(v - prev)) AS smr
  FROM l
)
SELECT day, v AS v_cents,
       CASE WHEN CAST(v AS HUGEINT) * n > sv
            THEN 'above' ELSE 'below' END AS side,
       floor(CAST(sv AS DOUBLE) / n + 0.5) / 100 AS center,
       floor(CAST(sv AS DOUBLE) / n
             + 2.66 * (CAST(smr AS DOUBLE) / m) + 0.5) / 100 AS ucl,
       floor(CAST(sv AS DOUBLE) / n
             - 2.66 * (CAST(smr AS DOUBLE) / m) + 0.5) / 100 AS lcl
FROM l, s
WHERE CAST(abs(v * n - sv) AS HUGEINT) * m * 1000
      > CAST(2660 AS HUGEINT) * smr * n
""",
)
def q_time_control_chart(spark, sf_dir):
    """XmR (individuals / moving-range) control chart over the daily
    revenue series — the Shewhart SPC screen for 'is this day out of
    statistical control': limits are mean(v) +- 2.66 * mean(|v_t -
    v_{t-1}|) (2.66 = 3/d2 for the 2-point moving range). The
    violation decision never touches a double: |v*n - Sv| * m * 1000 >
    2660 * Smr * n compares exact integers, widened to decimal(38,0)/
    HUGEINT because the cross-products exceed int64 headroom at scale
    (the q_time_changepoint LONG-floor lesson). Only the DISPLAYED
    center/UCL/LCL are doubles (one shared expression each over the
    same exact integer moments, floored to whole cents). Plan: orders
    collapse map-side to one row per day; the lag and the 4-term
    moment aggregate run on that ~2.4k-row series (a single-partition
    window on a POST-AGGREGATE frame — the day grain stays tiny at any
    corpus size, which is what makes XmR charts viable at 100 TB); the
    1-row moment frame broadcasts back onto the series."""
    o = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    day = F.floor(
        F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        / F.lit(86400000000)
    )
    d = o.groupBy(day.cast("long").alias("day")).agg(F.sum(cents).alias("v"))
    return xmr_frame(d)


def xmr_frame(d):
    """XmR control-chart core over a (day, v) series frame — the
    production expression tree, importable for worked-example tests.
    ``v`` must be an exact integer (cents)."""
    # truncate_plan: the lagged series feeds both the 1-row moment
    # aggregate and the violation filter (sibling-consumer rule).
    l_ = truncate_plan(d.withColumn(
        "prev", F.lag("v").over(Window.orderBy("day"))
    ))
    stats = l_.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").alias("sv"),
        F.count("prev").cast("long").alias("m"),
        F.sum(F.abs(F.col("v") - F.col("prev"))).alias("smr"),
    )
    j = l_.crossJoin(F.broadcast(stats))
    dec = F.lit(0).cast("decimal(38,0)")
    lhs = (
        F.abs(
            F.col("v").cast("decimal(38,0)") * F.col("n") - F.col("sv")
        )
        * F.col("m")
        * 1000
    )
    rhs = (F.lit(2660) + dec) * F.col("smr") * F.col("n")
    mean_c = F.col("sv").cast("double") / F.col("n")
    band = F.lit(2.66) * (F.col("smr").cast("double") / F.col("m"))
    r_cents = lambda x: F.floor(x + F.lit(0.5)) / 100  # noqa: E731
    return j.filter(lhs > rhs).select(
        "day",
        F.col("v").alias("v_cents"),
        # same decimal widening as the violation predicate: raw int64
        # v*n wraps exactly at the scale the widening defends against
        F.when(
            F.col("v").cast("decimal(38,0)") * F.col("n") > F.col("sv"),
            F.lit("above"),
        )
        .otherwise(F.lit("below"))
        .alias("side"),
        r_cents(mean_c).alias("center"),
        r_cents(mean_c + band).alias("ucl"),
        r_cents(mean_c - band).alias("lcl"),
    )


@query(
    "q_time_strength",
    oracle="""
WITH daily AS (
  SELECT CAST(floor(epoch_us(o_orderdate::TIMESTAMP) / 86400000000)
              AS BIGINT) AS day,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS value_c
  FROM orders GROUP BY 1
), t AS (
  SELECT day, value_c,
         CAST(sum(value_c) OVER w AS BIGINT) AS trend_u,
         count(*) OVER w AS cnt7
  FROM daily
  WINDOW w AS (ORDER BY day RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), f AS (
  SELECT day, day % 7 AS wd, value_c,
         7 * value_c - trend_u AS detr_u
  FROM t WHERE cnt7 = 7
), s AS (
  SELECT wd, CAST(sum(detr_u) AS BIGINT) AS s_sum,
         CAST(count(*) AS BIGINT) AS s_cnt
  FROM f GROUP BY wd
), comp AS (
  SELECT f.day,
         CAST(f.detr_u * s.s_cnt - s.s_sum AS DOUBLE)
           / (7 * s.s_cnt) AS r,
         CAST(f.detr_u AS DOUBLE) / 7 AS sr,
         CAST(7 * s.s_cnt * f.value_c - s.s_sum AS DOUBLE)
           / (7 * s.s_cnt) AS tr
  FROM f JOIN s USING (wd)
), folds AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         list_reduce(list_prepend(0.0, list(r ORDER BY day)),
                     (a, b) -> a + b) AS s_r,
         list_reduce(list_prepend(0.0, list(r * r ORDER BY day)),
                     (a, b) -> a + b) AS ss_r,
         list_reduce(list_prepend(0.0, list(sr ORDER BY day)),
                     (a, b) -> a + b) AS s_sr,
         list_reduce(list_prepend(0.0, list(sr * sr ORDER BY day)),
                     (a, b) -> a + b) AS ss_sr,
         list_reduce(list_prepend(0.0, list(tr ORDER BY day)),
                     (a, b) -> a + b) AS s_tr,
         list_reduce(list_prepend(0.0, list(tr * tr ORDER BY day)),
                     (a, b) -> a + b) AS ss_tr
  FROM comp
)
SELECT n AS n_days,
       floor(greatest(0.0, 1 - (n * ss_r - s_r * s_r)
                               / (n * ss_tr - s_tr * s_tr))
             * 1000000 + 0.5) / 1000000 AS f_trend,
       floor(greatest(0.0, 1 - (n * ss_r - s_r * s_r)
                               / (n * ss_sr - s_sr * s_sr))
             * 1000000 + 0.5) / 1000000 AS f_seasonal
FROM folds
""",
)
def q_time_strength(spark, sf_dir):
    """Trend and seasonality STRENGTH of the daily revenue series
    (Hyndman's STL F-measures: F_trend = max(0, 1 - Var(R)/Var(T+R)),
    F_seasonal = max(0, 1 - Var(R)/Var(S+R))) — the one-row summary
    that says whether q_time_decompose's components actually carry
    signal (the feature a forecasting pipeline uses to ROUTE series:
    seasonal-naive vs drift vs flat). Shares the decompose key's exact
    integer machinery: each component sample is ONE division of exact
    int64s (S+R = detr_u/7; R and T+R cleared to the common
    denominator 7*s_cnt), so both engines see bit-identical doubles;
    the six variance moments are day-ORDERED folds (float addition
    does not commute), and each strength is one shared float
    expression over them, floored 6dp. Plan: the calendar-bounded
    daily series (one shuffle from orders) feeds one global-ordered
    window, a 7-row seasonal aggregate, and a single-row fold — at
    100 TB everything after the first shuffle is O(days), not O(rows).
    """
    day = (
        F.floor(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            / F.lit(86400000000)
        )
    ).cast("long")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    daily = truncate_plan(
        load(spark, sf_dir, "orders")
        .select(day.alias("day"), cents.alias("c"))
        .groupBy("day")
        .agg(F.sum("c").alias("value_c"))
    )
    return strength_from_daily(daily)


def strength_from_daily(daily):
    """STL-strength core over a (day, value_c) series frame — the
    production expression tree, importable so the closed-form edge
    (pure trend + pure weekly seasonality -> both strengths exactly
    1.0) drives the exact code path."""
    w = Window.orderBy("day").rangeBetween(-3, 3)
    # feeds the seasonal agg and the join
    f = truncate_plan(
        daily.select(
            "day",
            "value_c",
            F.sum("value_c").over(w).alias("trend_u"),
            F.count(F.lit(1)).over(w).alias("cnt7"),
        )
        .filter(F.col("cnt7") == 7)
        .select(
            "day",
            (F.col("day") % 7).alias("wd"),
            "value_c",
            (7 * F.col("value_c") - F.col("trend_u")).alias("detr_u"),
        )
    )
    s = f.groupBy("wd").agg(
        F.sum("detr_u").alias("s_sum"), F.count(F.lit(1)).alias("s_cnt")
    )
    den = 7 * F.col("s_cnt")
    comp = f.join(F.broadcast(s), "wd").select(
        "day",
        (
            (F.col("detr_u") * F.col("s_cnt") - F.col("s_sum")).cast(
                "double"
            )
            / den
        ).alias("r"),
        (F.col("detr_u").cast("double") / 7).alias("sr"),
        (
            (den * F.col("value_c") - F.col("s_sum")).cast("double") / den
        ).alias("tr"),
    )
    folds = comp.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        ordered_fold(F.col("day"), F.col("r"), "s_r"),
        ordered_fold(F.col("day"), F.col("r") * F.col("r"), "ss_r"),
        ordered_fold(F.col("day"), F.col("sr"), "s_sr"),
        ordered_fold(F.col("day"), F.col("sr") * F.col("sr"), "ss_sr"),
        ordered_fold(F.col("day"), F.col("tr"), "s_tr"),
        ordered_fold(F.col("day"), F.col("tr") * F.col("tr"), "ss_tr"),
    )
    var_r = F.col("n") * F.col("ss_r") - F.col("s_r") * F.col("s_r")
    var_tr = F.col("n") * F.col("ss_tr") - F.col("s_tr") * F.col("s_tr")
    var_sr = F.col("n") * F.col("ss_sr") - F.col("s_sr") * F.col("s_sr")
    r6_ = lambda x: F.floor(x * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    # try_divide (r7 degenerate class, found by the degenerate-input
    # sweep): a CONSTANT daily series zeroes Var(T+R)/Var(S+R) — DuckDB
    # nulls the 0/0 while ANSI Spark would throw; greatest then SKIPS
    # the NULL in BOTH engines (Postgres convention, probe-confirmed),
    # so both strengths degrade to exactly 0.0 — the right answer for a
    # structureless series. Bit-identical to / on nonzero divisors.
    return folds.select(
        F.col("n").alias("n_days"),
        r6_(F.greatest(F.lit(0.0), 1 - F.try_divide(var_r, var_tr))).alias("f_trend"),
        r6_(F.greatest(F.lit(0.0), 1 - F.try_divide(var_r, var_sr))).alias("f_seasonal"),
    )


@query(
    "q_agg_hodges_lehmann",
    oracle="""
WITH m AS (
  SELECT o_orderpriority AS priority,
         CAST(strftime(o_orderdate::TIMESTAMP, '%Y%m') AS INTEGER) AS ym,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
  FROM orders GROUP BY 1, 2
), d AS (
  SELECT a.priority, a.v + b.v AS d,
         a.ym AS ym1, b.ym AS ym2
  FROM m a JOIN m b ON a.priority = b.priority AND a.ym <= b.ym
), r AS (
  SELECT priority, d,
         CAST(row_number() OVER (PARTITION BY priority
              ORDER BY d, ym1, ym2) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY priority) AS BIGINT) AS m_pairs
  FROM d
)
SELECT priority, m_pairs AS n_pairs,
       CAST(sum(CASE WHEN rn = (m_pairs + 1) // 2 THEN d ELSE 0 END)
            + sum(CASE WHEN rn = (m_pairs + 2) // 2 THEN d ELSE 0 END)
            AS DOUBLE) / 4 AS hl_cents
FROM r GROUP BY priority, m_pairs
""",
)
def q_agg_hodges_lehmann(spark, sf_dir):
    """Hodges-Lehmann pseudo-median of the monthly revenue series per
    priority — the rank-based robust location estimator (median of all
    Walsh pair averages (v_i + v_j)/2, i <= j; the estimator behind
    the Wilcoxon test, ~95% efficient at the normal where the plain
    median is 64%). ZERO rounding anywhere: Walsh sums stay as exact
    integers d = v_i + v_j, the median is the standard two-order-
    statistic form selected by integer rank over a unique (d, ym1,
    ym2) ordering, and the final (d_lo + d_hi)/4 is a division by a
    POWER OF TWO — exact in binary floating point on both engines, so
    the displayed value needs no floor pattern at all. Plan: like
    q_time_mann_kendall the O(k^2) Walsh expansion runs on the ~80-row
    monthly AGGREGATE (3.2k pairs per priority), never on raw orders —
    period-bounded at any data scale; one rank window per priority."""
    return hodges_lehmann_frame(_monthly_revenue_by_priority(spark, sf_dir))


def hodges_lehmann_frame(m):
    """Hodges-Lehmann core over a (priority, ym, v) series frame — the
    production expression tree, importable so the translation-
    equivariance property test drives the exact code path. ``v`` must
    be an exact integer."""
    a = m.select("priority", F.col("ym").alias("ym1"), F.col("v").alias("v1"))
    b = m.select(
        F.col("priority").alias("p2"),
        F.col("ym").alias("ym2"),
        F.col("v").alias("v2"),
    )
    d = a.join(
        b, (F.col("priority") == F.col("p2")) & (F.col("ym1") <= F.col("ym2"))
    ).select("priority", (F.col("v1") + F.col("v2")).alias("d"), "ym1", "ym2")
    wp = Window.partitionBy("priority")
    r = d.select(
        "priority",
        "d",
        F.row_number()
        .over(wp.orderBy("d", "ym1", "ym2"))
        .cast("long")
        .alias("rn"),
        F.count(F.lit(1)).over(wp).cast("long").alias("m_pairs"),
    )
    lo = F.floor((F.col("m_pairs") + 1) / 2).cast("long")
    hi = F.floor((F.col("m_pairs") + 2) / 2).cast("long")
    return r.groupBy("priority", "m_pairs").agg(
        (
            (
                F.sum(F.when(F.col("rn") == lo, F.col("d")).otherwise(0))
                + F.sum(F.when(F.col("rn") == hi, F.col("d")).otherwise(0))
            ).cast("double")
            / 4
        ).alias("hl_cents")
    ).select(
        "priority", F.col("m_pairs").alias("n_pairs"), "hl_cents"
    )


@query(
    "q_dq_freshness",
    oracle="""
WITH d AS (
  SELECT o_orderpriority AS priority,
         CAST(floor(epoch_us(o_orderdate::TIMESTAMP) / 86400000000)
              AS BIGINT) AS day
  FROM orders
), g AS (
  SELECT CAST(max(day) AS BIGINT) AS gmax FROM d
)
SELECT priority,
       CAST(max(day) AS BIGINT) AS last_day,
       CAST(gmax - max(day) AS BIGINT) AS lag_days,
       CAST(sum(CASE WHEN day > gmax - 30 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_last_30d,
       CAST(sum(CASE WHEN day > gmax - 90 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_last_90d,
       CASE WHEN gmax - max(day) > 7 THEN 1 ELSE 0 END AS stale
FROM d CROSS JOIN g
GROUP BY priority, gmax
""",
)
def q_dq_freshness(spark, sf_dir):
    """Per-feed freshness audit — last-arrival day, staleness lag
    against the corpus frontier, trailing 30/90-day arrival volumes,
    and a stale flag (lag > 7 days): the first page of every ingest
    dashboard (a feed whose lag grows or whose trailing volume drops
    is failing BEFORE any content check fires). Pure integer day
    arithmetic end to end — zero rounding surface. Plan: one orders
    scan collapses map-side to per-priority day extremes and
    conditional counts; the 1-row global frontier broadcasts (the
    scalar-subquery shape q_subquery_scalar pins). At 100 TB this is
    a metadata-speed query: with day-partitioned layouts the same
    aggregate prunes to the partition index."""
    o = load(spark, sf_dir, "orders")
    day = (
        F.floor(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            / F.lit(86400000000)
        )
    ).cast("long")
    # collapse to the calendar-bounded (priority, day, n) grid BEFORE
    # the checkpoint — checkpointing the raw row projection would
    # materialize the whole fact table (review catch); every output is
    # derivable from the per-day counts
    # feeds the frontier and the per-feed rollup
    d = truncate_plan(
        o.groupBy(
            F.col("o_orderpriority").alias("priority"), day.alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    g = d.agg(F.max("day").alias("gmax"))
    j = d.crossJoin(F.broadcast(g))
    return (
        j.groupBy("priority", "gmax")
        .agg(
            F.max("day").cast("long").alias("last_day"),
            (F.col("gmax") - F.max("day")).cast("long").alias("lag_days"),
            F.sum(
                F.when(
                    F.col("day") > F.col("gmax") - 30, F.col("n")
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_last_30d"),
            F.sum(
                F.when(
                    F.col("day") > F.col("gmax") - 90, F.col("n")
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_last_90d"),
            F.when(F.col("gmax") - F.max("day") > 7, 1)
            .otherwise(0)
            .alias("stale"),
        )
        .drop("gmax")
    )


@query(
    "q_time_ljung_box",
    oracle="""
WITH x AS (
  SELECT user_id, epoch_us(ts::TIMESTAMP) AS t, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
  FROM events
), u AS (
  SELECT *, count(*) OVER (PARTITION BY user_id) AS n,
            sum(v) OVER (PARTITION BY user_id) AS s
  FROM x
), l AS (
  SELECT *,
         lead(v, 1) OVER w AS v1, lead(v, 2) OVER w AS v2,
         lead(v, 3) OVER w AS v3
  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
), agg AS (
  SELECT user_id, CAST(any_value(n) AS BIGINT) AS n,
         sum(CAST(n * v - s AS HUGEINT) * (n * v - s)) AS d,
         sum(CASE WHEN v1 IS NOT NULL
                  THEN CAST(n * v - s AS HUGEINT) * (n * v1 - s)
                  ELSE 0 END) AS nk1,
         sum(CASE WHEN v2 IS NOT NULL
                  THEN CAST(n * v - s AS HUGEINT) * (n * v2 - s)
                  ELSE 0 END) AS nk2,
         sum(CASE WHEN v3 IS NOT NULL
                  THEN CAST(n * v - s AS HUGEINT) * (n * v3 - s)
                  ELSE 0 END) AS nk3
  FROM l GROUP BY user_id
)
SELECT user_id, n,
       floor(n * (n + 2)
             * ((CAST(nk1 AS DOUBLE) / d) * (CAST(nk1 AS DOUBLE) / d)
                  / (n - 1)
                + (CAST(nk2 AS DOUBLE) / d) * (CAST(nk2 AS DOUBLE) / d)
                  / (n - 2)
                + (CAST(nk3 AS DOUBLE) / d) * (CAST(nk3 AS DOUBLE) / d)
                  / (n - 3))
             * 10000 + 0.5) / 10000 AS lb_q,
       CAST(3 AS INTEGER) AS df,
       CAST(7.8147 AS DOUBLE) AS chi2_crit_05
FROM agg WHERE n > 3 AND d > 0
""",
)
def q_time_ljung_box(spark, sf_dir):
    """Ljung-Box portmanteau statistic at lags 1-3 per user series —
    the is-it-white-noise test that closes the Box-Jenkins loop opened
    by q_time_acf (ACF shows the correlogram; LB says whether the
    first m lags are JOINTLY nonzero): Q = n(n+2) sum_k r_k^2/(n-k),
    compared against chi-square(3). Reuses the ACF key's integer
    clearing exactly — each r_k = nk/d is one division of exact int64
    sums of (n*v - s) products — so Q is one shared float expression
    with a FIXED three-term association order (no fold needed),
    floored 4dp. The chi-square critical value ships as a column
    (7.8147, alpha=0.05); no float threshold decision is baked in —
    the per-(n-k) denominators make an exact-integer clearing of
    Q > crit exceed decimal(38,0) headroom, so the verdict is left to
    the consumer against the shipped constant (documented deviation
    from the integer-decision rule). Plan: identical to q_time_acf —
    one user_id exchange, leads in-row, one rollup; the three lag
    numerators collapse in the SAME aggregate (no union, no second
    scan)."""
    e = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    wu = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("t", "event_id")
    l = (
        e.withColumn("n", F.count(F.lit(1)).over(wu))
        .withColumn("s", F.sum("v").over(wu))
        .withColumn("v1", F.lead("v", 1).over(wo))
        .withColumn("v2", F.lead("v", 2).over(wo))
        .withColumn("v3", F.lead("v", 3).over(wo))
    )
    dev = F.col("n") * F.col("v") - F.col("s")
    # deviation products widened to decimal(38,0)/HUGEINT: the sums grow
    # ~n^3 * var(cents) per series — int64 headroom shrinks fast with
    # longer series (the q_time_extreme_value convention; review catch)
    devd = dev.cast("decimal(38,0)")
    nk = lambda c: F.sum(  # noqa: E731
        F.when(
            F.col(c).isNotNull(),
            devd * (F.col("n") * F.col(c) - F.col("s")),
        ).otherwise(0)
    )
    agg = l.groupBy("user_id").agg(
        F.any_value("n").cast("long").alias("n"),
        F.sum(devd * dev).alias("d"),
        nk("v1").alias("nk1"),
        nk("v2").alias("nk2"),
        nk("v3").alias("nk3"),
    )
    r = lambda c, k: (  # noqa: E731
        (F.col(c).cast("double") / F.col("d"))
        * (F.col(c).cast("double") / F.col("d"))
        / (F.col("n") - k)
    )
    q = (
        F.col("n")
        * (F.col("n") + 2)
        * (r("nk1", 1) + r("nk2", 2) + r("nk3", 3))
    )
    return agg.filter((F.col("n") > 3) & (F.col("d") > 0)).select(
        "user_id",
        "n",
        (F.floor(q * 10000 + F.lit(0.5)) / 10000).alias("lb_q"),
        F.lit(3).cast("int").alias("df"),
        F.lit(7.8147).alias("chi2_crit_05"),
    )


# Euler-Mascheroni and pi as INJECTED double literals — both engines
# parse the identical decimal string to the identical IEEE double, so
# the Gumbel method-of-moments shapes stay bit-equal (never call the
# engine's own pi(): DuckDB's and Java's constants agree, but a literal
# is provably identical and grep-able).
_EULER_GAMMA = "0.5772156649015329"
_PI = "3.141592653589793"


@query(
    "q_time_extreme_value",
    oracle=f"""
WITH daily AS (
  SELECT CAST(floor(epoch_us(o_orderdate::TIMESTAMP) / 86400000000)
              AS BIGINT) AS day,
         CAST(strftime(o_orderdate::TIMESTAMP, '%Y%m') AS INTEGER) AS ym,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS v
  FROM orders GROUP BY 1, 2
), bm AS (
  SELECT ym, max(v) AS mx FROM daily GROUP BY ym
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(mx) AS HUGEINT) AS s,
         sum(CAST(mx AS HUGEINT) * mx) AS ss
  FROM bm
)
SELECT n AS n_blocks,
       floor(CAST(s AS DOUBLE) / n + 0.5) / 100 AS block_mean,
       floor(sqrt(CAST(n * ss - s * s AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (n - 1)))
             * sqrt(6.0) / {_PI} + 0.5) / 100 AS gumbel_scale,
       floor((CAST(s AS DOUBLE) / n
              - {_EULER_GAMMA}
                * (sqrt(CAST(n * ss - s * s AS DOUBLE)
                        / (CAST(n AS DOUBLE) * (n - 1)))
                   * sqrt(6.0) / {_PI}))
             + 0.5) / 100 AS gumbel_loc,
       floor((CAST(s AS DOUBLE) / n
              - {_EULER_GAMMA}
                * (sqrt(CAST(n * ss - s * s AS DOUBLE)
                        / (CAST(n AS DOUBLE) * (n - 1)))
                   * sqrt(6.0) / {_PI})
              - (sqrt(CAST(n * ss - s * s AS DOUBLE)
                      / (CAST(n AS DOUBLE) * (n - 1)))
                 * sqrt(6.0) / {_PI})
                * ln(-ln(1.0 - 1.0 / 12.0)))
             + 0.5) / 100 AS return_level_12
FROM mom
""",
)
def q_time_extreme_value(spark, sf_dir):
    """Gumbel extreme-value fit on monthly block maxima of daily
    revenue — the EVT block-maxima recipe (what is the worst day we
    should expect per year?): method-of-moments scale = sd*sqrt(6)/pi,
    location = mean - gamma*scale, and the T=12-block return level
    loc - scale*ln(-ln(1 - 1/T)) (the '12-month event'). All moments
    (n, sum, sum-of-squares of exact-cent maxima) are exact integers;
    gamma and pi are INJECTED double literals so both engines evaluate
    the identical transcendental shapes; the SAMPLE sd (n-1, the
    conventional method-of-moments EVT denominator — ADVICE r6) keeps
    one division under the sqrt: sqrt((n*ss - s*s) / (n*(n-1))).
    Outputs floored to whole cents /100.
    Plan: orders collapse map-side to (day, month) sums, block maxima
    re-aggregate ~80 rows, the fit is a 1-row moment aggregate — at
    100 TB the EVT fit costs one scan and two tiny shuffles."""
    o = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    day = (
        F.floor(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            / F.lit(86400000000)
        )
    ).cast("long")
    ym = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("int")
    daily = o.groupBy(day.alias("day"), ym.alias("ym")).agg(
        F.sum(cents).alias("v")
    )
    bm = daily.groupBy("ym").agg(F.max("v").alias("mx"))
    mxd = F.col("mx").cast("decimal(38,0)")
    mom = bm.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(mxd).alias("s"),
        F.sum(mxd * mxd).alias("ss"),
    )
    gamma = F.lit(float(_EULER_GAMMA))
    pi = F.lit(float(_PI))
    mean = F.col("s").cast("double") / F.col("n")
    # try_divide: a SINGLE block (all orders in one month) makes the
    # sample-sd denominator n*(n-1) zero with an exactly-zero numerator
    # (the moments are exact decimals) — DuckDB nulls the 0/0 double
    # division while ANSI Spark would throw; scale/loc/return level all
    # degrade to NULL on both sides and block_mean stays real. No sqrt
    # clamp needed: n*ss - s*s is an exact nonnegative decimal before
    # the cast. Probe: tests/test_degenerate_division_probes.py.
    sd = F.sqrt(
        F.try_divide(
            (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("double"),
            F.col("n").cast("double") * (F.col("n") - F.lit(1)),
        )
    )
    scale = sd * F.sqrt(F.lit(6.0)) / pi
    loc = mean - gamma * scale
    rl = loc - scale * F.log(-F.log(F.lit(1.0) - F.lit(1.0) / F.lit(12.0)))
    cents_out = lambda x: F.floor(x + F.lit(0.5)) / 100  # noqa: E731
    return mom.select(
        F.col("n").alias("n_blocks"),
        cents_out(mean).alias("block_mean"),
        cents_out(scale).alias("gumbel_scale"),
        cents_out(loc).alias("gumbel_loc"),
        cents_out(rl).alias("return_level_12"),
    )
