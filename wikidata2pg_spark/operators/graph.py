"""Graph analytics over the relational fixture (r5 extras).

Two classic distributed-graph shapes the reference's users reach for once
their data is in SQL [R: the reference exposes item->item claims as plain
joinable tables; SURVEY §2.11 K10/two-hop/CC cover the Wikidata side —
this module covers the *relational* graph surface]:

* **Bipartite projection / co-occurrence mining** (`q_graph_copurchase`):
  pairs of parts bought in the same order. The projection of a bipartite
  graph can explode quadratically in general, but here the blowup is
  bounded STRUCTURALLY: a TPC-H order has at most 7 lineitems, so the
  per-order pair fan-out is at most C(7,2)=21 — output is linear in input
  and the plan is one shuffle on the join key plus one hash-agg. That
  boundedness (small per-key group, join key = natural partition key) is
  exactly what makes the same plan safe at 100 TB.

* **Fixed-iteration PageRank** (`q_graph_pagerank`): the customer->supplier
  purchase graph. Each iteration is a shuffle-join on `src` (edges and the
  rank table co-partition after the first iteration, so AQE reuses the
  exchange) plus a hash-agg on `dst`; only the topology-constant node
  count crosses to the driver-free broadcast (1-row agg, same pattern as
  tfidf's corpus-N). Dangling nodes (suppliers, which have no outlinks)
  simply leak their mass — the classic simplified formulation; both the
  Spark side and the DuckDB oracle implement the identical recurrence so
  the comparison is exact. At 100 TB the rank table stays partitioned by
  id across iterations and each round is one co-partitioned join — with
  a lineage cut every few rounds (not needed at 3 rounds; see
  ``min_label_components`` for the checkpointed loop).

The iterative kernels shared across the package live here too:
``semi_naive_closure`` (bounded transitive closure) and
``min_label_components`` (connected components, used by
q_wd_connected_components, q_dedup_semantic_cluster and
q_pipeline_neardup).

Checkpoint posture: every lineage cut in the package goes through
``util.truncate_plan`` — ``localCheckpoint`` by default (blocks on
executor-local storage; an executor loss fails the job instead of
recomputing), switchable to the fault-tolerant ``DataFrame.checkpoint``
API via ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1``. The reliable path needs a
checkpoint directory on shared storage, set with
``SparkContext.setCheckpointDir``; ``truncate_plan`` raises when none is
configured rather than falling back to driver-local disk.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from wikidata2pg_spark.registry import query
from wikidata2pg_spark.tables import load
from wikidata2pg_spark.util import truncate_plan

_DAMP = 0.85
_ITERS = 3


def pagerank_ranks(nodes, e, iters):
    """PageRank power iteration over edge DataFrame ``e`` (src, dst) and
    node DataFrame ``nodes`` (id); returns (id, n, pr). THE production
    recurrence — q_graph_pagerank wraps it, and the hypothesis
    mass-conservation property test drives this exact function (not a
    reimplementation), so a regression in the join keys / coalesce /
    damping arithmetic fails the fuzz test, not just the fixture hash."""
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    nodes_n = nodes.crossJoin(F.broadcast(nn))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("d"))
    ranks = nodes_n.select("id", "n", (F.lit(1.0) / F.col("n")).alias("pr"))
    for _ in range(iters):
        contrib = (
            e.join(ranks.select(F.col("id").alias("rid"), "pr"), e.src == F.col("rid"))
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("d")).alias("contrib"))
        )
        ranks = nodes_n.join(contrib, nodes_n.id == contrib.dst, "left").select(
            "id",
            "n",
            (
                F.lit(1 - _DAMP) / F.col("n")
                + F.lit(_DAMP) * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("pr"),
        )
    return ranks


def semi_naive_closure(e, max_depth=4):
    """Bounded-depth transitive closure by SEMI-NAIVE iteration over edge
    DataFrame ``e`` (src, dst): each round joins only the new frontier
    against the edges and anti-joins out already-reached pairs, so work
    per round is proportional to the NEW pairs (the Datalog semi-naive
    rule). Returns (src, dst, depth) with depth = minimal hop count.
    Shared by q_wd_subclass_closure and the hypothesis BFS-equivalence
    property test."""
    # r10: checkpoint the static edge list once and each round's frontier
    # (guide §3.3 — the unrolled 4-round lineage re-embedded e, which for
    # q_wd_subclass_closure is the whole JSON dump parse, in every round:
    # 228 exchanges in the final plan). Identical pairs/depths — the
    # semi-naive recurrence is pure set algebra; property-tested against
    # naive BFS in tests/test_properties.py.
    e = truncate_plan(e)
    reach = e.withColumn("depth", F.lit(1))
    frontier = reach
    for depth in range(2, max_depth + 1):
        nxt = (
            frontier.alias("f")
            .join(e.alias("g"), F.col("f.dst") == F.col("g.src"))
            .select(
                F.col("f.src").alias("src"),
                F.col("g.dst").alias("dst"),
                F.lit(depth).alias("depth"),
            )
            .distinct()
        )
        frontier = truncate_plan(nxt.join(
            reach.select("src", "dst"), ["src", "dst"], "left_anti"
        ))
        reach = reach.unionByName(frontier)
    return reach


def min_label_components(nodes, sym, what: str, max_rounds: int = 100):
    """Distributed connected components via min-label propagation over
    node frame ``nodes`` (id) and a symmetric, pre-checkpointed edge frame
    ``sym`` (a, b); returns (id, cluster) with cluster = the minimum id in
    the node's component. Labels start as each node's own id and every
    round takes the min over the neighborhood: one edge->label join + hash
    agg, lineage cut per round, and only the changed-count scalar reaches
    the driver, so the label table stays partitioned by id across rounds.
    Rounds are bounded by graph diameter. Raises ``RuntimeError`` naming
    ``what`` after ``max_rounds`` without a fixpoint — a partial
    propagation splits one component into several, which is wrong data,
    not a result."""
    labels = nodes.select("id", F.col("id").alias("cluster"))
    for _ in range(max_rounds):
        nbr_min = (
            sym.join(labels, sym.b == labels.id)
            .groupBy(F.col("a").alias("id2"))
            .agg(F.min("cluster").alias("nbr_cluster"))
        )
        # carry the previous cluster through the checkpoint so convergence
        # is a filter+count over the already materialized round, not a
        # re-join of old vs new labels — one fewer shuffle join per round
        # (measured 2.73 -> 2.39 s on q_wd_connected_components at
        # sf0.01, values identical).
        new_labels = truncate_plan(
            labels.join(nbr_min, labels.id == nbr_min.id2, "left")
            .select(
                "id",
                F.col("cluster").alias("old_cluster"),
                F.least(
                    F.col("cluster"), F.coalesce(F.col("nbr_cluster"), F.col("cluster"))
                ).alias("cluster"),
            )
        )
        changed = new_labels.filter(
            F.col("cluster") != F.col("old_cluster")
        ).count()
        labels = new_labels.select("id", "cluster")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"{what}: min-label propagation did not converge within "
        f"{max_rounds} rounds (graph diameter exceeds the bound)"
    )


_COPURCHASE_EDGES_CTE = """lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*)::BIGINT AS n_orders
  FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING count(*) >= 2
)"""


def copurchase_edges(spark, sf_dir, min_orders: int = 2):
    """Canonical co-purchase edge list (u < v, parts sharing >=
    ``min_orders`` orders) with the per-pair order count — THE edge
    definition for q_graph_copurchase, q_graph_pagerank-adjacent demos and
    q_graph_triangles. One implementation (plus the shared
    _COPURCHASE_EDGES_CTE oracle fragment) so the threshold, tie
    convention and distinct step cannot drift between the pair-mining key
    and the triangle enumeration built on the same graph."""
    lp = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = lp.alias("a"), lp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= min_orders)
    )


_UND_CTE = "und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e)"


def undirected_edges(edges):
    """Symmetrize the canonical u < v co-purchase edge list into both
    directions — ONE definition (plus the _UND_CTE oracle fragment)
    shared by every degree/traversal key built on the graph, the same
    no-drift discipline as copurchase_edges itself."""
    return edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


@query(
    "q_graph_copurchase",
    oracle=f"""
WITH {_COPURCHASE_EDGES_CTE}
SELECT u AS part_a, v AS part_b, n_orders FROM e
""",
)
def q_graph_copurchase(spark, sf_dir):
    """Market-basket pair mining: parts co-occurring in >=2 orders.

    Self-join on the order key (the table's natural clustering), pair
    ordered `part_a < part_b` so each unordered pair appears once, then
    count. Per-order fan-out is bounded by basket size (<=21 pairs), so
    the join output is linear in |lineitem| and the whole plan is one
    shuffle + one partial/final hash-agg.
    """
    return copurchase_edges(spark, sf_dir).select(
        F.col("u").alias("part_a"), F.col("v").alias("part_b"), "n_orders"
    )


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as plain (non-recursive) SQL —
    DuckDB evaluates the same recurrence the Spark loop builds."""
    prev = "pr0"
    iters = []
    for k in range(1, _ITERS + 1):
        iters.append(
            f"""pr{k} AS (
  SELECT nodes.id,
         (SELECT {1 - _DAMP} / n FROM nn)
           + {_DAMP} * coalesce(c.contrib, 0) AS pr
  FROM nodes
  LEFT JOIN (
      SELECT e.dst AS id, sum(p.pr / deg.d) AS contrib
      FROM e
      JOIN {prev} p ON p.id = e.src
      JOIN deg ON deg.src = e.src
      GROUP BY e.dst) c ON c.id = nodes.id
)"""
        )
        prev = f"pr{k}"
    return f"""
WITH e AS (
    SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
deg AS (SELECT src, count(*)::DOUBLE AS d FROM e GROUP BY src),
pr0 AS (SELECT id, (SELECT 1.0 / n FROM nn) AS pr FROM nodes),
{','.join(iters)}
SELECT id AS node, round(pr * (SELECT n FROM nn), 2) AS pr_scaled
FROM {prev}
"""


@query("q_graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark, sf_dir):
    """PageRank, 3 power iterations, damping 0.85, over the distinct
    customer->supplier purchase edges. Scaled by the node count (so the
    2-decimal rounding of FIXTURES.md rule 1 lands on O(1) values) —
    `pr_scaled` ~= 1 means "average importance".
    """
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = truncate_plan(
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
        # r10: the edge list feeds the node derivation (2 refs) and all 3
        # rank iterations — Catalyst re-executed the orders|><|lineitem
        # projection per reference (88 parquet scans in the unrolled plan;
        # guide §3.3/§5). Materialize once, as the kcore loop already does.
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    # Topology constant N via a broadcast 1-row agg inside pagerank_ranks —
    # no eager driver count.
    ranks = pagerank_ranks(nodes, e, _ITERS)
    return ranks.select(
        F.col("id").alias("node"),
        F.round(F.col("pr") * F.col("n"), 2).alias("pr_scaled"),
    )


@query(
    "q_graph_triangles",
    oracle=f"""
WITH {_COPURCHASE_EDGES_CTE}
SELECT e1.u AS a, e1.v AS b, e2.v AS c
FROM e e1
JOIN e e2 ON e2.u = e1.v
JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
""",
)
def q_graph_triangles(spark, sf_dir):
    """Triangle enumeration on the co-purchase graph (edges =
    q_graph_copurchase's >=2-shared-orders pairs) — the classic
    distributed-graph benchmark op. Edges are already canonically ordered
    (u < v), so each triangle (a < b < c) is produced EXACTLY once by the
    two-join wedge-close: (a,b)⋈(b,c) forms the wedge, (a,c) closes it.
    Both joins key on a node column, so the shuffle is by node — the
    standard formulation whose cost is Σ deg(v)² wedges, kept bounded
    here because the co-purchase projection itself is basket-bounded
    (see q_graph_copurchase). At real scale the wedge join is salted on
    the few high-degree nodes exactly like any skewed equi-join."""
    # r10: three self-join references re-derived the projection 3x —
    # materialize once (guide §3.3; the kcore precedent).
    e = truncate_plan(copurchase_edges(spark, sf_dir).select("u", "v"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u"))
    return (
        wedges.join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )


@query(
    "q_orders_basket_rules",
    oracle=f"""
WITH {_COPURCHASE_EDGES_CTE},
sup AS (SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS s FROM lp GROUP BY 1),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM lineitem),
r AS (
  SELECT u AS ant, v AS cons, n_orders AS sab FROM e
  UNION ALL
  SELECT v AS ant, u AS cons, n_orders AS sab FROM e
)
SELECT r.ant, r.cons, r.sab,
       floor(CAST(r.sab AS DOUBLE) * 1000000 / sa.s + 0.5) / 1000000 AS conf,
       floor(CAST(n.n * r.sab AS DOUBLE) * 10000 / (sa.s * sb.s) + 0.5) / 10000
         AS lift
FROM r
JOIN sup sa ON sa.p = r.ant
JOIN sup sb ON sb.p = r.cons
CROSS JOIN n
WHERE 10 * r.sab >= sa.s
""",
)
def q_orders_basket_rules(spark, sf_dir):
    """Association rules (Agrawal & Srikant's Apriori output stage) over
    the co-purchase pairs: every directed rule ant -> cons with pair
    support >= 2 orders and confidence >= 10% — the classic
    market-basket report (support / confidence / lift). Decisions are
    pure integers: the confidence threshold is the cross-multiplied
    10*sup(ab) >= sup(a) (never a float compare), supports are exact
    order counts; conf and lift are then single divisions of exact
    integers under the floor pattern (lift's numerator N*sup_ab stays
    far below 2^63 at any plausible SF). Plan: reuses the bounded
    bipartite projection of q_graph_copurchase (<=21 pairs/order), the
    part-support table is dimension-sized (broadcast both probes), the
    order count is a 1-row broadcast — one shuffle total beyond the
    pair mining. Both orientations of each unordered pair are scored."""
    edges = copurchase_edges(spark, sf_dir)
    lp = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    sup = lp.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("s")
    )
    n = load(spark, sf_dir, "lineitem").agg(
        F.countDistinct("l_orderkey").alias("n")
    )
    r = edges.select(
        F.col("u").alias("ant"), F.col("v").alias("cons"), F.col("n_orders").alias("sab")
    ).unionByName(
        edges.select(
            F.col("v").alias("ant"),
            F.col("u").alias("cons"),
            F.col("n_orders").alias("sab"),
        )
    )
    j = (
        r.join(F.broadcast(sup.withColumnRenamed("s", "sa")), F.col("ant") == F.col("p"))
        .drop("p")
        .join(F.broadcast(sup.withColumnRenamed("s", "sb")), F.col("cons") == F.col("p"))
        .drop("p")
        .crossJoin(F.broadcast(n))
        .filter(10 * F.col("sab") >= F.col("sa"))
    )
    conf = (
        F.floor(F.col("sab").cast("double") * 1000000 / F.col("sa") + F.lit(0.5))
        / 1000000
    )
    lift = (
        F.floor(
            (F.col("n") * F.col("sab")).cast("double")
            * 10000
            / (F.col("sa") * F.col("sb"))
            + F.lit(0.5)
        )
        / 10000
    )
    return j.select("ant", "cons", "sab", conf.alias("conf"), lift.alias("lift"))


_KCORE_K = 3  # coreness threshold
_KCORE_ROUNDS = 8  # fixed peeling rounds (converged on the fixture)


def _kcore_sql() -> str:
    """Unrolled fixed-round k-core peeling. Every round's node set is
    referenced twice (both join probes), so each CTE is AS MATERIALIZED —
    without it DuckDB inlines the reference twice per round and the plan
    grows 2^rounds."""
    parts = [
        _COPURCHASE_EDGES_CTE,
        "und AS MATERIALIZED (SELECT u, v FROM e"
        " UNION ALL SELECT v AS u, u AS v FROM e)",
        "n0 AS MATERIALIZED (SELECT DISTINCT u FROM und)",
    ]
    prev = "n0"
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT und.u, CAST(count(*) AS BIGINT)"
            f" AS d FROM und JOIN {prev} a ON a.u = und.u"
            f" JOIN {prev} b ON b.u = und.v GROUP BY und.u)"
        )
        parts.append(
            f"n{i} AS MATERIALIZED (SELECT u FROM d{i} WHERE d >= {_KCORE_K})"
        )
        prev = f"n{i}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT u AS part, d AS core_degree FROM d{_KCORE_ROUNDS}"
        + f" WHERE d >= {_KCORE_K}"
    )


@query("q_graph_kcore", oracle=_kcore_sql())
def q_graph_kcore(spark, sf_dir):
    """K-core decomposition (k=3) of the co-purchase graph by iterative
    peeling (Batagelj & Zaversnik 2003): repeatedly drop nodes whose
    degree within the surviving subgraph is < k; what remains is the
    maximal subgraph of minimum degree k — the standard dense-region /
    influential-item extractor. The loop runs a FIXED 8 rounds (the
    fixture converges in fewer; a fixed count keeps both engines
    bit-deterministic without a convergence probe), each round = two
    semi-joins of the static edge list against the surviving node set +
    one count — all exact integers, no floats anywhere. Spark keeps the
    edge list cached across rounds and localCheckpoints the shrinking
    node set every other round to truncate lineage (the
    q_wd_connected_components loop pattern); at 100 TB each round is
    one co-partitioned join pair on the node id, and the node set only
    shrinks. Output: surviving parts with their final in-core degree."""
    edges = copurchase_edges(spark, sf_dir)
    und = truncate_plan(undirected_edges(edges))
    nodes = und.select("u").distinct()
    deg = None
    for i in range(_KCORE_ROUNDS):
        deg = (
            und.join(nodes, "u")
            .join(nodes.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        nodes = deg.filter(F.col("d") >= _KCORE_K).select("u")
        if i % 2 == 1:
            nodes = truncate_plan(nodes)
    return deg.filter(F.col("d") >= _KCORE_K).select(
        F.col("u").alias("part"), F.col("d").alias("core_degree")
    )


@query(
    "q_graph_link_predict",
    oracle=f"""
WITH {_COPURCHASE_EDGES_CTE},
{_UND_CTE},
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u),
wedge AS (
  SELECT e1.u AS a, e2.v AS b, CAST(count(*) AS BIGINT) AS inter
  FROM und e1 JOIN und e2 ON e1.v = e2.u AND e1.u < e2.v
  GROUP BY e1.u, e2.v
), cand AS (
  SELECT w.a, w.b, w.inter
  FROM wedge w
  WHERE w.inter >= 2
    AND NOT EXISTS (SELECT 1 FROM e WHERE e.u = w.a AND e.v = w.b)
)
SELECT c.a AS part_a, c.b AS part_b, c.inter AS common_neighbors,
       da.d AS deg_a, db.d AS deg_b,
       floor(CAST(c.inter AS DOUBLE) * 10000 / (da.d + db.d - c.inter) + 0.5)
         / 10000 AS jaccard
FROM cand c JOIN deg da ON da.u = c.a JOIN deg db ON db.u = c.b
""",
)
def q_graph_link_predict(spark, sf_dir):
    """Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003)
    on the co-purchase graph: for every NON-edge pair sharing >= 2
    neighbors, the neighbor-set Jaccard — the classic 'frequently
    bought together' candidate generator for pairs never yet
    co-ordered. The wedge enumeration (two hops a->w->b with a < b) is
    the same bounded self-join as q_graph_triangles: output is
    sum-of-deg^2 bounded, and on a projection whose per-order basket
    caps the degree the blowup is structural, not data-sized. The
    anti-join removes existing edges; intersection counts, degrees and
    the >= 2 threshold are pure integers; Jaccard's denominator
    |N(a) u N(b)| = deg_a + deg_b - inter is exact inclusion-exclusion
    — one floored division at the end. Plan: one shuffle for wedges on
    the middle node, degree table broadcasts, anti-join co-partitioned
    on the pair. At 100 TB you cap hub degrees first (the standard
    mitigation) — the plan shape is unchanged."""
    edges = copurchase_edges(spark, sf_dir)
    # r10: measured both ways (sf0.01 and sf0.1) — materializing und here
    # LOSES (~+40% at sf0.1): the symmetrized edge list is large relative
    # to the wedge join it feeds, and Spark already reuses the shuffle
    # exchange across the self-join aliases. Left on lineage deliberately.
    und = undirected_edges(edges)
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    e1, e2 = und.alias("e1"), und.alias("e2")
    wedge = (
        e1.join(
            e2,
            (F.col("e1.v") == F.col("e2.u")) & (F.col("e1.u") < F.col("e2.v")),
        )
        .groupBy(F.col("e1.u").alias("a"), F.col("e2.v").alias("b"))
        .agg(F.count(F.lit(1)).alias("inter"))
        .filter(F.col("inter") >= 2)
    )
    cand = wedge.join(
        edges.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("deg_b"))
    j = cand.join(F.broadcast(da), "a").join(F.broadcast(db), "b")
    return j.select(
        F.col("a").alias("part_a"),
        F.col("b").alias("part_b"),
        F.col("inter").alias("common_neighbors"),
        "deg_a",
        "deg_b",
        (
            F.floor(
                F.col("inter").cast("double")
                * 10000
                / (F.col("deg_a") + F.col("deg_b") - F.col("inter"))
                + F.lit(0.5)
            )
            / 10000
        ).alias("jaccard"),
    )


_BFS_DEPTH = 4  # BFS horizon (hops) from the minimum-id part


def _bfs_level_sql(d: int) -> str:
    prev = " UNION ALL ".join(
        f"SELECT node FROM l{i}" for i in range(d)
    )
    return f"""l{d} AS (
  SELECT node FROM (
    SELECT DISTINCT und.v AS node
    FROM und JOIN l{d - 1} ON und.u = l{d - 1}.node
  ) x WHERE node NOT IN ({prev})
)"""


@query(
    "q_graph_bfs",
    oracle=f"""
WITH {_COPURCHASE_EDGES_CTE},
{_UND_CTE},
l0 AS (SELECT min(u) AS node FROM und),
{",".join(_bfs_level_sql(d) for d in range(1, _BFS_DEPTH + 1))}
{" UNION ALL ".join(
    f"SELECT node AS part, CAST({d} AS BIGINT) AS dist FROM l{d}"
    for d in range(_BFS_DEPTH + 1)
)}
""",
)
def q_graph_bfs(spark, sf_dir):
    """Level-synchronous BFS on the co-purchase graph: hop distance
    from the minimum-id part, horizon 4 — the distributed traversal
    primitive under 'related products within k hops' and reachability
    audits, and THE canonical iterative-DataFrame pattern (Pregel
    super-steps as joins). Each level is frontier |><| edges ->
    distinct -> anti-join visited; everything is set algebra on
    integer ids, so determinism is structural. The oracle unrolls the
    same four super-steps as set-difference CTEs — level-synchronous
    BFS IS its own induction proof, no recursive-CTE path explosion.
    Plan: per level one shuffle keyed on the frontier node; the
    frontier stays a small fraction of edges, the visited set is the
    anti-join build side. At 100 TB you'd checkpoint the frontier
    every few levels and pre-partition edges by u so every super-step
    reuses the same exchange — the loop shape here is exactly that."""
    edges = copurchase_edges(spark, sf_dir)
    # r10: checkpoint the static edge list once and each level's frontier
    # (the q_graph_kcore / q_wd_connected_components loop pattern — guide
    # §3.3: very wide iterative plans make planning itself the bottleneck;
    # materialize the intermediate to truncate the plan). Unrolled, the
    # 4-level lineage re-embedded und + the growing visited set in every
    # level: 1012 exchanges / 872 parquet re-scans in the final plan.
    # Checkpointed: one edge materialization + four tiny frontier jobs,
    # constant-size per-level plans; measured build+exec 7.9 -> 3.7 s at
    # sf0.01, 13.8 -> 2.9 s at sf0.1 (OPTIMIZATION_r10.md). Results
    # identical (pure set algebra on ids).
    und = truncate_plan(undirected_edges(edges))
    frontier = und.agg(F.min("u").alias("node"))
    visited = frontier.withColumn("dist", F.lit(0).cast("long"))
    for d in range(1, _BFS_DEPTH + 1):
        nxt = truncate_plan(
            und.join(frontier, und["u"] == frontier["node"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        visited = visited.unionByName(
            nxt.withColumn("dist", F.lit(d).cast("long"))
        )
        frontier = nxt
    return visited.select(F.col("node").alias("part"), "dist")


_WALK_STEPS = 3  # steps per walk (path length 4 nodes)
_WALK_A, _WALK_B, _WALK_C = 1103515245, 12345, 7919  # LCG-style mixers
_WALK_M = 2147483647  # 2^31 - 1


def _walk_step_sql(s: int) -> str:
    return f"""s{s} AS (
  SELECT start, -(max(row(
           -((n{s - 1} * {_WALK_A} + und.v * {_WALK_B} + {s} * {_WALK_C})
             % {_WALK_M}),
           -und.v)))[2] AS n{s},
         any_value(path) || '>' ||
           CAST(-(max(row(
             -((n{s - 1} * {_WALK_A} + und.v * {_WALK_B} + {s} * {_WALK_C})
               % {_WALK_M}),
             -und.v)))[2] AS VARCHAR) AS path
  FROM s{s - 1} JOIN und ON und.u = s{s - 1}.n{s - 1}
  GROUP BY start, n{s - 1}, path
)"""


@query(
    "q_graph_random_walk",
    oracle=f"""
WITH {_COPURCHASE_EDGES_CTE},
{_UND_CTE},
s0 AS (SELECT DISTINCT u AS start, u AS n0, CAST(u AS VARCHAR) AS path
       FROM und),
{",".join(_walk_step_sql(s) for s in range(1, _WALK_STEPS + 1))}
SELECT start, n{_WALK_STEPS} AS end_node, path FROM s{_WALK_STEPS}
""",
)
def q_graph_random_walk(spark, sf_dir):
    """Hash-seeded random walks on the co-purchase graph — the corpus
    generator for DeepWalk/node2vec-style graph embeddings: one
    length-4 walk from every node, where step s at node n picks the
    neighbor minimizing ((n*A + nb*B + s*C) mod (2^31-1), nb). The
    'randomness' is a pure integer mixing function of (node, neighbor,
    step), so the walk corpus is REPRODUCIBLE across engines, retries
    and partitionings — the property a training pipeline actually
    needs from its sampler (true RNG walks can't be hash-certified;
    at production ids you'd mod the node id into the mixer first).
    Everything is BIGINT arithmetic + argmin via max(struct(-score,
    -nb)); no float exists. Plan: each super-step is one join keyed on
    the frontier node + a groupBy argmin — the BFS plan shape with a
    combinable agg; walks from ALL nodes batch into the same three
    exchanges, which is why this beats per-node sampling loops at
    100 TB."""
    edges = copurchase_edges(spark, sf_dir)
    # r10: multiple downstream references re-derived the co-purchase
    # projection per reference — materialize the symmetrized edge list
    # once (guide §3.3; the kcore precedent). Values unchanged.
    und = truncate_plan(undirected_edges(edges))
    cur = und.select(
        F.col("u").alias("start"),
        F.col("u").alias("node"),
        F.col("u").cast("string").alias("path"),
    ).distinct()
    for s in range(1, _WALK_STEPS + 1):
        st = und.select(
            F.col("u").alias(f"su{s}"), F.col("v").alias(f"sv{s}")
        )
        score = (
            F.col("node") * _WALK_A
            + F.col(f"sv{s}") * _WALK_B
            + F.lit(s) * _WALK_C
        ) % _WALK_M
        nxt = (
            cur.join(st, cur["node"] == st[f"su{s}"])
            .groupBy("start", "node", "path")
            .agg(
                (
                    -F.max(
                        F.struct(
                            (-score).alias("ns"),
                            (-F.col(f"sv{s}")).alias("nv"),
                        )
                    )["nv"]
                ).alias("nxt")
            )
        )
        cur = nxt.select(
            "start",
            F.col("nxt").alias("node"),
            F.concat_ws(">", "path", F.col("nxt").cast("string")).alias("path"),
        )
    return cur.select("start", F.col("node").alias("end_node"), "path")


@query(
    "q_graph_modularity",
    oracle=f"""
WITH {_COPURCHASE_EDGES_CTE},
{_UND_CTE},
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
nb AS (
  SELECT deg.u, deg.d, part.p_brand AS brand
  FROM deg JOIN part ON part.p_partkey = deg.u
), ein AS (
  SELECT bu.p_brand AS brand, CAST(count(*) AS BIGINT) AS e_in
  FROM e JOIN part bu ON bu.p_partkey = e.u
         JOIN part bv ON bv.p_partkey = e.v
  WHERE bu.p_brand = bv.p_brand
  GROUP BY bu.p_brand
), dc AS (
  SELECT brand, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(sum(d) AS BIGINT) AS deg_sum
  FROM nb GROUP BY brand
)
SELECT dc.brand, dc.n_nodes, coalesce(ein.e_in, 0) AS e_in, dc.deg_sum,
       floor(CAST(4 * m.m * coalesce(ein.e_in, 0)
                  - dc.deg_sum * dc.deg_sum AS DOUBLE) * 1000000
             / (4 * m.m * m.m) + 0.5) / 1000000 AS q_contrib
FROM dc LEFT JOIN ein ON dc.brand = ein.brand CROSS JOIN m
""",
)
def q_graph_modularity(spark, sf_dir):
    """Newman modularity of the BRAND partition over the co-purchase
    graph, one row per community: Q_c = e_c/m - (d_c/2m)^2 — do parts
    of the same brand actually co-sell? (the community-quality score
    behind every clustering-on-graphs evaluation). Exactness via the
    common-denominator trick: Q_c * 4m^2 = 4m*e_c - d_c^2 is pure
    BIGINT (intra-edge counts, degree sums, one global edge count),
    and the only division is the final floored 6dp display — the same
    pattern as q_agg_ks_test's cross-multiplied ECDF gap. Plan: the
    brand dimension broadcasts onto both edge endpoints, degrees reuse
    the BFS exchange shape, the edge total broadcasts as one row; at
    100 TB the cost is the one edge-list pass (communities arrive as a
    labeling column, never materialized as a partition-wide state)."""
    edges = copurchase_edges(spark, sf_dir)
    # r10: measured both ways (sf0.01 and sf0.1) — materializing und here
    # LOSES (~+47%): only two downstream passes touch it and the exchange
    # is reused; checkpoint write cost exceeds the saved re-derivation.
    und = undirected_edges(edges)
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    brand = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    nb = deg.join(
        F.broadcast(brand), deg["u"] == brand["p_partkey"]
    ).select("u", "d", F.col("p_brand").alias("brand"))
    bu = brand.select(
        F.col("p_partkey").alias("u"), F.col("p_brand").alias("brand_u")
    )
    bv = brand.select(
        F.col("p_partkey").alias("v"), F.col("p_brand").alias("brand_v")
    )
    ein = (
        edges.join(F.broadcast(bu), "u")
        .join(F.broadcast(bv), "v")
        .filter(F.col("brand_u") == F.col("brand_v"))
        .groupBy(F.col("brand_u").alias("brand"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    m = edges.agg(F.count(F.lit(1)).alias("m"))
    dc = nb.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_nodes"), F.sum("d").alias("deg_sum")
    )
    j = (
        dc.join(ein, "brand", "left")
        .withColumn("e_in", F.coalesce(F.col("e_in"), F.lit(0)))
        .crossJoin(F.broadcast(m))
    )
    return j.select(
        "brand",
        "n_nodes",
        "e_in",
        "deg_sum",
        (
            F.floor(
                (
                    4 * F.col("m") * F.col("e_in")
                    - F.col("deg_sum") * F.col("deg_sum")
                ).cast("double")
                * 1000000
                / (4 * F.col("m") * F.col("m"))
                + F.lit(0.5)
            )
            / 1000000
        ).alias("q_contrib"),
    )


@query(
    "q_graph_clustering_coeff",
    oracle=f"""
WITH {_COPURCHASE_EDGES_CTE},
{_UND_CTE},
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u),
tri AS (
  SELECT ab.u AS a, ab.v AS b, bc.v AS c
  FROM e ab JOIN e bc ON ab.v = bc.u
            JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
), pern AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri
  FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) x
  GROUP BY node
)
SELECT deg.u AS part, deg.d AS degree,
       coalesce(pern.n_tri, 0) AS n_triangles,
       floor(CAST(2 * coalesce(pern.n_tri, 0) AS DOUBLE) * 1000000
             / (deg.d * (deg.d - 1)) + 0.5) / 1000000 AS clustering
FROM deg LEFT JOIN pern ON pern.node = deg.u
WHERE deg.d >= 2
""",
)
def q_graph_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient per node of the co-purchase graph:
    triangles_at(n) / C(deg(n), 2) — how much of each part's
    neighborhood buys together, the node-level transitivity measure
    (q_graph_triangles' global count, localized). Triangles enumerate
    once via the canonical a<b<c wedge-close, then each contributes to
    all three corners via a 3-way unpivot; degrees come from the
    undirected edge list; the coefficient is one floored division of
    exact integers. Degree-1 nodes have no defined coefficient and are
    excluded (documented; the oracle prunes identically). Plan: the
    wedge-close joins key on nodes (the triangle shuffle), the
    per-node rollup is map-side combinable, degrees broadcast-join
    back; at 100 TB the wedge join dominates exactly as in
    q_graph_triangles and the same hub-capping applies."""
    # r10: edges feeds und (2 refs) + the 3-way wedge-close — 5 full
    # re-derivations of the projection; materialize once (guide §3.3).
    edges = truncate_plan(copurchase_edges(spark, sf_dir).select("u", "v"))
    und = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ab = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ac = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    pern = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    j = (
        deg.filter(F.col("d") >= 2)
        .join(pern, deg["u"] == pern["node"], "left")
        .withColumn("n_tri", F.coalesce(F.col("n_tri"), F.lit(0)))
    )
    return j.select(
        F.col("u").alias("part"),
        F.col("d").alias("degree"),
        F.col("n_tri").alias("n_triangles"),
        (
            F.floor(
                (2 * F.col("n_tri")).cast("double")
                * 1000000
                / (F.col("d") * (F.col("d") - 1))
                + F.lit(0.5)
            )
            / 1000000
        ).alias("clustering"),
    )


_PL_DMIN = 2  # power-law tail start (degrees >= 2)


@query(
    "q_graph_degree_powerlaw",
    oracle=f"""
WITH {_COPURCHASE_EDGES_CTE},
{_UND_CTE},
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u),
tail AS (SELECT u, d FROM deg WHERE d >= {_PL_DMIN})
SELECT CAST(count(*) AS BIGINT) AS n_tail,
       max(d) AS max_degree,
       round(1.0 + count(*) / list_reduce(
         list(ln(d / ({_PL_DMIN} - 0.5)) ORDER BY d, u),
         (a, b) -> a + b), 4) AS alpha
FROM tail
""",
)
def q_graph_degree_powerlaw(spark, sf_dir):
    """Discrete Hill/MLE power-law exponent of the co-purchase degree
    distribution (Clauset-Shalizi-Newman approximation, alpha = 1 +
    n / sum ln(d_i/(dmin - 1/2)), dmin = 2) — the scale-free-ness
    check that tells you whether hub-capping is mandatory before any
    quadratic graph op (it decides q_graph_link_predict's fate at
    100 TB). Degrees are exact integers; each log term is one
    identically-shaped float expression; and the term sum is ONE
    (d, node)-ordered left fold on both engines (the q_agg_mutual_info
    discipline: never an unordered float SUM), rounded 4dp at the end.
    Plan: one edge pass for degrees, a |tail| fold — the estimator is
    free next to any real graph query."""
    edges = copurchase_edges(spark, sf_dir)
    # r10: measured both ways (sf0.01 and sf0.1) — materializing und is a
    # wash here (one aggregation pass consumes it); left on lineage.
    und = undirected_edges(edges)
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    tail = deg.filter(F.col("d") >= _PL_DMIN)
    term = F.log(F.col("d") / F.lit(_PL_DMIN - 0.5))
    folded = tail.agg(
        F.count(F.lit(1)).alias("n_tail"),
        F.max("d").alias("max_degree"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("d", "u", term.alias("t")))
                ),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("lsum"),
    )
    # try_divide (r7 degenerate class, found by the degenerate-input
    # sweep): a graph with NO node of degree >= dmin has an EMPTY tail —
    # the fold seed makes lsum exactly 0.0 under n_tail = 0, where
    # DuckDB nulls the 0/0 double division and ANSI Spark would throw;
    # alpha degrades to NULL on both sides. Bit-identical to / on any
    # non-empty tail.
    return folded.select(
        "n_tail",
        "max_degree",
        F.round(1.0 + F.try_divide(F.col("n_tail"), F.col("lsum")), 4).alias("alpha"),
    )


@query(
    "q_graph_assortativity",
    oracle=f"""
WITH {_COPURCHASE_EDGES_CTE},
{_UND_CTE},
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u),
pairs AS (
  SELECT du.d AS x, dv.d AS y
  FROM und JOIN deg du ON du.u = und.u JOIN deg dv ON dv.u = und.v
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pairs
)
SELECT CAST(m // 2 AS BIGINT) AS n_edges,
       round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(greatest(CAST(m AS DOUBLE) * sxx
                              - CAST(sx AS DOUBLE) * sx, 0.0))
                * sqrt(greatest(CAST(m AS DOUBLE) * syy
                                - CAST(sy AS DOUBLE) * sy, 0.0))),
             6) AS assortativity
FROM mom
""",
)
def q_graph_assortativity(spark, sf_dir):
    """Degree assortativity of the co-purchase graph (Newman 2002): the
    Pearson correlation of endpoint degrees over all directed edge
    occurrences — do hub parts co-sell with hubs (r > 0, social-style)
    or with leaves (r < 0, technological-style)? The decision feeds
    the same hub-capping question as q_graph_degree_powerlaw. All five
    moments are EXACT BIGINTs accumulated over the symmetrized edge
    list (the q_agg_corr_matrix discipline — floats appear only in the
    final closed form: two correctly-rounded sqrts, one division,
    round 6dp). Plan: degrees broadcast onto both endpoints, the
    moment rollup is one map-side-combinable agg over edges — at
    100 TB the coefficient costs one edge pass."""
    edges = copurchase_edges(spark, sf_dir)
    # r10: multiple downstream references re-derived the co-purchase
    # projection per reference — materialize the symmetrized edge list
    # once (guide §3.3; the kcore precedent). Values unchanged.
    und = truncate_plan(undirected_edges(edges))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("u").alias("a"), F.col("d").alias("x"))
    dv = deg.select(F.col("u").alias("b"), F.col("d").alias("y"))
    pairs = (
        und.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .join(F.broadcast(du), "a")
        .join(F.broadcast(dv), "b")
    )
    mom = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    md = F.col("m").cast("double")
    # Degenerate guards (r7, tests/test_degenerate_division_probes.py),
    # identical on both sides, no-ops on non-degenerate input: a REGULAR
    # graph (all degrees equal — e.g. a cycle) zeroes both variance terms,
    # so den is 0.0 (DuckDB nulls the division, ANSI Spark would throw —
    # try_divide); and the variance terms are float trees over moment
    # casts that can round past 2^53 at scale, so a true zero can land
    # tiny-negative where DuckDB's sqrt THROWS (greatest-clamp).
    num = md * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        F.greatest(
            md * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"),
            F.lit(0.0),
        )
    ) * F.sqrt(
        F.greatest(
            md * F.col("syy") - F.col("sy").cast("double") * F.col("sy"),
            F.lit(0.0),
        )
    )
    return mom.select(
        (F.col("m") / 2).cast("long").alias("n_edges"),
        F.round(F.try_divide(num, den), 6).alias("assortativity"),
    )
