"""Operation list of the ``query`` workload — the analytics headline queries
and the iterative keys — with the DuckDB oracle every operation
is checked against.

Registry keys use their registered oracle (``registry.all_oracles``). The
four ``flagship`` queries have no registry key, so their oracles live here:
the same SQL as the DuckDB twins in bench.py, with each output column named
and rounded exactly as the flagship function emits it — except the cent
sums below.
"""

from __future__ import annotations

from decimal import Decimal

ANALYTICS_KEYS = [
    "q1_pricing", "join3_top10", "tumbling_1h", "json_events_agg",
    "q_topk_per_group", "q_agg_rollup", "q_join_asof", "q_text_tfidf",
    "q_sim_cosine_topk",
]
# Iterative keys of the wikidata and operators.graph families, 33-34 Spark
# jobs each, all but one of them eager truncate_plan checkpoints at build
# time. The llm family is covered by q_text_tfidf and q_sim_cosine_topk.
ITERATIVE_KEYS = ["q_wd_connected_components", "q_graph_bfs"]

FLAGSHIP_ORACLES = {
    "q1_pricing": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               sum(CAST(l_extendedprice AS DECIMAL(18, 2))
                   * (1 - CAST(l_discount AS DECIMAL(18, 2)))) AS sum_disc_price,
               round(avg(l_quantity), 2) AS avg_qty,
               round(avg(l_extendedprice), 2) AS avg_price,
               round(avg(l_discount), 2) AS avg_disc,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        GROUP BY l_returnflag, l_linestatus""",
    "join3_top10": """
        WITH per_order AS (
          SELECT l_orderkey,
                 sum(CAST(l_extendedprice AS DECIMAL(18, 2))
                     * (1 - CAST(l_discount AS DECIMAL(18, 2)))) AS orev
          FROM lineitem GROUP BY l_orderkey
        ), per_cust AS (
          SELECT o.o_custkey, sum(p.orev) AS rev
          FROM per_order p JOIN orders o ON p.l_orderkey = o.o_orderkey
          GROUP BY o.o_custkey
        )
        SELECT c.c_custkey, c.c_name, pc.rev AS revenue
        FROM per_cust pc JOIN customer c ON pc.o_custkey = c.c_custkey
        ORDER BY round(pc.rev, 2) DESC, c.c_custkey LIMIT 10""",
    "tumbling_1h": """
        SELECT time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP) AS window_start,
               time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP) + INTERVAL 1 HOUR AS window_end,
               event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2, 3""",
    "json_events_agg": """
        SELECT event_type, count(*) AS n,
               CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               round(avg(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)), 2) AS avg_k
        FROM events GROUP BY event_type""",
}


# key -> (column, row key columns) for columns that round a sum of
# price x (1 - discount) products — exact to 1e-4 — to cents. When the
# exact sum is a half-cent tie, two engines summing doubles in different
# orders legitimately round it either way (observed: exact 5107433.4350,
# Spark .44, DuckDB on doubles .43). Their oracle returns the exact DECIMAL
# sum instead, and the check accepts a Spark value within half a cent of
# it: both neighbours at a tie, only the correct rounding anywhere else.
HALF_CENT = Decimal("0.005")
CENT_SUMS = {
    "q1_pricing": ("sum_disc_price", ["l_returnflag", "l_linestatus"]),
    "join3_top10": ("revenue", ["c_custkey"]),
}


def check(key: str, df, con, sql: str) -> list[str]:
    """Mismatches of ``df`` against its oracle (empty = pass):
    ``oracle.compare`` on every column, cent sums as described above."""
    from wikidata2pg_spark.oracle import compare

    if key not in CENT_SUMS:
        return compare(key, df, con, sql)
    col, row_key = CENT_SUMS[key]
    errs = compare(key, df.drop(col), con, f"SELECT * EXCLUDE ({col}) FROM ({sql})")
    got = {tuple(r[:-1]): r[-1] for r in df.select(*row_key, col).collect()}
    want = {
        tuple(r[:-1]): r[-1]
        for r in con.sql(f"SELECT {', '.join(row_key)}, {col} FROM ({sql})").fetchall()
    }
    for k, exact in want.items():
        # repr() of the engine's cent-rounded double is the decimal it meant
        if k not in got or got[k] is None or abs(Decimal(repr(got[k])) - exact) > HALF_CENT:
            errs.append(f"{key}: {col} at {k} is {got.get(k)}, not a rounding of exact {exact}")
    return errs


def operations(keys: list[str]) -> dict[str, tuple]:
    """key -> (query callable(spark, sf_dir) -> DataFrame, oracle SQL)."""
    from wikidata2pg_spark import flagship
    from wikidata2pg_spark.registry import all_oracles, all_queries

    flagships = {
        "q1_pricing": flagship.pricing_summary,
        "join3_top10": flagship.join3_top10,
        "tumbling_1h": flagship.batch_tumbling,
        "json_events_agg": flagship.json_extract_agg,
    }
    queries, oracles = all_queries(), all_oracles()
    ops = {}
    for k in keys:
        if k in flagships:
            ops[k] = (flagships[k], FLAGSHIP_ORACLES[k])
        else:
            ops[k] = (queries[k], oracles[k])
    return ops
