"""The flagship q1-style pricing summary, parameterized by scale dir.

Scan → filter (pushed to parquet) → hash agg (partial+final) → sort.
Used by ``__spark_entry__.entry`` (sf0.001) and ``perfbench`` (sf0.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from wikidata2pg_spark.tables import load


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        # r10: total order via a 1-task local sort of the AGGREGATED frame
        # (O(distinct flag/status pairs) rows — single digits at any corpus
        # scale) instead of orderBy's range exchange, which pays a separate
        # sampling job + rangepartitioning + sort stage for single-digit
        # rows (guide §2.4: an orderBy used only to order a tiny aggregate
        # is an Exchange you can remove). Identical ordered output (proven
        # row-for-row at sf0.001/0.1/10x in OPTIMIZATION_r10.md); measured
        # 674 -> 368 ms at 10x, 449 -> 376 ms primary sf0.1. The funnel
        # input is an aggregate, i.e. the repo's allowed bounded class.
        .coalesce(1)
        .sortWithinPartitions("l_returnflag", "l_linestatus")
    )


def batch_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window agg in BATCH form — the 1:1 twin of the
    BASELINE.md "tumbling 1 h window agg" row (which is a batch DuckDB
    time_bucket agg). The registry's q_stream_tumbling computes the same
    result through a real Structured Streaming query (availableNow → memory
    sink) — right for the t2 semantics check, wrong as a bench headline:
    the ~1.7s stream machinery spin-up is not the operator under test
    (VERDICT r1)."""
    from wikidata2pg_spark.tables import load

    e = load(spark, sf_dir, "events")
    # r10: group on the epoch-hour truncation of ts instead of
    # F.window("ts","1 hour"). Same bucketing (F.window is epoch-aligned
    # mod arithmetic on the UTC instant, and it filters NULL ts —
    # replicated here), but the group key is ONE 8-byte timestamp instead
    # of a 16-byte two-timestamp struct: less hashing + fewer shuffle
    # bytes per row, and window_end is reconstructed from the ~3600
    # AGGREGATED rows, not computed per input row. The truncation is pure
    # epoch arithmetic (unix_micros % 1h), NOT date_trunc('hour'):
    # date_trunc truncates the session-timezone wall clock and diverges
    # from F.window under any non-whole-hour-offset tz (r10 review catch
    # — the repo pins UTC, but equivalence must not hinge on a conf).
    # Measured 324 -> 295 ms at 10x (consistent across 7 reps; primary
    # sf0.1 is floor-bound and unchanged), row-set proven identical at
    # sf0.001/0.1/10x (OPTIMIZATION_r10.md). The r7 rejection of an
    # integer-bucket variant predates Spark 4.1.2 and grouped on a
    # derived long, not a truncated timestamp; re-measured, this form
    # now wins.
    hour_us = F.lit(3_600_000_000)
    agg = (
        e.filter(F.col("ts").isNotNull())
        .groupBy(
            F.timestamp_micros(
                F.unix_micros(F.col("ts"))
                - F.unix_micros(F.col("ts")) % hour_us
            ).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
        )
    )
    return agg.select(
        "window_start",
        (F.col("window_start") + F.expr("INTERVAL 1 HOUR")).alias("window_end"),
        "event_type",
        "n",
        "sum_value",
    )


def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-path JSON extraction + agg — the 1:1 twin of the BASELINE.md
    "JSON extract + agg over events.props" row. The registry's q_fn_json
    deliberately parses the same column four ways (coverage, not speed);
    benching that against a single-extraction baseline compared 4 parses to
    1 (VERDICT r1). Strategy re-measured at 10x/1M rows (r9, PLANS.md):
    get_json_object's single-path extraction beats parse_json+
    try_variant_get 485 vs 557 ms (parse-only 160 vs 232 ns/row — variant
    builds the full variant value; the path extractor stops at one key)
    and from_json-with-1-field-schema (541 ms); regexp would be faster
    still (363 ms) but is not a JSON parser, so it stays out of an
    honest "JSON extract" row."""
    from wikidata2pg_spark.tables import load

    from wikidata2pg_spark.tables import spread_if_few_splits

    e = load(spark, sf_dir, "events")
    # The JSON parse is the CPU cost and normally runs inside the scan
    # task; on a single-file fixture that is ONE task. Spread it across a
    # shuffle first — measured 0.42s -> 0.25s at sf0.1 (shuffling the raw
    # props strings costs ~30ms; the parse is ~0.2s single-threaded).
    # Multi-split inputs skip the exchange (see spread_if_few_splits).
    narrow = spread_if_few_splits(
        e.select("event_type", "props"), sf_dir, "events"
    )
    # try_cast, not cast: under ANSI mode a non-integer string at $.k
    # would make cast throw, where the old try_variant_get form returned
    # NULL on type mismatch — keep the failure-safe NULL at equal speed.
    k = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    return (
        narrow.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 2).alias("avg_k"),
        )
    )


def join3_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem → revenue per customer → top-10.

    PRE-AGGREGATED join (r5): lineitem's revenue is summed per l_orderkey
    BEFORE joining orders — sum is associative and l_orderkey is the join
    key, so the join input shrinks from |lineitem| to |orders| rows
    (~4x here, more at real scale) with an identical result (asserted in
    tests/test_plans.py). Catalyst does not push partial aggregates below
    joins on its own; this is the eager-aggregation rewrite done by hand.
    Measured 0.60s -> 0.39s at sf0.1. customer stays a broadcast
    dimension; the final top-10 is TakeOrderedAndProject (no full sort)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("orev")
    )
    # r10: force a shuffled-hash join for per_order |><| orders (guide §3.1
    # — pick the strategy deliberately). Both sides land ~|orders| rows;
    # sort-merge pays two full sorts for a join whose narrow build side
    # (o_orderkey, o_custkey) hashes cheaply per partition. Measured
    # 1271 -> 791 ms at 10x (641 -> 598 ms primary sf0.1), identical
    # top-10. At real scale the build side per partition is bounded by the
    # shuffle partition sizing (AQE advisory target), the same memory
    # envelope every hash aggregation in this file already assumes.
    return (
        per_order.join(o.hint("SHUFFLE_HASH"), F.col("l_orderkey") == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("orev").alias("rev"))
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .select("c_custkey", "c_name", F.round("rev", 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(10)
    )
