"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``wikidata2pg_spark`` (SURVEY.md §2 is the
operator contract; FIXTURES.md the oracle-stability rules).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from wikidata2pg_spark import all_oracles, all_queries, configure_session  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: q1-style pricing summary
    (scan → filter → hash-agg partial+final → sort). Driver checks rows>0.
    Delegates to flagship.pricing_summary — ONE definition of the flagship
    shared with perfbench's query workload, so the two can't drift."""
    from wikidata2pg_spark.flagship import pricing_summary

    configure_session(spark)
    return pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query key; omitted keys are
    non-SQL-expressible (approx sketches, streaming semantics, JDBC sinks)
    and get the driver's rows-only check."""
    return all_oracles()
