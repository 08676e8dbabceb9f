"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship crawl slice (seeds -> dedup -> politeness
wave -> fetch-as-join -> vectorized extraction) on sf0.001; ``queries()`` /
``oracle_sql()`` expose the crawl-system subset of the operator registry in
``web_scraper_v1_spark.queries`` (SURVEY.md §2 O-rows, the frontier, seen-set
and politeness operators, and the stream plane), each Spark query paired
with its exact DuckDB twin.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from web_scraper_v1_spark import queries as Q  # noqa: E402
from web_scraper_v1_spark.session import ship_package  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    ship_package(spark)
    return Q.queries()["crawl_slice"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per crawl-system operator (``queries.CRAWL_SYSTEM``), in
    definition order. Each callable takes (spark, sf_dir) and returns a
    DataFrame; computed columns are aliased to match the oracle. The
    contract stays within the driver's 50-query correctness window
    (tests/test_plans.py asserts it), so every entry is checked every
    time; scripts/selfcheck.py runs the same check locally over the whole
    registry."""

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            ship_package(spark)
            return fn(spark, sf_dir)

        return run

    return {
        name: _wrap(fn)
        for name, fn in Q.queries().items()
        if name in Q.CRAWL_SYSTEM
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin per contract query — EVERY query in
    ``queries()`` has an exact value-hash oracle."""
    return {
        name: sql
        for name, sql in Q.oracle_sql().items()
        if name in Q.CRAWL_SYSTEM
    }
