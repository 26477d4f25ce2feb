"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The actual surface lives in ``etl_globalretail_spark.plans.registry``; this
file stays a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_globalretail_spark.plans.registry import ALL_ORACLE, ALL_QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (revenue by region, SURVEY.md §7.2) on sf0.001."""
    return ALL_QUERIES["q01_revenue_by_region"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(ALL_QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each oracle-expressible query."""
    return dict(ALL_ORACLE)
