"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship query on /root/testdata/sf0.001
queries()     -> every declared operator (SURVEY.md §2 + engine-parity +
                 LLM-data-pipeline surface), keyed by name
oracle_sql()  -> matching DuckDB SQL per query (omitted => rows-only check)

Implementations live in p6_spark/plans/ (registry pattern).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from p6_spark.plans import get_oracles, get_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the TPC-H Q5-shaped star join (multi-way broadcast +
    shuffle join + exact decimal aggregation) at sf0.001."""
    qs = get_queries()
    return qs["q05_region_revenue"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return get_queries()


def oracle_sql() -> dict[str, str]:
    return get_oracles()
