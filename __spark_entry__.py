"""Driver contract for the spark-graft builder (PySpark target).

Backed by the query registry in
``bigdata_financial_reporting_spark.queries``: every implemented
operator from SURVEY.md §2B registers a ``(spark, sf_dir) ->
DataFrame`` callable and (when SQL-expressible) a DuckDB oracle string
under the same key.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, "/root/repo")

from bigdata_financial_reporting_spark.queries import oracle_sql_map, queries_map
from bigdata_financial_reporting_spark.session import pin_semantics


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: scale-correct reference pipeline (per-series returns)
    on sf0.001."""
    pin_semantics(spark)
    return queries_map()["ref_per_user_returns"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry key in registry order, each wrapped so the
    session's semantic pins are applied before the query builds."""

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            pin_semantics(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in queries_map().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every key that has one, in registry order."""
    return oracle_sql_map()
