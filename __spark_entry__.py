"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over world_cup_duckdb_spark.queries — the registry pairs every
Spark implementation with its DuckDB oracle SQL (one entry per operator in
SURVEY.md §2 plus the training-data-pipeline extensions).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from world_cup_duckdb_spark import queries as _q

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _q.REGISTRY["flagship"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry key that carries a DuckDB oracle, in registration
    order."""
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query key — the same keys as queries()."""
    return _q.oracle_sql()
