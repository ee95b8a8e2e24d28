"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``movierecommender_sentimentanalysissytem_spark``
(the engine package); this module only re-exports the registry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from movierecommender_sentimentanalysissytem_spark import registry
from movierecommender_sentimentanalysissytem_spark.sources.tables import load_tables


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the star-join revenue
    query (scan + multiway join + aggregate in one Catalyst plan)."""
    registry._load_all_modules()
    load_tables(spark, "/root/testdata/sf0.001")
    return registry.QUERIES["join_star_multiway"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    driver-sweep order: the driver checks a budget of keys in dict
    order, so the dict leads with the keys that most need re-checking
    (``registry._sweep_order``, derived from ``CORRECTNESS_r*.json``)."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each SQL-expressible query key."""
    return registry.oracle_sql()
