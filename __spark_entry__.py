"""Driver contract: ``entry``, ``queries`` and ``oracle_sql``.

Thin re-export of the engine's query registry
(``childhoodcancerdatainitiative_prefect_pipeline_spark.queries``).
Each registry entry pairs a Spark callable with a DuckDB oracle;
``scripts/verify_driver.py`` and ``tests/test_oracle_parity.py``
compare them (row count + schema + order-insensitive value hash).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.dedup import (
    check_hot_buckets,
)
from childhoodcancerdatainitiative_prefect_pipeline_spark.queries import REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (catalog stats, SURVEY.md §7.2) on sf0.001."""
    return REGISTRY["catalog_stats"].fn(spark, "/root/testdata/sf0.001")


def _drained(fn: Callable) -> Callable:
    """Wrap a registry fn so pending LSH hot-bucket observations from
    the PREVIOUS query's action are drained before the next plan is
    built (ADVICE r9: the guard was inert in driver runs — the driver
    collects results itself, so there is no post-action hook; draining
    at the next call is the equivalent \"after any action\" point).
    """

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        check_hot_buckets()
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registry order."""
    return {name: _drained(q.fn) for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query."""
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
