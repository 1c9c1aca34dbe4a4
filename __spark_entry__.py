"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``nchu_bigdata_spark``: the engine's query registry
(``nchu_bigdata_spark/registry.py``) is the single source of truth;
every operator from SURVEY.md §2 registers its Spark implementation and
(when SQL-expressible) its DuckDB oracle there.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from nchu_bigdata_spark.registry import ordered_specs

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary, SURVEY.md §7.1)
    on /root/testdata/sf0.001; driver checks rows>0."""
    specs = ordered_specs()
    return specs["agg_hash"].fn(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registry.driver_order: ids failing their newest CORRECTNESS row
    first, then never-checked ids, then the oldest certified."""
    return {name: spec.fn for name, spec in ordered_specs().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query id; rows-only ops are omitted
    (spec.oracle is None)."""
    return {
        name: spec.oracle
        for name, spec in ordered_specs().items()
        if spec.oracle is not None
    }
