"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (TPC-H Q1 shape) on sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 (+ north-star
LLM-pipeline ops), as (spark, sf_dir) -> DataFrame callables.
``oracle_sql()`` — matching DuckDB SQL for EVERY registered query
(328 queries, 328 oracles: MinHash/SimHash use an engine-portable
char-fold hash, so nothing is rows-only).  Both dicts keep the
registry's import order; tier-1 checks every query against its oracle
(``tests/test_oracles.py``), so no subset of them is privileged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mit_6_5840_mapreduce_with_go_spark import registry
from mit_6_5840_mapreduce_with_go_spark.operators.relational import q1_pricing_summary

registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(registry.ORACLES)
