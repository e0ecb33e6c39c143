"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship parse→enrich→route→aggregate job at sf0.001.
queries()     — one callable per implemented operator (SURVEY.md §2).
oracle_sql()  — matching DuckDB SQL per query (same parquet tables).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from loongcollector_spark.queries import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["pipeline_e2e"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
