"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship point-in-time as-of join at sf0.001;
``queries()``/``oracle_sql()`` expose the full operator registry (one entry
per implemented operator from SURVEY.md §2 plus the training-data-pipeline
extensions), verified against DuckDB at sf0.01.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PIT as-of join (union-tag window merge) of purchase
    observations against click feature history at sf0.001."""
    from feature_store_spark.entry_queries import q_asof_join

    return q_asof_join(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from feature_store_spark.registry import queries as _queries

    return _queries()


def oracle_sql() -> dict[str, str]:
    from feature_store_spark.registry import oracle_sql as _oracle_sql

    return _oracle_sql()
