"""Query-registry plumbing shared by all operator query modules."""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# name -> {"fn": callable(spark, sf_dir) -> DataFrame, "sql": str | None}
QUERIES: dict[str, dict] = {}


def register(name: str, sql: str | None):
    """Decorator: register a query with its DuckDB oracle (None = rows-only)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = {"fn": fn, "sql": sql}
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))
