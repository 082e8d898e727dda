"""Query catalog — the single registry behind ``__spark_entry__`` and bench.

Every implemented operator gets a named entry: a PySpark callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB oracle
SQL string over the same parquet tables. Column names/aliases match between
the two on purpose — the driver sorts columns by name before value-hashing.
``queries()``/``oracle_sql()`` list entries in registration order, so the
reference-parity rows of plans/parity.py come first.

Float discipline: any aggregate over DOUBLE is wrapped in ROUND(·, 2) on
BOTH sides, because summation order differs between engines and the driver
compares exact value hashes.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table


@dataclass
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → driver does rows-only check
    description: str = ""
    bench: bool = False  # include in bench.py headline set
    tags: tuple[str, ...] = field(default=())


CATALOG: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, description: str = "",
             bench: bool = False, tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        CATALOG[name] = QuerySpec(name, fn, oracle, description, bench, tags)
        return fn
    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: s.spark for n, s in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {n: s.oracle for n, s in CATALOG.items() if s.oracle is not None}


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# Import side-effect modules that call @register. Placed at the bottom so
# they can import the helpers above.
from windowsession_using_kafka_flink_docker_spark.plans import (  # noqa: E402,F401
    parity,
    relational,
    llm_pipeline,
    time_windows,
    curation,
    analytics,
)

