"""The query registry: every query's callable and its DuckDB oracle.

Each module that defines a query registers it next to the function:

    register("indicators", q_indicators, INDICATORS_SQL)

A query is a ``(spark, sf_dir) -> DataFrame`` callable.  Its oracle is the
DuckDB SQL whose result must value-hash equal to the query's, either as the
SQL string or as a zero-argument callable that returns it, for an oracle
that must not be built at import time.  ``__spark_entry__`` reads
``QUERIES`` and ``ORACLES``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

Query = Callable[[SparkSession, str], DataFrame]
Oracle = str | Callable[[], str]

QUERIES: dict[str, Query] = {}
ORACLES: dict[str, Oracle] = {}


def register(name: str, fn: Query, oracle: Oracle) -> Query:
    """Register query `name`; returns `fn` unchanged.  A name registers once."""
    if name in QUERIES:
        raise ValueError(f"query {name!r} is already registered")
    QUERIES[name] = fn
    ORACLES[name] = oracle
    return fn
