"""Query inventory registry.

Every operator in SURVEY.md §2B/§2C registers itself here as a
``(name, spark_fn, oracle_sql)`` triple; ``__spark_entry__.py`` exposes the
collected inventory to the driver. Admission rule: every key registers
with its exact DuckDB oracle and ships with a plan pin in
tests/test_plans.py.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str


REGISTRY: dict[str, QuerySpec] = {}

_MODULES = (
    "spark_sql_dsv2_extension_spark.operators.scans",
    "spark_sql_dsv2_extension_spark.operators.filters",
    "spark_sql_dsv2_extension_spark.operators.joins",
    "spark_sql_dsv2_extension_spark.operators.aggregates",
    "spark_sql_dsv2_extension_spark.operators.windows",
    "spark_sql_dsv2_extension_spark.operators.sorts",
    "spark_sql_dsv2_extension_spark.operators.reshape",
    "spark_sql_dsv2_extension_spark.operators.setops",
    "spark_sql_dsv2_extension_spark.operators.subqueries",
    "spark_sql_dsv2_extension_spark.operators.udfs",
    "spark_sql_dsv2_extension_spark.operators.workloads",
    "spark_sql_dsv2_extension_spark.functions.scalar",
    "spark_sql_dsv2_extension_spark.sources.roundtrip",
    "spark_sql_dsv2_extension_spark.streaming.windows",
    "spark_sql_dsv2_extension_spark.streaming.stateful",
    "spark_sql_dsv2_extension_spark.extensions.dedup",
    "spark_sql_dsv2_extension_spark.extensions.similarity",
    "spark_sql_dsv2_extension_spark.extensions.text",
    "spark_sql_dsv2_extension_spark.extensions.sketches",
    "spark_sql_dsv2_extension_spark.extensions.curation",
    "spark_sql_dsv2_extension_spark.extensions.multimodal",
    "spark_sql_dsv2_extension_spark.extensions.evaluation",
)

_loaded = False


def query(name: str, oracle: str) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query implementation with its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query key: {name}")
        REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module (idempotent); return the registry in
    registration order."""
    global _loaded
    if not _loaded:
        for mod in _MODULES:
            importlib.import_module(mod)
        _loaded = True
    return dict(REGISTRY)
