"""Query/operator registry — the single source of truth for the driver
contract (__spark_entry__.py).

Every operator from SURVEY.md §2 registers itself here with:
- ``fn(spark, sf_dir) -> DataFrame`` — the Spark-first implementation;
- ``oracle`` — an equivalent DuckDB SQL string (None for ops whose
  semantics aren't ANSI-SQL-expressible → driver runs a rows-only check).

Column names must match between fn output and oracle output exactly
(driver sorts columns by name before value-hashing), so every computed
column is aliased on both sides.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

#: Fixture dir of the scale every registered oracle is compared at.
#: Oracles that audit the files a query wrote bake this scale's scratch
#: paths; tests at another scale re-render them (``*_oracle_for``).
SF_ORACLE = "/root/testdata/sf0.01"

#: Operator modules that register queries on import.
_MODULES = (
    "spark_ml_optimization_spark.operators.relational",
    "spark_ml_optimization_spark.operators.subqueries",
    "spark_ml_optimization_spark.operators.io_ops",
    "spark_ml_optimization_spark.operators.udfs",
    "spark_ml_optimization_spark.operators.joins",
    "spark_ml_optimization_spark.operators.analytics",
    "spark_ml_optimization_spark.operators.bucketing",
    "spark_ml_optimization_spark.operators.pipeline_e2e",
    "spark_ml_optimization_spark.operators.aggregates",
    "spark_ml_optimization_spark.operators.windows",
    "spark_ml_optimization_spark.operators.setops",
    "spark_ml_optimization_spark.operators.scalar_funcs",
    "spark_ml_optimization_spark.operators.events",
    "spark_ml_optimization_spark.operators.dedup",
    "spark_ml_optimization_spark.operators.motif",
    "spark_ml_optimization_spark.operators.text",
    "spark_ml_optimization_spark.operators.curation",
    "spark_ml_optimization_spark.operators.bpe",
    "spark_ml_optimization_spark.operators.quality",
    "spark_ml_optimization_spark.operators.similarity",
    "spark_ml_optimization_spark.operators.multimodal",
    "spark_ml_optimization_spark.ml.pipelines",
    "spark_ml_optimization_spark.streaming.stream_ops",
)


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str


_REGISTRY: dict[str, Query] = {}
_LOADED = False


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register ``fn`` as a declared operator."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or "").strip())
        return fn

    return deco


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _MODULES:
        importlib.import_module(mod)
    _LOADED = True


def all_queries() -> dict[str, Query]:
    _load()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}
