"""Parquet sources: table loading + temp-view registration.

The data model (FIXTURES.md) is ten parquet relations per scale-factor
directory.  ``load_table`` is the single scan entry point — schema-on-read
from parquet footers, no inference — so Catalyst's parquet pushdown
(filters, column pruning, row-group skipping) applies to every operator
built on top.

100 TB posture: at cluster scale these would be date/key-partitioned
parquet datasets (or Iceberg/Delta tables); ``load_table`` would point at a
partitioned root and partition pruning would kick in unchanged, because
every downstream operator expresses filters declaratively.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import configure

#: The ten relations of the data model (FIXTURES.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to always broadcast in joins
#: (region=5, nation=25 rows at every scale factor; supplier stays small).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Inferred parquet schemas, keyed by absolute path.  Footer-based schema
#: inference launches a (tiny) Spark job per un-cached path at plan-build
#: time; memoizing it keeps repeat plan construction metadata-free — the
#: same reason a 100 TB deployment reads schemas from a catalog
#: (Hive/Iceberg/Delta) instead of re-inferring from files.
_SCHEMA_CACHE: dict[str, StructType] = {}


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to µs-precision ``timestamp_ntz``
    regardless of how the fixture stored it.

    The fixture has shipped ``ts`` two ways across driver rounds:
    TIMESTAMP(NANOS) — which Spark 4.x's vectorized reader only accepts
    via the nanosAsLong legacy conf, surfacing a raw LongType we
    floor-divide to microseconds (the same truncation DuckDB applies) —
    and plain TIMESTAMP(MICROS), which reads natively as timestamp_ntz.
    Branching on the *read* type keeps the engine correct under either
    fixture vintage with zero conf coupling.
    """
    field = df.schema["ts"].dataType.typeName()
    if field == "long":
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    if field != "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one relation.  Lazy: nothing executes until an action
    (first-ever read of a path infers its schema once; later reads hit
    the schema cache and launch zero jobs).

    ``events.ts`` precision handling lives in :func:`normalize_events_ts`.
    """
    configure(spark)
    path = table_path(sf_dir, name)
    cached = _SCHEMA_CACHE.get(path)
    if cached is not None:
        df = spark.read.schema(cached).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
    if name == "events":
        df = normalize_events_ts(df)
    return df


def raw_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """One relation's schema as its parquet footer declares it (before
    :func:`normalize_events_ts`), from :func:`load_table`'s cache."""
    path = table_path(sf_dir, name)
    if path not in _SCHEMA_CACHE:
        load_table(spark, sf_dir, name)
    return _SCHEMA_CACHE[path]


def spread(df: DataFrame, target: int | None = None) -> DataFrame:
    """Widen — never shrink — partitioning before CPU-heavy per-row work.

    Small parquet fixtures arrive as a single input split, which serializes
    hash/UDF/ML kernels onto one core.  ``spread`` round-robins the rows to
    ``target`` partitions (default ``sc.defaultParallelism``) only when the
    input has fewer — at cluster scale, where a 100 TB scan already yields
    thousands of splits, it is a no-op and costs no shuffle.  Iterative ML
    fits on small inputs want a modest ``target`` (~8): each training
    iteration schedules one task wave, so per-task overhead dominates past
    that.
    """
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every relation as a temp view under its bare name.

    Mirrors the DuckDB oracle's pre-registered views
    (__spark_entry__.py:33-35) so ``spark.sql`` text and the oracle SQL
    read the same catalog names.
    """
    configure(spark)
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
