"""CBO statistics collection — the `ANALYZE TABLE` surface.

Catalyst's cost-based optimizations (CostBasedJoinReorder, stats-driven
broadcast decisions) only fire when the catalog carries table/column
statistics.  Temp views can't be ANALYZEd, so ``analyze_tables``
registers each parquet fixture as an *external* catalog table (USING
parquet LOCATION — metadata only, no data copy) and runs
``ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS`` over it:
row counts + per-column ndv/min/max/null-counts, exactly what a 100 TB
deployment maintains in its Hive/Iceberg/Delta catalog so that join
reordering is cost-based instead of hand-ordered (SCALE.md §CBO).

ANALYZE is an eager command by nature (one stats-aggregation scan per
table) — same documented eager contract as ML fits.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import SparkSession

from ..session import configure
from .io import table_path

#: Analyzable fixture tables.  `events` is excluded: its TIMESTAMP(NANOS)
#: column needs the session-level nanosAsLong read (session.RUNTIME_CONFS) and
#: would land in the catalog with the raw long schema.
ANALYZABLE = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "documents",
    "embeddings",
)


def catalog_name(sf_dir: str, table: str) -> str:
    tag = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:8]
    return f"cat_{tag}_{table}"


def analyze_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = ANALYZABLE
) -> dict[str, str]:
    """Register external catalog tables for ``tables`` and collect full
    CBO statistics.  Returns {fixture_name: catalog_table_name}.
    Idempotent per (sf_dir, table); re-running re-ANALYZEs (cheap, and
    correct if the files changed)."""
    configure(spark)
    out: dict[str, str] = {}
    for t in tables:
        if t not in ANALYZABLE:
            raise ValueError(f"not analyzable: {t}")
        cat = catalog_name(sf_dir, t)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {cat} USING parquet "
            f"LOCATION '{table_path(sf_dir, t)}'"
        )
        spark.sql(f"ANALYZE TABLE {cat} COMPUTE STATISTICS FOR ALL COLUMNS")
        out[t] = cat
    return out
