"""Bucketed tables: the shuffle-free co-located join (SURVEY §4 / guide).

`bucketBy(n, key)` pre-hash-partitions data at write time; two tables
bucketed on the same key with the same bucket count join WITHOUT a
shuffle exchange on either side — at 100 TB this converts every repeated
fact⋈fact join on the bucket key from a full network shuffle into a
local merge, the single biggest recurring saving in a warehouse.

tests/test_plans.py::test_bucketed_join_has_no_shuffle asserts the
Exchange-free plan mechanically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import scratch
from ..registry import register
from ..sources import load_table

_WAREHOUSE: dict[str, bool] = {}


def _ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write lineitem + orders bucketed by orderkey (once per sf_dir)."""
    key = sf_dir.replace("/", "_")
    li_tbl, o_tbl = f"li_bucketed{key}".replace(".", "_"), f"o_bucketed{key}".replace(".", "_")
    if not _WAREHOUSE.get(sf_dir):
        # warehouse.dir is a static conf — use EXTERNAL bucketed tables
        # (explicit path) so no warehouse location is required.
        base = scratch.path("bucketed", sf_dir)
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
        # repartition(8, key) BEFORE bucketBy(8, key): both use the same
        # murmur3 HashPartitioning, so each write task holds exactly one
        # bucket → ONE file per bucket.  That is the precondition for
        # Spark to trust the sortBy metadata at read time
        # (spark.sql.legacy.bucketedTableScan.outputOrdering=true), which
        # eliminates the SMJ's Sort nodes too — the join becomes a pure
        # zipper merge: no shuffle AND no sort on either side
        # (tests/test_plans.py pins both properties).
        (
            li.repartition(8, "l_orderkey")
            .write.mode("overwrite")
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", os.path.join(base, li_tbl))
            .saveAsTable(li_tbl)
        )
        (
            o.repartition(8, "o_orderkey")
            .write.mode("overwrite")
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", os.path.join(base, o_tbl))
            .saveAsTable(o_tbl)
        )
        _WAREHOUSE[sf_dir] = True
    return li_tbl, o_tbl


@register(
    "src04_bucketed_join",
    oracle="""
        SELECT
            o.o_orderstatus,
            round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
            count(*) AS n_lines
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderstatus
    """,
    doc="Shuffle-free fact⋈fact join on co-bucketed tables (bucketBy 8 "
    "on orderkey both sides): the join runs bucket-to-bucket with no "
    "Exchange.  Hash-verified against the plain-join oracle; the "
    "plan property is asserted in tests/test_plans.py.",
)
def src04_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li_tbl, o_tbl = _ensure_bucketed_tables(spark, sf_dir)
    li = spark.table(li_tbl)
    o = spark.table(o_tbl)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )
