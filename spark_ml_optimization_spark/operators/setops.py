"""Sort / limit / offset and set operations.

SURVEY.md §2.6.  Ordered-limit queries always carry a unique tiebreaker so
the selected row *set* is deterministic (the driver hashes the set, not
the order).  Spark plans orderBy+limit as TakeOrderedAndProject — a
distributed per-partition top-k followed by a driver-side merge of k-sized
heaps, which is exactly the 100 TB-safe global top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import scratch
from ..registry import SF_ORACLE, register
from ..sources import load_table


@register(
    "q30_sort_limit_offset",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 100 OFFSET 10
    """,
    doc="Total order with unique tiebreak + LIMIT/OFFSET pagination.",
)
def q30_sort_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(10)
        .limit(100)
    )


@register(
    "q31_union_all",
    oracle="""
        SELECT o_orderkey AS keyval, 'urgent' AS tag FROM orders
        WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        SELECT o_orderkey AS keyval, 'big' AS tag FROM orders
        WHERE o_totalprice > 400000
    """,
    doc="UNION ALL of two branches (bag semantics: an order can appear "
    "under both tags).",
)
def q31_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("keyval"), F.lit("urgent").alias("tag")
    )
    big = o.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_orderkey").alias("keyval"), F.lit("big").alias("tag")
    )
    return urgent.unionByName(big)


@register(
    "q32_union_distinct",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        UNION
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="UNION with set semantics (union all + hash distinct).",
)
def q32_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@register(
    "q33_intersect",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="INTERSECT (distinct semantics) — nations with both customers and "
    "suppliers.",
)
def q33_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "q34_except",
    oracle="""
        SELECT o_custkey AS custkey FROM orders
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    doc="EXCEPT (distinct semantics, DataFrame.subtract) — customers with "
    "orders but none urgent.",
)
def q34_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    all_cust = o.select(F.col("o_custkey").alias("custkey"))
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return all_cust.subtract(urgent)


@register(
    "q37_scd2_merge",
    oracle="""
        WITH updates AS (
            SELECT o_orderkey, round(o_totalprice, 2) + 500.0 AS new_price
            FROM orders WHERE o_orderstatus = 'P'
        )
        SELECT
            o.o_orderkey,
            CASE WHEN u.o_orderkey IS NOT NULL THEN u.new_price
                 ELSE round(o.o_totalprice, 2) END AS current_price,
            u.o_orderkey IS NOT NULL AS was_updated
        FROM orders o
        LEFT JOIN updates u ON o.o_orderkey = u.o_orderkey
    """,
    doc="MERGE/upsert emulation (no Delta in this image): updates table "
    "⟕ current table → matched rows take the new (+500.00 surcharge) value, unmatched keep "
    "the old — the anti-join+union decomposition every CDC pipeline "
    "uses before a transactional table format is available.  At 100 TB "
    "the same plan runs as MERGE INTO on Delta/Iceberg with file-level "
    "pruning; semantics are identical.",
)
def q37_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    updates = o.filter(F.col("o_orderstatus") == "P").select(
        F.col("o_orderkey").alias("u_key"),
        (F.round("o_totalprice", 2) + 500.0).alias("new_price"),
    )
    merged = o.join(updates, o.o_orderkey == F.col("u_key"), "left")
    return merged.select(
        "o_orderkey",
        F.when(F.col("u_key").isNotNull(), F.col("new_price"))
        .otherwise(F.round("o_totalprice", 2))
        .alias("current_price"),
        F.col("u_key").isNotNull().alias("was_updated"),
    )


@register(
    "q35_intersect_all",
    oracle="""
        SELECT l_suppkey AS keyval FROM lineitem WHERE l_returnflag = 'A'
        INTERSECT ALL
        SELECT l_suppkey AS keyval FROM lineitem WHERE l_returnflag = 'R'
    """,
    doc="INTERSECT ALL (bag semantics, min-multiplicity matching).",
)
def q35_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select(F.col("l_suppkey").alias("keyval"))
    r = li.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("keyval"))
    return a.intersectAll(r)


@register(
    "q36_except_all",
    oracle="""
        SELECT l_suppkey AS keyval FROM lineitem WHERE l_linestatus = 'F'
        EXCEPT ALL
        SELECT l_suppkey AS keyval FROM lineitem WHERE l_linestatus = 'O'
    """,
    doc="EXCEPT ALL (bag semantics, multiplicity subtraction).",
)
def q36_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(F.col("l_linestatus") == "F").select(F.col("l_suppkey").alias("keyval"))
    o = li.filter(F.col("l_linestatus") == "O").select(F.col("l_suppkey").alias("keyval"))
    return f.exceptAll(o)


@register(
    "q31b_union_by_name",
    oracle="""
        SELECT c_mktsegment AS segment,
               count(*) AS n_customers,
               round(avg(c_acctbal), 2) AS avg_acctbal
        FROM customer GROUP BY c_mktsegment
        UNION ALL BY NAME
        SELECT n.n_name AS nation,
               count(*) AS n_suppliers,
               round(avg(s.s_acctbal), 2) AS avg_acctbal
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    doc="unionByName(allowMissingColumns=True): combine two relations "
    "with different column sets by NAME, not position — missing columns "
    "null-fill (customer stats carry no `nation`/`n_suppliers`; supplier "
    "stats no `segment`/`n_customers`; `avg_acctbal` aligns by name).  "
    "The schema-evolution-safe union used when consolidating per-source "
    "metric tables whose shapes drift — positional UNION would silently "
    "misalign columns.  Oracle: DuckDB's UNION ALL BY NAME.  Same "
    "exchange count as a positional union; resolution is compile-time.",
)
def q31b_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal"),
        )
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.avg("s_acctbal"), 2).alias("avg_acctbal"),
        )
    )
    return cust.unionByName(supp, allowMissingColumns=True)


@register(
    "q30b_distribute_sort_by",
    oracle="""
        SELECT l_suppkey,
               count(*) AS n_lines,
               round(sum(l_quantity), 2) AS total_qty
        FROM lineitem
        GROUP BY l_suppkey
    """,
    doc="SQL physical-layout clauses: DISTRIBUTE BY hash-partitions the "
    "result on the key and SORT BY orders rows WITHIN each partition "
    "(no global merge — that's the difference from ORDER BY, whose "
    "range-exchange + final merge is the most expensive sort shape).  "
    "This is the declarative form of repartition().sortWithinPartitions "
    "— what a pipeline stage emits so the NEXT stage (partitioned "
    "write, merge join, grouped kernel) finds data already clustered "
    "and locally ordered.  tests/test_plans.py pins the plan: hash-"
    "partitioning Exchange + non-global Sort, and NO rangepartitioning "
    "Exchange.  Values are order-insensitively hash-checked (the "
    "clauses change layout, never content).",
)
def q30b_distribute_sort_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_suppkey,
               count(*) AS n_lines,
               round(sum(l_quantity), 2) AS total_qty
        FROM lineitem
        GROUP BY l_suppkey
        DISTRIBUTE BY l_suppkey SORT BY l_suppkey
        """
    )


@register(
    "q30c_keyset_pagination",
    oracle="""
        SELECT o_orderkey, o_orderdate, round(o_totalprice, 2) AS total
        FROM orders
        WHERE o_orderkey > 1400
        ORDER BY o_orderkey
        LIMIT 20
    """,
    doc="Keyset (seek) pagination — the scalable replacement for deep "
    "OFFSET: the client passes the last key it saw and the next page "
    "is WHERE key > last ORDER BY key LIMIT n.  The predicate PUSHES "
    "to the parquet scan (min/max footer stats skip whole row groups "
    "below the cursor) and the sort collapses to TakeOrderedAndProject "
    "over the survivors — page k costs the same as page 1, while "
    "OFFSET k*n must produce and discard k*n rows on every page (no "
    "skip-scan exists for OFFSET over unordered storage).  Both "
    "properties are plan-pinned in tests/test_plans.py.  On a 100 TB "
    "key-sorted layout (qc13's write pattern) the footer-stat skip "
    "makes deep pagination O(page), full stop.",
)
def q30c_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") > 1400)
        .orderBy("o_orderkey")
        .limit(20)
        .select(
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# Lakehouse MERGE/DELETE/compaction emulation (SURVEY §2.1 gate note: no
# Delta/Iceberg jars ship in this container, so ACID MERGE INTO / deletion
# vectors / OPTIMIZE are emulated relationally over plain parquet — the
# SEMANTICS and plan shapes below are exactly what the table format runs.)

#: A file group is rewritten by compaction once >=15% of its rows are
#: dead (deletion-vector'd); below that, the reader keeps applying the
#: DV.  Compared integer-exactly (n_dead*100 >= n_total*15) so both
#: engines make the same call on boundary groups.
_LAKE_REWRITE_PCT = 15


def _lake_flags():
    """Change-batch predicates, shared by writer and auditor: deletes
    cluster in file groups 0/1 (keys ≡ 0,1 mod 16 land in groups 0,1 of
    the mod-8 file assignment — the real-world pattern where GDPR/TTL
    deletes concentrate in old files), updates are the 'P'-status rows
    (delete wins on overlap, the MERGE WHEN MATCHED precedence)."""
    is_del = F.pmod(F.col("o_orderkey"), F.lit(16)) < 2
    is_upd = (F.col("o_orderstatus") == "P") & ~is_del
    return is_del, is_upd


def q37b_oracle_for(sf_dir: str) -> str:
    """Render q37b's audit oracle against this scale's scratch dirs —
    DuckDB re-reads the SAME hive-partitioned base and snapshot files
    Spark wrote and re-derives the DV + compaction decision."""
    base = scratch.path("lake_base", sf_dir)
    snap = scratch.path("lake_snap", sf_dir)
    return f"""
        WITH base AS (
            SELECT o_orderkey, price, o_orderstatus,
                   CAST(file_grp AS INT) AS file_grp
            FROM read_parquet('{base}/*/*.parquet', hive_partitioning=true)
        ),
        flags AS (
            SELECT *,
                   (o_orderkey % 16 < 2) AS is_del,
                   (o_orderstatus = 'P' AND o_orderkey % 16 >= 2) AS is_upd
            FROM base
        ),
        stats AS (
            SELECT file_grp, count(*) AS n_total,
                   count(CASE WHEN is_del OR is_upd THEN 1 END) AS n_dead,
                   sum(CASE WHEN NOT (is_del OR is_upd)
                            THEN CAST(round(price * 100) AS BIGINT)
                            ELSE 0 END) AS live_cents
            FROM flags GROUP BY file_grp
        ),
        kept AS (
            SELECT file_grp, 'kept+dv' AS stage,
                   CAST(n_total - n_dead AS BIGINT) AS n_live,
                   CAST(n_dead AS BIGINT) AS n_dead,
                   CAST(live_cents AS BIGINT) AS live_cents
            FROM stats
            WHERE n_dead * 100 < n_total * {_LAKE_REWRITE_PCT}
        ),
        snap AS (
            SELECT CAST(file_grp AS INT) AS file_grp,
                   CASE WHEN CAST(file_grp AS INT) = -1 THEN 'appended'
                        ELSE 'rewritten' END AS stage,
                   CAST(count(*) AS BIGINT) AS n_live,
                   CAST(0 AS BIGINT) AS n_dead,
                   CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
                       AS live_cents
            FROM read_parquet('{snap}/*/*.parquet', hive_partitioning=true)
            GROUP BY 1
        )
        SELECT * FROM kept
        UNION ALL
        SELECT * FROM snap
    """


@register(
    "q37b_merge_delete_compact",
    oracle=q37b_oracle_for(SF_ORACLE),
    doc="End-to-end lakehouse maintenance cycle emulated on plain "
    "parquet (no Delta/Iceberg jars in this image — SURVEY §2.1 gate): "
    "(1) base table written as 8 hive-partitioned file groups; (2) a "
    "CDC batch applies deletion-vector-style soft deletes (clustered in "
    "groups 0/1, the aged-file delete skew) and copy-on-write upserts "
    "(+500.00 surcharge rows appended to a fresh delta group, old "
    "versions DV'd — Delta's DV-mode MERGE decomposition); (3) a "
    "compaction pass physically rewrites only groups whose dead "
    "fraction >= 15% (integer-exact threshold), dropping DV'd rows — "
    "qc18's small-file machinery applied to DV reclamation.  Output = "
    "per-group audit (stage kept+dv / rewritten / appended, live/dead "
    "counts, cents-exact live sum) over the REAL files both engines "
    "re-read — the physical snapshot, not just the logical view, is "
    "hash-verified.  At 100 TB each step is the table format's own "
    "plan: file-pruned MERGE, DV sidecar writes, OPTIMIZE on "
    "dead-fraction heuristics.",
)
def q37b_merge_delete_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    base_dir = scratch.path("lake_base", sf_dir)
    snap_dir = scratch.path("lake_snap", sf_dir)
    is_del, is_upd = _lake_flags()
    is_dead = is_del | is_upd
    if not os.path.isdir(base_dir):
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            "o_orderstatus",
            F.pmod("o_orderkey", F.lit(8)).cast("int").alias("file_grp"),
        )
        o.repartition("file_grp").write.partitionBy("file_grp").mode(
            "overwrite"
        ).parquet(base_dir)
    base = spark.read.parquet(base_dir).select(
        "o_orderkey", "price", "o_orderstatus",
        F.col("file_grp").cast("int").alias("file_grp"),
    )
    cents = F.round(F.col("price") * 100).cast("long")
    stats = base.groupBy("file_grp").agg(
        F.count("*").alias("n_total"),
        F.count(F.when(is_dead, 1)).alias("n_dead"),
        F.sum(F.when(~is_dead, cents).otherwise(F.lit(0))).alias("live_cents"),
    )
    rewrite = F.col("n_dead") * 100 >= F.col("n_total") * _LAKE_REWRITE_PCT
    if not os.path.isdir(snap_dir):
        eligible = stats.filter(rewrite).select("file_grp")
        rewritten = base.join(F.broadcast(eligible), "file_grp").filter(~is_dead)
        appended = base.filter(is_upd).select(
            "o_orderkey",
            (F.col("price") + 500.0).alias("price"),
            "o_orderstatus",
            F.lit(-1).cast("int").alias("file_grp"),
        )
        rewritten.select(
            "o_orderkey", "price", "o_orderstatus", "file_grp"
        ).unionByName(appended).repartition("file_grp").write.partitionBy(
            "file_grp"
        ).mode("overwrite").parquet(snap_dir)
    kept = stats.filter(~rewrite).select(
        "file_grp",
        F.lit("kept+dv").alias("stage"),
        (F.col("n_total") - F.col("n_dead")).cast("long").alias("n_live"),
        F.col("n_dead").cast("long").alias("n_dead"),
        F.col("live_cents").cast("long").alias("live_cents"),
    )
    snap = spark.read.parquet(snap_dir).select(
        "o_orderkey", "price", F.col("file_grp").cast("int").alias("file_grp")
    )
    snap_stats = snap.groupBy("file_grp").agg(
        F.count("*").cast("long").alias("n_live"),
        F.lit(0).cast("long").alias("n_dead"),
        F.sum(F.round(F.col("price") * 100).cast("long")).cast("long").alias(
            "live_cents"
        ),
    ).select(
        "file_grp",
        F.when(F.col("file_grp") == -1, "appended")
        .otherwise("rewritten")
        .alias("stage"),
        "n_live",
        "n_dead",
        "live_cents",
    )
    return kept.unionByName(snap_stats)


def q37c_oracle_for(sf_dir: str) -> str:
    """Render q37c's time-travel oracle against this scale's scratch
    dirs — DuckDB re-reads the SAME base + snapshot parquet and
    re-derives every version's row set independently."""
    base = scratch.path("lake_base", sf_dir)
    snap = scratch.path("lake_snap", sf_dir)
    dig = (
        "(ascii(substr(md5(CAST(o_orderkey AS VARCHAR) || '|' "
        "|| CAST(cents AS VARCHAR)), 1, 1)) * 256 "
        "+ ascii(substr(md5(CAST(o_orderkey AS VARCHAR) || '|' "
        "|| CAST(cents AS VARCHAR)), 2, 1)))"
    )
    return f"""
        WITH base AS (
            SELECT o_orderkey, price, o_orderstatus,
                   CAST(file_grp AS INT) AS file_grp
            FROM read_parquet('{base}/*/*.parquet', hive_partitioning=true)
        ),
        flags AS (
            SELECT *,
                   ((o_orderkey % 16 < 2)
                    OR (o_orderstatus = 'P' AND o_orderkey % 16 >= 2))
                       AS is_dead
            FROM base
        ),
        stats AS (
            SELECT file_grp, count(*) AS n_total,
                   count(CASE WHEN is_dead THEN 1 END) AS n_dead
            FROM flags GROUP BY file_grp
        ),
        keptg AS (
            SELECT file_grp FROM stats
            WHERE n_dead * 100 < n_total * {_LAKE_REWRITE_PCT}
        ),
        snap AS (
            SELECT o_orderkey, price, CAST(file_grp AS INT) AS file_grp
            FROM read_parquet('{snap}/*/*.parquet', hive_partitioning=true)
        ),
        v0 AS (
            SELECT o_orderkey, CAST(round(price * 100) AS BIGINT) AS cents
            FROM base
        ),
        v1 AS (
            SELECT o_orderkey, CAST(round(price * 100) AS BIGINT) AS cents
            FROM flags WHERE NOT is_dead
            UNION ALL
            SELECT o_orderkey, CAST(round(price * 100) AS BIGINT)
            FROM snap WHERE file_grp = -1
        ),
        v2 AS (
            SELECT f.o_orderkey, CAST(round(f.price * 100) AS BIGINT) AS cents
            FROM flags f JOIN keptg k USING (file_grp)
            WHERE NOT f.is_dead
            UNION ALL
            SELECT o_orderkey, CAST(round(price * 100) AS BIGINT) FROM snap
        ),
        deads AS (
            SELECT
                CAST(sum(CASE WHEN is_dead THEN 1 ELSE 0 END) AS BIGINT)
                    AS dead_v1,
                CAST(sum(CASE WHEN is_dead AND file_grp IN
                         (SELECT file_grp FROM keptg)
                         THEN 1 ELSE 0 END) AS BIGINT) AS dead_v2
            FROM flags
        )
        SELECT 0 AS version, 'base' AS files_read,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS live_cents,
               CAST(sum({dig}) AS BIGINT) AS content_digest,
               CAST(0 AS BIGINT) AS dead_rows_on_disk
        FROM v0
        UNION ALL
        SELECT 1, 'base+dv+delta', CAST(count(*) AS BIGINT),
               CAST(sum(cents) AS BIGINT), CAST(sum({dig}) AS BIGINT),
               (SELECT dead_v1 FROM deads)
        FROM v1
        UNION ALL
        SELECT 2, 'kept+dv+snap', CAST(count(*) AS BIGINT),
               CAST(sum(cents) AS BIGINT), CAST(sum({dig}) AS BIGINT),
               (SELECT dead_v2 FROM deads)
        FROM v2
    """


@register(
    "q37c_time_travel",
    oracle=q37c_oracle_for(SF_ORACLE),
    doc="Lakehouse TIME TRAVEL emulated over q37b's physical snapshots — "
    "version-pinned reads of the same logical table at three points of "
    "its history, each reconstructed from the REAL files on disk: v0 "
    "(pre-MERGE: the base file groups as written), v1 (post-MERGE, "
    "pre-compaction: base + deletion vectors + the appended delta "
    "group — exactly what `VERSION AS OF 1` resolves to in Delta/"
    "Iceberg: old data files plus DV sidecars plus new delta files), "
    "v2 (post-compaction: kept groups + DV + rewritten/appended "
    "groups).  Per version: row count, cents-exact live sum, an "
    "ORDER-FREE CONTENT DIGEST (qd30's md5-ascii-pair integer sum over "
    "key|cents — proves v1 and v2 contain bit-identical logical rows, "
    "not just equal counts), and dead-rows-still-on-disk (the "
    "compaction delta: v1 carries every DV'd row physically, v2 only "
    "those in below-threshold groups).  The v1==v2 digest equality IS "
    "the snapshot-isolation law a table format must uphold through "
    "OPTIMIZE; hash-verified cross-engine from the same parquet.  "
    "Scale: version resolution is manifest arithmetic + file-pruned "
    "reads — no shuffle grows with history length.",
)
def q37c_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize q37b's base + snapshot files if this session hasn't.
    q37b_merge_delete_compact(spark, sf_dir)
    base_dir = scratch.path("lake_base", sf_dir)
    snap_dir = scratch.path("lake_snap", sf_dir)
    is_del, is_upd = _lake_flags()
    is_dead = is_del | is_upd
    base = spark.read.parquet(base_dir).select(
        "o_orderkey", "price", "o_orderstatus",
        F.col("file_grp").cast("int").alias("file_grp"),
    )
    snap = spark.read.parquet(snap_dir).select(
        "o_orderkey", "price", F.col("file_grp").cast("int").alias("file_grp")
    )
    cents = F.round(F.col("price") * 100).cast("long").alias("cents")
    stats = base.groupBy("file_grp").agg(
        F.count("*").alias("n_total"),
        F.count(F.when(is_dead, 1)).alias("n_dead"),
    )
    keptg = stats.filter(
        F.col("n_dead") * 100 < F.col("n_total") * _LAKE_REWRITE_PCT
    ).select("file_grp")

    v0 = base.select("o_orderkey", cents)
    v1 = (
        base.filter(~is_dead)
        .select("o_orderkey", cents)
        .unionByName(snap.filter(F.col("file_grp") == -1).select("o_orderkey", cents))
    )
    v2 = (
        base.join(F.broadcast(keptg), "file_grp")
        .filter(~is_dead)
        .select("o_orderkey", cents)
        .unionByName(snap.select("o_orderkey", cents))
    )
    # qd30's engine-portable md5-ascii-pair integer (STRING spelling for
    # Spark; the oracle renders the identical arithmetic with VARCHAR).
    _m = (
        "md5(CAST(o_orderkey AS STRING) || '|' || CAST(cents AS STRING))"
    )
    digest = F.expr(
        f"(ascii(substr({_m}, 1, 1)) * 256 + ascii(substr({_m}, 2, 1)))"
    )

    def _summarize(df: DataFrame, version: int, files_read: str) -> DataFrame:
        return df.agg(
            F.lit(version).cast("int").alias("version"),
            F.lit(files_read).alias("files_read"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("live_cents"),
            F.sum(digest).cast("long").alias("content_digest"),
        )

    dead_v1 = base.filter(is_dead).count()
    dead_v2 = (
        base.join(F.broadcast(keptg), "file_grp").filter(is_dead).count()
    )
    out = (
        _summarize(v0, 0, "base")
        .withColumn("dead_rows_on_disk", F.lit(0).cast("long"))
        .unionByName(
            _summarize(v1, 1, "base+dv+delta").withColumn(
                "dead_rows_on_disk", F.lit(dead_v1).cast("long")
            )
        )
        .unionByName(
            _summarize(v2, 2, "kept+dv+snap").withColumn(
                "dead_rows_on_disk", F.lit(dead_v2).cast("long")
            )
        )
    )
    return out


@register(
    "q46b_global_topk_with_ties",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM (
            SELECT o_orderkey, o_custkey, o_totalprice,
                   rank() OVER (ORDER BY o_totalprice DESC) AS rnk
            FROM orders
        ) WHERE rnk <= 10
    """,
    doc="GLOBAL top-10 WITH TIES — without the global window the naive "
    "form implies: the oracle says rank() <= 10, but rank's tie "
    "semantics mean the answer is exactly 'every row whose price >= "
    "the 10th-highest price', so the Spark plan computes the "
    "threshold with a TakeOrdered(10) (no sort of the full relation, "
    "no single-task WindowExec), broadcasts the one-row min back, "
    "and keeps rows by a map-side >= filter — set-identical to the "
    "window form for any k, including boundary ties that a LIMIT "
    "would cut arbitrarily.  Scale: TakeOrdered holds k rows per "
    "partition + a k-row driver merge; the filter is one broadcast "
    "scalar against the scan — this is THE pattern for global "
    "with-ties top-k at 100 TB.",
)
def q46b_global_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    top10 = o.select("o_totalprice").orderBy(F.col("o_totalprice").desc()).limit(10)
    thresh = top10.agg(F.min("o_totalprice").alias("p10"))
    return (
        o.crossJoin(F.broadcast(thresh))
        .filter(F.col("o_totalprice") >= F.col("p10"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "q30d_null_ordering_pin",
    oracle="""
        WITH src AS (
            SELECT NULLIF(l_discount, 0.04) AS nk, l_orderkey, l_linenumber
            FROM lineitem
        ),
        f AS (
            SELECT 'nulls_first' AS arm, nk, l_orderkey, l_linenumber
            FROM src
            ORDER BY nk ASC NULLS FIRST, l_orderkey, l_linenumber
            LIMIT 15
        ),
        l AS (
            SELECT 'nulls_last' AS arm, nk, l_orderkey, l_linenumber
            FROM src
            ORDER BY nk ASC NULLS LAST, l_orderkey, l_linenumber
            LIMIT 15
        )
        SELECT * FROM f UNION ALL SELECT * FROM l
    """,
    doc="NULL-ORDERING dialect pin: Spark's default ASC sort places "
    "NULLs FIRST while DuckDB/Postgres default to NULLs LAST — the "
    "silent row-set flip that breaks every LIMIT-below-sort query "
    "migrated between engines.  Both arms here spell the ordering "
    "EXPLICITLY (asc_nulls_first / asc_nulls_last on a planted "
    "nullable key) over a unique total order, so the two 15-row "
    "pages are deterministic sets and the hash proves explicit "
    "null placement is the portable form (never rely on a dialect "
    "default).  Scale: both arms plan as TakeOrderedAndProject — "
    "per-partition heaps, no global sort.",
)
def q30d_null_ordering_pin(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_discount") == 0.04, None)
        .otherwise(F.col("l_discount"))
        .alias("nk"),
        "l_orderkey",
        "l_linenumber",
    )
    first = (
        li.orderBy(
            F.col("nk").asc_nulls_first(), "l_orderkey", "l_linenumber"
        )
        .limit(15)
        .select(F.lit("nulls_first").alias("arm"), "nk", "l_orderkey", "l_linenumber")
    )
    last = (
        li.orderBy(
            F.col("nk").asc_nulls_last(), "l_orderkey", "l_linenumber"
        )
        .limit(15)
        .select(F.lit("nulls_last").alias("arm"), "nk", "l_orderkey", "l_linenumber")
    )
    return first.unionAll(last)


@register(
    "q37d_write_conflict_audit",
    oracle="""
        WITH parts_all AS (
            SELECT o_orderpriority AS part_key,
                   count(*) AS n_rows
            FROM orders GROUP BY o_orderpriority
        ),
        txn_a AS (
            SELECT DISTINCT o_orderpriority AS part_key
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        ),
        txn_b AS (
            SELECT o_orderpriority AS part_key,
                   count(*) AS b_rows
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1996-03-01'
              AND o_totalprice > 150000
            GROUP BY o_orderpriority
        )
        SELECT p.part_key,
               CAST(p.n_rows AS BIGINT) AS n_rows,
               (a.part_key IS NOT NULL) AS a_writes,
               (b.part_key IS NOT NULL) AS b_writes,
               CAST(coalesce(b.b_rows, 0) AS BIGINT) AS b_touched_rows,
               CASE WHEN a.part_key IS NOT NULL AND b.part_key IS NOT NULL
                    THEN 'CONFLICT: retry/rebase'
                    WHEN b.part_key IS NOT NULL
                    THEN 'commit'
                    ELSE 'untouched' END AS b_verdict
        FROM parts_all p
        LEFT JOIN txn_a a ON p.part_key = a.part_key
        LEFT JOIN txn_b b ON p.part_key = b.part_key
    """,
    doc="Optimistic-concurrency WRITE-CONFLICT detection — the commit-"
    "time validation rule Delta/Iceberg run when two writers race on "
    "a partitioned table (table partitioned by o_orderpriority here): "
    "txn A dynamically overwrites the urgent/high partitions; txn B, "
    "started concurrently, updates rows matched by a PREDICATE "
    "(big Jan-Feb-1996 orders) and therefore writes into whichever "
    "partitions its matched rows live in.  B may commit iff its "
    "write-partition set is disjoint from A's committed write set — "
    "per partition the audit reports who writes it, how many rows B "
    "touches there, and B's verdict (conflict / commit / untouched).  "
    "This is the q37b/q37c family's missing third leg: MERGE "
    "semantics, time travel, and now the concurrency rule, all "
    "emulated relationally on plain parquet so the flip to a real "
    "table format keeps the same decision table.  Scale: write-set "
    "resolution is two grouped DISTINCT scans over partition-pruned "
    "reads — manifest arithmetic, no shuffle grows with table size.",
)
def q37d_write_conflict_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    parts_all = o.groupBy(F.col("o_orderpriority").alias("part_key")).agg(
        F.count("*").alias("n_rows")
    )
    txn_a = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(F.col("o_orderpriority").alias("part_key"))
        .distinct()
        .withColumn("a_marker", F.lit(1))
    )
    txn_b = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1996-03-01").cast("timestamp_ntz"))
            & (F.col("o_totalprice") > 150000)
        )
        .groupBy(F.col("o_orderpriority").alias("part_key"))
        .agg(F.count("*").alias("b_rows"))
    )
    return (
        parts_all.join(F.broadcast(txn_a), "part_key", "left")
        .join(F.broadcast(txn_b), "part_key", "left")
        .select(
            "part_key",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("a_marker").isNotNull().alias("a_writes"),
            F.col("b_rows").isNotNull().alias("b_writes"),
            F.coalesce("b_rows", F.lit(0)).cast("bigint").alias(
                "b_touched_rows"
            ),
            F.when(
                F.col("a_marker").isNotNull() & F.col("b_rows").isNotNull(),
                "CONFLICT: retry/rebase",
            )
            .when(F.col("b_rows").isNotNull(), "commit")
            .otherwise("untouched")
            .alias("b_verdict"),
        )
    )


@register(
    "q37e_write_audit_publish",
    oracle="""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents,
               TRUE AS audit_passed
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) = 1995
        GROUP BY o_orderstatus
    """,
    doc="WRITE-AUDIT-PUBLISH (the WAP pattern every serious lakehouse "
    "pipeline uses; Netflix/Iceberg popularized the name): the 1995 "
    "slice is written to a STAGING path consumers never read, the "
    "audit recomputes row count and an exact cents checksum from the "
    "staged files and compares them to the source-side expectation, "
    "and only on a clean audit is the data copied to the PUBLISHED "
    "path the final read goes through — a failed audit leaves the "
    "published path untouched (here: the query would return the "
    "audit failure, breaking the hash).  The oracle recomputes the "
    "published state straight from source, so the hash proves the "
    "staged->audited->published chain was lossless end to end.  "
    "Scale: staging is one slice write; the audit is one aggregate "
    "over staged files (count + checksum, the qd30 manifest shape); "
    "publish is a metadata-cheap rewrite of audited files — never "
    "touching consumers mid-write is the whole point.  The two "
    ".collect() calls are 1-ROW audit aggregates (the q20e bounded-"
    "driver-side class): the publish/abort DECISION is driver control "
    "flow by definition — no data rows ever reach the driver.",
)
def q37e_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    o = load_table(spark, sf_dir, "orders")
    slice_df = o.filter(F.year("o_orderdate") == 1995).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    # The result reads the published dir lazily after return.
    base = scratch.fresh("wap_")
    staging, published = os.path.join(base, "staging"), os.path.join(
        base, "published"
    )
    expected = slice_df.agg(
        F.count("*").alias("n"), F.sum("cents").alias("c")
    ).collect()[0]
    slice_df.write.mode("overwrite").parquet(staging)
    staged = spark.read.parquet(staging)
    audited = staged.agg(
        F.count("*").alias("n"), F.sum("cents").alias("c")
    ).collect()[0]
    audit_passed = (expected["n"], expected["c"]) == (
        audited["n"],
        audited["c"],
    )
    if audit_passed:
        staged.write.mode("overwrite").parquet(published)
    final = spark.read.parquet(published if audit_passed else staging)
    return final.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
        F.first(F.lit(audit_passed)).alias("audit_passed"),
    )
