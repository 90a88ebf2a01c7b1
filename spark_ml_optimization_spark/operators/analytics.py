"""Composite analytics queries — TPC-H-shaped workloads adapted to the
simplified fixture schema (no commitdate/shipmode/partsupp columns; see
FIXTURES.md for the deltas).

These exercise operator *composition*: multi-join star chains + filtered
aggregation + having-style post-filters + top-k, the plans a warehouse
workload actually produces.  Each is SQL-oracle hash-verified and sized
so Catalyst's choices (broadcast vs SMJ, partial agg, AQE coalesce) are
the interesting part.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session import scoped_conf
from ..sources import load_table

def _rev():
    # built lazily: Column arithmetic with literals needs a live SparkContext
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "qa1_shipping_priority",
    oracle="""
        SELECT
            l.l_orderkey,
            round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
            o.o_orderdate,
            o.o_orderpriority
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l.l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    doc="TPC-H Q3 shape: segment-filtered customer⋈orders⋈lineitem, "
    "revenue per order for orders taken before / shipped after a date, "
    "top-10.  Dim filter reaches the customer scan; orders⋈lineitem is "
    "the only big join.",
)
def qa1_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "qa2_late_shipment_priority",
    oracle="""
        SELECT
            o.o_orderpriority,
            count(*) AS n_orders
        FROM orders o
        WHERE o.o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                                AND TIMESTAMP '1997-12-31 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
          )
        GROUP BY o.o_orderpriority
    """,
    doc="TPC-H Q4 shape (adapted: late = shipped >90 days after order): "
    "correlated EXISTS → semi-join, priority histogram.",
)
def qa2_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1997-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(late.select("l_orderkey").distinct(), o.o_orderkey == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "qa3_revenue_effect",
    oracle="""
        SELECT
            round(sum(l_extendedprice * l_discount), 2) AS revenue_effect,
            count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: single-scan filtered aggregate — the pure "
    "pushdown/codegen speed test (no joins, no shuffle beyond 1 agg).",
)
def qa3_revenue_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue_effect"
            ),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "qa4_volume_shipping",
    oracle="""
        SELECT
            n1.n_name AS supp_nation,
            n2.n_name AS cust_nation,
            year(l.l_shipdate) AS ship_year,
            round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS volume
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        WHERE n1.n_name IN ('FRANCE', 'GERMANY')
          AND n2.n_name IN ('FRANCE', 'GERMANY')
          AND n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape: bilateral trade volume between two nations by "
    "year — 5-way join with two roles of the nation dim (aliased "
    "broadcasts).",
)
def qa4_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nations = ("FRANCE", "GERMANY")
    n1 = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*nations))
        .select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    )
    n2 = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*nations))
        .select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(F.round(F.sum(_rev()), 2).alias("volume"))
    )


@register(
    "qa5_market_share",
    oracle="""
        WITH region_rev AS (
            SELECT
                year(l.l_shipdate) AS ship_year,
                r.r_name AS region_name,
                sum(l.l_extendedprice * (1 - l.l_discount)) AS rev
            FROM lineitem l
            JOIN orders o   ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n   ON c.c_nationkey = n.n_nationkey
            JOIN region r   ON n.n_regionkey = r.r_regionkey
            GROUP BY 1, 2
        )
        SELECT
            ship_year,
            region_name,
            round(rev, 2) AS revenue,
            round(rev / sum(rev) OVER (PARTITION BY ship_year), 6) AS market_share
        FROM region_rev
    """,
    doc="TPC-H Q8 shape: per-region revenue share of each year — star "
    "join + window-normalized fractions (agg → window over agg).",
)
def qa5_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.year("l_shipdate").cast("long").alias("ship_year"),
            F.col("r_name").alias("region_name"),
        )
        .agg(F.sum(_rev()).alias("rev"))
    )
    w = W.partitionBy("ship_year")
    return rev.select(
        "ship_year",
        "region_name",
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") / F.sum("rev").over(w), 6).alias("market_share"),
    )


@register(
    "qa6_profit_by_nation",
    oracle="""
        SELECT
            n.n_name AS nation_name,
            year(l.l_shipdate) AS ship_year,
            round(sum(l.l_extendedprice * (1 - l.l_discount)
                      - 0.5 * p.p_retailprice * l.l_quantity), 2) AS profit
        FROM lineitem l
        JOIN part p     ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%green%'
        GROUP BY 1, 2
    """,
    doc="TPC-H Q9 shape (adapted: cost = 0.5·retailprice·qty — no "
    "partsupp table in the fixtures): profit by supplier nation and "
    "year for green parts.",
)
def qa6_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%green%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    profit = _rev() - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(F.round(F.sum(profit), 2).alias("profit"))
    )


@register(
    "qa7_returned_items",
    oracle="""
        SELECT
            c.c_custkey,
            c.c_name,
            round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS lost_revenue,
            n.n_name AS nation_name
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY lost_revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    doc="TPC-H Q10 shape: top-20 customers by returned-item revenue "
    "since a date.",
)
def qa7_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation_name"))
        .agg(F.round(F.sum(_rev()), 2).alias("lost_revenue"))
        .select("c_custkey", "c_name", "lost_revenue", "nation_name")
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "qa8_promo_share",
    oracle="""
        SELECT
            round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                   THEN l.l_extendedprice * (1 - l.l_discount)
                                   ELSE 0.0 END)
                  / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_pct,
            count(*) AS n_lines
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
    """,
    doc="TPC-H Q14 shape: promo revenue share in a quarter — conditional "
    "aggregation ratio over a broadcast part join.",
)
def qa8_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(_rev()), 4).alias("promo_pct"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "qa9_big_orders",
    oracle="""
        WITH big AS (
            SELECT l_orderkey, sum(l_quantity) AS total_qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING sum(l_quantity) > 250
        )
        SELECT
            c.c_custkey,
            o.o_orderkey,
            o.o_orderdate,
            round(o.o_totalprice, 2) AS total_price,
            round(big.total_qty, 2) AS total_qty
        FROM big
        JOIN orders o   ON big.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="TPC-H Q18 shape: large-quantity orders via HAVING on a grouped "
    "fact, re-joined to orders+customer.",
)
def qa9_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("total_price"),
            F.round("total_qty", 2).alias("total_qty"),
        )
    )


@register(
    "qa10_national_account_share",
    oracle="""
        WITH tot AS (SELECT sum(s_acctbal) AS total FROM supplier WHERE s_acctbal > 0)
        SELECT
            n.n_name AS nation_name,
            round(sum(s.s_acctbal), 2) AS nation_bal,
            round(sum(s.s_acctbal) / (SELECT total FROM tot), 6) AS share
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE s.s_acctbal > 0
        GROUP BY n.n_name
        HAVING sum(s.s_acctbal) > 0.01 * (SELECT total FROM tot)
    """,
    doc="TPC-H Q11 shape (adapted to supplier balances — no partsupp): "
    "per-nation share of positive account balance with a HAVING gate on "
    "a scalar-subquery fraction.",
)
def qa10_national_account_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 0)
    n = load_table(spark, sf_dir, "nation")
    tot = s.agg(F.sum("s_acctbal").alias("total"))
    per_nation = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.sum("s_acctbal").alias("bal"))
    )
    return (
        per_nation.crossJoin(F.broadcast(tot))
        .filter(F.col("bal") > 0.01 * F.col("total"))
        .select(
            "nation_name",
            F.round("bal", 2).alias("nation_bal"),
            F.round(F.col("bal") / F.col("total"), 6).alias("share"),
        )
    )


@register(
    "qa11_top_supplier",
    oracle="""
        WITH rev AS (
            SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS r
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, round(rev.r, 2) AS total_revenue
        FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
        WHERE rev.r = (SELECT max(r) FROM rev)
    """,
    doc="TPC-H Q15 shape: revenue view + max-revenue supplier via scalar "
    "subquery over the same derived relation (shared CTE both engines).",
)
def qa11_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r")
    )
    mx = rev.agg(F.max("r").alias("mr"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("r") == F.col("mr"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", F.round("r", 2).alias("total_revenue"))
    )


@register(
    "qa12_parts_supplier_counts",
    oracle="""
        SELECT
            p.p_brand,
            p.p_type,
            p.p_size,
            count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM part p
        JOIN lineitem l ON l.l_partkey = p.p_partkey
        WHERE p.p_brand <> 'Brand#1'
          AND p.p_type NOT IN ('PROMO', 'ECONOMY')
          AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    doc="TPC-H Q16 shape: distinct supplier counts per brand/type/size "
    "with negative predicates (<>, NOT IN) and an IN value list.",
)
def qa12_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").isin("PROMO", "ECONOMY")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "qa13_disjunctive_revenue",
    oracle="""
        SELECT
            round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
            count(*) AS n_lines
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#3' AND l.l_quantity BETWEEN 1 AND 15
               AND p.p_size BETWEEN 1 AND 10)
           OR (p.p_brand = 'Brand#7' AND l.l_quantity BETWEEN 10 AND 25
               AND p.p_size BETWEEN 5 AND 20)
           OR (p.p_brand = 'Brand#12' AND l.l_quantity BETWEEN 20 AND 35
               AND p.p_size BETWEEN 10 AND 30)
    """,
    doc="TPC-H Q19 shape: disjunction of conjunctive band predicates "
    "across the join — Catalyst pushes the common join key and applies "
    "the OR-of-ANDs as one post-join filter.",
)
def qa13_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(1, 15) & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#7") & F.col("l_quantity").between(10, 25) & F.col("p_size").between(5, 20))
        | ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(20, 35) & F.col("p_size").between(10, 30))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


@register(
    "qa16_inactive_rich_customers",
    oracle="""
        SELECT
            substr(c_name, 10, 2) AS cust_group,
            count(*) AS n_custs,
            round(sum(c_acctbal), 2) AS total_bal
        FROM customer c
        WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
          )
        GROUP BY 1
    """,
    doc="TPC-H Q22 shape: above-average-balance customers with no recent "
    "orders — scalar subquery + anti join + grouped aggregate.",
)
def qa16_inactive_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    inactive = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return inactive.groupBy(F.substring("c_name", 10, 2).alias("cust_group")).agg(
        F.count("*").alias("n_custs"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@register(
    "qa14_order_count_distribution",
    oracle="""
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c
            LEFT OUTER JOIN orders o
              ON c.c_custkey = o.o_custkey
             AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape: customer order-count distribution.  Left outer "
    "join with a join-side predicate (not a WHERE — customers with zero "
    "matching orders must survive as c_count=0), double aggregation.  "
    "The first groupBy shuffles on c_custkey, which the join already "
    "partitioned by — Catalyst reuses the exchange; the second agg is "
    "over ~tens of distinct counts, map-side combinable.",
)
def qa14_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "qa15_small_qty_revenue",
    oracle="""
        SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_type = 'SMALL'
          AND l.l_quantity < (
              SELECT 0.2 * avg(l2.l_quantity)
              FROM lineitem l2
              WHERE l2.l_partkey = l.l_partkey
          )
    """,
    doc="TPC-H Q17 shape: revenue from small-quantity orders of SMALL-type "
    "parts, correlated scalar-aggregate subquery (per-part average "
    "quantity).  Spark-first: the correlated subquery is a self-"
    "aggregation — groupBy(l_partkey).avg once, broadcast the per-part "
    "thresholds (#parts rows, tiny next to the fact), rejoin.  One "
    "fact-table shuffle for the agg, zero for the probe.",
)
def qa15_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cap")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(thresholds), li.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "qa17_local_supplier_volume",
    oracle="""
        SELECT n.n_name,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n.n_name
        ORDER BY revenue DESC
    """,
    doc="TPC-H Q5 shape: local-supplier volume — the join that correlates "
    "two different dimension paths to the same nation (customer's and "
    "supplier's), region-filtered.  All four dims broadcast; the only "
    "big shuffle is orders⋈lineitem.  The c_nationkey = s_nationkey "
    "condition rides on the supplier broadcast join, not a separate op.",
)
def qa17_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey")
    )
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(_rev()), 2).alias("revenue"))
        .orderBy(F.desc("revenue"))
    )


@register(
    "qa18_cheapest_supplier_per_part",
    oracle="""
        WITH unit AS (
            SELECT l_partkey, l_suppkey,
                   min(l_extendedprice / l_quantity) AS unit_cost
            FROM lineitem
            GROUP BY l_partkey, l_suppkey
        ), ranked AS (
            SELECT l_partkey, l_suppkey, unit_cost,
                   ROW_NUMBER() OVER (
                       PARTITION BY l_partkey
                       ORDER BY unit_cost ASC, l_suppkey ASC
                   ) AS rn
            FROM unit
        )
        SELECT p.p_brand,
               count(*) AS n_parts,
               round(sum(r.unit_cost), 2) AS total_best_cost,
               count(DISTINCT r.l_suppkey) AS n_suppliers
        FROM ranked r
        JOIN part p ON p.p_partkey = r.l_partkey
        WHERE r.rn = 1
        GROUP BY p.p_brand
        ORDER BY p.p_brand
    """,
    doc="TPC-H Q2 shape (fixture has no partsupp: lineitem unit prices "
    "stand in for supply cost): per part, the cheapest supplier — the "
    "argmin-per-group operator.  Spark-first: argmin via "
    "min(struct(cost, suppkey)) — ONE hash aggregate, no window sort "
    "(struct ordering is lexicographic, so the suppkey tiebreak is "
    "deterministic); oracle mirrors with ROW_NUMBER.  Then broadcast "
    "part dim, regroup by brand.",
)
def qa18_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    best = unit.groupBy("l_partkey").agg(
        F.min(F.struct("unit_cost", "l_suppkey")).alias("m")
    )
    return (
        best.select(
            "l_partkey",
            F.col("m.unit_cost").alias("unit_cost"),
            F.col("m.l_suppkey").alias("l_suppkey"),
        )
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.sum("unit_cost"), 2).alias("total_best_cost"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
        )
        .orderBy("p_brand")
    )


@register(
    "qa19_priority_with_returns",
    oracle="""
        SELECT o.o_orderpriority,
               count(*) AS n_orders
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_returnflag = 'R'
          )
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
    doc="TPC-H Q4 shape: orders in a half-year window having at least "
    "one returned line (EXISTS → left-semi join; the fixture has no "
    "commitdate, so returnflag='R' stands in for 'late'), counted per "
    "priority.  The semi join keeps the probe output at orders "
    "cardinality — no row multiplication, no distinct needed.",
)
def qa19_priority_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    returned = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        o.join(returned, o.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "qa20_waiting_suppliers",
    oracle="""
        SELECT s.s_name, count(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 10
    """,
    doc="TPC-H Q21 shape (suppliers who kept orders waiting): the sole "
    "late supplier in finished multi-supplier orders (no commitdate/"
    "receiptdate in the fixture, so 'late' = shipped >60 days after "
    "the order date).  The oracle keeps the textbook correlated "
    "EXISTS + NOT-EXISTS; the Spark side is the decorrelated rewrite a "
    "100 TB plan wants explicitly: ONE scan of lineitem⋈orders computes "
    "per-order supplier counts and per-order late-supplier counts "
    "(two partial aggs on the same shuffle key, l_orderkey), and the "
    "EXISTS/NOT-EXISTS pair collapses to n_suppliers >= 2 AND "
    "n_late_suppliers = 1 — no per-row subquery re-execution, no "
    "second fact scan for l2/l3.",
)
def qa20_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    lo = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAY"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    blamed = (
        lo.filter(F.col("is_late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        blamed.join(F.broadcast(s), blamed.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


@register(
    "qa21_dominant_suppliers",
    oracle="""
        SELECT s.s_name, n.n_name, count(*) AS n_dominant_parts
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE s.s_suppkey IN (
            SELECT l.l_suppkey
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_retailprice < 1200
            GROUP BY l.l_suppkey, l.l_partkey
            HAVING sum(l.l_quantity) > 0.5 * (
                SELECT sum(l2.l_quantity) FROM lineitem l2
                WHERE l2.l_partkey = l.l_partkey
            )
        )
        GROUP BY s.s_name, n.n_name
        ORDER BY n_dominant_parts DESC, s.s_name
        LIMIT 20
    """,
    doc="TPC-H Q20 shape (suppliers holding dominant supply): the oracle "
    "keeps the textbook nested IN + correlated scalar-aggregate "
    "subquery; the Spark side is the decorrelated single-pass plan — "
    "(supplier, part) quantity sums and per-part totals both derive "
    "from ONE lineitem⋈part scan sharing the l_partkey shuffle key, "
    "then a ratio filter and a semi-join into supplier.  The count "
    "column differs per supplier only via its dominant-part count, so "
    "no per-row subquery re-executes — at 100 TB this is one fact "
    "scan + two partial aggs vs the naive plan's per-group rescans.",
)
def qa21_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity"
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_retailprice") < 1200
    ).select("p_partkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    cheap_lines = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    per_supp_part = cheap_lines.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    # Per-part totals over ALL suppliers (the correlated subquery's
    # denominator spans the unfiltered lineitem).
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("l_quantity").alias("part_qty")
    )
    dominant = (
        per_supp_part.join(per_part, per_supp_part.l_partkey == per_part.pk)
        .filter(F.col("supp_qty") > 0.5 * F.col("part_qty"))
        .select(F.col("l_suppkey").alias("dk"), "l_partkey")
    )
    return (
        s.join(dominant, s.s_suppkey == dominant.dk)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name", "n_name")
        .agg(F.count("*").alias("n_dominant_parts"))
        .orderBy(F.col("n_dominant_parts").desc(), F.col("s_name").asc())
        .limit(20)
    )


@register(
    "qa22_cbo_join_reorder",
    oracle="""
        SELECT r_name,
               count(DISTINCT l_orderkey) AS n_orders,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM region, customer, lineitem, nation, orders
        WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND o_custkey = c_custkey AND l_orderkey = o_orderkey
          AND year(o_orderdate) = 1997
        GROUP BY r_name
    """,
    doc="Join-ORDER optimization demo (the PAPERS.md join-ordering "
    "topic): the star query is written with a deliberately hostile "
    "FROM order — region, customer, lineitem, nation, orders — where "
    "NO adjacent pair shares a join predicate, so the literal "
    "left-deep order would be four cartesian products.  Catalyst's "
    "ReorderJoin pulls the WHERE equi-predicates into join conditions "
    "and, with CBO + joinReorder enabled over ANALYZEd catalog tables "
    "(src06's stats path), CostBasedJoinReorder picks the star order "
    "from per-table row counts + column NDVs: fact-to-orders first, "
    "dims broadcast.  tests/test_plans.py pins the physical plan to "
    "ZERO CartesianProduct and >= 3 broadcast joins — hand-ordering "
    "joins is exactly what a 100 TB engine must NOT depend on, "
    "because users write queries in semantic, not cost, order.  "
    "The cbo confs are set only for the duration of planning: the "
    "physical plan is forced (queryExecution().executedPlan(), a "
    "pure-planning step — no jobs) while CBO is on, then the prior "
    "conf values are restored so later queries on ANALYZEd catalog "
    "tables (src06) plan under the session's normal optimizer "
    "settings regardless of suite order.",
)
def qa22_cbo_join_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.stats import analyze_tables

    cats = analyze_tables(
        spark, sf_dir, ("region", "nation", "customer", "orders", "lineitem")
    )
    with scoped_conf(
        spark,
        {"spark.sql.cbo.enabled": "true", "spark.sql.cbo.joinReorder.enabled": "true"},
    ):
        df = spark.sql(
            f"""
            SELECT r_name,
                   count(DISTINCT l_orderkey) AS n_orders,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM {cats["region"]}, {cats["customer"]}, {cats["lineitem"]},
                 {cats["nation"]}, {cats["orders"]}
            WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND o_custkey = c_custkey AND l_orderkey = o_orderkey
              AND year(o_orderdate) = 1997
            GROUP BY r_name
            """
        )
        # Materialize the (lazy-val-cached) physical plan NOW, while
        # CBO+joinReorder are on — the returned DataFrame keeps the
        # cost-reordered plan after the confs are restored below.
        df._jdf.queryExecution().executedPlan()
        return df


@register(
    "qa23_idle_rich_accounts",
    oracle="""
        WITH sel AS (
            SELECT c_custkey,
                   CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
                   c_nationkey % 7 AS cntrycode
            FROM customer
            WHERE c_nationkey % 7 IN (0, 1, 2, 3)
        ),
        avg_bal AS (
            SELECT sum(cents) * 1.0 / count(*) AS a
            FROM sel WHERE cents > 0
        ),
        idle AS (
            SELECT s.cntrycode, s.cents
            FROM sel s
            WHERE s.cents > (SELECT a FROM avg_bal)
              AND NOT EXISTS (
                  SELECT 1 FROM orders o WHERE o.o_custkey = s.c_custkey
              )
        )
        SELECT cntrycode,
               CAST(count(*) AS BIGINT) AS numcust,
               round(sum(cents) / 100.0, 2) AS totacctbal
        FROM idle GROUP BY cntrycode
    """,
    doc="TPC-H Q22 shape (global-lost-customers): customers in selected "
    "'country codes' (nationkey buckets standing in for phone "
    "prefixes) whose balance exceeds the positive-balance AVERAGE of "
    "that population and who have NO orders — a scalar-aggregate "
    "subquery feeding a decorrelated anti-join, completing the hard "
    "TPC-H quartet beside qa20 (Q21), qa21 (Q20), qa15 (Q17).  "
    "Catalyst plans the NOT EXISTS as a left-anti hash join and the "
    "scalar average as a broadcast 1-row relation.  Money arithmetic "
    "runs in CENTS (exact BIGINT sums) so the > average threshold is "
    "a bit-identical comparison in both engines — an average of "
    "doubles would make the boundary summation-order-dependent (the "
    "adversarial-parity rule).  Scale: one scan of customer, "
    "broadcast threshold, anti-join keyed on custkey.",
)
def qa23_idle_rich_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    sel = c.filter((F.col("c_nationkey") % 7).isin(0, 1, 2, 3)).select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
        (F.col("c_nationkey") % 7).alias("cntrycode"),
    )
    avg_bal = sel.filter(F.col("cents") > 0).agg(
        (F.sum("cents") * 1.0 / F.count("*")).alias("a")
    )
    idle = (
        sel.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("cents") > F.col("a"))
        .join(o, sel.c_custkey == o.o_custkey, "left_anti")
    )
    return idle.groupBy("cntrycode").agg(
        F.count("*").cast("long").alias("numcust"),
        F.round(F.sum("cents") / 100.0, 2).alias("totacctbal"),
    )


@register(
    "qa24_rfm_segmentation",
    oracle="""
        WITH cust AS (
            SELECT o_custkey,
                   max(o_orderdate) AS last_order,
                   count(*) AS freq,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders GROUP BY o_custkey
        ),
        tiers AS (
            SELECT o_custkey,
                   ntile(5) OVER (ORDER BY last_order DESC, o_custkey ASC) AS r_tier,
                   ntile(5) OVER (ORDER BY freq DESC, o_custkey ASC) AS f_tier,
                   ntile(5) OVER (ORDER BY cents DESC, o_custkey ASC) AS m_tier,
                   cents
            FROM cust
        )
        SELECT r_tier, f_tier, m_tier,
               count(*) AS n_customers,
               CAST(sum(cents) AS BIGINT) AS segment_cents
        FROM tiers GROUP BY r_tier, f_tier, m_tier
    """,
    doc="RFM SEGMENTATION — the classic warehouse customer-value grid "
    "(Recency/Frequency/Monetary quintiles): per-customer last order "
    "date, order count, and lifetime spend in EXACT CENTS, each cut "
    "into ntile(5) tiers with custkey tiebreaks — every ordering key "
    "is a timestamp, an int, or an exact integer-cents sum, so no "
    "tier boundary can be summation-order luck — then the 5x5x5 "
    "segment grid reports customer counts and spend.  Scale: each "
    "quintile is a DISTRIBUTED exact ntile (dist_rank.py — range "
    "exchange + per-partition rank + broadcast offsets), never an "
    "unpartitioned WindowExec: the customer aggregate grows with the "
    "data, and a global-window sort would funnel it through one task; "
    "at extreme cardinality the quintile edges can instead come from "
    "approxQuantile as map-side CASE ladders (the ml26 shape) — the "
    "grid semantics are unchanged.",
)
def qa24_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dist_rank import distributed_ntile

    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    )
    # Three DISTRIBUTED exact ntiles (range-partitioned rank + offset
    # join, dist_rank.py) instead of three unpartitioned WindowExecs:
    # the customer relation grows with the data, so a global-window
    # sort is a single-task straggler at 100 TB.  Bit-identical to
    # ntile(5).over(Window.orderBy(...)) — the oracle is unchanged.
    # The per-customer aggregate is materialized once (narrow: 4
    # columns) because three independent rank branches + their
    # range-sampling jobs read it; chaining the ntiles instead would
    # stack range exchanges whose boundary-sampling jobs recompute the
    # whole upstream DAG (measured 16.8 s chained vs ~2 s branched at
    # sf0.01).  Lazy localCheckpoint rather than .cache(): the cache
    # manager pins cached relations until an explicit unpersist (which
    # no caller of a lazily-returned DataFrame can sequence), while a
    # localCheckpoint's storage is released by the ContextCleaner once
    # the RDD is GC'd — no per-query storage accumulation across a
    # 364-query suite run.
    cust = cust.localCheckpoint(eager=True)
    r = distributed_ntile(
        cust.select("o_custkey", "last_order"),
        5,
        [F.col("last_order").desc(), F.col("o_custkey").asc()],
        "r_tier",
    ).select("o_custkey", "r_tier")
    f = distributed_ntile(
        cust.select("o_custkey", "freq"),
        5,
        [F.col("freq").desc(), F.col("o_custkey").asc()],
        "f_tier",
    ).select("o_custkey", "f_tier")
    m = distributed_ntile(
        cust.select("o_custkey", "cents"),
        5,
        [F.col("cents").desc(), F.col("o_custkey").asc()],
        "m_tier",
    ).select("o_custkey", "cents", "m_tier")
    tiers = r.join(f, "o_custkey").join(m, "o_custkey")
    return tiers.groupBy("r_tier", "f_tier", "m_tier").agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").cast("long").alias("segment_cents"),
    )


@register(
    "qa25_revenue_concentration",
    oracle="""
        WITH cust AS (
            SELECT o_custkey,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT o_custkey, cents,
                   row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS i,
                   count(*) OVER () AS n,
                   sum(cents) OVER () AS total
            FROM cust
        ),
        gini_terms AS (
            SELECT n, total,
                   sum(i * cents) AS weighted,
                   sum(CASE WHEN i * 10 > n * 9 THEN cents ELSE 0 END)
                       AS top_decile_cents,
                   sum(CASE WHEN i * 10 > n * 9 THEN 1 ELSE 0 END)
                       AS n_top_decile
            FROM ranked GROUP BY n, total
        )
        SELECT CAST(n AS BIGINT) AS n_customers,
               CAST(total AS BIGINT) AS total_cents,
               CAST(n_top_decile AS BIGINT) AS n_top_decile,
               CAST(top_decile_cents AS BIGINT) AS top_decile_cents,
               round(top_decile_cents * 1.0 / total, 6) AS top_decile_share,
               round(2.0 * weighted / (n * total) - (n + 1.0) / n, 6) AS gini
        FROM gini_terms
    """,
    doc="REVENUE CONCENTRATION — the Pareto/inequality readout next to "
    "qa24's RFM grid: customers ranked by lifetime spend in EXACT "
    "CENTS (custkey tiebreak), the top decile selected by the "
    "INTEGER gate i*10 > n*9 (no float percentile edge), its revenue "
    "share one exact division, and the Gini coefficient from the "
    "closed form 2*Σ(i*x_i)/(n*Σx) - (n+1)/n — rank-weighted integer "
    "sums (bounded ~1e16, 500x BIGINT headroom), so both engines "
    "compute identical doubles in the final two divisions.  "
    "Complements qd15 (join-key skew Gini) on the revenue axis — the "
    "'does 10% of the base carry 60% of revenue' board number.  "
    "Scale: one customer-keyed partial agg, one DISTRIBUTED exact "
    "rank (dist_rank.py — range exchange + per-partition row_number + "
    "broadcast offsets, never an unpartitioned WindowExec over the "
    "entity-scale customer relation), one single-row reduce.",
)
def qa25_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dist_rank import distributed_row_number

    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    # Distributed exact rank (dist_rank.py) — the customer relation is
    # entity-scale, so the previous unpartitioned row_number window was
    # a single-task sort at 100 TB.  Bit-identical ranks, same oracle.
    ranked = distributed_row_number(
        cust, [F.col("cents").asc(), F.col("o_custkey").asc()], "i"
    ).select("cents", "i")
    top = F.when(F.col("i") * 10 > F.col("n") * 9, F.col("cents")).otherwise(0)
    topn = F.when(F.col("i") * 10 > F.col("n") * 9, 1).otherwise(0)
    stats = ranked.crossJoin(
        F.broadcast(
            ranked.agg(
                F.count("*").alias("n"), F.sum("cents").alias("total")
            )
        )
    ).agg(
        F.first("n").alias("n"),
        F.first("total").alias("total"),
        F.sum(F.col("i") * F.col("cents")).alias("weighted"),
        F.sum(top).alias("top_decile_cents"),
        F.sum(topn).alias("n_top_decile"),
    )
    return stats.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("total").cast("long").alias("total_cents"),
        F.col("n_top_decile").cast("long").alias("n_top_decile"),
        F.col("top_decile_cents").cast("long").alias("top_decile_cents"),
        F.round(F.col("top_decile_cents") * 1.0 / F.col("total"), 6).alias(
            "top_decile_share"
        ),
        F.round(
            2.0 * F.col("weighted") / (F.col("n") * F.col("total"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


@register(
    "qa26_reorder_intervals",
    oracle="""
        WITH o AS (
            SELECT o_custkey,
                   CAST(o_orderdate AS DATE) AS d,
                   o_orderkey
            FROM orders
        ),
        gaps AS (
            SELECT o_custkey,
                   date_diff('day',
                       lag(d) OVER (PARTITION BY o_custkey
                                    ORDER BY d ASC, o_orderkey ASC),
                       d) AS gap_days
            FROM o
        ),
        seg AS (
            SELECT g.o_custkey, g.gap_days, c.c_mktsegment
            FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey
            WHERE g.gap_days IS NOT NULL
        )
        SELECT c_mktsegment,
               CAST(gap_days // 30 AS BIGINT) AS gap_bucket,
               count(*) AS n_gaps,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
               CAST(min(gap_days) AS BIGINT) AS min_gap_days,
               CAST(max(gap_days) AS BIGINT) AS max_gap_days
        FROM seg
        GROUP BY c_mktsegment, gap_days // 30
    """,
    doc="REORDER-INTERVAL distribution — the purchase-cadence readout "
    "behind replenishment forecasting and churn-risk scoring: per "
    "customer, the day gaps between consecutive orders (lag window "
    "partitioned BY CUSTOMER — never global; date + orderkey "
    "tiebreak), bucketed into 30-day bands per market segment with "
    "exact integer day arithmetic (gap_days is non-negative, so "
    "truncating // equals floor on both engines).  Complements qa24 "
    "(RFM snapshot) with the BETWEEN-orders dynamics.  Scale: one "
    "shuffle by custkey for the lag window (dimension-keyed, "
    "narrow), one broadcast of the customer dim, one small agg — "
    "fact text never moves.",
)
def qa26_reorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_orderkey",
    )
    w = W.partitionBy("o_custkey").orderBy(
        F.col("d").asc(), F.col("o_orderkey").asc()
    )
    gaps = o.select(
        "o_custkey",
        F.datediff(F.col("d"), F.lag("d").over(w)).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    seg = gaps.join(F.broadcast(c), "o_custkey")
    return seg.groupBy(
        "c_mktsegment",
        F.expr("gap_days div 30").cast("long").alias("gap_bucket"),
    ).agg(
        F.count("*").alias("n_gaps"),
        F.count_distinct("o_custkey").cast("long").alias("n_customers"),
        F.min("gap_days").cast("long").alias("min_gap_days"),
        F.max("gap_days").cast("long").alias("max_gap_days"),
    )


@register(
    "qa27_yoy_growth",
    oracle="""
        WITH seg_year AS (
            SELECT c.c_mktsegment,
                   year(o.o_orderdate) AS order_year,
                   sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents,
                   count(*) AS n_orders
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment, year(o.o_orderdate)
        )
        SELECT c_mktsegment,
               CAST(order_year AS BIGINT) AS order_year,
               CAST(cents AS BIGINT) AS revenue_cents,
               CAST(n_orders AS BIGINT) AS n_orders,
               round((cents - lag(cents) OVER w) * 1.0
                     / lag(cents) OVER w, 6) AS yoy_growth
        FROM seg_year
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY order_year ASC)
    """,
    doc="YEAR-OVER-YEAR growth per market segment — the board-deck "
    "trend table beside qa24's RFM snapshot and qa26's cadence "
    "dynamics: exact-cents revenue per (segment, year), then the lag "
    "window delivers the YoY delta as a ratio of exact integers (one "
    "double division, 6-dp wire; first year NULL by definition).  "
    "The window partitions by SEGMENT over a years-long spine — "
    "bounded by calendar, never entity-scale.  Scale: one fact "
    "aggregation keyed (segment, year) after a broadcast customer "
    "join; the window input is segments x years rows, trivially "
    "small at any corpus size.",
)
def qa27_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    seg_year = (
        o.join(F.broadcast(c), "o_custkey")
        .groupBy(
            "c_mktsegment",
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
            F.count("*").alias("n_orders"),
        )
    )
    w = W.partitionBy("c_mktsegment").orderBy(F.col("order_year").asc())
    prev = F.lag("cents").over(w)
    return seg_year.select(
        "c_mktsegment",
        "order_year",
        F.col("cents").cast("long").alias("revenue_cents"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round((F.col("cents") - prev) * 1.0 / prev, 6).alias("yoy_growth"),
    )


@register(
    "qa28_ltv_cohort_matrix",
    oracle="""
        WITH o AS (
            SELECT o_custkey,
                   year(o_orderdate) AS y,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        first_year AS (
            SELECT o_custkey, min(y) AS cohort_year FROM o GROUP BY o_custkey
        ),
        cells AS (
            SELECT f.cohort_year,
                   o.y - f.cohort_year AS age_years,
                   count(DISTINCT o.o_custkey) AS n_active,
                   sum(o.cents) AS revenue_cents
            FROM o JOIN first_year f USING (o_custkey)
            GROUP BY f.cohort_year, o.y - f.cohort_year
        )
        SELECT CAST(cohort_year AS BIGINT) AS cohort_year,
               CAST(age_years AS BIGINT) AS age_years,
               CAST(n_active AS BIGINT) AS n_active,
               CAST(revenue_cents AS BIGINT) AS revenue_cents,
               CAST(sum(revenue_cents) OVER (PARTITION BY cohort_year
                        ORDER BY age_years ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_revenue_cents
        FROM cells
    """,
    doc="Customer-LIFETIME-VALUE cohort matrix — the finance twin of "
    "q69's activity retention: customers cohorted by FIRST-order "
    "year, each cohort's exact-cents revenue tracked by years-since-"
    "first (age), with the cumulative LTV curve per cohort from a "
    "running-sum window over the BOUNDED (cohort x age) grid — "
    "calendar-sized, never entity-scale (the test_plan_sweep "
    "distinction).  Active-customer counts are exact distincts per "
    "cell.  This is the 'how much is a 2024 customer worth by year "
    "3' board table.  Scale: one orders scan + a first-year "
    "self-agg joined back (customer-keyed shuffle), cells are "
    "years², window trivial.",
)
def qa28_ltv_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year("o_orderdate").alias("y"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    first_year = o.groupBy("o_custkey").agg(F.min("y").alias("cohort_year"))
    cells = (
        o.join(first_year, "o_custkey")
        .groupBy(
            "cohort_year",
            (F.col("y") - F.col("cohort_year")).alias("age_years"),
        )
        .agg(
            F.count_distinct("o_custkey").alias("n_active"),
            F.sum("cents").alias("revenue_cents"),
        )
    )
    w = (
        W.partitionBy("cohort_year")
        .orderBy(F.col("age_years").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return cells.select(
        F.col("cohort_year").cast("long").alias("cohort_year"),
        F.col("age_years").cast("long").alias("age_years"),
        F.col("n_active").cast("long").alias("n_active"),
        F.col("revenue_cents").cast("long").alias("revenue_cents"),
        F.sum("revenue_cents").over(w).cast("long").alias("cum_revenue_cents"),
    )


@register(
    "qa29_category_affinity",
    oracle="""
        WITH basket AS (
            SELECT DISTINCT l.l_orderkey, p.p_type
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM basket),
        sup AS (
            SELECT p_type, count(*) AS n_sup FROM basket GROUP BY p_type
        ),
        pairs AS (
            SELECT a.p_type AS type_a, b.p_type AS type_b,
                   count(*) AS n_both
            FROM basket a JOIN basket b
              ON a.l_orderkey = b.l_orderkey AND a.p_type < b.p_type
            GROUP BY a.p_type, b.p_type
        )
        SELECT p.type_a, p.type_b,
               CAST(p.n_both AS BIGINT) AS n_both,
               CAST(sa.n_sup AS BIGINT) AS n_a,
               CAST(sb.n_sup AS BIGINT) AS n_b,
               round(p.n_both * 1.0 / sa.n_sup, 6) AS confidence_a_b,
               round(p.n_both * 1.0 * n.n_orders
                     / (sa.n_sup * sb.n_sup), 6) AS lift
        FROM pairs p
        JOIN sup sa ON sa.p_type = p.type_a
        JOIN sup sb ON sb.p_type = p.type_b
        CROSS JOIN n
    """,
    doc="Category-pair AFFINITY table (support / confidence / lift) — "
    "the pure-relational market-basket readout next to ml14's "
    "FPGrowth (which mines arbitrary-size itemsets; the pair-lift "
    "grid is what merchandising dashboards actually render): order "
    "baskets de-duplicated to (order, category), per-category and "
    "per-pair supports as exact integer counts (a.type < b.type "
    "keeps each unordered pair once), lift = n_both*N/(n_a*n_b) — "
    "integer numerators, one double division per report column.  "
    "Scale: the pair self-join is keyed by ORDER (co-partitioned, "
    "fan-out bounded by categories-per-order, never all-pairs "
    "global); category supports broadcast back — the same shape at "
    "6 categories or 6 million SKUs rolled to categories.",
)
def qa29_category_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_type"
    )
    basket = (
        li.join(F.broadcast(p), "l_partkey")
        .select("l_orderkey", "p_type")
        .distinct()
    )
    n = basket.agg(
        F.count_distinct("l_orderkey").alias("n_orders")
    )
    sup = basket.groupBy("p_type").agg(F.count("*").alias("n_sup"))
    a = basket.select(
        "l_orderkey", F.col("p_type").alias("type_a")
    )
    b = basket.select(
        "l_orderkey", F.col("p_type").alias("type_b")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    sa = sup.select(F.col("p_type").alias("type_a"), F.col("n_sup").alias("n_a"))
    sb = sup.select(F.col("p_type").alias("type_b"), F.col("n_sup").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(F.col("n_both") * 1.0 / F.col("n_a"), 6).alias(
                "confidence_a_b"
            ),
            F.round(
                F.col("n_both") * 1.0 * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "qa30_share_of_parent",
    oracle="""
        WITH nat AS (
            SELECT r.r_name AS region, n.n_name AS nation,
                   sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, n.n_name
        )
        SELECT region, nation,
               CAST(cents AS BIGINT) AS nation_cents,
               round(cents * 1.0 / sum(cents) OVER (PARTITION BY region), 6)
                   AS region_share,
               round(cents * 1.0 / sum(cents) OVER (), 6) AS global_share
        FROM nat
    """,
    doc="RATIO-TO-REPORT (share-of-parent) rollup — the warehouse "
    "staple a flat GROUP BY can't express: per-nation revenue in "
    "EXACT CENTS with its share of the region (window partitioned by "
    "region — bounded, 5 rows per partition) and of the world (an "
    "unpartitioned window over the 25-row NATION relation — bounded "
    "domain by construction, the dimension table never grows with "
    "fact volume; allowlisted).  Shares are one correctly-rounded "
    "division of exact integers each, so both engines compute "
    "identical doubles.  Scale: one fact-side star join + hash agg "
    "to 25 rows; the windows run over the dimension-sized rollup, "
    "never the fact table.",
)
def qa30_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
    )
    return nat.select(
        "region",
        "nation",
        F.col("cents").cast("long").alias("nation_cents"),
        F.round(
            F.col("cents") * 1.0 / F.sum("cents").over(W.partitionBy("region")), 6
        ).alias("region_share"),
        F.round(F.col("cents") * 1.0 / F.sum("cents").over(W.partitionBy()), 6).alias(
            "global_share"
        ),
    )


@register(
    "qa35_rfm_tier_migration",
    oracle="""
        WITH early AS (
            SELECT o_custkey,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY o_custkey
        ),
        late AS (
            SELECT o_custkey,
                   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
            GROUP BY o_custkey
        ),
        et AS (
            SELECT o_custkey,
                   ntile(5) OVER (ORDER BY cents DESC, o_custkey ASC) AS tier
            FROM early
        ),
        lt AS (
            SELECT o_custkey,
                   ntile(5) OVER (ORDER BY cents DESC, o_custkey ASC) AS tier
            FROM late
        )
        SELECT coalesce(e.tier, 0) AS tier_early,
               coalesce(l.tier, 0) AS tier_late,
               CAST(count(*) AS BIGINT) AS n_customers
        FROM et e FULL JOIN lt l USING (o_custkey)
        GROUP BY 1, 2
    """,
    doc="CUSTOMER-VALUE tier MIGRATION matrix — qa24's RFM machinery "
    "pointed at the question retention teams actually ask: each "
    "customer's monetary quintile in the early period (orders before "
    "1998) vs the late period (1998+), full-joined so ARRIVALS (tier "
    "0 early) and CHURNED (tier 0 late) are first-class rows of the "
    "same 6x6 matrix.  Spend is exact integer cents; both quintiles "
    "are DISTRIBUTED exact ntiles (dist_rank.distributed_ntile — the "
    "customer relation grows with data, so no unpartitioned "
    "WindowExec; the DuckDB oracle's plain ntile is bit-identical by "
    "the integer size law).  The narrow per-period aggregates are "
    "lazily localCheckpointed before ranking (the qa24 lesson: range "
    "boundary sampling re-executes upstream otherwise).  Scale: two "
    "fact scans, two distributed ranks, one key-partitioned full "
    "join of customer-sized relations.",
)
def qa35_rfm_tier_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dist_rank import distributed_ntile

    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")

    def tiers(df, name):
        agg = (
            df.groupBy("o_custkey")
            .agg(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                    "cents"
                )
            )
            .localCheckpoint(eager=True)
        )
        return distributed_ntile(
            agg,
            5,
            [F.col("cents").desc(), F.col("o_custkey").asc()],
            name,
        ).select("o_custkey", name)

    et = tiers(o.filter(F.col("o_orderdate") < cut), "tier_early")
    lt = tiers(o.filter(F.col("o_orderdate") >= cut), "tier_late")
    return (
        et.join(lt, "o_custkey", "full")
        .groupBy(
            F.coalesce("tier_early", F.lit(0)).alias("tier_early"),
            F.coalesce("tier_late", F.lit(0)).alias("tier_late"),
        )
        .agg(F.count("*").cast("long").alias("n_customers"))
    )


_APRIORI_MINSUP = 2


@register(
    "qa36_apriori_triples",
    oracle=f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
            FROM lineitem
        ),
        pairs AS (
            SELECT a.item AS pa, b.item AS pb,
                   CAST(count(*) AS BIGINT) AS sup2
            FROM items a
            JOIN items b ON a.basket = b.basket AND a.item < b.item
            GROUP BY 1, 2 HAVING count(*) >= {_APRIORI_MINSUP}
        ),
        cand AS (
            SELECT p1.pa, p1.pb, p2.pb AS pc,
                   p1.sup2 AS s_ab, p2.sup2 AS s_ac
            FROM pairs p1
            JOIN pairs p2
              ON p2.pa = p1.pa AND p2.pb > p1.pb
        ),
        triples AS (
            SELECT c.pa, c.pb, c.pc, c.s_ab, c.s_ac, bc.sup2 AS s_bc,
                   (SELECT CAST(count(*) AS BIGINT) FROM items x
                    JOIN items y ON y.basket = x.basket AND y.item = c.pb
                    JOIN items z ON z.basket = x.basket AND z.item = c.pc
                    WHERE x.item = c.pa) AS sup3
            FROM cand c
            JOIN pairs bc ON bc.pa = c.pb AND bc.pb = c.pc
        )
        SELECT pa, pb, pc, sup3,
               least(s_ab, least(s_ac, s_bc)) AS min_pair_sup,
               sup3 <= least(s_ab, least(s_ac, s_bc)) AS monotone
        FROM triples
        WHERE sup3 >= {_APRIORI_MINSUP}
    """,
    doc="APRIORI frequent 3-itemset mining, fully relational (the "
    "level-wise Agrawal-Srikant algorithm qa29's pair-affinity stage "
    "feeds): frequent pairs (support >= 2) self-join on a shared "
    "first item to generate candidate triples, candidates survive "
    "only if ALL THREE constituent pairs are frequent (the Apriori "
    "pruning join — bc must exist in the pair table), and the "
    "surviving candidates' exact 3-way support comes from one "
    "item-table triple join.  The output carries min pair support "
    "and the downward-closure law (sup3 <= min pair sup) as a "
    "hash-verified column.  Scale: the candidate space is bounded "
    "by FREQUENT pairs (not raw pairs) squared over shared "
    "prefixes — the pruning that makes level-wise mining feasible; "
    "all joins are equi-joins on item ids, shuffle-partitioned, "
    "no cartesian anywhere.",
)
def qa36_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    ).distinct()
    a = items.select(F.col("basket"), F.col("item").alias("pa"))
    b = items.select(F.col("basket"), F.col("item").alias("pb"))
    pairs = (
        a.join(b, "basket")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("bigint").alias("sup2"))
        .filter(F.col("sup2") >= _APRIORI_MINSUP)
    )
    p1 = pairs.select("pa", "pb", F.col("sup2").alias("s_ab"))
    p2 = pairs.select(
        F.col("pa").alias("pa2"), F.col("pb").alias("pc"),
        F.col("sup2").alias("s_ac"),
    )
    cand = p1.join(p2, (p1["pa"] == p2["pa2"]) & (p2["pc"] > p1["pb"])).select(
        "pa", "pb", "pc", "s_ab", "s_ac"
    )
    bc = pairs.select(
        F.col("pa").alias("pb"), F.col("pb").alias("pc"),
        F.col("sup2").alias("s_bc"),
    )
    pruned = cand.join(bc, ["pb", "pc"]).localCheckpoint(eager=True)
    # Pre-filter the basket-item table to items that appear in ANY
    # surviving candidate triple BEFORE the 3-way basket self-join
    # (optimization round 10): the left_semi against `pruned` below
    # already restricts the grouped output, but it ran after the full
    # k^3-per-basket explosion; pushing the item filter into each leg
    # prunes the explosion at the scan.  Counts are unchanged — every
    # basket row contributing to a pruned triple has all three items
    # in the candidate-item set by construction.
    citems = pruned.select(
        F.explode(F.array("pa", "pb", "pc")).alias("item")
    ).distinct()
    fitems = items.join(F.broadcast(citems), "item", "left_semi")
    ia = fitems.select(F.col("basket"), F.col("item").alias("pa"))
    ib = fitems.select(F.col("basket"), F.col("item").alias("pb"))
    ic = fitems.select(F.col("basket"), F.col("item").alias("pc"))
    sup3 = (
        ia.join(ib, "basket")
        .join(ic, "basket")
        .filter((F.col("pa") < F.col("pb")) & (F.col("pb") < F.col("pc")))
        .join(
            pruned.select("pa", "pb", "pc"),
            ["pa", "pb", "pc"],
            "left_semi",
        )
        .groupBy("pa", "pb", "pc")
        .agg(F.count("*").cast("bigint").alias("sup3"))
    )
    out = pruned.join(sup3, ["pa", "pb", "pc"]).filter(
        F.col("sup3") >= _APRIORI_MINSUP
    )
    min_pair = F.least("s_ab", F.least("s_ac", "s_bc"))
    return out.select(
        "pa",
        "pb",
        "pc",
        "sup3",
        min_pair.alias("min_pair_sup"),
        (F.col("sup3") <= min_pair).alias("monotone"),
    )


@register(
    "qa37_window_funnel",
    oracle="""
        WITH s1 AS (
            SELECT user_id, min(epoch_us(ts)) AS t1
            FROM events WHERE event_type = 'view'
            GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, min(epoch_us(e.ts)) AS t2
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click'
              AND epoch_us(e.ts) > s1.t1
              AND epoch_us(e.ts) <= s1.t1 + 86400000000
            GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, min(epoch_us(e.ts)) AS t3
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'purchase'
              AND epoch_us(e.ts) > s2.t2
              AND epoch_us(e.ts) <= s1.t1 + 86400000000
            GROUP BY e.user_id
        ),
        levels AS (
            SELECT u.user_id,
                   CASE WHEN s3.user_id IS NOT NULL THEN 3
                        WHEN s2.user_id IS NOT NULL THEN 2
                        WHEN s1.user_id IS NOT NULL THEN 1
                        ELSE 0 END AS funnel_level,
                   s3.t3 - s1.t1 AS convert_us
            FROM (SELECT DISTINCT user_id FROM events) u
            LEFT JOIN s1 ON u.user_id = s1.user_id
            LEFT JOIN s2 ON u.user_id = s2.user_id
            LEFT JOIN s3 ON u.user_id = s3.user_id
        )
        SELECT funnel_level,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(convert_us) AS BIGINT) AS total_convert_us
        FROM levels
        GROUP BY funnel_level
    """,
    doc="Time-BOUNDED window funnel (the ClickHouse windowFunnel "
    "shape): view -> click -> purchase must all land within 24 h of "
    "the user's FIRST view, each stage strictly after the previous "
    "pick — q67's funnel checks order only; this one expires the "
    "window, which is what growth teams actually measure.  The "
    "greedy-earliest chain (t1 = first view; t2 = first qualifying "
    "click after t1; t3 = first qualifying purchase after t2) is the "
    "deterministic variant: each stage is ONE conditional min "
    "aggregate keyed by user plus one equi-join back — no per-user "
    "sequence scan, no UDAF state machine.  Strict > at every hop "
    "keeps same-microsecond ties engine-portable; all arithmetic is "
    "integer micros and the level-3 conversion mass sums exactly.  "
    "Scale: three user-keyed aggregates + three user-keyed "
    "broadcast-able joins — the stage tables shrink monotonically, "
    "so at 100 TB every join after stage 1 broadcasts.",
)
def qa37_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
    )
    day_us = F.lit(86400000000).cast("long")
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(F.broadcast(s1), "user_id")
        .filter((F.col("t_us") > F.col("t1")) & (F.col("t_us") <= F.col("t1") + day_us))
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(s2), "user_id")
        .join(F.broadcast(s1), "user_id")
        .filter((F.col("t_us") > F.col("t2")) & (F.col("t_us") <= F.col("t1") + day_us))
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t3"))
    )
    users = e.select("user_id").distinct()
    levels = (
        users.join(s1, "user_id", "left")
        .join(s2.select("user_id", F.lit(1).alias("has2")), "user_id", "left")
        .join(s3.select("user_id", "t3"), "user_id", "left")
        .select(
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("has2").isNotNull(), 2)
            .when(F.col("t1").isNotNull(), 1)
            .otherwise(0)
            .alias("funnel_level"),
            (F.col("t3") - F.col("t1")).alias("convert_us"),
        )
    )
    return levels.groupBy("funnel_level").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("convert_us").cast("bigint").alias("total_convert_us"),
    )


@register(
    "qa39_abc_classification",
    oracle="""
        WITH rev AS (
            SELECT p.p_brand, p.p_partkey,
                   sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                  * 100, 0) AS BIGINT)) AS cents
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand, p.p_partkey
        ),
        ranked AS (
            SELECT p_brand, cents,
                   sum(cents) OVER (
                       PARTITION BY p_brand
                       ORDER BY cents DESC, p_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum,
                   sum(cents) OVER (PARTITION BY p_brand) AS tot
            FROM rev
        ),
        classed AS (
            SELECT p_brand, cents, tot,
                   CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                        WHEN cum * 100 <= tot * 95 THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM ranked
        )
        SELECT p_brand, abc_class,
               CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(cents) AS BIGINT) AS class_cents,
               round(sum(cents) * 1.0 / max(tot), 6) AS revenue_share
        FROM classed
        GROUP BY p_brand, abc_class
    """,
    doc="ABC (Pareto-class) inventory classification per brand: parts "
    "ranked by exact-cents revenue within their brand, running "
    "cumulative share assigns A (first 80%% of brand revenue), B "
    "(to 95%%), C (tail) — the qa25 concentration index says HOW "
    "skewed a brand is, this says WHICH parts carry it, which is the "
    "actionable output (A-parts get safety stock, C-parts get "
    "rationalized).  Class boundaries are integer cross-"
    "multiplications (cum*100 <= tot*80), never a float share "
    "compare, so boundary parts classify identically cross-engine; "
    "the one division per output row happens after grouping.  "
    "Scale: revenue rollup shuffles by (brand, part) with map-side "
    "combine; the ranking window partitions by brand (25 here, "
    "bounded dimension at any sf) — no global sort anywhere.",
)
def qa39_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    rev = (
        l.join(F.broadcast(p.select("p_partkey", "p_brand")),
               l["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_partkey")
        .agg(F.sum(cents).alias("cents"))
    )
    w_cum = (
        W.partitionBy("p_brand")
        .orderBy(F.col("cents").desc(), "p_partkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_tot = W.partitionBy("p_brand")
    ranked = rev.select(
        "p_brand",
        "cents",
        F.sum("cents").over(w_cum).alias("cum"),
        F.sum("cents").over(w_tot).alias("tot"),
    )
    classed = ranked.select(
        "p_brand",
        "cents",
        "tot",
        F.when(F.col("cum") * 100 <= F.col("tot") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return classed.groupBy("p_brand", "abc_class").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.sum("cents").cast("bigint").alias("class_cents"),
        F.round(F.sum("cents") * 1.0 / F.max("tot"), 6).alias("revenue_share"),
    )


@register(
    "qa41_demand_trend_topk",
    oracle="""
        WITH weekly AS (
            SELECT l.l_partkey AS pk,
                   CAST(floor(datediff('day', DATE '1995-01-01',
                                       CAST(o.o_orderdate AS DATE)) / 7.0)
                        AS BIGINT) AS wk,
                   sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                  * 100, 0) AS BIGINT)) AS cents
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY pk, wk
        ),
        sums AS (
            SELECT pk,
                   count(*) AS n,
                   sum(wk) AS sx,
                   sum(cents) AS sy,
                   sum(wk * cents) AS sxy,
                   sum(wk * wk) AS sxx
            FROM weekly GROUP BY pk
        )
        SELECT pk AS p_partkey,
               CAST(n AS BIGINT) AS n_weeks,
               round((n * sxy - sx * sy) * 1.0
                     / (n * sxx - sx * sx), 6) AS slope_cents_per_week
        FROM sums
        WHERE n >= 2 AND n * sxx - sx * sx > 0
        ORDER BY (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) DESC,
                 pk
        LIMIT 20
    """,
    doc="Demand-trend TOP MOVERS: per-part weekly revenue series fit "
    "with a closed-form OLS slope, top-20 fastest-growing parts — "
    "the velocity screen merchandising runs weekly.  The slope is "
    "assembled from EXACT integer sums (week index as integer days "
    "since a fixed epoch // 7, revenue in cents; n/sx/sy/sxy/sxx all "
    "BIGINT) with exactly ONE IEEE division per part, so both "
    "engines produce bit-identical doubles and the TakeOrdered(20) "
    "head is deterministic, with p_partkey breaking exact ties — "
    "unlike regr_slope, whose internal double accumulation is "
    "partial-order-dependent (the qd45 lesson applied to ranking).  "
    "Degenerate series (one week, zero week-variance) are excluded "
    "by an integer guard, not a NaN filter.  Scale: one (part, week) "
    "rollup with map-side combine, one per-part fold, TakeOrdered — "
    "no window, no sort of the full relation.",
)
def qa41_demand_trend_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    weekly = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("l_partkey").alias("pk"),
            F.floor(
                F.datediff(
                    F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
                )
                / 7
            )
            .cast("long")
            .alias("wk"),
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
            )
            .cast("long")
            .alias("row_cents"),
        )
        .groupBy("pk", "wk")
        .agg(F.sum("row_cents").alias("cents"))
    )
    sums = weekly.groupBy("pk").agg(
        F.count("*").alias("n"),
        F.sum("wk").alias("sx"),
        F.sum("cents").alias("sy"),
        F.sum(F.col("wk") * F.col("cents")).alias("sxy"),
        F.sum(F.col("wk") * F.col("wk")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num * 1.0 / den
    return (
        sums.filter((F.col("n") >= 2) & (den > 0))
        .select(
            F.col("pk").alias("p_partkey"),
            F.col("n").cast("bigint").alias("n_weeks"),
            F.round(slope, 6).alias("slope_cents_per_week"),
            slope.alias("_ord"),
        )
        .orderBy(F.col("_ord").desc(), "p_partkey")
        .limit(20)
        .drop("_ord")
    )


@register(
    "qa42_mix_rate_decomposition",
    oracle="""
        WITH base AS (
            SELECT c.c_mktsegment AS seg,
                   year(o.o_orderdate) AS yr,
                   count(*) AS n,
                   sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
                       AS cents
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE year(o.o_orderdate) IN (1996, 1997)
            GROUP BY seg, yr
        ),
        wide AS (
            SELECT seg,
                   CAST(sum(CASE WHEN yr = 1996 THEN n ELSE 0 END)
                        AS BIGINT) AS n1,
                   CAST(sum(CASE WHEN yr = 1996 THEN cents ELSE 0 END)
                        AS BIGINT) AS c1,
                   CAST(sum(CASE WHEN yr = 1997 THEN n ELSE 0 END)
                        AS BIGINT) AS n2,
                   CAST(sum(CASE WHEN yr = 1997 THEN cents ELSE 0 END)
                        AS BIGINT) AS c2
            FROM base GROUP BY seg
        )
        SELECT seg, n1, c1, n2, c2,
               CAST(c2 - c1 AS BIGINT) AS delta_cents,
               CASE WHEN n1 = 0 THEN NULL
                    ELSE round((n2 - n1) * (c1 * 1.0 / n1), 2)
               END AS volume_effect,
               CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
                    ELSE round(n1 * (c2 * 1.0 / n2 - c1 * 1.0 / n1), 2)
               END AS rate_effect,
               CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
                    ELSE round((n2 - n1)
                               * (c2 * 1.0 / n2 - c1 * 1.0 / n1), 2)
               END AS interaction_effect
        FROM wide
    """,
    doc="Volume/rate/mix DECOMPOSITION (the Laspeyres bridge every "
    "revenue dashboard eventually needs): the year-over-year revenue "
    "delta per segment splits EXACTLY into volume effect "
    "(dN x avg1), rate effect (N1 x d_avg), and the interaction "
    "residual (dN x d_avg) — the three-term identity volume + rate "
    "+ interaction = delta holds to the cent by construction, which "
    "makes the decomposition itself auditable in-result (the qp11 "
    "law-in-plan convention).  Averages are formed by ONE division "
    "of exact integer cents/counts per term, so both engines emit "
    "identical doubles; degenerate segments (no 1996 or no 1997 "
    "orders) NULL-guard every rate term explicitly.  Scale: one "
    "(segment, year) rollup with map-side combine, then arithmetic "
    "on a |segments|-row table.",
)
def qa42_mix_rate_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               o["o_custkey"] == c["c_custkey"])
        .filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("cents"),
        )
    )
    wide = base.groupBy("seg").agg(
        F.sum(F.when(F.col("yr") == 1996, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("yr") == 1996, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("yr") == 1997, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.when(F.col("yr") == 1997, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    avg1 = F.col("c1") * 1.0 / F.col("n1")
    avg2 = F.col("c2") * 1.0 / F.col("n2")
    return wide.select(
        "seg",
        "n1",
        "c1",
        "n2",
        "c2",
        (F.col("c2") - F.col("c1")).cast("bigint").alias("delta_cents"),
        F.when(F.col("n1") == 0, F.lit(None).cast("double"))
        .otherwise(F.round((F.col("n2") - F.col("n1")) * avg1, 2))
        .alias("volume_effect"),
        F.when(
            (F.col("n1") == 0) | (F.col("n2") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(F.round(F.col("n1") * (avg2 - avg1), 2))
        .alias("rate_effect"),
        F.when(
            (F.col("n1") == 0) | (F.col("n2") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(F.round((F.col("n2") - F.col("n1")) * (avg2 - avg1), 2))
        .alias("interaction_effect"),
    )


@register(
    "qa43_growth_accounting",
    oracle="""
        WITH weekly AS (
            SELECT DISTINCT user_id,
                   CAST(floor(datediff('day', DATE '2024-01-01',
                                       CAST(ts AS DATE)) / 7.0)
                        AS BIGINT) AS wk
            FROM events
        ),
        flagged AS (
            SELECT user_id, wk,
                   lag(wk) OVER (PARTITION BY user_id ORDER BY wk)
                       AS prev_wk
            FROM weekly
        ),
        classified AS (
            SELECT wk,
                   CASE WHEN prev_wk IS NULL THEN 'new'
                        WHEN prev_wk = wk - 1 THEN 'retained'
                        ELSE 'resurrected' END AS status
            FROM flagged
        ),
        churned AS (
            SELECT wk + 1 AS wk, count(*) AS n_churned
            FROM flagged f
            WHERE NOT EXISTS (
                SELECT 1 FROM weekly w
                WHERE w.user_id = f.user_id AND w.wk = f.wk + 1
            )
            GROUP BY wk + 1
        ),
        actives AS (
            SELECT wk,
                   CAST(count(*) AS BIGINT) AS n_active,
                   CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_new,
                   CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_retained,
                   CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0
                            END) AS BIGINT) AS n_resurrected
            FROM classified GROUP BY wk
        )
        SELECT a.wk,
               a.n_active, a.n_new, a.n_retained, a.n_resurrected,
               CAST(coalesce(c.n_churned, 0) AS BIGINT) AS n_churned_out
        FROM actives a
        LEFT JOIN churned c ON a.wk = c.wk
    """,
    doc="GROWTH ACCOUNTING (the new/retained/resurrected/churned MAU "
    "decomposition every growth team reports): per week, each active "
    "user is classified by their previous active week — never seen "
    "(new), active last week (retained), active before but lapsed "
    "(resurrected) — and churn-out counts users active in week w but "
    "absent in w+1, attributed to w+1 (the week the loss is felt).  "
    "The identity active(w) = new + retained + resurrected holds by "
    "construction, and retained(w+1) = active(w) - churned_out(w+1) "
    "up to resurrection — the cross-checks that make the table "
    "trustworthy.  Week keys are integer days-since-epoch // 7 (the "
    "qd51 calendar-dialect sidestep); everything is exact integers.  "
    "Scale: one distinct (user, week) rollup, one per-user lag "
    "window, one anti-join-shaped churn pass — all keyed by user, "
    "AQE-splittable.",
)
def qa43_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    weekly = e.select(
        "user_id",
        F.floor(
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            / 7
        )
        .cast("long")
        .alias("wk"),
    ).distinct()
    flagged = weekly.select(
        "user_id",
        "wk",
        F.lag("wk").over(W.partitionBy("user_id").orderBy("wk")).alias(
            "prev_wk"
        ),
    )
    classified = flagged.select(
        "wk",
        F.when(F.col("prev_wk").isNull(), "new")
        .when(F.col("prev_wk") == F.col("wk") - 1, "retained")
        .otherwise("resurrected")
        .alias("status"),
    )
    nxt = weekly.select(
        F.col("user_id").alias("u2"), (F.col("wk") - 1).alias("wk_prev")
    )
    churned = (
        flagged.join(
            nxt,
            (F.col("user_id") == F.col("u2"))
            & (F.col("wk") == F.col("wk_prev")),
            "left_anti",
        )
        .groupBy((F.col("wk") + 1).alias("wk"))
        .agg(F.count("*").alias("n_churned"))
    )
    actives = classified.groupBy("wk").agg(
        F.count("*").cast("bigint").alias("n_active"),
        F.sum(F.when(F.col("status") == "new", 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(F.col("status") == "retained", 1).otherwise(0))
        .cast("bigint")
        .alias("n_retained"),
        F.sum(F.when(F.col("status") == "resurrected", 1).otherwise(0))
        .cast("bigint")
        .alias("n_resurrected"),
    )
    return actives.join(F.broadcast(churned), "wk", "left").select(
        "wk",
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.coalesce("n_churned", F.lit(0)).cast("bigint").alias(
            "n_churned_out"
        ),
    )


@register(
    "qa45_duplicate_lineitem_screen",
    oracle="""
        WITH l AS (
            SELECT l_orderkey, l_partkey, l_linenumber,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                   CAST(round(l_quantity) AS BIGINT) AS qty
            FROM lineitem
        )
        SELECT a.l_orderkey,
               a.l_partkey,
               a.l_linenumber AS line_1,
               b.l_linenumber AS line_2,
               a.cents AS cents_1,
               b.cents AS cents_2,
               a.cents = b.cents AS same_amount,
               b.qty - a.qty AS qty_delta
        FROM l a JOIN l b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey = b.l_partkey
         AND a.l_linenumber < b.l_linenumber
    """,
    doc="DUPLICATE LINE-ITEM SCREEN — the accounts-payable audit every "
    "controller runs: the same part billed MORE THAN ONCE on one "
    "order is either a double-entry, a retry bug, or a split line "
    "that inflates the invoice; each pair surfaces both line "
    "numbers, both exact-cents amounts, the same_amount flag (the "
    "smoking gun: identical amount = near-certain double entry; "
    "different amounts = a price-changed resubmission) and the "
    "quantity delta.  Amounts compare in exact cents (never float "
    "equality); pairs are canonical (line_1 < line_2, each once).  "
    "Scale: the self-join is an EQUI-join blocked on (order, part) — "
    "candidate pairs only form inside one order's lines, the "
    "multiplicity qd54's preflight would report as tiny and flat; "
    "at 100 TB it shuffles on the composite key like any fact join.",
)
def qa45_duplicate_lineitem_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.round(F.col("l_quantity")).cast("bigint").alias("qty"),
    )
    a = l.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").alias("pk"),
        F.col("l_linenumber").alias("line_1"),
        F.col("cents").alias("cents_1"),
        F.col("qty").alias("q1"),
    )
    b = l.select(
        F.col("l_orderkey").alias("ok2"),
        F.col("l_partkey").alias("pk2"),
        F.col("l_linenumber").alias("line_2"),
        F.col("cents").alias("cents_2"),
        F.col("qty").alias("q2"),
    )
    return a.join(
        b,
        (F.col("ok") == F.col("ok2"))
        & (F.col("pk") == F.col("pk2"))
        & (F.col("line_1") < F.col("line_2")),
    ).select(
        F.col("ok").alias("l_orderkey"),
        F.col("pk").alias("l_partkey"),
        "line_1",
        "line_2",
        "cents_1",
        "cents_2",
        (F.col("cents_1") == F.col("cents_2")).alias("same_amount"),
        (F.col("q2") - F.col("q1")).alias("qty_delta"),
    )


@register(
    "qa46_pareto_frontier",
    oracle="""
        WITH p AS (
            SELECT p_partkey, p_brand,
                   CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
                   CAST(p_size AS BIGINT) AS size
            FROM part
        )
        SELECT a.p_brand, a.p_partkey, a.cents, a.size
        FROM p a
        WHERE NOT EXISTS (
            SELECT 1 FROM p b
            WHERE b.p_brand = a.p_brand
              AND b.cents <= a.cents AND b.size <= a.size
              AND (b.cents < a.cents OR b.size < a.size)
        )
    """,
    doc="SKYLINE / PARETO-FRONTIER operator (Borzsony-Kossmann-Stocker "
    "2001) — the multi-criteria shortlist no single ORDER BY can "
    "produce: per brand, keep every part NOT DOMINATED on (price "
    "low, size low); a part survives iff no same-brand part is <= on "
    "both dimensions and < on at least one.  The Spark plan is the "
    "O(n log n) sort-based skyline, NOT the quadratic NOT-EXISTS the "
    "oracle uses: sorted by price within brand, a part survives iff "
    "the running MIN size over STRICTLY CHEAPER rows (RANGE frame "
    "ending at -1 — tie rows excluded by value, not position) "
    "doesn't reach its size, and no equal-price twin is strictly "
    "smaller (min over the (brand, price) group) — equal-(price, "
    "size) twins all survive (no strict edge), the tie the RANGE/"
    "ROWS distinction exists for.  Exact cents and integer sizes.  "
    "Scale: one partitioned window pass per criterion vs the "
    "oracle's O(n^2) — the skyline of a 10^9-row catalog costs one "
    "sort-shuffle; the brute force never finishes.",
)
def qa46_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Thin binding over api.pareto_frontier (the sort-based skyline
    # kernel lives in ONE place; this query is its oracle-proven twin).
    from .. import api

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    return api.pareto_frontier(p, "p_brand", ["cents", "size"]).select(
        "p_brand", "p_partkey", "cents", "size"
    )


@register(
    "qa47_abc_xyz_matrix",
    oracle="""
        WITH li AS (
            SELECT p.p_brand,
                   CAST(floor(datediff('day', DATE '1995-01-01',
                                       CAST(l.l_shipdate AS DATE)) / 7.0)
                        AS BIGINT) AS wk,
                   CAST(round(l.l_quantity) AS BIGINT) AS qty,
                   CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        ),
        spine AS (
            SELECT b.p_brand, w.wk
            FROM (SELECT DISTINCT p_brand FROM li) b
            CROSS JOIN (SELECT DISTINCT wk FROM li) w
        ),
        weekly AS (
            SELECT s.p_brand, s.wk,
                   CAST(coalesce(sum(l.qty), 0) AS BIGINT) AS q
            FROM spine s
            LEFT JOIN li l ON l.p_brand = s.p_brand AND l.wk = s.wk
            GROUP BY s.p_brand, s.wk
        ),
        stats AS (
            SELECT p_brand,
                   CAST(count(*) AS BIGINT) AS w,
                   CAST(sum(q) AS BIGINT) AS s,
                   CAST(sum(q * q) AS BIGINT) AS ss
            FROM weekly GROUP BY p_brand
        ),
        rev AS (
            SELECT p_brand, CAST(sum(cents) AS BIGINT) AS cents
            FROM li GROUP BY p_brand
        ),
        ranked AS (
            SELECT r.p_brand, r.cents,
                   sum(r.cents) OVER (ORDER BY r.cents DESC, r.p_brand)
                       AS cum_cents,
                   sum(r.cents) OVER () AS tot_cents
            FROM rev r
        )
        SELECT k.p_brand,
               k.cents AS revenue_cents,
               CASE WHEN k.cum_cents * 100 <= k.tot_cents * 80 THEN 'A'
                    WHEN k.cum_cents * 100 <= k.tot_cents * 95 THEN 'B'
                    ELSE 'C' END AS abc_class,
               round(sqrt((t.w * t.ss - t.s * t.s) * 1.0
                          / (t.w * (t.w - 1)))
                     / (t.s * 1.0 / t.w), 6) AS cv,
               CASE WHEN round(sqrt((t.w * t.ss - t.s * t.s) * 1.0
                                    / (t.w * (t.w - 1)))
                               / (t.s * 1.0 / t.w), 6) < 0.5 THEN 'X'
                    WHEN round(sqrt((t.w * t.ss - t.s * t.s) * 1.0
                                    / (t.w * (t.w - 1)))
                               / (t.s * 1.0 / t.w), 6) < 1.0 THEN 'Y'
                    ELSE 'Z' END AS xyz_class
        FROM ranked k JOIN stats t ON k.p_brand = t.p_brand
    """,
    doc="ABC-XYZ PLANNING MATRIX — the two-axis classification every "
    "inventory/demand planner starts from: ABC by cumulative revenue "
    "share (A = brands covering the first 80% of cents, B to 95%, C "
    "the tail — INTEGER boundary gates cum*100 <= tot*80, the qa39 "
    "convention, so no float ever decides a class) crossed with XYZ "
    "by demand variability (coefficient of variation of ZERO-FILLED "
    "weekly quantity — skipping empty weeks understates variance, "
    "the classic mistake; X < 0.5 <= Y < 1.0 <= Z, classified on the "
    "6dp-ROUNDED cv so the class can never straddle a ULP).  AX "
    "items run on autopilot, CZ items are make-to-order.  Week "
    "buckets FLOOR days/7 on BOTH engines (DuckDB integer // "
    "truncates toward zero, so it is floor(x/7.0) in the oracle — "
    "round-8 advice: the two only agreed because fixture dates never "
    "precede the 1995-01-01 anchor).  Variance "
    "numerators are exact integers (W*SS - S^2).  Scale: one "
    "(brand, week) rollup, a bounded 25-brand x ~350-week zero-fill "
    "spine, one 25-row revenue window (bounded dimension, the qa30 "
    "class).",
)
def qa47_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "part").select(
                    "p_partkey", "p_brand"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            "p_brand",
            F.floor(
                F.datediff(
                    F.col("l_shipdate").cast("date"),
                    F.lit("1995-01-01").cast("date"),
                )
                / 7
            )
            .cast("bigint")
            .alias("wk"),
            F.round("l_quantity").cast("bigint").alias("qty"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
    )
    brands = li.select("p_brand").distinct()
    weeks = li.select("wk").distinct()
    # broadcast the week spine: a 25 x ~350 dimension grid must plan as
    # BroadcastNestedLoopJoin, never CartesianProduct (plan-swept).
    spine = brands.crossJoin(F.broadcast(weeks))
    weekly = (
        spine.join(li.select("p_brand", "wk", "qty"), ["p_brand", "wk"], "left")
        .groupBy("p_brand", "wk")
        .agg(F.coalesce(F.sum("qty"), F.lit(0)).cast("bigint").alias("q"))
    )
    stats = weekly.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("w"),
        F.sum("q").cast("bigint").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("ss"),
    )
    rev = li.groupBy("p_brand").agg(
        F.sum("cents").cast("bigint").alias("cents")
    )
    wcum = W.orderBy(F.col("cents").desc(), F.col("p_brand")).rowsBetween(
        W.unboundedPreceding, 0
    )
    ranked = rev.select(
        "p_brand",
        "cents",
        F.sum("cents").over(wcum).alias("cum_cents"),
        F.sum("cents").over(W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("tot_cents"),
    )
    cv = F.round(
        F.sqrt(
            (F.col("w") * F.col("ss") - F.col("s") * F.col("s"))
            * 1.0
            / (F.col("w") * (F.col("w") - 1))
        )
        / (F.col("s") * 1.0 / F.col("w")),
        6,
    )
    return ranked.join(stats, "p_brand").select(
        "p_brand",
        F.col("cents").alias("revenue_cents"),
        F.when(
            F.col("cum_cents") * 100 <= F.col("tot_cents") * 80, "A"
        )
        .when(F.col("cum_cents") * 100 <= F.col("tot_cents") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        cv.alias("cv"),
        F.when(cv < 0.5, "X").when(cv < 1.0, "Y").otherwise("Z").alias(
            "xyz_class"
        ),
    )
