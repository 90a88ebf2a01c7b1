"""Subquery operators through the SQL surface: scalar subqueries,
IN-subqueries, correlated EXISTS — exercising Catalyst's decorrelation
rewrites (SURVEY.md §4: RewriteCorrelatedScalarSubquery, exists→semi).

These run via spark.sql over the registered temp views so the SQL parser
path of the engine is covered alongside the DataFrame path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..session import scoped_conf
from ..sources import register_views


@register(
    "q18_scalar_subquery",
    oracle="""
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
        FROM orders
        WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
    """,
    doc="Uncorrelated scalar subquery (global average) — planned as a "
    "broadcast scalar, single pass over orders.",
)
def q18_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
        FROM orders
        WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
        """
    )


@register(
    "q19_in_subquery",
    oracle="""
        SELECT c_custkey, c_name, c_nationkey
        FROM customer
        WHERE c_nationkey IN (
            SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
        )
    """,
    doc="IN-subquery — Catalyst rewrites to a left-semi join (no "
    "driver-side collect of the inner set).",
)
def q19_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_nationkey
        FROM customer
        WHERE c_nationkey IN (
            SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
        )
        """
    )


@register(
    "q19b_correlated_exists",
    oracle="""
        SELECT s_suppkey, s_name
        FROM supplier s
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49
        )
    """,
    doc="Correlated EXISTS — decorrelated by Catalyst into a semi-join on "
    "the correlation key.",
)
def q19b_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier s
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49
        )
        """
    )


@register(
    "q38_recursive_month_spine",
    oracle="""
        WITH RECURSIVE spine(m) AS (
            SELECT TIMESTAMP '1995-01-01 00:00:00'
            UNION ALL
            SELECT m + INTERVAL 1 MONTH FROM spine
            WHERE m < TIMESTAMP '2001-07-01 00:00:00'
        ), monthly AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS month_rev
            FROM orders
            GROUP BY 1
        )
        SELECT s.m AS month_start,
               coalesce(mo.n_orders, 0) AS n_orders,
               coalesce(mo.month_rev, 0.0) AS month_rev
        FROM spine s
        LEFT JOIN monthly mo ON mo.m = s.m
        ORDER BY s.m
    """,
    doc="Spark 4 recursive CTE (WITH RECURSIVE, UNION ALL anchor + "
    "step): generate the complete month spine of the order-date domain "
    "and left-join monthly order aggregates, so zero-order months "
    "surface as explicit rows — the gap-revealing calendar join of any "
    "reporting pipeline (q68's gap-fill twin, declared in pure SQL).  "
    "The spine is driver-tiny (80 rows); the fact aggregates once.  "
    "Cyclic recursion (UNION distinct) is NOT yet in Spark "
    "(UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE) — that is why near-dup "
    "components (q74b) stay an iterative DataFrame loop.",
)
def q38_recursive_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE spine(m) AS (
            SELECT TIMESTAMP_NTZ '1995-01-01 00:00:00'
            UNION ALL
            SELECT m + INTERVAL 1 MONTH FROM spine
            WHERE m < TIMESTAMP_NTZ '2001-07-01 00:00:00'
        ), monthly AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS month_rev
            FROM orders
            GROUP BY 1
        )
        SELECT s.m AS month_start,
               coalesce(mo.n_orders, 0) AS n_orders,
               coalesce(mo.month_rev, 0.0) AS month_rev
        FROM spine s
        LEFT JOIN monthly mo ON mo.m = s.m
        ORDER BY s.m
        """
    )


@register(
    "q59_lateral_topk",
    oracle="""
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n,
        LATERAL (
            SELECT c_name, c_acctbal
            FROM customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name ASC
            LIMIT 2
        ) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_name ASC
    """,
    doc="Correlated LATERAL subquery join (SQL:2016 lateral derived "
    "table): per nation, the top-2 customers by balance — the "
    "declarative twin of the q40 window top-k.  Catalyst decorrelates "
    "the LATERAL into a join + per-key limit; the fixture keeps both "
    "the outer (25 rows) and the per-key sort bounded.",
)
def q59_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n,
        LATERAL (
            SELECT c_name, c_acctbal
            FROM customer
            WHERE c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name ASC
            LIMIT 2
        ) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_name ASC
        """
    )


@register(
    "q39_pipe_syntax",
    oracle="""
        SELECT l_returnflag,
               count(*) AS n_lines,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    doc="SQL pipe syntax (Spark 4, SQL:2023-style |> operators): the "
    "linear FROM |> WHERE |> AGGREGATE ... GROUP BY |> ORDER BY form — "
    "reads top-down like a DataFrame chain, compiles to the identical "
    "Catalyst plan as the nested SELECT (the oracle is that plain "
    "form).  Pipe SQL is the migration bridge for users coming from "
    "the reference's fluent query API.",
)
def q39_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00'
        |> AGGREGATE count(*) AS n_lines,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
           GROUP BY l_returnflag
        |> ORDER BY l_returnflag
        """
    )


@register(
    "q18b_parameterized_sql",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_totalprice > 150000.0
        GROUP BY o_orderpriority
    """,
    doc="Parameterized spark.sql (Spark 3.4+ named arguments): the "
    "query text carries :cutoff / :floor placeholders and values bind "
    "server-side as literals — injection-safe templating that still "
    "constant-folds into pushed-down predicates exactly like inlined "
    "literals (no prepare/execute round trip, no plan-cache keying "
    "problem: each binding plans fresh and Catalyst sees real "
    "constants).  The parametrization surface a query service exposes "
    "over a 100 TB warehouse.",
)
def q18b_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        WHERE o_orderdate >= :cutoff AND o_totalprice > :floor
        GROUP BY o_orderpriority
        """,
        args={"cutoff": "1997-01-01 00:00:00", "floor": 150000.0},
    )


@register(
    "q18c_identifier_clause",
    oracle="""
        SELECT l_returnflag,
               count(*) AS n,
               round(sum(l_quantity), 2) AS total_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Spark 4 IDENTIFIER() clause: table AND column names arrive as "
    "bound parameters (IDENTIFIER(:tbl) / IDENTIFIER(:col)) instead of "
    "string-concatenated SQL — the injection-safe way to template "
    "object names, completing q18b's value-parameter surface.  "
    "Identifier binding happens at parse time, so the plan is "
    "identical to the literal query (same pushdown, same agg) — "
    "templating costs nothing at any scale.",
)
def q18c_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n,
               round(sum(IDENTIFIER(:col)), 2) AS total_qty
        FROM IDENTIFIER(:tbl)
        GROUP BY l_returnflag
        """,
        args={"tbl": "lineitem", "col": "l_quantity"},
    )


@register(
    "q18d_sql_scripting",
    oracle="""
        WITH c AS (SELECT max(o_totalprice) AS m FROM orders)
        SELECT o_orderpriority,
               count(*) AS n_above,
               CAST(512 AS INT) AS loop_k
        FROM orders CROSS JOIN c
        WHERE o_totalprice > c.m / 2
        GROUP BY o_orderpriority
    """,
    doc="SQL SCRIPTING (Spark 4 BEGIN...END compound statements — the "
    "ANSI/PSM-style procedural layer): a script DECLAREs session "
    "variables, binds one from a scalar subquery (the max order "
    "price — an order-free EXACT aggregate, so the downstream row "
    "gate cannot be summation-order luck), runs a WHILE loop "
    "(doubling k to 512 — control flow the oracle replays as a "
    "literal), and the final SELECT filters orders above half the "
    "max using the variable.  The script's last statement is the "
    "result set, exactly the migration target for warehouse stored "
    "procedures.  Scale: scripting is driver-side control flow over "
    "ordinary distributed statements — each inner SELECT plans/ "
    "executes like any other query; variables are scalar broadcast "
    "state, never data-sized.",
)
def q18d_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    with scoped_conf(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
            BEGIN
              DECLARE cutoff DOUBLE;
              DECLARE k INT DEFAULT 1;
              SET cutoff = (SELECT max(o_totalprice) FROM orders);
              WHILE k * 2 <= 1000 DO
                SET k = k * 2;
              END WHILE;
              SELECT o_orderpriority,
                     count(*) AS n_above,
                     k AS loop_k
              FROM orders
              WHERE o_totalprice > cutoff / 2
              GROUP BY o_orderpriority;
            END
            """
        )


@register(
    "q19d_not_in_null_semantics",
    oracle="""
        WITH with_null AS (
            SELECT count(*) AS n FROM customer
            WHERE c_nationkey NOT IN (
                SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000
                UNION ALL SELECT NULL
            )
        ),
        null_guarded AS (
            SELECT count(*) AS n FROM customer
            WHERE c_nationkey NOT IN (
                SELECT s_nationkey FROM supplier
                WHERE s_acctbal > 9000 AND s_nationkey IS NOT NULL
            )
        )
        SELECT CAST(w.n AS BIGINT) AS n_with_null_in_set,
               CAST(g.n AS BIGINT) AS n_null_guarded
        FROM with_null w, null_guarded g
    """,
    doc="NOT IN three-valued-logic semantics — the classic SQL trap "
    "pinned cross-engine: a NULL anywhere in the NOT IN subquery makes "
    "every comparison UNKNOWN, so the predicate keeps ZERO rows "
    "(n_with_null_in_set = 0 by the standard, not by luck), while the "
    "IS NOT NULL-guarded twin returns the real anti-join count.  "
    "Catalyst plans NOT IN as a null-aware anti join "
    "(BroadcastNestedLoopJoin for the null-aware case) — this query "
    "documents WHY engines need that special join and pins that both "
    "engines implement the standard identically.  Scale: the guarded "
    "form is the one to write at 100 TB — it plans as a plain "
    "broadcast anti join; the unguarded form's null-aware join is the "
    "price of the trap.",
)
def q19d_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH with_null AS (
            SELECT count(*) AS n FROM customer
            WHERE c_nationkey NOT IN (
                SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000
                UNION ALL SELECT NULL
            )
        ),
        null_guarded AS (
            SELECT count(*) AS n FROM customer
            WHERE c_nationkey NOT IN (
                SELECT s_nationkey FROM supplier
                WHERE s_acctbal > 9000 AND s_nationkey IS NOT NULL
            )
        )
        SELECT CAST(w.n AS BIGINT) AS n_with_null_in_set,
               CAST(g.n AS BIGINT) AS n_null_guarded
        FROM with_null w, null_guarded g
        """
    )


@register(
    "q18e_lateral_column_alias",
    oracle="""
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(round(o_totalprice * 100) AS BIGINT)
                   - CAST(round(o_totalprice * 100) AS BIGINT) % 100
                   AS whole_dollars_cents,
               (CAST(round(o_totalprice * 100) AS BIGINT)
                   - CAST(round(o_totalprice * 100) AS BIGINT) % 100)
                   / 100 AS dollars
        FROM orders
        WHERE o_orderkey % 997 = 0
    """,
    doc="LATERAL COLUMN ALIAS chain (Spark 3.4+ SQL surface): a SELECT "
    "item references an alias defined EARLIER IN THE SAME SELECT "
    "(cents -> whole_dollars_cents -> dollars), the ergonomic that "
    "kills the nested-subquery pyramid every derived-metrics query "
    "used to need.  Spark resolves the chain by inlining; the oracle "
    "writes the fully-inlined form, so the hash proves the inlining "
    "is exact (same integer arithmetic at every link).  DuckDB "
    "happens to support the same alias reuse natively — the ORACLE "
    "still uses the inlined form so it stays ANSI-portable.  Scale: "
    "map-side projection, codegen, pushdown intact.",
)
def q18e_lateral_column_alias(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               cents - cents % 100 AS whole_dollars_cents,
               whole_dollars_cents / 100 AS dollars
        FROM orders
        WHERE o_orderkey % 997 = 0
        """
    )
