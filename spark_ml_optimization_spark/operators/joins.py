"""Join operators: inner/outer/semi/anti/cross/theta + broadcast strategy.

SURVEY.md §2.3.  Strategy posture for 100 TB (SURVEY.md §4):
- dimension tables (region/nation/supplier) are broadcast explicitly —
  at cluster scale they stay far under autoBroadcastJoinThreshold, and the
  hint removes the planner's dependence on size stats;
- fact⋈fact joins (lineitem⋈orders) are left to Catalyst: sort-merge with
  AQE deciding partition coalescing and skew-splitting at runtime;
- semi/anti joins are expressed as join types (never IN-subquery collect),
  so they stay distributed and Catalyst can pick broadcast variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session import scoped_conf
from ..sources import load_table


@register(
    "q10_star_join_revenue",
    oracle="""
        SELECT
            r.r_name AS region_name,
            n.n_name AS nation_name,
            round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
            count(*) AS n_lines
        FROM lineitem l
        JOIN orders o    ON l.l_orderkey = o.o_orderkey
        JOIN customer c  ON o.o_custkey = c.c_custkey
        JOIN nation n    ON c.c_nationkey = n.n_nationkey
        JOIN region r    ON n.n_regionkey = r.r_regionkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY r.r_name, n.n_name
    """,
    doc="TPC-H-Q5-style star join: fact⋈fact sort-merge (lineitem⋈orders) "
    "then broadcast-hash against customer/nation/region dims.",
)
def q10_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q11_left_outer_join",
    oracle="""
        SELECT
            c.c_custkey,
            c.c_name,
            count(o.o_orderkey) AS n_orders,
            round(coalesce(sum(o.o_totalprice), 0.0), 2) AS total_spent
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey, c.c_name
    """,
    doc="Left outer join preserving customers with zero orders; "
    "count(col) skips nulls on both engines.",
)
def q11_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@register(
    "q12_right_outer_join",
    oracle="""
        SELECT
            n.n_name AS nation_name,
            count(s.s_suppkey) AS n_suppliers
        FROM supplier s
        RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """,
    doc="Right outer join: every nation kept even with no suppliers.",
)
def q12_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


@register(
    "q13_full_outer_join",
    oracle="""
        WITH cust AS (
            SELECT c_nationkey AS nationkey, count(*) AS n_customers
            FROM customer GROUP BY c_nationkey
        ), supp AS (
            SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
            FROM supplier GROUP BY s_nationkey
        )
        SELECT
            coalesce(cust.nationkey, supp.nationkey) AS nationkey,
            coalesce(n_customers, 0) AS n_customers,
            coalesce(n_suppliers, 0) AS n_suppliers
        FROM cust FULL OUTER JOIN supp ON cust.nationkey = supp.nationkey
    """,
    doc="Full outer join of two aggregates (customer vs supplier presence "
    "per nation).",
)
def q13_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    joined = cust.join(supp, "nationkey", "full")
    return joined.select(
        F.col("nationkey").cast("int").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


@register(
    "q14_semi_join",
    oracle="""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
        )
    """,
    doc="Left semi join (EXISTS): customers with at least one urgent order.",
)
def q14_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "q15_anti_join",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
        )
    """,
    doc="Left anti join (NOT EXISTS): customers with no finished order "
    "(non-empty at every fixture scale).",
)
def q15_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "q16_theta_self_join",
    oracle="""
        SELECT
            n1.n_name AS nation_a,
            n2.n_name AS nation_b,
            n1.n_regionkey AS regionkey
        FROM nation n1
        JOIN nation n2
          ON n1.n_regionkey = n2.n_regionkey
         AND n1.n_nationkey < n2.n_nationkey
    """,
    doc="Self join with theta predicate: unordered nation pairs sharing a "
    "region (equi part hash-joins; inequality applied as post-filter).",
)
def q16_theta_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    n1 = load_table(spark, sf_dir, "nation").alias("n1")
    n2 = load_table(spark, sf_dir, "nation").alias("n2")
    return n1.join(
        n2,
        (F.col("n1.n_regionkey") == F.col("n2.n_regionkey"))
        & (F.col("n1.n_nationkey") < F.col("n2.n_nationkey")),
    ).select(
        F.col("n1.n_name").alias("nation_a"),
        F.col("n2.n_name").alias("nation_b"),
        F.col("n1.n_regionkey").alias("regionkey"),
    )


@register(
    "q17_cross_join",
    oracle="""
        SELECT r.r_name AS region_name, s.seg AS segment
        FROM region r
        CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer) s
    """,
    doc="Cross join of two tiny relations (5 regions × 5 segments) — the "
    "only sanctioned cartesian in the engine; guarded to dim-sized inputs.",
)
def q17_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    segs = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg")
    ).distinct()
    return r.crossJoin(segs).select(
        F.col("r_name").alias("region_name"), F.col("seg").alias("segment")
    )


@register(
    "q17b_null_safe_join",
    oracle="""
        WITH c AS (
            SELECT c_custkey,
                   CASE WHEN c_acctbal < 0 THEN NULL ELSE c_mktsegment END AS seg
            FROM customer
        ),
        d AS (
            SELECT seg, count(*) AS seg_size FROM c GROUP BY seg
        )
        SELECT c.seg, min(d.seg_size) AS seg_size, count(*) AS n_joined
        FROM c JOIN d ON c.seg IS NOT DISTINCT FROM d.seg
        GROUP BY c.seg
    """,
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): customers "
    "with a NULL-able derived segment join their segment-size dim so the "
    "NULL group matches the NULL dim row — plain equi-join drops those "
    "rows silently.  Still a hash join (null-safe equality is a valid "
    "hash key), dim side broadcast.",
)
def q17b_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_mktsegment")).alias("seg"),
    )
    d = (
        c.groupBy("seg")
        .agg(F.count("*").alias("seg_size"))
        .withColumnRenamed("seg", "dim_seg")
    )
    return (
        c.join(F.broadcast(d), F.col("seg").eqNullSafe(F.col("dim_seg")))
        .groupBy("seg")
        .agg(F.min("seg_size").alias("seg_size"), F.count("*").alias("n_joined"))
    )


@register(
    "q48b_salted_join",
    oracle="""
        SELECT o.o_orderstatus,
               count(*) AS n_lines,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderstatus
        ORDER BY o.o_orderstatus
    """,
    doc="Skew-resistant salted join (api.salted_join): the orders side is "
    "replicated n_salts=8 ways, each lineitem row scattered to one "
    "replica by a deterministic row hash — a hot orderkey's rows land "
    "in 8 shuffle partitions instead of one straggler.  Result is "
    "bit-identical to the plain join (the oracle IS the plain join).  "
    "The fixture plants no hot keys, so this verifies semantics; the "
    "scale story is the operator shape, complementing AQE skew "
    "splitting for below-threshold skew.",
)
def q48b_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..api import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    joined = salted_join(li, o, "l_orderkey", "o_orderkey", n_salts=8)
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q10b_join_strategy_hints",
    oracle="""
        SELECT c.c_mktsegment,
               count(*) AS n_lines,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    """,
    doc="Explicit physical join-strategy control: the lineitem⋈orders "
    "fact-fact edge is pinned to SHUFFLE_HASH (build the smaller orders "
    "side as an in-memory hash map per partition — skips BOTH sort "
    "passes a sort-merge join would pay; right when one side is much "
    "smaller but too big to broadcast), and the ⋈customer edge to "
    "MERGE (sort-merge — right when both sides are huge or already "
    "sorted, spills gracefully).  Same answer as the unhinted plan — "
    "the hints move only the physical strategy, which "
    "tests/test_plans.py pins (ShuffledHashJoin + SortMergeJoin both "
    "present).  At 100 TB this is the knob for when AQE's "
    "stats-at-runtime choice needs overriding per edge.",
)
def q10b_join_strategy_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
        .join(c.hint("merge"), F.col("o_custkey") == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


@register(
    "q10c_bloom_filter_join",
    oracle="""
        SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS month,
               count(*) AS n_lines,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
                   / 100.0 AS revenue
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
        GROUP BY 1
    """,
    doc="RUNTIME BLOOM-FILTER join pruning (Spark's InjectRuntimeFilter, "
    "the row-level sibling of src08's dynamic partition pruning): a "
    "selective dimension-side predicate (urgent+finished orders) "
    "builds a bloom_filter_agg over the join keys at runtime, and the "
    "fact side evaluates bloom_filter_might_contain BEFORE the "
    "shuffle — at 100 TB this is the difference between shuffling "
    "every lineitem row and shuffling only the ~selectivity fraction "
    "that can possibly join.  The query forces the demonstration "
    "locally by dropping applicationSideScanSizeThreshold (default "
    "10 GB — sized for real clusters) and disabling auto-broadcast "
    "while the plan materializes, then RESTORES both confs (the qa22 "
    "rule); the physical plan is pinned in tests/test_plans.py.  "
    "Revenue is summed in exact integer cents (summation-order-proof); "
    "the join result itself is strategy-invariant, so the oracle is "
    "the plain join.",
)
def q10c_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "F")
    )
    l = load_table(spark, sf_dir, "lineitem")
    with scoped_conf(
        spark,
        {
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    ):
        cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
            "long"
        )
        df = (
            o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
            .agg(
                F.count("*").alias("n_lines"),
                (F.sum(cents) / 100.0).alias("revenue"),
            )
        )
        # Materialize the (lazy-val-cached) physical plan NOW, while the
        # bloom-filter thresholds are lowered — the returned DataFrame
        # keeps the runtime-filtered plan after the confs are restored.
        df._jdf.queryExecution().executedPlan()
        return df


@register(
    "q48c_aqe_skew_join",
    oracle="""
        WITH fact AS (
            SELECT CASE WHEN l_orderkey % 4 <> 0 THEN 1
                        ELSE l_orderkey END AS k,
                   l_extendedprice
            FROM lineitem
        )
        SELECT o_orderpriority,
               count(*) AS n_lines,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM fact JOIN orders ON k = o_orderkey
        GROUP BY o_orderpriority
    """,
    doc="AQE RUNTIME SKEW-JOIN SPLIT — the third member of the skew "
    "toolkit (qd15 detects, q48/q48b salt proactively, this one lets "
    "the engine re-plan REACTIVELY): a synthetic hot key collapses "
    "~75% of lineitem onto k=1, and with skew thresholds scaled to "
    "fixture size Spark's OptimizeSkewedJoin splits the hot reduce "
    "partition into mapper-granular sub-reads, printing "
    "SortMergeJoin(skew=true) + 'AQEShuffleRead skewed' in the final "
    "adaptive plan (pinned in tests/test_plans.py, which sets the "
    "thresholds, executes, asserts, and restores).  Two load-bearing "
    "mechanics this query documents: (1) the fact side is spread to "
    "16 map tasks first — skew splitting works at MAPPER granularity, "
    "so a single-mapper shuffle (one 20 MB parquet file locally) can "
    "never split, the exact trap a 100 TB job avoids for free because "
    "its scans have thousands of mappers; (2) the result is "
    "strategy-invariant, so the oracle is the plain join and the "
    "hash proves split-vs-unsplit equivalence.  Money in exact cents.",
)
def q48c_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import spread

    fact = spread(
        load_table(spark, sf_dir, "lineitem").select(
            F.when(F.col("l_orderkey") % 4 != 0, F.lit(1))
            .otherwise(F.col("l_orderkey"))
            .alias("k"),
            "l_extendedprice",
        ),
        16,
    )
    dim = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    return (
        fact.join(dim, "k")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"),
        )
    )


#: q10d geometry: 16384-bit filter, 3 hash probes per key — sized for
#: the BENCH-scale build set (sf0.1 plants ~3k BUILDING customers;
#: k*n/ln2 ~ 13k bits is the textbook optimum, so 2^14 keeps the fill
#: fraction ~40% and the measured FPR in the realistic few-percent
#: band instead of saturating).  Every false positive is REPRODUCED
#: exactly by the oracle because the hash family is the deterministic
#: md5 ladder.
_BLOOM_M = 16384
_BLOOM_K = 3


def _bloom_u16(expr: str, row: str) -> str:
    """Engine-portable uniform 16-bit from md5(row:val) — the q28d
    instr digit-ladder convention (ml34's derandomization helper)."""
    h = f"md5({row} || ':' || CAST({expr} AS STRING))"
    parts = [
        f"(instr('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        f" * {16 ** (3 - i)}"
        for i in range(4)
    ]
    return "(" + " + ".join(parts) + ")"


@register(
    "q10d_bloom_prefilter_whitebox",
    oracle=f"""
        WITH members AS (
            SELECT DISTINCT c_custkey AS k FROM customer
            WHERE c_mktsegment = 'BUILDING'
        ),
        bits AS (
            SELECT DISTINCT
                   {_bloom_u16('m.k', 'CAST(j.j AS VARCHAR)')}
                       % {_BLOOM_M} AS bit
            FROM members m
            CROSS JOIN (SELECT unnest(generate_series(0, {_BLOOM_K - 1}))
                            AS j) j
        ),
        probes AS (
            SELECT DISTINCT o_custkey AS k FROM orders
        ),
        probe_bits AS (
            SELECT p.k, j.j,
                   {_bloom_u16('p.k', 'CAST(j.j AS VARCHAR)')}
                       % {_BLOOM_M} AS bit
            FROM probes p
            CROSS JOIN (SELECT unnest(generate_series(0, {_BLOOM_K - 1}))
                            AS j) j
        ),
        verdict AS (
            SELECT pb.k,
                   CAST(sum(CASE WHEN b.bit IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS bits_hit
            FROM probe_bits pb
            LEFT JOIN bits b ON b.bit = pb.bit
            GROUP BY pb.k
        ),
        labeled AS (
            SELECT v.k,
                   (v.bits_hit = {_BLOOM_K}) AS pass,
                   (m.k IS NOT NULL) AS member
            FROM verdict v LEFT JOIN members m ON m.k = v.k
        )
        SELECT CAST((SELECT count(*) FROM bits) AS BIGINT) AS bits_set,
               CAST(count(*) AS BIGINT) AS n_probe_keys,
               CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_member_keys,
               CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pass,
               CAST(sum(CASE WHEN member AND NOT pass
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_false_neg,
               CAST(sum(CASE WHEN pass AND NOT member
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_false_pos,
               round(CAST(sum(CASE WHEN pass AND NOT member
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / nullif(sum(CASE WHEN NOT member
                                       THEN 1 ELSE 0 END), 0) * 100, 4)
                   AS fp_rate_pct
        FROM labeled
    """,
    doc=f"WHITE-BOX Bloom-filter semi-join prefilter — the glass-box "
    "twin of q10c's engine-injected runtime filter, built relationally "
    "so its two laws are hash-verified instead of trusted: "
    f"{_BLOOM_M} bits, {_BLOOM_K} md5-ladder hash probes per key "
    "(q28d's derandomization convention).  The build side (BUILDING-"
    "segment customer keys) collapses to a DISTINCT set-bit relation "
    f"bounded by min(k*n, {_BLOOM_M}) rows — kilobytes, broadcast to "
    "every probe task exactly like the engine ships bloom_filter_agg "
    "state to executors at 100 TB.  Probes (distinct order customers) "
    "pass only when ALL k bits hit (grouped LEFT-JOIN count = k).  "
    "The audit pins: n_false_neg = 0 (the Bloom HARD law — a set bit "
    "is never unset, so members always pass), the exact measured "
    "false-positive count and rate (deterministic hash family -> the "
    "oracle reproduces every individual false positive, not a bound), "
    "and the fill level (bits_set).  Scale: the only full-relation "
    "pass is the probe-side projection; the verdict join broadcasts "
    "the bounded bit relation, and the same DISTINCT-union of bit "
    "sets merges partial filters hierarchically across executors.",
)
def q10d_bloom_prefilter_whitebox(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    members = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )
    js = spark.range(_BLOOM_K).select(F.col("id").cast("int").alias("j"))
    bits = (
        members.crossJoin(F.broadcast(js))
        .selectExpr(
            _bloom_u16("k", "CAST(j AS STRING)") + f" % {_BLOOM_M} AS bit"
        )
        .distinct()
    )
    probes = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    probe_bits = probes.crossJoin(F.broadcast(js)).selectExpr(
        "k",
        _bloom_u16("k", "CAST(j AS STRING)") + f" % {_BLOOM_M} AS bit",
    )
    verdict = (
        probe_bits.join(
            F.broadcast(bits.withColumn("hit", F.lit(1))), "bit", "left"
        )
        .groupBy("k")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("bits_hit"))
    )
    labeled = verdict.join(
        F.broadcast(members.withColumn("is_m", F.lit(1))), "k", "left"
    ).select(
        (F.col("bits_hit") == _BLOOM_K).alias("pass"),
        F.col("is_m").isNotNull().alias("member"),
    )
    n_bits = bits.agg(F.count("*").cast("long").alias("bits_set"))
    fp = F.sum(
        F.when(F.col("pass") & ~F.col("member"), 1).otherwise(0)
    ).cast("long")
    non_member = F.sum(F.when(~F.col("member"), 1).otherwise(0))
    agg = labeled.agg(
        F.count("*").cast("long").alias("n_probe_keys"),
        F.sum(F.when(F.col("member"), 1).otherwise(0))
        .cast("long")
        .alias("n_member_keys"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_pass"),
        F.sum(F.when(F.col("member") & ~F.col("pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_neg"),
        fp.alias("n_false_pos"),
        F.round(
            fp.cast("double") / F.nullif(non_member, F.lit(0)) * 100, 4
        ).alias("fp_rate_pct"),
    )
    return n_bits.crossJoin(agg)
