"""Secondary sources & sinks: CSV / JSON readers (explicit schema, no
inference) and the partitioned parquet sink + partition-pruned re-read.

SURVEY.md §2.1.  Roundtrips are verified against the DuckDB oracle on the
*original* table — a hash-match proves the sink+source pair is lossless.

100 TB posture: the parquet sink partitions by a low-cardinality derived
key (order year) — the layout that makes downstream partition pruning
(and dynamic partition pruning on joins) effective; CSV/JSON exist for
interchange only and always carry explicit schemas.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import scratch
from ..registry import register
from ..session import scoped_conf
from ..sources import load_table


@register(
    "src01_csv_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc="CSV sink + source roundtrip of the nation dim with an explicit "
    "read schema (never inferSchema); hash-match vs the original proves "
    "losslessness.",
)
def src01_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    path = scratch.path("csv_nation", sf_dir)
    n.write.mode("overwrite").option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return spark.read.schema(schema).option("header", True).csv(path)


@register(
    "src02_json_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey FROM supplier",
    doc="JSON-lines sink + source roundtrip (supplier key columns) with "
    "explicit schema.",
)
def src02_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    path = scratch.path("json_supplier", sf_dir)
    s.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
        ]
    )
    return spark.read.schema(schema).json(path)


@register(
    "src03_partitioned_parquet_sink",
    oracle="""
        SELECT
            year(o_orderdate) AS order_year,
            o_orderstatus,
            count(*) AS n,
            round(sum(o_totalprice), 2) AS total
        FROM orders
        WHERE year(o_orderdate) = 1997
        GROUP BY 1, 2
    """,
    doc="Partitioned parquet sink (partitionBy order_year) + re-read with "
    "a partition filter: the filter prunes to the single 1997 directory "
    "(PartitionFilters in the scan), then aggregates.  The layout/prune "
    "pattern that carries the engine to 100 TB.",
)
def src03_partitioned_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    path = scratch.path("pq_orders", sf_dir)
    o.write.mode("overwrite").partitionBy("order_year").parquet(path)
    back = spark.read.parquet(path).filter(F.col("order_year") == 1997)
    return back.groupBy(F.col("order_year").cast("long").alias("order_year"), "o_orderstatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "src07_orc_roundtrip",
    oracle="SELECT p_partkey, p_brand, p_size, p_retailprice FROM part",
    doc="ORC sink + source roundtrip (part key columns) with explicit "
    "schema — the columnar interchange format next to parquet; "
    "hash-match vs the original proves losslessness.",
)
def src07_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    )
    path = scratch.path("orc_part", sf_dir)
    p.write.mode("overwrite").orc(path)
    schema = T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    )
    return spark.read.schema(schema).orc(path)


@register(
    "src08_dynamic_partition_pruning",
    oracle="""
        SELECT
            year(o_orderdate) AS order_year,
            'modern' AS era,
            count(*) AS n,
            round(sum(o_totalprice), 2) AS total
        FROM orders
        WHERE year(o_orderdate) >= 1996
        GROUP BY 1
    """,
    doc="Dynamic partition pruning: the fact table is laid out "
    "partitionBy(order_year); joining it to a year-dim filtered on a "
    "NON-partition attribute (era='modern') makes Catalyst inject a "
    "dynamicpruning subquery into the fact scan's PartitionFilters, so "
    "only the qualifying year directories are read — decided at RUNTIME "
    "from the dim, not from a static predicate.  On a 100 TB date-"
    "partitioned fact this is the difference between scanning 3 "
    "partitions and scanning 2500 (tests/test_plans.py pins the "
    "dynamicpruning expression in the plan).",
)
def src08_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    fact_path = scratch.path("dpp_orders", sf_dir)
    o.write.mode("overwrite").partitionBy("order_year").parquet(fact_path)
    dim_path = scratch.path("dpp_years", sf_dir)
    # Fixture orders span 1995-2001 (measured at sf0.01 and sf0.1).
    years = [(y, "modern" if y >= 1996 else "classic") for y in range(1995, 2002)]
    spark.createDataFrame(years, "yr int, era string").write.mode("overwrite").parquet(dim_path)

    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("era") == "modern")
    return (
        fact.join(F.broadcast(dim), fact.order_year == dim.yr)
        .groupBy(F.col("order_year").cast("long").alias("order_year"), "era")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "src09_jdbc_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc="JDBC sink + source roundtrip against an embedded Derby database "
    "(the derby jars ship with Spark): write the nation dim over JDBC, "
    "read it back with a PARTITIONED read (partitionColumn/numPartitions "
    "— the parallel-scan contract that matters against a real RDBMS; "
    "each Spark partition issues its own bounded query).  Embedded Derby "
    "is single-JVM by design; at scale the same code points at a "
    "networked RDBMS and nothing else changes.",
)
def src09_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Keep Derby's log out of the repo checkout.
    spark._jvm.System.setProperty("derby.stream.error.file", scratch.path("derby.log"))
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    db = scratch.path("derby_nation", sf_dir)
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    n.write.mode("overwrite").jdbc(url, "nation_t", properties=props)
    return spark.read.jdbc(
        url,
        "nation_t",
        column="n_nationkey",
        lowerBound=0,
        upperBound=200,
        numPartitions=4,
        properties=props,
    )


@register(
    "src10_schema_evolution",
    oracle="""
        WITH unioned AS (
            SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
            FROM orders WHERE year(o_orderdate) = 1996
            UNION ALL
            SELECT o_orderkey, o_totalprice, o_orderpriority
            FROM orders WHERE year(o_orderdate) = 1997
        )
        SELECT
            (o_orderpriority IS NOT NULL) AS has_priority,
            count(*) AS n,
            round(sum(o_totalprice), 2) AS total
        FROM unioned
        GROUP BY 1
    """,
    doc="Schema evolution on read: batch 1 is written without o_orderpriority, "
    "batch 2 with it; mergeSchema=true reconciles the footers into one "
    "superset schema with NULLs for the missing column — how a "
    "long-lived 100 TB table absorbs added columns without rewriting "
    "history.  (Spark merges footers only when asked: mergeSchema costs "
    "a footer read per file, so production sets the union schema "
    "explicitly; both paths produce this plan.)",
)
def src10_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    path = scratch.path("evolve_orders", sf_dir)
    o.filter(F.year("o_orderdate") == 1996).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(os.path.join(path, "batch=1"))
    o.filter(F.year("o_orderdate") == 1997).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(os.path.join(path, "batch=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.groupBy(
        F.col("o_orderpriority").isNotNull().alias("has_priority")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "src05_pandas_on_spark",
    oracle="""
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang
    """,
    doc="pandas-on-Spark API surface (pyspark.pandas): the same corpus "
    "profile expressed with the pandas idiom (groupby/agg) — compiles to "
    "the identical Catalyst plan as the DataFrame form and hash-matches "
    "the SQL oracle; the migration on-ramp for pandas codebases.",
)
def src05_pandas_on_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    psdf = load_table(spark, sf_dir, "documents").pandas_api()
    out = (
        psdf.groupby("lang")
        .agg(n_docs=("doc_id", "count"), total_chars=("n_chars", "sum"))
        .reset_index()
    )
    sdf = out.to_spark()
    return sdf.select(
        "lang", F.col("n_docs").cast("long"), F.col("total_chars").cast("long")
    )


@register(
    "src06_cbo_stats",
    oracle="""
        SELECT 'customer' AS tbl, count(*) AS n_rows FROM customer
        UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        UNION ALL SELECT 'nation', count(*) FROM nation
        UNION ALL SELECT 'orders', count(*) FROM orders
    """,
    doc="CBO statistics path: ANALYZE TABLE over external catalog tables "
    "(sources/stats.py), then read the optimizer-visible rowCount back "
    "out of DESCRIBE EXTENDED — verifying the stats Catalyst's "
    "CostBasedJoinReorder consumes are exact (oracle: count(*) per "
    "table).  ANALYZE itself is eager by nature (stats scan per table), "
    "like the documented ML fits.",
)
def src06_cbo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from ..sources.stats import analyze_tables

    cats = analyze_tables(spark, sf_dir, ("customer", "lineitem", "nation", "orders"))
    parts = [
        spark.sql(f"DESCRIBE TABLE EXTENDED {cat}")
        .filter(F.col("col_name") == "Statistics")
        .select(
            F.lit(t).alias("tbl"),
            F.regexp_extract("data_type", r"(\d+) rows", 1).cast("long").alias("n_rows"),
        )
        for t, cat in cats.items()
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


@register(
    "src11_observed_metrics",
    oracle="""
        SELECT count(*) AS n_rows,
               round(sum(o_totalprice), 2) AS total_rev,
               count(DISTINCT o_custkey) AS n_custs
        FROM orders
        WHERE o_orderstatus = 'F'
    """,
    doc="Observation API: df.observe() rides accumulator-backed metrics "
    "(row count, revenue sum) on the SAME pass that computes the query "
    "— the zero-extra-scan audit hook for pipeline health counters "
    "(rows ingested / dropped / sum drift) at any scale, where a "
    "separate .count() would re-run the whole plan.  The query output "
    "is the plain aggregate (oracle-verified); "
    "tests/test_observe.py pins the observed metrics matching it.",
)
def src11_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    observed = o.observe(
        "src11_metrics",
        F.count(F.lit(1)).alias("obs_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("obs_rev"),
    )
    return observed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total_rev"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


@register(
    "src12_python_datasource",
    oracle="""
        WITH sensor AS (
            SELECT i AS reading_id,
                   CAST((i * 2654435761) % 4294967296 % 97 AS INT) AS sensor_id,
                   round(((i * 2654435761) % 4294967296 % 1000) / 10.0, 1) AS temp
            FROM range(0, 10000) t(i)
        )
        SELECT sensor_id % 10 AS sensor_group,
               count(*) AS n_readings,
               round(avg(temp), 4) AS avg_temp,
               round(max(temp), 1) AS max_temp
        FROM sensor
        GROUP BY sensor_id % 10
        ORDER BY sensor_group
    """,
    doc="Custom data source in pure Python (Spark 4 DataSource API, "
    "sources/pydatasource.py): a partition-parallel synthetic sensor "
    "feed — each InputPartition generates its id range executor-side.  "
    "The generator is deterministic (Knuth multiplicative hash), so "
    "the oracle reproduces the source arithmetically in DuckDB and the "
    "whole path — split planning, Python reader, Arrow transfer, "
    "aggregation — is hash-verified, not just rows-counted.",
)
def src12_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.pydatasource import register_sensor_source

    register_sensor_source(spark)
    df = (
        # 4 partitions demonstrate the same split-planning contract as 8
        # at ~half the per-partition Python reader startup cost (each
        # partition pays a fresh worker + Arrow stream; measured ~5.4 s
        # at 8 partitions in the round-2 bench).
        spark.read.format("sensor")
        .option("rows", "10000")
        .option("partitions", "4")
        .load()
    )
    return (
        df.groupBy((F.col("sensor_id") % 10).alias("sensor_group"))
        .agg(
            F.count("*").alias("n_readings"),
            F.round(F.avg("temp"), 4).alias("avg_temp"),
            F.round(F.max("temp"), 1).alias("max_temp"),
        )
        .orderBy("sensor_group")
    )


def _binfile_fixture(n_files: int = 8) -> str:
    """Deterministic raw-binary media fixture: n small .bin files whose
    bytes are a fixed arithmetic pattern — stands in for image/audio
    payloads arriving OUTSIDE any tabular format.  The bytes do not
    depend on the fixture scale, so every scale shares one copy."""
    path = scratch.path("binfiles")
    if not os.path.isdir(path):
        os.makedirs(path, exist_ok=True)
        for i in range(n_files):
            body = bytes((i * 7 + j) % 256 for j in range(100 + 17 * i))
            with open(os.path.join(path, f"media_{i:03d}.bin"), "wb") as fh:
                fh.write(body)
    return path


@register(
    "src13_binaryfile_ingest",
    oracle=f"""
        SELECT
            parse_filename(filename) AS fname,
            size AS length,
            md5(hex(content)) AS digest
        FROM read_blob('{scratch.path("binfiles")}/*.bin')
    """,
    doc="Raw-media ingestion via the binaryFile source: whole files "
    "become (path, modificationTime, length, content BINARY) rows — the "
    "entry point that turns an object-store bucket of images/audio into "
    "the multimodal BinaryType column model (mm01–mm04) without any "
    "decoding.  Output = per-file name, byte length, and md5(hex(body)) "
    "digest, hash-matched against DuckDB's read_blob over the same "
    "files.  Scale: binaryFile parallelizes per file (maxPartitionBytes "
    "packing), content bytes stay map-side (projected into a digest "
    "before any shuffle), and pathGlobFilter/recursiveFileLookup do "
    "server-side listing — the 100 TB pattern is digest-first, "
    "decode-later.",
)
def src13_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(_binfile_fixture())
    )
    return raw.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.col("length"),
        F.md5(F.hex("content")).alias("digest"),
    )


@register(
    "src14_xml_roundtrip",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer",
    doc="XML sink + source roundtrip (Spark 4 NATIVE xml data source — "
    "no external spark-xml package): customer rows written rowTag-per-"
    "record, read back with an explicit schema (never schema inference "
    "on a 100 TB feed).  Hash-match vs the original proves "
    "losslessness.  XML is the interchange format of record for many "
    "enterprise feeds; the scale posture matches CSV/JSON — splittable "
    "per-file parallel read, schema declared, and immediately "
    "re-materialized to parquet for anything downstream.",
)
def src14_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    path = scratch.path("xml_customer", sf_dir)
    c.write.format("xml").option("rowTag", "customer").mode("overwrite").save(path)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "customer")
        .schema(schema)
        .load(path)
    )


@register(
    "src15_permissive_csv",
    oracle="""
        SELECT
            count(CASE WHEN s_suppkey % 10 <> 0 THEN 1 END) AS n_good,
            count(CASE WHEN s_suppkey % 10 = 0 THEN 1 END) AS n_corrupt,
            round(sum(CASE WHEN s_suppkey % 10 <> 0 THEN s_acctbal END), 2)
                AS good_bal_total
        FROM supplier
    """,
    doc="Tolerant ingestion of a dirty CSV feed: every 10th row carries "
    "an unparseable value in a DOUBLE column; reading with "
    "mode=PERMISSIVE + columnNameOfCorruptRecord quarantines exactly "
    "those rows into _corrupt_record (bad column → NULL, raw line "
    "preserved for a dead-letter sink) while clean rows flow through — "
    "vs FAILFAST which would kill a 100 TB ingest on the first bad "
    "byte.  The oracle derives the good/corrupt split from the source "
    "table's planted corruption pattern, so it pins that PERMISSIVE "
    "classifies precisely the planted rows and nothing else.  "
    "Map-side only; error handling adds no shuffle.",
)
def src15_permissive_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    line = F.concat_ws(
        ",",
        F.col("s_suppkey").cast("string"),
        F.when(F.col("s_suppkey") % 10 == 0, F.lit("NOT_A_NUMBER")).otherwise(
            F.col("s_acctbal").cast("string")
        ),
    )
    path = scratch.path("dirty_csv", sf_dir)
    s.select(line.alias("value")).write.mode("overwrite").text(path)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("bal", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    read = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return read.agg(
        F.count(F.when(~bad, 1)).alias("n_good"),
        F.count(F.when(bad, 1)).alias("n_corrupt"),
        F.round(F.sum(F.when(~bad, F.col("bal"))), 2).alias("good_bal_total"),
    )


def avro_connector_available() -> bool:
    """True iff the external spark-avro CONNECTOR jar is on the
    classpath (`format("avro")` lives there, not in avro-core, which
    DOES ship).  Filesystem probe — callable before any JVM exists, so
    registration below can be decided at import time.  SURVEY §2.1
    documents the gate; this probe flips the row to implemented with
    zero code change the moment a future environment ships the jar
    (same pattern as the protobuf-gated transformWithStateInPandas
    test)."""
    import glob

    import pyspark

    # Only pyspark's own jars/ dir is on the local JVM's classpath
    # (get_spark sets no spark.jars), so a jar anywhere else could not
    # serve format("avro").
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    return bool(glob.glob(os.path.join(jars, "spark-avro*.jar")))


if avro_connector_available():

    @register(
        "src16_avro_roundtrip",
        oracle="SELECT p_partkey, p_brand, p_size, p_retailprice FROM part",
        doc="Avro sink + source roundtrip (part key columns) with "
        "explicit schema — the row-oriented interchange format next to "
        "the ORC/parquet columnar twins (src07/src03); hash-match vs "
        "the original proves losslessness.  Registered ONLY when the "
        "external spark-avro connector jar is present (see "
        "avro_connector_available).",
    )
    def src16_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        p = load_table(spark, sf_dir, "part").select(
            "p_partkey", "p_brand", "p_size", "p_retailprice"
        )
        path = scratch.path("avro_part", sf_dir)
        p.write.mode("overwrite").format("avro").save(path)
        schema = T.StructType(
            [
                T.StructField("p_partkey", T.LongType()),
                T.StructField("p_brand", T.StringType()),
                T.StructField("p_size", T.IntegerType()),
                T.StructField("p_retailprice", T.DoubleType()),
            ]
        )
        return spark.read.schema(schema).format("avro").load(path)


@register(
    "src17_recursive_glob_read",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders
        WHERE year(o_orderdate) = 1997
        GROUP BY o_orderstatus
    """,
    doc="Recursive + glob-filtered file discovery: orders are written as "
    "a two-level nested directory tree (year/status) with a decoy "
    ".json dropped alongside, then read back with "
    "recursiveFileLookup=true + pathGlobFilter='*.parquet' and an "
    "explicit schema.  This is the ingest posture for lake paths a "
    "Spark job doesn't own: directory names can't be trusted as "
    "partition metadata (mixed file types, arbitrary nesting, no "
    "catalog), so discovery is recursive, type-filtered, and "
    "schema-pinned — recursiveFileLookup deliberately DISABLES "
    "partition inference, which is why every column lives in the leaf "
    "files and the 1997 restriction is a data filter, not a partition "
    "prune (the documented trade-off vs src03's owned, partitioned "
    "sink).  Hash-verified against the direct fixture aggregate.",
)
def src17_recursive_glob_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate").cast("int")
    )
    path = scratch.path("nested_orders", sf_dir)
    if not os.path.isdir(path):
        # Two-level nested tree via partitionBy on DERIVED copies (yr,
        # st), so every original column — o_orderstatus included — stays
        # inside the leaf files: recursive discovery reads leaves only
        # and must not depend on recovering hive partition values.
        (
            o.withColumn("st", F.col("o_orderstatus"))
            .write.mode("overwrite")
            .partitionBy("yr", "st")
            .parquet(path)
        )
        with open(os.path.join(path, "manifest.json"), "w") as fh:
            fh.write('{"decoy": true}\n')
    schema = load_table(spark, sf_dir, "orders").schema
    back = (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(path)
    )
    return (
        back.filter(F.year("o_orderdate") == 1997)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "src20_python_datasource_writer",
    oracle="""
        WITH sensor AS (
            SELECT i AS reading_id,
                   CAST((i * 2654435761) % 4294967296 % 97 AS INT) AS sensor_id,
                   round(((i * 2654435761) % 4294967296 % 1000) / 10.0, 1) AS temp
            FROM range(0, 4000) t(i)
        )
        SELECT sensor_id % 10 AS sensor_group,
               count(*) AS n_readings,
               CAST(sum(CAST(round(temp * 10) AS BIGINT)) AS BIGINT)
                   AS temp_tenths,
               CAST(4 AS BIGINT) AS n_files
        FROM sensor
        GROUP BY sensor_id % 10
        ORDER BY sensor_group
    """,
    doc="Custom Python data source WRITER (Spark 4 DataSource API, the "
    "sink half of src12's reader): df.write.format('rowsink') fans "
    "the 4-partition deterministic sensor relation into per-task "
    "executor-side JSON-lines files, each task returns a "
    "WriterCommitMessage (file, rows), and the driver-side commit() "
    "publishes _manifest.json — the two-phase commit contract that "
    "makes a custom sink task-retry-safe (uncommitted files are "
    "invisible until the manifest lists them; abort() deletes them).  "
    "Verification closes the loop: the JSON files are re-read with an "
    "explicit schema, re-aggregated, and joined with the manifest's "
    "file count (exactly 4 — one per non-empty input partition), all "
    "hash-checked against the arithmetic oracle; temps compare in "
    "exact integer TENTHS so the JSON double roundtrip cannot smear.  "
    "Scale: this is the extension point for proprietary sinks — "
    "Spark supplies distribution/retries, the Python class supplies "
    "the protocol; data never funnels through the driver.",
)
def src20_python_datasource_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    from ..sources.pydatasource import register_rowsink_source, register_sensor_source

    register_sensor_source(spark)
    register_rowsink_source(spark)
    base = (
        spark.read.format("sensor")
        .option("rows", "4000")
        .option("partitions", "4")
        .load()
    )
    out_dir = scratch.fresh("src20_")
    base.write.format("rowsink").option("path", out_dir).mode("append").save()
    with open(os.path.join(out_dir, "_manifest.json")) as f:
        manifest = json.load(f)  # bounded sink metadata, not a data path
    files = [os.path.join(out_dir, name) for name in manifest["files"]]
    back = spark.read.schema(
        "reading_id BIGINT, sensor_id INT, temp DOUBLE"
    ).json(files)
    return (
        back.groupBy((F.col("sensor_id") % 10).alias("sensor_group"))
        .agg(
            F.count("*").alias("n_readings"),
            F.sum(F.round(F.col("temp") * 10).cast("long")).alias("temp_tenths"),
        )
        .withColumn("n_files", F.lit(int(manifest["n_files"])).cast("long"))
        .orderBy("sensor_group")
    )


@register(
    "src21_dynamic_partition_overwrite",
    oracle="""
        WITH merged AS (
            SELECT event_id, user_id, event_type
            FROM events WHERE event_type <> 'error'
            UNION ALL
            SELECT event_id + 1000000 AS event_id, user_id, event_type
            FROM events WHERE event_type = 'error' AND event_id % 2 = 0
        )
        SELECT event_type,
               count(*) AS n_rows,
               CAST(sum(event_id) AS BIGINT) AS id_sum,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM merged GROUP BY event_type
    """,
    doc="DYNAMIC partition overwrite (partitionOverwriteMode=dynamic) — "
    "the selective-partition-replacement contract every partitioned "
    "lake relies on for backfills: a base table partitioned by "
    "event_type, then a correction batch containing ONLY rewritten "
    "'error' rows (even event_ids, shifted +1e6) written with "
    "mode=overwrite.  Dynamic mode replaces exactly the partitions "
    "present in the incoming frame; STATIC mode (the default) would "
    "truncate the whole table first — the oracle distinguishes the "
    "two because every non-error partition must survive byte-for-byte "
    "(id sums + distinct users per partition, all exact integers).  "
    "The conf is scoped to the overwrite (session.scoped_conf).  "
    "Scale: the overwrite job touches only the replaced partitions' "
    "files; untouched partitions are never read or rewritten — the "
    "O(delta) backfill that makes daily reprocessing affordable at "
    "100 TB.",
)
def src21_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    path = scratch.path("dynpo_events", sf_dir)
    base.write.mode("overwrite").partitionBy("event_type").parquet(path)
    correction = (
        base.filter(
            (F.col("event_type") == "error") & (F.col("event_id") % 2 == 0)
        )
        .withColumn("event_id", F.col("event_id") + 1000000)
    )
    with scoped_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        correction.write.mode("overwrite").partitionBy("event_type").parquet(
            path
        )
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum("event_id").cast("long").alias("id_sum"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


@register(
    "src22_csv_dialect_roundtrip",
    oracle="""
        SELECT c_custkey,
               'seg|' || c_mktsegment || '|"' || c_name || '"' AS noisy,
               c_acctbal
        FROM customer
    """,
    doc="CSV DIALECT + compression roundtrip: a column deliberately "
    "containing the delimiter AND double quotes ('seg|...|\"name\"') "
    "is written as PIPE-separated, quoted, backslash-escaped, "
    "GZIP-compressed CSV and read back with an explicit schema and "
    "the same dialect options — hash-match against the recomputed "
    "expression proves the quote/escape/compression chain is "
    "lossless, the property every dirty-feed ingest silently depends "
    "on (src01 covers the happy path; src15 covers corrupt-record "
    "quarantine; THIS pins the escaping).  Scale: gzip CSV is "
    "non-splittable — one task per file; the write side controls "
    "file count via partitions, and columnar formats remain the "
    "real at-rest answer (the doc-string caveat IS the operator's "
    "lesson).",
)
def src22_csv_dialect_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    noisy = c.select(
        "c_custkey",
        F.concat(
            F.lit("seg|"), F.col("c_mktsegment"), F.lit('|"'), F.col("c_name"), F.lit('"')
        ).alias("noisy"),
        "c_acctbal",
    )
    path = scratch.path("csv_dialect", sf_dir)
    (
        noisy.write.mode("overwrite")
        .option("header", True)
        .option("sep", "|")
        .option("quote", '"')
        .option("escape", "\\")
        .option("compression", "gzip")
        .csv(path)
    )
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("noisy", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("sep", "|")
        .option("quote", '"')
        .option("escape", "\\")
        .csv(path)
    )


@register(
    "src23_format_fidelity_chain",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc="CROSS-FORMAT fidelity CHAIN: the nation dim travels parquet -> "
    "ORC -> JSON-lines -> CSV -> parquet, each hop written then "
    "re-read with an explicit schema, and the FINAL re-read must "
    "hash-match the ORIGINAL table — one assertion covering four "
    "encoder/decoder pairs composed, the multi-hop property that "
    "single-format roundtrips (src01/src02/src07) cannot see "
    "(a lossy hop anywhere in the chain breaks the final hash).  "
    "Ints and strings only by design: doubles through CSV/JSON hops "
    "get their own pins (q55f for JSON; src22 for CSV dialect).  "
    "Scale: dims flow through staging formats constantly in real "
    "integrations — this is the cheap invariant to assert after "
    "every such pipeline.",
)
def src23_format_fidelity_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    base = scratch.path("fidelity", sf_dir)
    cur = n.select(
        F.col("n_nationkey").cast("int"),
        "n_name",
        F.col("n_regionkey").cast("int"),
    )
    cur.write.mode("overwrite").orc(f"{base}/orc")
    cur = spark.read.schema(schema).orc(f"{base}/orc")
    cur.write.mode("overwrite").json(f"{base}/json")
    cur = spark.read.schema(schema).json(f"{base}/json")
    cur.write.mode("overwrite").option("header", True).csv(f"{base}/csv")
    cur = spark.read.schema(schema).option("header", True).csv(f"{base}/csv")
    cur.write.mode("overwrite").parquet(f"{base}/parquet")
    return spark.read.schema(schema).parquet(f"{base}/parquet")


@register(
    "src24_parquet_codec_matrix",
    oracle="""
        WITH content AS (
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS BIGINT) AS cents,
                   CAST(sum(
                       ascii(substr(md5(CAST(o_orderkey AS VARCHAR) || '|'
                           || CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                   AS VARCHAR)), 1, 1)) * 256
                     + ascii(substr(md5(CAST(o_orderkey AS VARCHAR) || '|'
                           || CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                   AS VARCHAR)), 2, 1))
                   ) AS BIGINT) AS content_digest
            FROM orders
        )
        SELECT c.codec, n_rows, cents, content_digest
        FROM content
        CROSS JOIN (VALUES ('gzip'), ('snappy'), ('uncompressed'), ('zstd'))
            c(codec)
    """,
    doc="Parquet COMPRESSION-CODEC matrix roundtrip: the same orders "
    "relation written under snappy / gzip / zstd / uncompressed "
    "(`option('compression', ...)` — the per-write knob a lakehouse "
    "tunes per table tier: zstd for cold storage, snappy for hot "
    "scan), each physically re-read, and reduced to (count, "
    "cents-exact sum, qd30-style order-free md5 content digest).  The "
    "oracle computes the SAME reduction from the original table once "
    "per codec literal: all four rows must carry identical content "
    "numbers — codec choice is proven to never touch data, only "
    "bytes-on-disk.  Scale: codec is THE cheap 2-5x IO lever at "
    "100 TB (zstd roughly halves scan bytes vs snappy at modest CPU); "
    "this query pins that flipping it is semantics-free.",
)
def src24_parquet_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    out = None
    for codec in ["gzip", "snappy", "uncompressed", "zstd"]:
        path = scratch.path(f"codec_{codec}", sf_dir)
        o.write.mode("overwrite").option("compression", codec).parquet(path)
        back = spark.read.parquet(path)
        cents = F.round(F.col("o_totalprice") * 100).cast("long")
        m = (
            "md5(CAST(o_orderkey AS STRING) || '|' || CAST(_cents AS STRING))"
        )
        one = (
            back.withColumn("_cents", cents)
            .agg(
                F.lit(codec).alias("codec"),
                F.count("*").cast("long").alias("n_rows"),
                F.sum("_cents").cast("long").alias("cents"),
                F.sum(
                    F.expr(
                        f"ascii(substr({m}, 1, 1)) * 256"
                        f" + ascii(substr({m}, 2, 1))"
                    )
                )
                .cast("long")
                .alias("content_digest"),
            )
        )
        out = one if out is None else out.unionByName(one)
    return out


@register(
    "src25_fixed_width_ingest",
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderpriority
        FROM orders WHERE o_custkey < 500
    """,
    doc="FIXED-WIDTH record ingest — the mainframe/COBOL copybook "
    "feed format every enterprise lake still receives and Spark has "
    "no native reader for: records are written as 43-char lines "
    "(orderkey right-aligned 12, status 1, exact cents right-aligned "
    "12, priority left-padded 18) via format_string, then read back "
    "with spark.read.text and sliced by SUBSTRING positions + trim + "
    "cast — the parse is pure codegen expressions, no UDF.  "
    "Hash-match against the source relation proves the layout spec "
    "and the parser agree column-for-column (a one-off-by-one in any "
    "width breaks the hash).  Scale: text lines split by newline are "
    "splittable input; the substring parse is map-side; explicit "
    "positions mean schema drift fails loudly rather than shifting "
    "columns silently.",
)
def src25_fixed_width_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 500)
    lines = o.select(
        F.format_string(
            "%12d%1s%12d%-18s",
            F.col("o_orderkey"),
            F.col("o_orderstatus"),
            F.round(F.col("o_totalprice") * 100).cast("bigint"),
            F.col("o_orderpriority"),
        ).alias("value")
    )
    path = scratch.path("fixed_width", sf_dir)
    lines.write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    return raw.select(
        F.trim(F.substring("value", 1, 12)).cast("bigint").alias("o_orderkey"),
        F.substring("value", 13, 1).alias("o_orderstatus"),
        F.trim(F.substring("value", 14, 12)).cast("bigint").alias("cents"),
        F.rtrim(F.substring("value", 26, 18)).alias("o_orderpriority"),
    )


@register(
    "src26_linesep_text_roundtrip",
    oracle="""
        SELECT n_nationkey, n_name
        FROM nation
    """,
    doc="Custom record-separator TEXT ingest: nation rows serialize as "
    "'key|name' records joined by ';' into a SINGLE physical line, "
    "then spark.read.text with lineSep=';' splits them back into "
    "rows — the legacy-feed shape (sensor dumps, EDI messages, "
    "mainframe extracts) where records are NOT newline-delimited and "
    "the default reader would see one giant row.  The parse back to "
    "typed columns is split()-based codegen; hash-match against the "
    "source dim proves separator handling is lossless (an off-by-one "
    "or a trailing-separator phantom row breaks the count).  Scale: "
    "lineSep-delimited text splits on the separator at block "
    "boundaries like newline text does — still a splittable source; "
    "the single-line fixture here is the worst case (one task), "
    "which is exactly the caveat the operator documents.",
)
def src26_linesep_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    one_line = n.select(
        F.concat_ws(
            ";",
            F.collect_list(
                F.concat_ws(
                    "|",
                    F.col("n_nationkey").cast("string"),
                    F.col("n_name"),
                )
            ),
        ).alias("value")
    )
    path = scratch.path("linesep", sf_dir)
    one_line.coalesce(1).write.mode("overwrite").text(path)
    raw = spark.read.option("lineSep", ";").text(path)
    parsed = raw.filter(F.length(F.trim("value")) > 0).select(
        F.split("value", "\\|").alias("f")
    )
    return parsed.select(
        F.element_at("f", 1).cast("int").alias("n_nationkey"),
        # the text writer terminates the file with a newline, which
        # rides into the LAST ;-record — strip line terminators, not
        # just spaces (trim() alone leaves the trailing \n).
        F.expr("trim(BOTH '\n\r ' FROM element_at(f, 2))").alias("n_name"),
    )


@register(
    "src27_multiline_csv",
    oracle="""
        SELECT c_custkey,
               c_name || chr(10) || c_mktsegment || chr(10)
                      || 'acct-' || CAST(c_nationkey AS VARCHAR) AS folded,
               c_acctbal
        FROM customer
    """,
    doc="MULTILINE CSV roundtrip: a value containing EMBEDDED NEWLINES "
    "(name\\nsegment\\ncomment folded into one field) is written "
    "quoted and read back with multiLine=true — the wholeFile parse "
    "mode where a record spans physical lines and the quote, not the "
    "newline, delimits records.  Without multiLine the reader splits "
    "mid-record and the hash breaks, so this pins the one CSV option "
    "that changes the SPLITTING contract rather than the escaping "
    "(src22 pins dialect/escape; src15 pins corrupt-record "
    "quarantine).  Scale: multiLine forces one parse task per FILE "
    "(records can straddle any byte offset, so Spark cannot split "
    "inside a file) — the write side must control file count, and "
    "the operator documents exactly why multiline feeds should be "
    "converted to parquet at the ingest edge.",
)
def src27_multiline_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    folded = c.select(
        "c_custkey",
        F.concat_ws(
            "\n",
            F.col("c_name"),
            F.col("c_mktsegment"),
            F.concat(F.lit("acct-"), F.col("c_nationkey").cast("string")),
        ).alias("folded"),
        "c_acctbal",
    )
    path = scratch.path("csv_multiline", sf_dir)
    (
        folded.write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .csv(path)
    )
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("folded", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .csv(path)
    )


@register(
    "src28_managed_table_lifecycle",
    oracle="""
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
               o_orderstatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996)
          AND o_orderstatus <> 'F'
        GROUP BY 1, 2
    """,
    doc="CATALOG TABLE DML LIFECYCLE — the CREATE/INSERT/OVERWRITE "
    "surface every warehouse job uses, exercised end to end through "
    "the session catalog: CTAS materializes the 1995 slice as an "
    "external parquet table, INSERT INTO appends 1996 (file-append, "
    "no rewrite), INSERT OVERWRITE atomically replaces the whole "
    "content with the corrected union (both years minus status-F "
    "rows — the 'reload after a rule change' move), and the final "
    "read goes through spark.table() name resolution, not a path.  "
    "The oracle recomputes the post-overwrite state straight from "
    "the source, so the hash proves every DML step's semantics "
    "(CTAS didn't drop rows, the append didn't dedup, the overwrite "
    "actually replaced instead of appending).  Money rides the cents "
    "convention.  Scale: each step is one write of the selected "
    "slice; OVERWRITE of a whole unpartitioned table is the "
    "INTENTIONALLY blunt tool here — the partition-scoped variant "
    "is src21's dynamic partition overwrite.",
)
def src28_managed_table_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.year("o_orderdate").cast("bigint").alias("yr"),
    )
    o.createOrReplaceTempView("src28_src")
    # uuid-suffixed table name: a FIXED catalog name raced between
    # concurrent sessions sharing a warehouse.  (Catalog registrations
    # are session-scoped here — in-memory catalog, no shared metastore
    # — so per-run names cost nothing.)  The result reads the table dir
    # lazily after return, so it lives in a fresh dir until exit.
    tbl = f"src28_lifecycle_{uuid.uuid4().hex[:10]}"
    path = scratch.fresh("src28_")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    cols = (
        "o_orderkey, o_orderstatus, o_totalprice, yr"
    )
    spark.sql(
        f"CREATE TABLE {tbl} USING PARQUET LOCATION '{path}' AS "
        f"SELECT {cols} FROM src28_src WHERE yr = 1995"
    )
    spark.sql(
        f"INSERT INTO {tbl} SELECT {cols} FROM src28_src WHERE yr = 1996"
    )
    spark.sql(
        f"INSERT OVERWRITE {tbl} SELECT {cols} FROM src28_src "
        f"WHERE yr IN (1995, 1996) AND o_orderstatus <> 'F'"
    )
    return spark.table(tbl).groupBy("yr", "o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )


@register(
    "src29_date_dimension",
    oracle="""
        WITH bounds AS (
            SELECT CAST(min(CAST(o_orderdate AS DATE)) AS DATE) AS lo,
                   CAST(max(CAST(o_orderdate AS DATE)) AS DATE) AS hi
            FROM orders
        ),
        spine AS (
            SELECT CAST(unnest(generate_series(0,
                       datediff('day', lo, hi))) AS BIGINT) AS d,
                   lo
            FROM bounds
        )
        SELECT d AS day_seq,
               CAST(CAST(lo + CAST(d AS INT) AS DATE) AS VARCHAR)
                   AS cal_date,
               CAST(EXTRACT(year FROM lo + CAST(d AS INT))
                    AS BIGINT) AS yr,
               CAST(EXTRACT(month FROM lo + CAST(d AS INT))
                    AS BIGINT) AS mth,
               CAST(EXTRACT(day FROM lo + CAST(d AS INT))
                    AS BIGINT) AS dom,
               CAST((EXTRACT(month FROM lo + CAST(d AS INT)) + 2)
                    // 3 AS BIGINT) AS qtr,
               CAST(datediff('day', DATE '1990-01-01',
                             lo + CAST(d AS INT)) % 7 AS BIGINT)
                   AS dow0_monday,
               (datediff('day', DATE '1990-01-01',
                         lo + CAST(d AS INT)) % 7) >= 5
                   AS is_weekend,
               CAST(lo + CAST(d AS INT) AS DATE)
                   = last_day(lo + CAST(d AS INT))
                   AS is_month_end
        FROM spine
    """,
    doc="GENERATED DATE DIMENSION — the calendar table every star "
    "schema joins against, derived (not loaded) from the fact "
    "table's own date bounds: one row per day with year/month/day/"
    "quarter, a Monday-zero weekday computed ARITHMETICALLY "
    "(days-since-a-known-Monday % 7 — 1990-01-01 was a Monday, "
    "safely BEFORE every fact date so the modulo never sees a "
    "negative dividend, whose sign is itself a dialect trap; the "
    "qd51/q52c dialect sidestep, never dayofweek()), weekend and "
    "month-end flags (last_day agrees across engines; both are ANSI "
    "leap-year aware).  Quarter is integer (month+2)//3 — arithmetic "
    "again, not a dialect-sensitive quarter().  Scale: the spine is "
    "generated from a 1-row bounds aggregate — a calendar is "
    "thousands of rows at ANY data scale, the canonical broadcast "
    "dimension.",
)
def src29_date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.lit(0), F.datediff(F.col("hi"), F.col("lo")))
        ).alias("d0"),
        "lo",
    ).select(F.col("d0").cast("bigint").alias("d"), "lo")
    cal = F.date_add(F.col("lo"), F.col("d").cast("int"))
    monday_delta = F.datediff(cal, F.lit("1990-01-01").cast("date"))
    dow = F.pmod(monday_delta, F.lit(7)).cast("bigint")
    return spine.select(
        F.col("d").alias("day_seq"),
        cal.cast("string").alias("cal_date"),
        F.year(cal).cast("bigint").alias("yr"),
        F.month(cal).cast("bigint").alias("mth"),
        F.dayofmonth(cal).cast("bigint").alias("dom"),
        F.floor((F.month(cal) + 2) / 3).cast("bigint").alias("qtr"),
        dow.alias("dow0_monday"),
        (dow >= 5).alias("is_weekend"),
        (cal == F.last_day(cal)).alias("is_month_end"),
    )
