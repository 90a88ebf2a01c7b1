"""Training-data curation operators: benchmark decontamination,
deterministic sampling, token-budget sequence packing, repetition-based
quality scoring, length-percentile gating, and mergeable HLL sketches.

These are the corpus-construction steps that sit between the dedup stage
(operators/dedup.py) and the text-analysis stage (operators/text.py) in
a 100 TB training-data pipeline.

100 TB posture per operator:
- Decontamination: the benchmark n-gram set is tiny (eval suites are
  KB-MB scale even when the corpus is 100 TB) → distinct it, broadcast
  it, and the corpus side stays a map-only scan + local explode + one
  partial-agg shuffle keyed by doc_id.  No corpus-vs-corpus join ever.
- Sampling: both samplers are pure deterministic column expressions
  (md5 of the key) — no sort, no sampleBy() randomness, reproducible
  across reruns and engines, embarrassingly parallel.
- Packing: cumulative-sum windows partition by (lang); at 100 TB the
  partition key becomes (lang, hash_shard) so each shard packs
  independently — boundaries stay local, no global order needed.  The
  per-partition window is the only sequential step and it never sees
  text bodies, just token counts.
- HLL sketches: the point is MERGEABILITY — per-shard sketches combine
  with hll_union_agg, so global distinct counts never shuffle raw IDs,
  only fixed-size (<= lgConfigK * 2^lgConfigK bits) sketch buffers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import api, scratch
from ..registry import SF_ORACLE, register
from ..sources import load_table

#: n-gram width for contamination checks.  Real decontamination uses
#: 13-grams (the fixture vocabulary is 31 words, so 3-grams already give
#: meaningful overlap); the width is a constant fold — changing it does
#: not change the plan shape.
_NGRAM = 3

#: Token budget per packed training sequence (fixture-scaled; 2048-8192
#: in production — again a literal, not a plan change).
_SEQ_BUDGET = 512


@register(
    "qc01_ngram_decontaminate",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang, source, string_split(text, ' ') AS w
            FROM documents
        ),
        grams AS (
            SELECT doc_id, lang, source, array_to_string(w[i:i+{_NGRAM - 1}], ' ') AS g
            FROM toks CROSS JOIN UNNEST(generate_series(1, len(w) - {_NGRAM - 1})) AS t(i)
        ),
        bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0')
        SELECT c.doc_id, c.lang, count(DISTINCT c.g) AS n_shared_grams
        FROM grams c JOIN bench b USING (g)
        WHERE c.source <> 'src0'
        GROUP BY c.doc_id, c.lang
    """,
    doc="Benchmark decontamination: flag corpus documents sharing any "
    f"{_NGRAM}-gram with the benchmark set (source='src0' stands in for "
    "an eval suite).  The benchmark gram set is distinct'd and broadcast "
    "— corpus side is scan + HOF gram expansion + one doc_id-keyed "
    "partial agg; no corpus-vs-corpus join exists at any scale.",
)
def qc01_ngram_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # Grams distinct'd inside the array (per doc, map-side; api.word_grams
    # also guards sub-n-token docs) so the per-doc agg is a plain count —
    # one exchange, not countDistinct's two.
    grams = d.select(
        "doc_id", "lang", "source",
        F.explode(api.word_grams(F.split("text", " "), _NGRAM, distinct=True)).alias("g"),
    )
    bench = grams.filter(F.col("source") == "src0").select("g").distinct()
    corpus = grams.filter(F.col("source") != "src0")
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id", "lang")
        .agg(F.count("g").alias("n_shared_grams"))
    )


@register(
    "qc02_stratified_sample",
    oracle="""
        SELECT lang, doc_id
        FROM documents
        QUALIFY row_number() OVER (
            PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        ) <= 20
    """,
    doc="Deterministic stratified sampling: exactly 20 docs per language "
    "stratum, chosen by md5(doc_id) rank — reproducible across engines "
    "and reruns (no RNG), one window shuffle keyed by the stratum.  At "
    "100 TB the rank runs per (lang, shard) with a proportional k.",
)
def qc02_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    return api.stratified_sample(d, "lang", "doc_id", k=20)


@register(
    "qc03_hash_mod_sample",
    oracle="""
        SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
    """,
    doc="Deterministic hash-bucket sampling: keep docs whose first md5 "
    "hex digit is 0 or 1 (a 12.5% slice).  Pure map-side predicate — no "
    "shuffle, no RNG, stable under re-partitioning; the standard way to "
    "carve reproducible dev subsets out of a 100 TB corpus.",
)
def qc03_hash_mod_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return api.hash_sample(d, "doc_id", buckets_kept=2, bucket_col="bucket")


@register(
    "qc04_token_budget_pack",
    oracle=f"""
        WITH t AS (
            SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT lang, n_tokens,
                COALESCE(sum(n_tokens) OVER (
                    PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) AS cum_before
            FROM t
        )
        SELECT
            lang,
            CAST(floor(cum_before / {_SEQ_BUDGET}) AS BIGINT) AS seq_id,
            count(*) AS n_docs,
            CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
        FROM c
        GROUP BY lang, seq_id
    """,
    doc=f"Token-budget sequence packing: stream docs (doc_id order) into "
    f"~{_SEQ_BUDGET}-token training sequences via a running-sum window — "
    "document boundaries preserved, seq_id = floor(cum_tokens/budget).  "
    "Only token COUNTS enter the window (never text).  At 100 TB the "
    "window partitions by (lang, hash_shard) so packing parallelizes; "
    "each shard's sequences are independent by construction.",
)
def qc04_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang", "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    packed = api.pack_sequences(t, "lang", "doc_id", "n_tokens", budget=_SEQ_BUDGET)
    return packed.groupBy("lang", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("seq_tokens"),
    )


@register(
    "qc05_repetition_ratio",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        s AS (
            SELECT
                doc_id,
                len(w) AS n_tokens,
                len(list_distinct(w)) AS n_distinct,
                list_max(list_transform(list_distinct(w),
                    x -> len(list_filter(w, y -> y = x)))) AS top_freq
            FROM t
        )
        SELECT
            doc_id, n_tokens, n_distinct, top_freq,
            round(CAST(top_freq AS DOUBLE) / n_tokens, 6) AS rep_ratio,
            round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS ttr
        FROM s
    """,
    doc="Repetition-based quality scoring: most-frequent-token share "
    "(rep_ratio) and type-token ratio per document, computed entirely "
    "with Catalyst higher-order functions — per-doc work is O(distinct "
    "x tokens) on <=100-token docs, map-only, zero shuffle.  The "
    "boilerplate/spam gate of a curation pipeline.",
)
def qc05_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return api.repetition_signals(d, "text").select(
        "doc_id", "n_tokens", "n_distinct", "top_freq", "rep_ratio", "ttr"
    )


@register(
    "qc06_length_percentile_filter",
    oracle="""
        WITH b AS (
            SELECT lang,
                quantile_cont(n_chars, 0.05) AS lo,
                quantile_cont(n_chars, 0.95) AS hi
            FROM documents GROUP BY lang
        )
        SELECT
            d.lang,
            round(b.lo, 4) AS lo,
            round(b.hi, 4) AS hi,
            count(*) AS n_kept
        FROM documents d JOIN b USING (lang)
        WHERE d.n_chars BETWEEN b.lo AND b.hi
        GROUP BY d.lang, b.lo, b.hi
    """,
    doc="Length-percentile gating: keep documents inside their "
    "language's [P5, P95] character-length band.  The per-lang bounds "
    "frame is 5 rows → broadcast back onto the corpus, so the gate is a "
    "map-side filter; exact percentiles match DuckDB quantile_cont "
    "(continuous interpolation), approx_percentile is the drop-in at "
    "100 TB (q28 shows the twin pattern).",
)
def qc06_length_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bounds = d.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi"),
    )
    kept = d.join(F.broadcast(bounds), "lang").filter(
        F.col("n_chars").between(F.col("lo"), F.col("hi"))
    )
    return kept.groupBy("lang", "lo", "hi").agg(F.count("*").alias("n_kept")).select(
        "lang",
        F.round("lo", 4).alias("lo"),
        F.round("hi", 4).alias("hi"),
        "n_kept",
    )


@register(
    "qc07_hll_sketch_union",
    oracle=None,  # Datasketches HLL estimates are not reproducible in
    # ANSI SQL / DuckDB (different sketch family) — rows-only check here;
    # tests/test_curation.py pins estimate-vs-exact relative error <= 5%.
    doc="Mergeable distinct-count sketches: per-(event_type, day) HLL "
    "sketches built with hll_sketch_agg, merged across days with "
    "hll_union_agg, estimated, and joined against the exact "
    "countDistinct.  THE 100 TB distinct-count pattern: daily shards "
    "aggregate independently (partition-pruned), the merge moves only "
    "fixed-size sketch buffers — raw user_ids never re-shuffle for the "
    "global rollup.",
)
def qc07_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "approx_users",
        "exact_users",
        F.round(
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users"),
            4,
        ).alias("rel_err"),
    )


#: Terms masked by the redaction pass (stand-in for a PII term/pattern
#: list; the fixture vocabulary has no real PII, so entity-ish corpus
#: words play the role).  The mask mechanics — global regex replace +
#: masked-token accounting — are exactly the production shape.
_REDACT_TERMS = ("customer", "key", "value")


@register(
    "qc08_term_redaction",
    oracle=f"""
        SELECT
            doc_id,
            regexp_replace(text, '\\b({'|'.join(_REDACT_TERMS)})\\b', '[MASK]', 'g')
                AS masked_text,
            len(list_filter(string_split(text, ' '),
                            w -> w IN {_REDACT_TERMS!r})) AS n_masked
        FROM documents
    """,
    doc="PII-style term redaction: mask every occurrence of a sensitive "
    "term list via one global regexp_replace and count masked tokens "
    "with a HOF filter over the token array.  Pure map-side Catalyst "
    "expressions — no shuffle, no UDF; at 100 TB this runs at scan "
    "speed and the pattern list swaps for real PII regexes (email/"
    "phone/ID) without changing the plan.",
)
def qc08_term_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pat = r"\b(" + "|".join(_REDACT_TERMS) + r")\b"
    terms = F.array(*[F.lit(t) for t in _REDACT_TERMS])
    return d.select(
        "doc_id",
        F.regexp_replace("text", pat, "[MASK]").alias("masked_text"),
        F.size(
            F.filter(F.split("text", " "), lambda w: F.array_contains(terms, w))
        ).alias("n_masked"),
    )


#: Target language mixture for the rebalanced corpus sample and the
#: total sample budget.  Real corpus builds tune these per data recipe;
#: they are constant folds, not plan inputs.
_MIX_TARGET = {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.1, "zh": 0.1}
_MIX_BUDGET = 200


@register(
    "qc09_mixture_rebalance",
    oracle=f"""
        SELECT lang, doc_id
        FROM documents
        QUALIFY row_number() OVER (
                    PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                )
             <= least(
                    CAST(floor({_MIX_BUDGET} * CASE lang
                        {' '.join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_TARGET.items())}
                        ELSE 0.0 END) AS BIGINT),
                    count(*) OVER (PARTITION BY lang))
    """,
    doc="Data-mixture rebalancing: draw a deterministic sample whose "
    "language shares follow a target recipe (en 40%, de/es 20%, fr/zh "
    "10%) — per-lang quota = floor(share * budget) capped by stratum "
    "size, members picked by md5(doc_id) rank.  One stratum-keyed "
    "window shuffle, no RNG, reproducible across engines and reruns; "
    "at 100 TB the quota math is identical per (lang, shard) so strata "
    "rebalance in parallel.",
)
def qc09_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    share = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _MIX_TARGET.items()],
        F.lit(0.0),
    )
    quota = F.least(
        F.floor(F.lit(_MIX_BUDGET) * share).cast("long"),
        F.count(F.lit(1)).over(W.partitionBy("lang")),
    )
    rk = F.row_number().over(
        W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    )
    return (
        d.withColumn("__rk", rk)
        .withColumn("__q", quota)
        .filter(F.col("__rk") <= F.col("__q"))
        .select("lang", "doc_id")
    )


@register(
    "qc10_heavy_hitters",
    oracle="""
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS token
            FROM documents
        ), tot AS (
            SELECT count(*) AS n FROM tok
        )
        SELECT t.token,
               count(*) AS freq,
               round(count(*) * 100.0 / max(tot.n), 4) AS pct
        FROM tok t CROSS JOIN tot
        GROUP BY t.token
        HAVING count(*) * 1.0 / max(tot.n) > 0.005
        ORDER BY freq DESC, token ASC
    """,
    doc="Exact heavy hitters: tokens above 0.5% corpus support — the "
    "vocabulary-pruning / boilerplate-detection primitive for corpus "
    "curation.  explode -> groupBy(token) with map-side partial agg "
    "(token counts combine before the shuffle, so shuffle volume is "
    "~vocabulary size, not corpus size); the corpus total is a 1-row "
    "broadcast.  At 100 TB the same plan holds: partial aggregation "
    "makes the shuffle proportional to distinct tokens per partition.",
)
def qc10_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("token"))
    counts = tok.groupBy("token").agg(F.count("*").alias("freq"))
    # Corpus total from the (vocabulary-sized) counts, NOT a second
    # corpus-sized explode+scan: sum(freq) == count of all tokens.
    total = counts.agg(F.sum("freq").alias("n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("freq") / F.col("n") > 0.005)
        .select(
            "token",
            "freq",
            F.round(F.col("freq") * 100.0 / F.col("n"), 4).alias("pct"),
        )
        .orderBy(F.desc("freq"), F.asc("token"))
    )


@register(
    "qc11_incremental_dedup",
    oracle="""
        WITH tagged AS (
            SELECT doc_id, source, lang,
                   md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
                   doc_id % 5 = 4 AS is_new
            FROM documents
        ), corpus_fp AS (
            SELECT DISTINCT fp FROM tagged WHERE NOT is_new
        ), batch_kept AS (
            SELECT t.doc_id, t.source, t.lang, t.fp
            FROM tagged t
            WHERE t.is_new
              AND NOT EXISTS (SELECT 1 FROM corpus_fp c WHERE c.fp = t.fp)
        ), survivors AS (
            SELECT doc_id, source, lang,
                   ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM batch_kept
        )
        SELECT doc_id, source, lang FROM survivors WHERE rn = 1
        ORDER BY doc_id
    """,
    doc="Incremental dedup: admit an incoming batch against an existing "
    "corpus — drop batch docs whose canonical fingerprint (whitespace-"
    "normalized lowercase md5) already exists in the corpus (anti-join "
    "on the digest), then resolve within-batch dups to the min doc_id "
    "survivor.  The corpus side ships ONLY distinct 16-byte digests "
    "(never text), so at 100 TB the anti-join probe is digest-sized; "
    "the within-batch pass shuffles just the incoming batch.  The "
    "is_new split stands in for the new-arrivals partition of an "
    "ingest pipeline.",
)
def qc11_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..api import fingerprint

    d = fingerprint(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang", "text"),
        "text",
        out_col="fp",
    ).withColumn("is_new", F.col("doc_id") % 5 == 4)
    corpus_fp = d.filter(~F.col("is_new")).select("fp").distinct()
    batch = d.filter(F.col("is_new"))
    kept = batch.join(corpus_fp, "fp", "left_anti")
    from pyspark.sql import Window as W

    survivors = kept.withColumn(
        "rn", F.row_number().over(W.partitionBy("fp").orderBy("doc_id"))
    ).filter(F.col("rn") == 1)
    return survivors.select("doc_id", "source", "lang").orderBy("doc_id")


def _morton_sql(x: str, y: str, bits: int = 8) -> str:
    """Bit-interleave expression text (identical in Spark SQL and DuckDB:
    integer >>, &, << only) — z = ...y1x1y0x0."""
    terms = []
    for k in range(bits):
        terms.append(f"((({x} >> {k}) & 1) << {2 * k})")
        terms.append(f"((({y} >> {k}) & 1) << {2 * k + 1})")
    return " + ".join(terms)


@register(
    "qc12_zorder_layout",
    oracle=f"""
        WITH coded AS (
            SELECT
                l_partkey & 255 AS x,
                l_suppkey & 255 AS y,
                {_morton_sql("(l_partkey & 255)", "(l_suppkey & 255)")} AS z
            FROM lineitem
        )
        SELECT
            z // 4096 AS file_bucket,
            count(*) AS n_rows,
            min(x) AS min_x, max(x) AS max_x,
            min(y) AS min_y, max(y) AS max_y
        FROM coded
        GROUP BY z // 4096
    """,
    doc="Z-order (Morton-curve) layout clustering — the multi-dimensional "
    "data-layout story for 100 TB: interleaving the bits of two join/"
    "filter keys gives a 1-d sort order in which ANY contiguous z-range "
    "covers a bounded rectangle of (x, y), so files written sorted by z "
    "carry tight parquet min/max footer stats on BOTH dimensions and "
    "either predicate prunes the scan.  The query computes the 16-bit "
    "Morton code with pure integer bit arithmetic (portable: the same "
    "expression text runs in Spark SQL and DuckDB), buckets it into 16 "
    "simulated files (z div 4096 pins x's and y's top 2 bits), and "
    "emits each bucket's (min, max) envelope — the oracle-checked proof "
    "that every bucket spans <= 64 of the 256 values on each dimension "
    "where a single-key sort would leave the other dimension spanning "
    "all 256.  Production: repartitionByRange(z).sortWithinPartitions(z) "
    "before the parquet write; no shuffle here beyond the one hash agg.",
)
def qc12_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    coded = li.select(
        (F.col("l_partkey").bitwiseAND(255)).alias("x"),
        (F.col("l_suppkey").bitwiseAND(255)).alias("y"),
        F.expr(_morton_sql("(l_partkey & 255)", "(l_suppkey & 255)")).alias("z"),
    )
    return (
        coded.groupBy(F.expr("z div 4096").alias("file_bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )


def qc13_oracle_for(sf_dir: str) -> str:
    """Render qc13's layout-audit oracle against the scratch dir for a
    given fixture scale.  The REGISTERED oracle bakes the driver's
    correctness scale (sf0.01); cross-scale tests re-render via this
    helper so the audit reads the files Spark actually wrote for THAT
    scale instead of silently comparing two different datasets."""
    return f"""
        SELECT
            parse_filename(filename) AS fname,
            count(*) AS n_rows,
            min(x) AS min_x, max(x) AS max_x,
            min(y) AS min_y, max(y) AS max_y,
            min(z) AS min_z, max(z) AS max_z
        FROM read_parquet('{scratch.path("zorder", sf_dir)}/*.parquet', filename=true)
        GROUP BY 1
    """


@register(
    "qc13_zorder_file_stats",
    oracle=qc13_oracle_for(SF_ORACLE),
    doc="The Z-order layout MATERIALIZED: lineitem keys are Morton-"
    "encoded (qc12's bit interleave), range-partitioned into 4 files on "
    "z, sorted within each file, and written as parquet — then read "
    "back with the _metadata.file_name hidden column to prove the "
    "layout: every physical file covers a bounded (x, y) envelope, so "
    "parquet footer min/max stats prune scans on EITHER key.  The "
    "oracle re-derives the same per-file envelopes via DuckDB's "
    "read_parquet(filename=true) over the files Spark wrote — an "
    "engine-independent audit of the actual on-disk layout, not just "
    "the logical plan.  repartitionByRange samples z (one extra pass) "
    "— at 100 TB that sample is the only global step; the sort is "
    "within-partition.",
)
def qc13_zorder_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    out = scratch.path("zorder", sf_dir)
    if not os.path.isdir(out):
        li = load_table(spark, sf_dir, "lineitem")
        coded = li.select(
            (F.col("l_partkey").bitwiseAND(255)).alias("x"),
            (F.col("l_suppkey").bitwiseAND(255)).alias("y"),
            F.expr(_morton_sql("(l_partkey & 255)", "(l_suppkey & 255)")).alias("z"),
        )
        (
            coded.repartitionByRange(4, "z")
            .sortWithinPartitions("z")
            .write.mode("overwrite")
            .parquet(out)
        )
    back = spark.read.parquet(out).select(
        F.element_at(F.split(F.col("_metadata.file_name"), "/"), -1).alias("fname"),
        "x",
        "y",
        "z",
    )
    return back.groupBy("fname").agg(
        F.count("*").alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
        F.min("z").alias("min_z"),
        F.max("z").alias("max_z"),
    )


#: Words per paragraph-unit for corpus-level chunk dedup (qc14).  Real
#: paragraph dedup splits on '\n\n'; the synthetic fixture text has no
#: newlines, so fixed 16-word units stand in for paragraphs — the plan
#: shape (explode → digest-keyed window → reassemble) is identical.
_PARA_W = 16


@register(
    "qc14_paragraph_dedup",
    oracle=f"""
        WITH sized AS (
            SELECT doc_id, string_split(text, ' ') AS w,
                   len(string_split(text, ' ')) AS n,
                   (len(string_split(text, ' ')) + {_PARA_W - 1}) // {_PARA_W}
                       AS n_chunks
            FROM documents
            WHERE len(string_split(text, ' ')) >= 1
        ),
        chunks AS (
            SELECT doc_id, i AS idx,
                   array_to_string(
                       w[i * {_PARA_W} + 1 : least((i + 1) * {_PARA_W}, n)],
                       ' ') AS chunk
            FROM sized CROSS JOIN UNNEST(generate_series(0, n_chunks - 1)) AS t(i)
        ),
        ranked AS (
            SELECT doc_id, idx, chunk,
                   row_number() OVER (
                       PARTITION BY md5(chunk) ORDER BY doc_id, idx) AS rn
            FROM chunks
        ),
        kept AS (
            SELECT doc_id, count(*) AS n_kept,
                   md5(string_agg(chunk, ' ' ORDER BY idx)) AS digest
            FROM ranked WHERE rn = 1 GROUP BY doc_id
        )
        SELECT s.doc_id,
               s.n_chunks,
               coalesce(k.n_kept, 0) AS n_kept,
               s.n_chunks - coalesce(k.n_kept, 0) AS n_dropped,
               coalesce(k.digest, md5('')) AS digest
        FROM sized s LEFT JOIN kept k USING (doc_id)
    """,
    doc=f"Paragraph-level corpus dedup with reassembly (the RefinedWeb / "
    f"Gopher repetition-removal step): each doc splits into {_PARA_W}-word "
    "units, every unit that already appeared earlier in the corpus (first "
    "occurrence ordered by (doc_id, idx) survives) is DROPPED from the "
    "doc, and the survivors re-join in order — emitted as md5(rebuilt "
    "text) plus kept/dropped counts so the wire rows stay scalar.  Scale "
    "shape: the dedup window shuffles md5(unit) digests as the partition "
    "key (16 bytes/unit, never bodies); reassembly shuffles by doc_id "
    "with sort_array over collected (idx, unit) structs.  Exact-dup docs "
    "planted in the fixture lose ALL their units to the earlier copy "
    "(n_kept=0, digest=md5('')), which the oracle pins.",
)
def qc14_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return api.paragraph_dedup(d, "doc_id", "text", width=_PARA_W)


@register(
    "qc15_gopher_quality_rules",
    oracle="""
        WITH sig AS (
            SELECT doc_id, lang,
                   string_split(text, ' ') AS w,
                   len(string_split(text, ' ')) AS n_words,
                   len(replace(text, ' ', '')) AS n_letters
            FROM documents
        ),
        scored AS (
            SELECT doc_id, lang, n_words,
                   n_letters * 1.0 / n_words AS mwl,
                   len(list_filter(w, x -> regexp_matches(x, '[^a-z]')))
                       * 1.0 / n_words AS sym,
                   len(list_filter(w,
                       x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS n_stop
            FROM sig
        )
        SELECT doc_id, lang, n_words,
               round(mwl, 4) AS mean_word_len,
               round(sym, 4) AS symbol_frac,
               n_stop,
               CAST(n_words BETWEEN 20 AND 10000
                    AND mwl BETWEEN 3 AND 10
                    AND sym <= 0.1
                    AND n_stop >= 1 AS INT) AS passes
        FROM scored
    """,
    doc="Gopher-style quality-rule bundle (Rae et al. 2021 §A1.1, scaled "
    "to the fixture): per-doc word count, mean word length, symbol-word "
    "fraction and stop-word presence, each a pure Catalyst expression "
    "(split + HOF filter — no UDF), combined into one pass/fail gate "
    "(word count in [20,10000], mean word length in [3,10], symbol "
    "fraction <= 0.1, >= 1 stop word).  Entirely map-side: zero "
    "shuffles, scales linearly with corpus bytes; thresholds are "
    "literals so changing them never changes the plan.  The gate "
    "decisions compare RAW doubles (identical int-ratio arithmetic in "
    "both engines) while the reported signals round to 4 dp for the "
    "wire.",
)
def qc15_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    scored = api.gopher_signals(d, "text")
    gate = (
        F.col("n_words").between(20, 10000)
        & F.col("__mwl").between(3, 10)
        & (F.col("__sym") <= 0.1)
        & (F.col("n_stop") >= 1)
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_words",
        F.round("__mwl", 4).alias("mean_word_len"),
        F.round("__sym", 4).alias("symbol_frac"),
        "n_stop",
        gate.cast("int").alias("passes"),
    )


@register(
    "qc16_canary_substring_scan",
    oracle="""
        WITH needles AS (
            SELECT doc_id AS bench_id,
                   array_to_string((string_split(text, ' '))[1:8], ' ') AS needle
            FROM documents WHERE source = 'src0'
        )
        SELECT c.doc_id,
               count(CASE WHEN instr(c.text, n.needle) > 0 THEN 1 END) AS n_hits,
               CAST(count(CASE WHEN instr(c.text, n.needle) > 0 THEN 1 END) > 0
                    AS INT) AS contaminated
        FROM documents c CROSS JOIN needles n
        WHERE c.source <> 'src0'
        GROUP BY c.doc_id
    """,
    doc="Exact-substring canary scan (the decontamination variant used "
    "for eval-set canaries and memorization probes, complementing "
    "qc01's n-gram overlap): the needle set is each benchmark doc's "
    "8-word prefix — KB-scale even against a 100 TB corpus — so it "
    "broadcasts and the corpus side is a map-only instr() scan + one "
    "doc_id-keyed partial agg.  No corpus-vs-corpus join; needle count "
    "is bounded by the eval suite, so per-row cost is O(needles x "
    "doc_len) map-side work that parallelizes perfectly.",
)
def qc16_canary_substring_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    needles = d.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(F.split("text", " "), 1, 8), " ").alias("needle"),
    )
    corpus = d.filter(F.col("source") != "src0").select("doc_id", "text")
    hit = F.expr("instr(text, needle)") > 0
    return (
        corpus.crossJoin(F.broadcast(needles))
        .groupBy("doc_id")
        .agg(F.count(F.when(hit, 1)).alias("n_hits"))
        .select(
            "doc_id",
            "n_hits",
            (F.col("n_hits") > 0).cast("int").alias("contaminated"),
        )
    )


@register(
    "qc17_bitmap_exact_distinct",
    oracle="""
        SELECT lang, count(DISTINCT doc_id) AS n_distinct_docs
        FROM documents GROUP BY lang
    """,
    doc="EXACT mergeable distinct counting via bitmap aggregates "
    "(bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg "
    "+ bitmap_count) — the exact counterpart of qc07's HLL sketches: "
    "per-(group, bucket) fixed-size 4 KB bitmaps build map-side, merge "
    "associatively, and sum(bitmap_count) recovers the exact distinct "
    "count.  Unlike count(DISTINCT) this never re-shuffles raw ids for "
    "a second exchange, and partial bitmaps are persistable: at 100 TB "
    "each shard's bitmaps land in a rollup table and later merges are "
    "bitmap_or_agg over 4 KB blobs — incremental-refresh distinct "
    "counts with zero re-scan.  The oracle pins exactness against "
    "count(DISTINCT).",
)
def qc17_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_bucket = (
        d.select("lang", F.col("doc_id").alias("id"))
        .groupBy("lang", F.bitmap_bucket_number("id").alias("bucket"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("id")).alias("bm"))
    )
    return per_bucket.groupBy("lang").agg(
        F.sum(F.bitmap_count("bm")).alias("n_distinct_docs")
    )


def qc18_oracle_for(sf_dir: str) -> str:
    """Render qc18's file-audit oracle against this scale's scratch dirs
    (same per-sf pattern as qc13_oracle_for)."""
    frag = scratch.path("compact_frag", sf_dir)
    comp = scratch.path("compact_comp", sf_dir)
    return f"""
        WITH f AS (
            SELECT filename, count(*) AS n
            FROM read_parquet('{frag}/*.parquet', filename=true) GROUP BY 1
        ),
        c AS (
            SELECT filename, count(*) AS n
            FROM read_parquet('{comp}/*.parquet', filename=true) GROUP BY 1
        )
        SELECT 'fragmented' AS stage, count(*) AS n_files,
               CAST(sum(n) AS BIGINT) AS n_rows,
               CAST(min(n) AS BIGINT) AS min_rows_per_file,
               CAST(max(n) AS BIGINT) AS max_rows_per_file
        FROM f
        UNION ALL
        SELECT 'compacted', count(*), CAST(sum(n) AS BIGINT),
               CAST(min(n) AS BIGINT), CAST(max(n) AS BIGINT)
        FROM c
    """


@register(
    "qc18_small_file_compaction",
    oracle=qc18_oracle_for(SF_ORACLE),
    doc="Small-file compaction (the OPTIMIZE step every long-lived "
    "100 TB table needs): a fragmented write (repartition(64) — the "
    "shape incremental ingest leaves behind) is compacted by "
    "re-writing through repartition(4), and BOTH layouts are audited "
    "via the _metadata.file_name hidden column: file count, rows per "
    "layout, min/max rows per file.  The oracle re-counts the actual "
    "on-disk files with DuckDB read_parquet(filename=true) — an "
    "engine-independent proof the compaction happened and lost "
    "nothing.  Fragmented reads pay per-file open cost + footer reads "
    "+ scheduler overhead (and at cloud-storage latency, per-file "
    "round trips); compaction is one shuffle whose output size is "
    "controlled by spark.sql.files.maxRecordsPerFile / target "
    "partition count.",
)
def qc18_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    frag = scratch.path("compact_frag", sf_dir)
    comp = scratch.path("compact_comp", sf_dir)
    if not os.path.isdir(frag):
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        o.repartition(64).write.mode("overwrite").parquet(frag)
    if not os.path.isdir(comp):
        spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(comp)

    def audit(path: str, stage: str) -> DataFrame:
        per_file = (
            spark.read.parquet(path)
            .groupBy(F.col("_metadata.file_name").alias("f"))
            .agg(F.count("*").alias("n"))
        )
        return per_file.agg(
            F.lit(stage).alias("stage"),
            F.count("*").alias("n_files"),
            F.sum("n").cast("long").alias("n_rows"),
            F.min("n").cast("long").alias("min_rows_per_file"),
            F.max("n").cast("long").alias("max_rows_per_file"),
        )

    return audit(frag, "fragmented").unionByName(audit(comp, "compacted"))


#: Global token budget for the mixture-allocation demo (fixture-scaled;
#: production uses the run's actual token target — a literal either way).
_WATERFILL_BUDGET = 20000

#: Target mixture weights by language (must sum to 1; unlisted langs
#: get 0 and fall out of the allocation).
_WATERFILL_WEIGHTS = {"en": 0.5, "zh": 0.2, "es": 0.15, "fr": 0.1, "de": 0.05}


@register(
    "qc19_mixture_waterfill",
    oracle=f"""
        WITH weights(lang, w) AS (
            VALUES ('en', 0.5), ('zh', 0.2), ('es', 0.15),
                   ('fr', 0.1), ('de', 0.05)
        ),
        avail AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                       AS avail_tokens
            FROM documents GROUP BY lang
        ),
        alloc AS (
            SELECT a.lang, a.n_docs, a.avail_tokens, w.w,
                   CAST(floor(w.w * {_WATERFILL_BUDGET}) AS BIGINT) AS target_tokens
            FROM avail a JOIN weights w USING (lang)
        )
        SELECT lang, n_docs, avail_tokens, target_tokens,
               least(avail_tokens, target_tokens) AS allocated_tokens,
               CAST(avail_tokens < target_tokens AS INT) AS starved,
               round(least(avail_tokens, target_tokens) * 1.0
                     / avail_tokens, 4) AS sample_rate
        FROM alloc
    """,
    doc=f"Data-mixture budget allocation (the planning step ahead of "
    "qc09's quota sampling): per-language available tokens vs the "
    f"target share of a {_WATERFILL_BUDGET}-token budget — allocation = "
    "min(available, floor(weight*budget)), with a `starved` flag where "
    "the corpus can't fill its share (the signal to re-weight or "
    "up-sample) and the resulting per-lang sampling rate.  The weight "
    "table is a literal VALUES relation (broadcast by construction); "
    "the corpus side is one scan + lang-keyed agg, so planning a "
    "100 TB mixture costs one pass over token COUNTS.  Downstream, "
    "qc03's hash-bucket sampler consumes sample_rate per lang.",
)
def qc19_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    avail = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("avail_tokens"),
    )
    weights = F.create_map(
        *[F.lit(x) for kv in _WATERFILL_WEIGHTS.items() for x in kv]
    )
    alloc = avail.withColumn("w", weights[F.col("lang")]).where(
        F.col("w").isNotNull()
    ).withColumn(
        # round(,6) before floor: the weight map stores binary doubles, so
        # 0.6*20000 can evaluate to 11999.999... and floor one below the
        # oracle's exact-DECIMAL arithmetic; rounding at 6 dp makes both
        # engines agree for any weight with <=6 decimal digits.
        "target_tokens",
        F.floor(F.round(F.col("w") * _WATERFILL_BUDGET, 6)).cast("long"),
    )
    allocated = F.least("avail_tokens", "target_tokens")
    return alloc.select(
        "lang",
        "n_docs",
        "avail_tokens",
        "target_tokens",
        allocated.alias("allocated_tokens"),
        (F.col("avail_tokens") < F.col("target_tokens")).cast("int").alias("starved"),
        F.round(allocated * 1.0 / F.col("avail_tokens"), 4).alias("sample_rate"),
    )


#: Temperature exponent for qc20 (0<alpha<1 upsamples the tail —
#: multilingual-LM practice; alpha=1 is proportional, alpha=0 uniform).
_TEMP_ALPHA = 0.5


@register(
    "qc20_temperature_mixture",
    oracle=f"""
        WITH avail AS (
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                       AS avail_tokens
            FROM documents GROUP BY lang
        ),
        powed AS (
            SELECT *, pow(avail_tokens, {_TEMP_ALPHA}) AS p FROM avail
        ),
        tot AS (SELECT sum(p) AS tp FROM powed)
        SELECT lang, n_docs, avail_tokens,
               round(p / tp, 6) AS temp_weight,
               round(p / tp, 6)
                   - round(avail_tokens * 1.0
                           / (SELECT sum(avail_tokens) FROM avail), 6)
                   AS weight_shift,
               CAST(floor(round(round(p / tp, 6) * {_WATERFILL_BUDGET}, 6))
                    AS BIGINT) AS target_tokens
        FROM powed CROSS JOIN tot
    """,
    doc=f"Temperature-scaled mixture reweighting (alpha={_TEMP_ALPHA}): "
    "w_i ∝ (tokens_i)^alpha — the standard multilingual/multi-source "
    "rebalance (upsample the tail, damp the head) that sits between "
    "qc19's explicit-weight waterfill and qc09's quota sampler.  "
    "Output per language: available tokens, the temperature weight, "
    "the SHIFT vs proportional sampling (positive = upsampled — the "
    "decision column a data-mixture review reads), and the resulting "
    f"token allocation from a {_WATERFILL_BUDGET}-token budget "
    "(round-before-floor, the qc19 double-arithmetic rule; weights "
    "round to 6 dp first so both engines floor the same quantity).  "
    "Scale shape: one scan to token counts, then a |langs|-row "
    "computation — planning a 100 TB mixture costs one pass over "
    "counts, and the weights feed qc03's hash-bucket sampler "
    "unchanged.",
)
def qc20_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    avail = d.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("avail_tokens"),
    )
    powed = avail.withColumn("p", F.pow("avail_tokens", F.lit(_TEMP_ALPHA)))
    tot = powed.agg(
        F.sum("p").alias("tp"),
        F.sum("avail_tokens").alias("ta"),
    )
    w = F.round(F.col("p") / F.col("tp"), 6)
    return (
        powed.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "avail_tokens",
            w.alias("temp_weight"),
            (w - F.round(F.col("avail_tokens") * 1.0 / F.col("ta"), 6)).alias(
                "weight_shift"
            ),
            F.floor(F.round(w * _WATERFILL_BUDGET, 6)).cast("long").alias(
                "target_tokens"
            ),
        )
    )


@register(
    "qc21_leakage_safe_split",
    oracle="""
        WITH RECURSIVE pairs AS (
            WITH tok AS (
                SELECT DISTINCT doc_id, lang, source,
                       unnest(string_split(text, ' ')) AS token
                FROM documents
            ), sizes AS (
                SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS n_common
                FROM tok a
                JOIN tok b ON a.token = b.token AND a.lang = b.lang
                          AND a.source = b.source AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common)
                  >= 0.8
        ), edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ), reach(node, root) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
        ), comp AS (
            SELECT node AS doc_id, min(root) AS component
            FROM reach GROUP BY node
        ), rep AS (
            SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
            FROM documents d LEFT JOIN comp c USING (doc_id)
        ), labeled AS (
            SELECT doc_id, rep,
                   CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 1) < 'c'
                        THEN 'train'
                        WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 1) < 'e'
                        THEN 'val'
                        ELSE 'test' END AS split
            FROM rep
        ), leaks AS (
            SELECT count(*) AS leaked FROM (
                SELECT rep FROM labeled
                GROUP BY rep HAVING count(DISTINCT split) > 1
            )
        )
        SELECT split,
               CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST((SELECT leaked FROM leaks) AS BIGINT) AS leaked_clusters
        FROM labeled GROUP BY split
    """,
    doc="LEAKAGE-SAFE train/val/test split — the assignment unit is the "
    "near-duplicate CLUSTER (q74b's connected components over the "
    "exact-Jaccard pair graph; singletons are their own cluster), not "
    "the document: hash-splitting per document puts one near-dup in "
    "train and its twin in test, silently inflating eval (the "
    "train-test contamination Lee et al. 2022 measure), so the split "
    "key is the cluster representative's md5 (first hex digit: <'c' "
    "train ~75%, <'e' val ~12.5%, else test).  The output carries "
    "leaked_clusters — clusters spanning >1 split — computed "
    "relationally: 0 BY CONSTRUCTION, and the audit column proves it "
    "in the same hash-verified result.  Scale: components come from "
    "the iterative min-label CC (near-linear, LSH-pair input); the "
    "split itself is one map-side expression on the representative — "
    "no RNG, reproducible under any partitioning, same recipe as "
    "qc03's sampler.",
)
def qc21_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _dup_component_labels

    # Reuse q74b's memoized, checkpointed component labels directly —
    # the CC fixpoint (the ~5 s dominant cost here) runs once per
    # session for the whole family instead of once per query.
    comp = _dup_component_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "component"
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    rep = d.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("rep")
    )
    tag = F.substring(F.md5(F.col("rep").cast("string")), 1, 1)
    labeled = rep.withColumn(
        "split",
        F.when(tag < "c", "train").when(tag < "e", "val").otherwise("test"),
    )
    leaks = (
        labeled.groupBy("rep")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count("*").cast("long").alias("leaked_clusters"))
    )
    return (
        labeled.groupBy("split")
        .agg(
            F.countDistinct("rep").cast("long").alias("n_clusters"),
            F.count("*").cast("long").alias("n_docs"),
        )
        .crossJoin(F.broadcast(leaks))
    )


@register(
    "qc22_dedup_savings_report",
    oracle="""
        WITH ranked AS (
            SELECT source,
                   len(string_split(text, ' ')) AS n_tokens,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unique,
               CAST(sum(n_tokens) AS BIGINT) AS tokens_before,
               CAST(sum(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END)
                    AS BIGINT) AS tokens_after,
               round(1.0 - sum(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END)
                           * 1.0 / sum(n_tokens), 6) AS savings_rate
        FROM ranked GROUP BY source
    """,
    doc="Dedup SAVINGS report per source — the accounting table that "
    "justifies (or kills) a dedup stage: token volume before vs after "
    "global exact keep-first dedup, attributed to each source "
    "(duplicates crossing sources debit the LATER source, matching "
    "keep-first survivorship — the source shipping re-crawls of "
    "another's pages is the one that shows savings).  One window + "
    "one agg; only token COUNTS and 16-byte digests shuffle.  The "
    "near-dup extension swaps rn for qp5's funnel membership — same "
    "report shape, same per-source attribution.",
)
def qc22_dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    ranked = d.select(
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.row_number().over(w).alias("rn"),
    )
    first = F.when(F.col("rn") == 1, 1).otherwise(0)
    kept_tokens = F.sum(F.when(F.col("rn") == 1, F.col("n_tokens")).otherwise(0))
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(first).cast("long").alias("n_unique"),
        F.sum("n_tokens").cast("long").alias("tokens_before"),
        kept_tokens.cast("long").alias("tokens_after"),
        F.round(1.0 - kept_tokens * 1.0 / F.sum("n_tokens"), 6).alias(
            "savings_rate"
        ),
    )


@register(
    "qc23_contamination_attribution",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source, string_split(text, ' ') AS w
            FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id, source,
                   array_to_string(w[i:i+{_NGRAM - 1}], ' ') AS g
            FROM toks
            CROSS JOIN UNNEST(generate_series(1, len(w) - {_NGRAM - 1}))
                AS t(i)
        ),
        pairs AS (
            SELECT b.doc_id AS bench_doc, c.doc_id AS corpus_doc,
                   count(*) AS shared
            FROM (SELECT doc_id, g FROM grams WHERE source = 'src0') b
            JOIN (SELECT doc_id, g FROM grams WHERE source <> 'src0') c
              USING (g)
            GROUP BY 1, 2
        )
        SELECT bench_doc,
               CAST(count(*) AS BIGINT) AS n_contaminating_docs,
               CAST(max(shared) AS BIGINT) AS max_shared_grams,
               CAST(sum(shared) AS BIGINT) AS total_gram_hits
        FROM pairs GROUP BY bench_doc
    """,
    doc="Contamination ATTRIBUTION — qc01's complement, viewed from the "
    "benchmark's side: for every eval document (source='src0' stands "
    "in for the suite), how many corpus documents share a 3-gram with "
    "it, the worst single-document overlap, and total gram hits.  "
    "qc01 answers 'which corpus docs must I drop'; THIS table answers "
    "'which eval items are already burned and by how much' — the "
    "report an eval-integrity review reads before trusting a score "
    "(Lee et al. 2022 measure exactly this attribution).  Scale: "
    "per-doc-distinct grams are map-side; the gram equi-join's "
    "fan-out is bounded by per-gram document frequency (q74e's "
    "prefix-join bound) and the benchmark side is eval-suite-sized "
    "(broadcastable at any corpus scale); aggregates carry counts "
    "only.",
)
def qc23_contamination_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        "source",
        F.explode(api.word_grams(F.split("text", " "), _NGRAM, distinct=True)).alias("g"),
    )
    bench = grams.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("bench_doc"), "g"
    )
    corpus = grams.filter(F.col("source") != "src0").select(
        F.col("doc_id").alias("corpus_doc"), "g"
    )
    pairs = (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("bench_doc", "corpus_doc")
        .agg(F.count("*").alias("shared"))
    )
    return pairs.groupBy("bench_doc").agg(
        F.count("*").cast("long").alias("n_contaminating_docs"),
        F.max("shared").cast("long").alias("max_shared_grams"),
        F.sum("shared").cast("long").alias("total_gram_hits"),
    )


@register(
    "qc24_postdedup_mixture_replan",
    oracle=f"""
        WITH weights(lang, w) AS (
            VALUES ('en', 0.5), ('zh', 0.2), ('es', 0.15),
                   ('fr', 0.1), ('de', 0.05)
        ),
        ranked AS (
            SELECT lang, len(string_split(text, ' ')) AS n_tokens,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM documents
        ),
        tok AS (
            SELECT lang,
                   CAST(sum(n_tokens) AS BIGINT) AS pre_tokens,
                   CAST(sum(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END)
                        AS BIGINT) AS post_tokens
            FROM ranked GROUP BY lang
        )
        SELECT t.lang, t.pre_tokens, t.post_tokens,
               least(t.pre_tokens,
                     CAST(floor(w.w * {_WATERFILL_BUDGET}) AS BIGINT))
                   AS pre_alloc,
               least(t.post_tokens,
                     CAST(floor(w.w * {_WATERFILL_BUDGET}) AS BIGINT))
                   AS post_alloc,
               CAST(t.post_tokens <
                    CAST(floor(w.w * {_WATERFILL_BUDGET}) AS BIGINT)
                    AS INT) AS starved_after_dedup
        FROM tok t JOIN weights w USING (lang)
    """,
    doc="POST-dedup mixture replan — the step qc19 and qc22 exist to "
    "feed: the waterfill allocation recomputed against tokens that "
    "SURVIVE exact keep-first dedup, next to the naive pre-dedup "
    "allocation.  A language whose corpus is duplicate-heavy can "
    "afford its target share on paper and starve after dedup "
    "(starved_after_dedup flags exactly that) — allocating against "
    "pre-dedup counts over-promises the mixture, the classic "
    "planning bug this table catches before a training run.  Same "
    "round-before-floor and exact-token-count rules as qc19/qc22; "
    "scale shape is theirs too (digest window + lang agg + literal "
    "broadcast weights).",
)
def qc24_postdedup_mixture_replan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    w_d = W.partitionBy(F.md5("text")).orderBy("doc_id")
    ranked = d.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.row_number().over(w_d).alias("rn"),
    )
    tok = ranked.groupBy("lang").agg(
        F.sum("n_tokens").cast("long").alias("pre_tokens"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("post_tokens"),
    )
    weights = F.create_map(
        *[F.lit(x) for kv in _WATERFILL_WEIGHTS.items() for x in kv]
    )
    target = F.floor(F.round(weights[F.col("lang")] * _WATERFILL_BUDGET, 6)).cast(
        "long"
    )
    return (
        tok.withColumn("target", target)
        .where(F.col("target").isNotNull())
        .select(
            "lang",
            "pre_tokens",
            "post_tokens",
            F.least("pre_tokens", "target").alias("pre_alloc"),
            F.least("post_tokens", "target").alias("post_alloc"),
            (F.col("post_tokens") < F.col("target")).cast("int").alias(
                "starved_after_dedup"
            ),
        )
    )


@register(
    "qc26_curriculum_order",
    oracle="""
        WITH scored AS (
            SELECT doc_id, lang, n_chars,
                   len(string_split(text, ' ')) AS n_tokens,
                   CAST(n_chars AS DOUBLE) / len(string_split(text, ' '))
                       AS difficulty
            FROM documents
        ),
        phased AS (
            SELECT *,
                   ntile(10) OVER (ORDER BY difficulty ASC, doc_id ASC)
                       AS phase
            FROM scored
        )
        SELECT phase,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(difficulty), 4) AS avg_difficulty,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars,
               CAST(sum(n_tokens) AS BIGINT) AS phase_tokens
        FROM phased GROUP BY phase
    """,
    doc="CURRICULUM ordering — the easy-to-hard training schedule "
    "(Bengio et al. 2009, standard LM-pretraining practice): docs "
    "ranked by a deterministic difficulty proxy (mean token length — "
    "int/int division, bit-identical both engines; a model-based "
    "difficulty column drops in unchanged) with doc_id tiebreak, then "
    "ntile(10) cuts the ranking into equal-count phases; the output "
    "is the phase manifest a training loop consumes (counts, "
    "difficulty band, token budget per phase).  Deterministic: no "
    "RNG, tie-stable, reproducible across engines — hash-verified "
    "including the ntile boundaries.  Scale: the total order over the "
    "WHOLE corpus is computed as a DISTRIBUTED exact ntile "
    "(dist_rank.py — range exchange + per-partition rank + broadcast "
    "offsets, never an unpartitioned WindowExec funneling all doc "
    "metadata through one task); only (score, id) pairs move, never "
    "text; per-(lang, shard) curricula drop the global exchange like "
    "qc04's packing.",
)
def qc26_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dist_rank import distributed_ntile

    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    scored = d.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        (F.col("n_chars").cast("double") / n_tokens).alias("difficulty"),
    )
    # Distributed exact ntile (dist_rank.py): the ranked relation is
    # the WHOLE corpus's doc metadata, the worst of the four global
    # windows round 4 flagged — now a range-partitioned parallel rank,
    # bit-identical phases, same oracle.
    phased = distributed_ntile(
        scored, 10, [F.col("difficulty").asc(), F.col("doc_id").asc()], "phase"
    )
    return phased.groupBy("phase").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("difficulty"), 4).alias("avg_difficulty"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.sum("n_tokens").cast("long").alias("phase_tokens"),
    )


@register(
    "qc27_unigram_surprisal",
    oracle="""
        WITH tok AS (
            SELECT doc_id, u.t
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents) x
            CROSS JOIN UNNEST(x.w) AS u(t)
            WHERE u.t <> ''
        ),
        vocab AS (
            SELECT t, count(*) AS c FROM tok GROUP BY t
        ),
        tot AS (SELECT sum(c) AS n FROM vocab),
        surprisal AS (
            SELECT tok.doc_id,
                   count(*) AS n_tokens,
                   avg(-ln(v.c * 1.0 / (SELECT n FROM tot)) / ln(2))
                       AS bits_per_token
            FROM tok JOIN vocab v USING (t)
            GROUP BY tok.doc_id
        )
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               round(bits_per_token, 4) AS bits_per_token
        FROM surprisal
    """,
    doc="Unigram SURPRISAL score — the language-model-free perplexity "
    "proxy a curation pipeline uses to rank docs by 'how typical is "
    "this text of the corpus': each token contributes -log2 of its "
    "corpus unigram probability, averaged per document (bits/token).  "
    "Low = formulaic/boilerplate, high = rare-token-heavy (both "
    "tails are candidates for inspection; the standard cheap stand-in "
    "for a trained LM scorer, whose logprob column drops in "
    "unchanged).  Empty tokens excluded on both sides (the q73 "
    "tokenizer rule).  Scale: vocabulary agg + broadcast-able "
    "vocab join back (the q72c memoization shape — vocabulary ≪ "
    "occurrences by Heaps' law, q77b), one doc-keyed partial agg; "
    "only counts shuffle.  4-dp rounding absorbs ln() last-ulp and "
    "avg summation-order differences (report column, not a gate).",
)
def qc27_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    vocab = tok.groupBy("t").agg(F.count("*").alias("c"))
    tot = vocab.agg(F.sum("c").alias("n"))
    bits = -F.log(F.col("c") * 1.0 / F.col("n")) / F.log(F.lit(2.0))
    return (
        tok.join(F.broadcast(vocab), "t")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.avg(bits), 4).alias("bits_per_token"),
        )
    )


@register(
    "qc25_dsir_importance",
    oracle="""
        WITH tok AS (
            SELECT doc_id, lang, substr(md5(u.t), 1, 2) AS b
            FROM (SELECT doc_id, lang, string_split(text, ' ') AS w
                  FROM documents) x
            CROSS JOIN UNNEST(x.w) AS u(t)
            WHERE u.t <> ''
        ),
        buckets AS (
            SELECT b,
                   count(*) AS raw_c,
                   count(*) FILTER (WHERE lang = 'en') AS tgt_c
            FROM tok GROUP BY b
        ),
        tot AS (
            SELECT sum(raw_c) AS r_total, sum(tgt_c) AS t_total FROM buckets
        ),
        scored AS (
            SELECT tok.doc_id, tok.lang,
                   count(*) AS n_tokens,
                   sum(ln(((bk.tgt_c + 1.0) / (t.t_total + 256.0))
                        / ((bk.raw_c + 1.0) / (t.r_total + 256.0)))) AS llr
            FROM tok JOIN buckets bk USING (b) CROSS JOIN tot t
            GROUP BY tok.doc_id, tok.lang
        )
        SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
               round(llr, 4) AS log_importance
        FROM scored
    """,
    doc="DSIR importance weighting (Xie et al. 2023, 'Data Selection "
    "for Language Models via Importance Resampling'): each document "
    "scores sum over tokens of ln(p_target(h(t)) / p_raw(h(t))) under "
    "hashed bag-of-unigram distributions — target = the lang='en' "
    "slice (stands in for any high-quality seed corpus), raw = the "
    "whole corpus, h = first-two-md5-hex-chars (256 buckets, portable "
    "across engines), Laplace add-one smoothing.  Positive = "
    "target-like, negative = raw-typical; a resampler keeps docs "
    "proportionally to exp(llr).  4-dp rounding absorbs "
    "summation-order ulps (report column, not a gate — the qc27 "
    "rule).  Scale: the bucket table is FIXED SIZE (256 rows) however "
    "large the corpus — one partial-agg pass builds it, it broadcasts "
    "back, and the per-doc score is a second map-side pass + doc-keyed "
    "partial agg; only (doc_id, bucket) pairs ever shuffle, never "
    "text.  The hashed-feature trick is exactly what lets DSIR run on "
    "a full CommonCrawl-scale corpus.",
)
def qc25_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("t"),
    ).select("doc_id", "lang", F.substring(F.md5("t"), 1, 2).alias("b"))
    buckets = tok.groupBy("b").agg(
        F.count("*").alias("raw_c"),
        F.count_if(F.col("lang") == "en").alias("tgt_c"),
    )
    tot = buckets.agg(
        F.sum("raw_c").alias("r_total"), F.sum("tgt_c").alias("t_total")
    )
    term = F.log(
        ((F.col("tgt_c") + 1.0) / (F.col("t_total") + 256.0))
        / ((F.col("raw_c") + 1.0) / (F.col("r_total") + 256.0))
    )
    return (
        tok.join(F.broadcast(buckets), "b")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(F.sum(term), 4).alias("log_importance"),
        )
    )


@register(
    "qc29_bigram_surprisal",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS w
            FROM documents
        ),
        tok AS (
            SELECT doc_id, u.t FROM d CROSS JOIN UNNEST(d.w) AS u(t)
        ),
        big AS (
            SELECT doc_id, w[i] AS pv, w[i + 1] AS cur
            FROM d CROSS JOIN UNNEST(generate_series(1, len(w) - 1)) AS u(i)
            WHERE len(w) >= 2
        ),
        uni AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        tt AS (SELECT sum(c) AS total FROM uni),
        bi AS (SELECT pv, cur, count(*) AS cb FROM big GROUP BY pv, cur),
        scored AS (
            SELECT g.doc_id,
                   count(*) AS n_bigrams,
                   avg(-ln(0.8 * (bi.cb * 1.0 / up.c)
                         + 0.2 * (uc.c * 1.0 / t.total)) / ln(2)) AS bits
            FROM big g
            JOIN bi ON g.pv = bi.pv AND g.cur = bi.cur
            JOIN uni up ON g.pv = up.t
            JOIN uni uc ON g.cur = uc.t
            CROSS JOIN tt t
            GROUP BY g.doc_id
        )
        SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
               round(bits, 4) AS bits_per_bigram
        FROM scored
    """,
    doc="INTERPOLATED BIGRAM surprisal — the next rung above qc27's "
    "unigram score and the cheap stand-in for the KenLM perplexity "
    "filter of CCNet/CCNet-descendant pipelines: P(w|prev) = "
    "0.8*c(prev,w)/c(prev) + 0.2*c(w)/T (Jelinek-Mercer interpolation "
    "— never zero because every scored bigram was observed and the "
    "unigram back-off floors it), per-doc mean -log2 P over adjacent "
    "token pairs.  Bigram pairs come from POSITION-indexed element_at "
    "over the empty-filtered token array, guarded by size>=2 FIRST — "
    "the q79b descending-sequence trap (Spark sequence(1,0) counts "
    "DOWN) cannot fire; docs with <2 tokens drop out of both engines "
    "by the same integer gate.  4-dp rounding on the per-doc mean "
    "(qc27 rule).  Scale: the bigram table is vocabulary-squared at "
    "most (Heaps-bounded, ≪ corpus) and broadcasts back; corpus-sized "
    "shuffles carry only (doc, pos-pair) rows, and at 100 TB the "
    "n-gram counts come from the same shared pass a tokenizer-training "
    "job already runs.",
)
def qc29_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.filter(F.split("text", " "), lambda x: x != "").alias("w")
    )
    tok = d.select("doc_id", F.explode("w").alias("t"))
    big = (
        d.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> struct(element_at(w, i) AS pv, element_at(w, i + 1) AS cur))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.pv", "p.cur")
    )
    uni = tok.groupBy("t").agg(F.count("*").alias("c"))
    tt = uni.agg(F.sum("c").alias("total"))
    bi = big.groupBy("pv", "cur").agg(F.count("*").alias("cb"))
    up = uni.select(F.col("t").alias("pv"), F.col("c").alias("c_pv"))
    uc = uni.select(F.col("t").alias("cur"), F.col("c").alias("c_cur"))
    bits = -F.log(
        0.8 * (F.col("cb") * 1.0 / F.col("c_pv"))
        + 0.2 * (F.col("c_cur") * 1.0 / F.col("total"))
    ) / F.log(F.lit(2.0))
    return (
        big.join(F.broadcast(bi), ["pv", "cur"])
        .join(F.broadcast(up), "pv")
        .join(F.broadcast(uc), "cur")
        .crossJoin(F.broadcast(tt))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg(bits), 4).alias("bits_per_bigram"),
        )
    )


@register(
    "qc33_heldout_perplexity",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS w,
                   doc_id % 5 = 4 AS is_new
            FROM documents
        ),
        train_tok AS (
            SELECT u.t FROM d CROSS JOIN UNNEST(d.w) AS u(t) WHERE NOT is_new
        ),
        uni AS (SELECT t, count(*) AS c FROM train_tok GROUP BY t),
        stats AS (SELECT sum(c) AS tt, count(*) AS v FROM uni),
        train_big AS (
            SELECT w[i] AS pv, w[i + 1] AS cur, count(*) AS cb
            FROM d CROSS JOIN UNNEST(generate_series(1, len(w) - 1)) AS u(i)
            WHERE NOT is_new AND len(w) >= 2
            GROUP BY 1, 2
        ),
        held AS (
            SELECT doc_id, w[i] AS pv, w[i + 1] AS cur
            FROM d CROSS JOIN UNNEST(generate_series(1, len(w) - 1)) AS u(i)
            WHERE is_new AND len(w) >= 2
        ),
        scored AS (
            SELECT h.doc_id,
                   count(*) AS n_bigrams,
                   sum(CASE WHEN uc.c IS NULL THEN 1 ELSE 0 END) AS n_oov,
                   avg(-ln(0.8 * coalesce(b.cb * 1.0 / up.c, 0.0)
                         + 0.2 * (coalesce(uc.c, 0) + 1.0)
                               / (s.tt + s.v + 1.0)) / ln(2)) AS bits
            FROM held h
            LEFT JOIN train_big b ON h.pv = b.pv AND h.cur = b.cur
            LEFT JOIN uni up ON h.pv = up.t
            LEFT JOIN uni uc ON h.cur = uc.t
            CROSS JOIN stats s
            GROUP BY h.doc_id
        )
        SELECT doc_id,
               CAST(n_bigrams AS BIGINT) AS n_bigrams,
               CAST(n_oov AS BIGINT) AS n_oov,
               round(bits, 4) AS bits_per_bigram
        FROM scored
    """,
    doc="HELD-OUT bigram perplexity — qc29 done with train/test "
    "hygiene (qc29 scores docs under counts that include themselves; "
    "a real LM-quality filter must not): the bigram/unigram tables "
    "train on the standing-corpus split (the qc11/qp9 is_new "
    "convention) and score only the incoming split, with the full "
    "backoff ladder for unseen events — unseen bigram drops to the "
    "interpolated unigram, unseen unigram to add-one over (T+V+1), "
    "so probability is never zero and OOV exposure is reported "
    "per doc (n_oov — itself a quality signal: high-OOV incoming "
    "docs are either novel or garbage).  Same determinism rules as "
    "qc29 (size>=2 guard FIRST, 4-dp report mean).  Scale: train "
    "tables are vocabulary-sized broadcasts; the incoming split "
    "pays one map + one doc-keyed agg — exactly the qp9 admission "
    "pipeline's scoring stage.",
)
def qc33_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("w"),
        (F.col("doc_id") % 5 == 4).alias("is_new"),
    )
    train = d.filter(~F.col("is_new"))
    held = d.filter(F.col("is_new"))
    uni = (
        train.select(F.explode("w").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    stats = uni.agg(F.sum("c").alias("tt"), F.count("*").alias("v"))
    pair_expr = F.expr(
        "transform(sequence(1, size(w) - 1), "
        "i -> struct(element_at(w, i) AS pv, element_at(w, i + 1) AS cur))"
    )
    train_big = (
        train.filter(F.size("w") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.pv", "p.cur")
        .groupBy("pv", "cur")
        .agg(F.count("*").alias("cb"))
    )
    held_big = (
        held.filter(F.size("w") >= 2)
        .select("doc_id", F.explode(pair_expr).alias("p"))
        .select("doc_id", "p.pv", "p.cur")
    )
    up = uni.select(F.col("t").alias("pv"), F.col("c").alias("c_pv"))
    uc = uni.select(F.col("t").alias("cur"), F.col("c").alias("c_cur"))
    bits = -F.log(
        0.8 * F.coalesce(F.col("cb") * 1.0 / F.col("c_pv"), F.lit(0.0))
        + 0.2
        * (F.coalesce(F.col("c_cur"), F.lit(0)) + 1.0)
        / (F.col("tt") + F.col("v") + 1.0)
    ) / F.log(F.lit(2.0))
    return (
        held_big.join(F.broadcast(train_big), ["pv", "cur"], "left")
        .join(F.broadcast(up), "pv", "left")
        .join(F.broadcast(uc), "cur", "left")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(
                F.when(F.col("c_cur").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_oov"),
            F.round(F.avg(bits), 4).alias("bits_per_bigram"),
        )
    )


@register(
    "qc32_weighted_median_length",
    oracle="""
        WITH lens AS (
            SELECT doc_id, lang,
                   len(list_filter(string_split(text, ' '), x -> x <> ''))
                       AS n_tokens
            FROM documents
        ),
        ranked AS (
            SELECT lang, n_tokens,
                   sum(n_tokens) OVER (
                       PARTITION BY lang ORDER BY n_tokens ASC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_w,
                   sum(1) OVER (
                       PARTITION BY lang ORDER BY n_tokens ASC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_n,
                   sum(n_tokens) OVER (PARTITION BY lang) AS total_w,
                   count(*) OVER (PARTITION BY lang) AS total_n
            FROM lens
        )
        SELECT lang,
               CAST(max(total_n) AS BIGINT) AS n_docs,
               CAST(max(total_w) AS BIGINT) AS total_tokens,
               CAST(min(CASE WHEN 2 * cum_n >= total_n
                             THEN n_tokens END) AS BIGINT) AS median_len,
               CAST(min(CASE WHEN 2 * cum_w >= total_w
                             THEN n_tokens END) AS BIGINT)
                   AS token_weighted_median_len
        FROM ranked GROUP BY lang
    """,
    doc="TOKEN-WEIGHTED median document length per language — the "
    "sequence-length planning statistic packing (qc04) and curriculum "
    "(qc26) actually need: the plain doc-count median answers 'what "
    "does the typical DOCUMENT look like', the token-weighted one "
    "answers 'what does the typical TOKEN's document look like' "
    "(long docs hold most tokens, so the two diverge on any "
    "heavy-tailed corpus — the gap is the packing-bucket sizing "
    "signal).  Both medians resolve by INTEGER cumulative-weight "
    "gates (2*cum >= total over a (length, doc_id)-ordered window — "
    "no float percentile interpolation anywhere), so the row is "
    "engine-exact.  Scale: one ordered window per language over "
    "(length, id) pairs — same shape as qc04's packing window; "
    "lengths shuffle, text never.",
)
def qc32_weighted_median_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    lens = d.select(
        "doc_id",
        "lang",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias("n_tokens"),
    )
    run = (
        W.partitionBy("lang")
        .orderBy(F.col("n_tokens").asc(), F.col("doc_id").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    whole = W.partitionBy("lang")
    ranked = lens.select(
        "lang",
        "n_tokens",
        F.sum("n_tokens").over(run).alias("cum_w"),
        F.count("*").over(run).alias("cum_n"),
        F.sum("n_tokens").over(whole).alias("total_w"),
        F.count("*").over(whole).alias("total_n"),
    )
    return ranked.groupBy("lang").agg(
        F.max("total_n").cast("long").alias("n_docs"),
        F.max("total_w").cast("long").alias("total_tokens"),
        F.min(
            F.when(2 * F.col("cum_n") >= F.col("total_n"), F.col("n_tokens"))
        ).cast("long").alias("median_len"),
        F.min(
            F.when(2 * F.col("cum_w") >= F.col("total_w"), F.col("n_tokens"))
        ).cast("long").alias("token_weighted_median_len"),
    )


# ---------------------------------------------------------------------------
# HTML/boilerplate stripping (qc36) — the mm03 planting trick applied to
# markup: wrap documents.text in deterministic per-doc_id HTML (plain
# paragraph / nested attribute-noise tags / anchor-heavy / entity-bearing
# variants), then strip and gate with the SAME regex pipeline in both
# engines so tag removal, entity decoding, whitespace collapse, link
# extraction, and the integer-exact Gopher-style gates are hash-verified.

#: Deterministic per-case HTML wrappers (doc_id % 4) — SQL expressions
#: over `text`, shared verbatim (modulo dialect function names) by the
#: Spark column and the DuckDB oracle.
_HTML_CASES_SPARK = """
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN concat('<html><body><p>', text, '</p></body></html>')
      WHEN 1 THEN concat('<html><body><div id="d1" class="a b"><span style="x:y;">',
                         text, '</span></div></body></html>')
      WHEN 2 THEN concat('<html><body><p><a href="/l?q=1&amp;r=2">',
                         substr(text, 1, 12), '</a>', substr(text, 13),
                         '</p><a class="nav" href="#">more links here</a></body></html>')
      ELSE concat('<html><body><p>Q&amp;A &lt;t&gt;&nbsp;', text,
                  '</p></body></html>')
    END
"""

_HTML_CASES_DUCK = """
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN '<html><body><p>' || text || '</p></body></html>'
      WHEN 1 THEN '<html><body><div id="d1" class="a b"><span style="x:y;">'
                  || text || '</span></div></body></html>'
      WHEN 2 THEN '<html><body><p><a href="/l?q=1&amp;r=2">'
                  || substr(text, 1, 12) || '</a>' || substr(text, 13)
                  || '</p><a class="nav" href="#">more links here</a></body></html>'
      ELSE '<html><body><p>Q&amp;A &lt;t&gt;&nbsp;' || text
           || '</p></body></html>'
    END
"""


@register(
    "qc36_html_strip_gate",
    oracle=f"""
        WITH html AS (
            SELECT doc_id, ({_HTML_CASES_DUCK}) AS h FROM documents
        ),
        stripped AS (
            SELECT doc_id, h,
                   trim(regexp_replace(
                       replace(replace(replace(replace(
                           regexp_replace(h, '<[^>]*>', '', 'g'),
                           '&lt;', '<'), '&gt;', '>'),
                           '&nbsp;', ' '), '&amp;', '&'),
                       ' +', ' ', 'g')) AS clean,
                   regexp_extract_all(h, '<a[^>]*>([\\s\\S]*?)</a>', 1)
                       AS links
            FROM html
        )
        SELECT doc_id,
               CAST(len(h) AS BIGINT) AS html_chars,
               CAST(len(clean) AS BIGINT) AS text_chars,
               CAST(len(links) AS BIGINT) AS n_links,
               CAST(coalesce(list_sum(list_transform(links, x -> len(x))),
                             0) AS BIGINT) AS link_chars,
               CAST(2 * len(clean) >= len(h)
                    AND 5 * coalesce(list_sum(
                            list_transform(links, x -> len(x))), 0)
                        <= len(clean) AS INT) AS keep,
               round(len(clean) * 1.0 / len(h), 4) AS text_ratio,
               CASE WHEN len(clean) = 0 THEN NULL
                    ELSE round(coalesce(list_sum(
                             list_transform(links, x -> len(x))), 0)
                         * 1.0 / len(clean), 4)
               END AS link_density
        FROM stripped
    """,
    doc="HTML/boilerplate STRIPPING + gate — the extraction step every "
    "web-crawl curation pipeline runs before any text metric: plant "
    "deterministic HTML around each document (four doc_id-keyed "
    "variants: plain wrap, nested attribute-noise tags, anchor-heavy "
    "with an entity in the href, entity-bearing text — the mm03 "
    "planting trick for markup), strip tags with one regex pass, "
    "decode the four HTML entities (&lt; &gt; &nbsp; &amp;, amp "
    "LAST so decoded text cannot re-decode), collapse runs of "
    "spaces, and report Gopher-style keep gates: text-to-markup "
    "ratio (integer gate 2*text >= html — no float compare decides "
    "membership) and link density (integer gate 5*link_chars <= "
    "text_chars; anchor text via one non-greedy group extraction).  "
    "Both engines run the IDENTICAL regex/replace chain, so "
    "stripping, entity decode, and both gates are hash-verified per "
    "document.  Scale: pure map-side string work, one scan, zero "
    "shuffle (the per-doc report is the output); a production "
    "deployment swaps the regex for a real parser (trafilatura/"
    "jusText) behind the same per-doc contract.",
)
def qc36_html_strip_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = F.expr(_HTML_CASES_SPARK)
    no_tags = F.regexp_replace(F.col("h"), "<[^>]*>", "")
    decoded = F.expr(
        "replace(replace(replace(replace(no_tags,"
        " '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '), '&amp;', '&')"
    )
    links = F.expr(r"regexp_extract_all(h, '<a[^>]*>([\\s\\S]*?)</a>', 1)")
    base = (
        d.select("doc_id", h.alias("h"))
        .withColumn("no_tags", no_tags)
        .withColumn("clean", F.trim(F.regexp_replace(decoded, " +", " ")))
        .withColumn("links", links)
        .select(
            "doc_id",
            F.length("h").cast("long").alias("html_chars"),
            F.length("clean").cast("long").alias("text_chars"),
            F.size("links").cast("long").alias("n_links"),
            F.coalesce(
                F.expr("aggregate(links, 0L, (a, x) -> a + char_length(x))"),
                F.lit(0),
            ).alias("link_chars"),
        )
    )
    return base.select(
        "doc_id",
        "html_chars",
        "text_chars",
        "n_links",
        "link_chars",
        (
            (2 * F.col("text_chars") >= F.col("html_chars"))
            & (5 * F.col("link_chars") <= F.col("text_chars"))
        ).cast("int").alias("keep"),
        F.round(F.col("text_chars") * 1.0 / F.col("html_chars"), 4).alias(
            "text_ratio"
        ),
        F.when(F.col("text_chars") == 0, F.lit(None)).otherwise(
            F.round(F.col("link_chars") * 1.0 / F.col("text_chars"), 4)
        ).alias("link_density"),
    )


@register(
    "qc37_semantic_decontamination",
    oracle="""
        WITH bench AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id % 20 = 0
        ),
        corpus AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id % 20 <> 0
        ),
        scored AS (
            SELECT c.vec_id, c.label,
                   max(list_dot_product(c.v, b.v)) AS max_cos,
                   first(b.vec_id ORDER BY list_dot_product(c.v, b.v) DESC,
                                           b.vec_id ASC)
                       AS nearest_bench
            FROM corpus c CROSS JOIN bench b
            GROUP BY c.vec_id, c.label
        )
        SELECT label,
               count(*) AS n_corpus,
               CAST(count(*) FILTER (WHERE max_cos >= 0.3) AS BIGINT)
                   AS n_flagged,
               round(max(max_cos), 6) AS worst_cos,
               CAST(min(CASE WHEN max_cos >= 0.3 THEN vec_id END)
                    AS BIGINT) AS first_flagged_vec,
               CAST(first(nearest_bench ORDER BY max_cos DESC, vec_id ASC)
                    AS BIGINT) AS worst_bench_vec
        FROM scored GROUP BY label
    """,
    doc="SEMANTIC decontamination — the embedding-space complement to "
    "qc01/qc16/qc23's lexical n-gram screens (the modern eval-hygiene "
    "step: paraphrased benchmark items share no n-grams but sit close "
    "in embedding space): a held-out benchmark set (every 20th "
    "vector) is broadcast against the corpus, each corpus doc scores "
    "max cosine vs ANY benchmark item (identical sequential-order "
    "IEEE dots both engines, so the >= 0.3 gate — p99-ish of the "
    "fixture's near-orthogonal distribution — cannot flake), and the "
    "per-label report carries flagged counts, the worst offender, "
    "and which benchmark item it matched (argmax with (cos, -vec_id) "
    "tiebreak).  Scale: the benchmark side is always tiny and "
    "BROADCAST (qc01's shape); the corpus side is one map-side scan "
    "— at 100 TB swap the exhaustive bench sweep for the IVF/LSH "
    "probe (q87/q92) with this exact query as the audit arm on a "
    "sample.",
)
def qc37_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import dot, to_double_array

    e = load_table(spark, sf_dir, "embeddings")
    bench = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("bench_id"),
        to_double_array("embedding").alias("bv"),
    )
    corpus = e.filter(F.col("vec_id") % 20 != 0).select(
        "vec_id", "label", to_double_array("embedding").alias("cv")
    )
    pairs = corpus.crossJoin(F.broadcast(bench)).select(
        "vec_id",
        "label",
        "bench_id",
        dot(F.col("cv"), F.col("bv")).alias("cos"),
    )
    scored = pairs.groupBy("vec_id", "label").agg(
        F.max("cos").alias("max_cos"),
        # argmax with largest-cos, smallest-bench_id tiebreak: max over
        # (cos, -bench_id, bench_id) struct == DuckDB arg_max (which
        # keeps the first/min arg on ties by scan order — pin it
        # explicitly with the -bench_id component on BOTH engines).
        F.max(
            F.struct(
                F.col("cos").alias("k1"),
                (-F.col("bench_id")).alias("k2"),
                F.col("bench_id"),
            )
        )
        .getField("bench_id")
        .alias("nearest_bench"),
    )
    return scored.groupBy("label").agg(
        F.count("*").alias("n_corpus"),
        F.sum((F.col("max_cos") >= 0.3).cast("int"))
        .cast("long")
        .alias("n_flagged"),
        F.round(F.max("max_cos"), 6).alias("worst_cos"),
        F.min(F.when(F.col("max_cos") >= 0.3, F.col("vec_id")))
        .cast("long")
        .alias("first_flagged_vec"),
        F.max(
            F.struct(
                F.col("max_cos").alias("k1"),
                (-F.col("vec_id")).alias("k2"),
                F.col("nearest_bench"),
            )
        )
        .getField("nearest_bench")
        .cast("long")
        .alias("worst_bench_vec"),
    )


_HAMILTON_BUDGET = 1000  # total docs the proportional sample may keep

def hamilton_quota(counts: DataFrame, budget: int) -> DataFrame:
    """(lang, n_docs) -> (lang, n_docs, quota): Hamilton largest-remainder
    apportionment of ``budget`` seats (capped at the total), all-integer
    arithmetic, extra seats by a bounded triangular comparison (remainder
    desc, lang asc) — never a global window.  Shared by qc41 and qp10."""
    from pyspark.sql import functions as F

    tot = counts.agg(
        F.sum("n_docs").alias("n"),
        F.least(F.lit(budget), F.sum("n_docs")).alias("beff"),
    )
    base = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "beff",
        F.expr("(beff * n_docs) div n").alias("floor_seats"),
        ((F.col("beff") * F.col("n_docs")) % F.col("n")).alias("rem"),
    )
    spare = base.agg(
        (F.max("beff") - F.sum("floor_seats")).alias("extra")
    )
    other = base.select(
        F.col("lang").alias("o_lang"), F.col("rem").alias("o_rem")
    )
    ahead = (
        base.join(
            F.broadcast(other),
            (F.col("o_rem") > F.col("rem"))
            | ((F.col("o_rem") == F.col("rem")) & (F.col("o_lang") < F.col("lang"))),
            "left",
        )
        .groupBy("lang", "n_docs", "floor_seats")
        .agg(F.count("o_lang").alias("n_ahead"))
    )
    return ahead.crossJoin(F.broadcast(spare)).select(
        "lang",
        "n_docs",
        (
            F.col("floor_seats")
            + F.when(F.col("n_ahead") < F.col("extra"), 1).otherwise(0)
        )
        .cast("long")
        .alias("quota"),
    )


@register(
    "qc41_hamilton_quota_sample",
    oracle=f"""
        WITH counts AS (
            SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
        ),
        tot AS (
            SELECT sum(n_docs) AS n,
                   least({_HAMILTON_BUDGET}, sum(n_docs)) AS beff
            FROM counts
        ),
        base AS (
            SELECT c.lang, c.n_docs,
                   (t.beff * c.n_docs) // t.n AS floor_seats,
                   (t.beff * c.n_docs) % t.n AS rem
            FROM counts c CROSS JOIN tot t
        ),
        spare AS (
            SELECT (SELECT beff FROM tot) - sum(floor_seats) AS extra
            FROM base
        ),
        quota AS (
            SELECT a.lang, a.n_docs,
                   CAST(a.floor_seats
                        + CASE WHEN (SELECT count(*) FROM base b
                                     WHERE b.rem > a.rem
                                        OR (b.rem = a.rem
                                            AND b.lang < a.lang))
                               < (SELECT extra FROM spare)
                               THEN 1 ELSE 0 END AS BIGINT) AS quota
            FROM base a
        ),
        ranked AS (
            SELECT d.lang, d.doc_id, d.n_chars,
                   row_number() OVER (PARTITION BY d.lang
                       ORDER BY md5(CAST(d.doc_id AS VARCHAR)) ASC,
                                d.doc_id ASC) AS rk
            FROM documents d
        )
        SELECT q.lang,
               CAST(q.n_docs AS BIGINT) AS n_docs,
               q.quota,
               CAST(count(r.doc_id) AS BIGINT) AS n_selected,
               CAST(coalesce(sum(r.n_chars), 0) AS BIGINT)
                   AS selected_chars
        FROM quota q
        LEFT JOIN ranked r ON r.lang = q.lang AND r.rk <= q.quota
        GROUP BY q.lang, q.n_docs, q.quota
    """,
    doc=f"HAMILTON (largest-remainder) quota sampling — the exact "
    f"proportional-allocation step qc02/qc09's fixed-k samplers skip: "
    f"a {_HAMILTON_BUDGET}-doc budget (capped at the corpus size, so "
    "the law below holds at every scale factor) is apportioned across "
    "languages as floor(B*n_i/N) seats plus one extra seat to the "
    "largest remainders until the budget is exact (total selected == "
    "min(B, N) by construction, quota_i <= n_i always, no language "
    "over- or under-drawn by more than one doc from true "
    "proportionality).  Every quantity is INTEGER "
    "arithmetic — remainders are B*n_i mod N, and the extra-seat rule "
    "is a bounded triangular comparison (remainder desc, lang asc "
    "tiebreak) over the ~5-row language relation, deliberately NOT a "
    "global window (the test_plan_sweep rule).  Selection inside each "
    "language is the deterministic md5-rank (qc02's machinery), and "
    "the output verifies actual membership (selected char mass), not "
    "just counts.  Scale: one counts agg, seat math on a "
    "languages-sized relation, one lang-partitioned rank window — "
    "the standard way a 100 TB corpus draws an exactly-B-doc "
    "proportional eval sample.",
)
def qc41_hamilton_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    quota = hamilton_quota(counts, _HAMILTON_BUDGET)
    rk = F.row_number().over(
        W.partitionBy("lang").orderBy(
            F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
        )
    )
    ranked = d.select("lang", "doc_id", "n_chars").withColumn("rk", rk)
    sel = ranked.join(F.broadcast(quota.select("lang", "quota")), "lang").filter(
        F.col("rk") <= F.col("quota")
    )
    sel_agg = sel.groupBy("lang").agg(
        F.count("*").alias("n_selected_raw"),
        F.sum("n_chars").alias("selected_chars_raw"),
    )
    return (
        quota.join(sel_agg, "lang", "left")
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            "quota",
            F.coalesce(F.col("n_selected_raw"), F.lit(0))
            .cast("long")
            .alias("n_selected"),
            F.coalesce(F.col("selected_chars_raw"), F.lit(0))
            .cast("long")
            .alias("selected_chars"),
        )
    )


_OVERFLOW_BUDGET = 512  # whitespace tokens per packed sequence (qc44)


@register(
    "qc44_overflow_packing",
    oracle=f"""
        WITH t AS (
            SELECT lang, doc_id,
                   len(list_filter(string_split(text, ' '), w -> w <> ''))
                       AS toks
            FROM documents
        ),
        nz AS (SELECT * FROM t WHERE toks > 0),
        offs AS (
            SELECT lang, doc_id, toks,
                   COALESCE(sum(toks) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS off
            FROM nz
        ),
        pieces AS (
            SELECT lang, doc_id, off, toks, s AS seq_id,
                   least(off + toks, (s + 1) * {_OVERFLOW_BUDGET})
                   - greatest(off, s * {_OVERFLOW_BUDGET}) AS piece_tokens
            FROM offs
            CROSS JOIN UNNEST(generate_series(
                CAST(off // {_OVERFLOW_BUDGET} AS BIGINT),
                CAST((off + toks - 1) // {_OVERFLOW_BUDGET} AS BIGINT))) u(s)
        )
        SELECT lang,
               CAST(seq_id AS BIGINT) AS seq_id,
               CAST(count(*) AS BIGINT) AS n_pieces,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(sum(piece_tokens) AS BIGINT) AS seq_tokens,
               CAST(sum(CASE WHEN off < seq_id * {_OVERFLOW_BUDGET}
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_carryins
        FROM pieces
        GROUP BY lang, seq_id
    """,
    doc=f"OVERFLOW (boundary-splitting) sequence packing — the packer a "
    "pretraining batch actually runs, where qc04/qc35 keep document "
    "boundaries and waste tail space: the per-lang token stream "
    f"(doc_id order) is cut into EXACTLY-{_OVERFLOW_BUDGET}-token "
    "sequences and a document crossing a boundary contributes a "
    "PIECE to each side.  Fully closed-form: each doc's exclusive "
    "running offset places it at [off, off+toks); its pieces span "
    "seq floor(off/B)..floor((off+toks-1)/B) (a bounded generator — "
    "ceil(toks/B)+1 pieces max), and each piece's token count is the "
    "interval overlap min(off+toks,(s+1)B) - max(off,sB) — all "
    "integer arithmetic, so every sequence provably holds exactly B "
    "tokens except each language's last (the audit the n_carryins "
    "column completes: how many sequences start mid-document — the "
    "attention-masking cost of overflow packing).  Scale: one "
    "lang-partitioned cumulative window over COUNTS, one map-side "
    "explode; text never moves.",
)
def qc44_overflow_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    B = _OVERFLOW_BUDGET
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        "doc_id",
        F.size(F.expr("filter(split(text, ' '), w -> w != '')")).alias("toks"),
    ).filter(F.col("toks") > 0)
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    offs = t.withColumn("off", F.coalesce(F.sum("toks").over(w), F.lit(0)))
    pieces = offs.select(
        "lang",
        "doc_id",
        "off",
        "toks",
        F.explode(
            F.sequence(
                F.expr(f"off div {B}"), F.expr(f"(off + toks - 1) div {B}")
            )
        ).alias("seq_id"),
    ).withColumn(
        "piece_tokens",
        F.least(F.col("off") + F.col("toks"), (F.col("seq_id") + 1) * B)
        - F.greatest(F.col("off"), F.col("seq_id") * B),
    )
    return pieces.groupBy("lang", "seq_id").agg(
        F.count("*").cast("long").alias("n_pieces"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.sum("piece_tokens").cast("long").alias("seq_tokens"),
        F.sum(
            F.when(F.col("off") < F.col("seq_id") * B, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_carryins"),
    )


@register(
    "qc45_contaminated_span",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source, string_split(text, ' ') AS w
            FROM documents
        ),
        grams AS (
            SELECT doc_id, source, i,
                   array_to_string(w[i:i+2], ' ') AS g
            FROM toks
            CROSS JOIN UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        ),
        bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
        hits AS (
            SELECT gr.doc_id, gr.i
            FROM grams gr JOIN bench b USING (g)
            WHERE gr.source <> 'src0'
        ),
        islands AS (
            SELECT doc_id, i,
                   i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
                       AS grp
            FROM hits
        ),
        runs AS (
            SELECT doc_id, grp,
                   count(*) AS run_grams,
                   count(*) + 2 AS run_tokens
            FROM islands GROUP BY doc_id, grp
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_runs,
               CAST(sum(run_grams) AS BIGINT) AS flagged_grams,
               CAST(max(run_tokens) AS BIGINT) AS longest_span_tokens,
               max(run_tokens) >= 8 AS hard_contaminated
        FROM runs GROUP BY doc_id
    """,
    doc="CONTAMINATED-SPAN profiling — the decontamination upgrade "
    "qc01's shared-gram COUNT can't make: a doc sharing 12 scattered "
    "3-grams with the benchmark is probably topic overlap, but 12 "
    "CONSECUTIVE gram positions are a verbatim quote.  Per corpus "
    "doc: benchmark-gram hit positions -> gap-and-island grouping "
    "(position minus per-doc row_number — consecutive hits share a "
    "group, the q48/qd20 island recipe) -> per-run lengths; output "
    "run count, total flagged grams, the LONGEST contiguous span in "
    "tokens (run_grams + n - 1 for 3-grams), and a hard_contaminated "
    "gate at >= 8 tokens — the Lee et al.-style span threshold.  All "
    "integers, hash-verified.  Scale: benchmark grams broadcast; the "
    "island window is PARTITIONED by doc (hit-count sized); nothing "
    "corpus-squared.",
)
def qc45_contaminated_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        "source",
        F.posexplode(api.word_grams(F.split("text", " "), 3)).alias("i0", "g"),
    ).withColumn("i", F.col("i0") + 1)
    bench = grams.filter(F.col("source") == "src0").select("g").distinct()
    hits = (
        grams.filter(F.col("source") != "src0")
        .join(F.broadcast(bench), "g")
        .select("doc_id", "i")
    )
    w = W.partitionBy("doc_id").orderBy("i")
    islands = hits.withColumn("grp", F.col("i") - F.row_number().over(w))
    runs = islands.groupBy("doc_id", "grp").agg(
        F.count("*").alias("run_grams"),
        (F.count("*") + 2).alias("run_tokens"),
    )
    return runs.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_runs"),
        F.sum("run_grams").cast("long").alias("flagged_grams"),
        F.max("run_tokens").cast("long").alias("longest_span_tokens"),
        (F.max("run_tokens") >= 8).alias("hard_contaminated"),
    )


@register(
    "qc46_sample_bias_audit",
    oracle="""
        WITH full_c AS (
            SELECT lang, count(*) AS n_full FROM documents GROUP BY lang
        ),
        tot AS (SELECT sum(n_full) AS n FROM full_c),
        samp AS (
            SELECT lang, count(*) AS n_samp FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
            GROUP BY lang
        ),
        ns AS (SELECT sum(n_samp) AS m FROM samp)
        SELECT f.lang,
               CAST(f.n_full AS BIGINT) AS n_full,
               CAST(coalesce(s.n_samp, 0) AS BIGINT) AS n_sampled,
               CASE WHEN coalesce(ns.m, 0) = 0 THEN NULL
                    ELSE round(ns.m * f.n_full * 1.0 / tot.n, 6)
               END AS expected,
               CASE WHEN coalesce(ns.m, 0) = 0 THEN NULL
                    ELSE round(
                   (coalesce(s.n_samp, 0) - ns.m * f.n_full * 1.0 / tot.n)
                   * (coalesce(s.n_samp, 0) - ns.m * f.n_full * 1.0 / tot.n)
                   / (ns.m * f.n_full * 1.0 / tot.n), 6)
               END AS chi_term
        FROM full_c f
        LEFT JOIN samp s USING (lang)
        CROSS JOIN tot CROSS JOIN ns
    """,
    doc="SAMPLING-BIAS audit — the check that belongs beside every "
    "deterministic sampler (qc03's md5-prefix hash sample here): per "
    "language, observed sampled count vs the proportional expectation "
    "m*n_l/N and the chi-square contribution (o-e)^2/e — summed "
    "against the chi-square table off-line, but the PER-CLASS terms "
    "are what you act on (the one stratum a hash sampler "
    "under-draws).  Expectation and terms are divisions of exact "
    "integers (counts only), so both engines compute identical "
    "doubles — the statistic is hash-verified, not approximated.  "
    "Scale: two counts-only aggs over the corpus, a languages-sized "
    "join; the audit costs nothing next to the sample it validates.",
)
def qc46_sample_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    full_c = d.groupBy("lang").agg(F.count("*").alias("n_full"))
    tot = full_c.agg(F.sum("n_full").alias("n"))
    samp = (
        d.filter(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "2")
        .groupBy("lang")
        .agg(F.count("*").alias("n_samp"))
    )
    ns = samp.agg(F.sum("n_samp").alias("m"))
    e = F.col("m") * F.col("n_full") * 1.0 / F.col("n")
    o = F.coalesce(F.col("n_samp"), F.lit(0))
    # Explicit m=0 guard in BOTH engines: a zero-row sample would make
    # e = 0 and the unguarded 0/0 double division is an engine-specific
    # NULL-vs-NaN choice (the qd32/q80e CASE-guard convention).
    m_zero = F.coalesce(F.col("m"), F.lit(0)) == 0
    return (
        full_c.join(samp, "lang", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ns))
        .select(
            "lang",
            F.col("n_full").cast("long").alias("n_full"),
            o.cast("long").alias("n_sampled"),
            F.when(m_zero, F.lit(None)).otherwise(F.round(e, 6)).alias("expected"),
            F.when(m_zero, F.lit(None))
            .otherwise(F.round((o - e) * (o - e) / e, 6))
            .alias("chi_term"),
        )
    )


@register(
    "qc47_epoch_shuffle_order",
    oracle="""
        WITH spine AS (
            SELECT d.doc_id, d.source, e.epoch,
                   md5(CAST(e.epoch AS VARCHAR) || ':'
                       || CAST(d.doc_id AS VARCHAR)) AS k
            FROM documents d CROSS JOIN (VALUES (1), (2)) e(epoch)
        ),
        pos AS (
            SELECT epoch, source,
                   row_number() OVER (
                       PARTITION BY epoch ORDER BY k, doc_id
                   ) AS p
            FROM spine
        )
        SELECT epoch, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(p) AS BIGINT) AS min_pos,
               CAST(max(p) AS BIGINT) AS max_pos,
               round(CAST(sum(p) AS DOUBLE) / count(*), 2) AS avg_pos
        FROM pos
        GROUP BY epoch, source
    """,
    doc="REPRODUCIBLE EPOCH SHUFFLE — the training-order materializer: "
    "a training run must visit the corpus in a different order every "
    "epoch, yet the order must be a pure function of (seed, epoch) so "
    "any worker can recompute its shard and a crashed run resumes at "
    "the exact sample (the standard content-addressed shuffle every "
    "large-model data loader implements).  Position = rank of "
    "md5(epoch:doc_id) — per-epoch ranks computed DISTRIBUTED via "
    "dist_rank.distributed_row_number over (epoch, key, doc_id) with "
    "the (epoch-1)*N offset subtracted (one range exchange ranks BOTH "
    "epochs).  Output is the MIXING AUDIT per (epoch, source): count, "
    "min/max/avg position — a well-mixed shuffle puts every source's "
    "avg near N/2 and min/max near the extremes, while a broken one "
    "(sorted-by-source ingest order, a constant-prefix hash bug) shows "
    "up as a clustered band.  Scale: the shuffle of a 100 TB corpus is "
    "exactly this rank — no driver-side permutation array, no RNG "
    "state to replicate; epoch count multiplies rows linearly and the "
    "range exchange parallelizes the sort.",
)
def qc47_epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dist_rank import distributed_row_number

    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()  # bounded scalar (the per-epoch offset)
    spine = d.select(
        "doc_id",
        "source",
        F.explode(F.array(F.lit(1), F.lit(2))).alias("epoch"),
    ).withColumn(
        "k",
        F.md5(
            F.concat(
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ),
    ).localCheckpoint(eager=True)
    ranked = distributed_row_number(
        spine, [F.col("epoch").asc(), F.col("k").asc(), F.col("doc_id").asc()], "g"
    ).withColumn("p", F.col("g") - (F.col("epoch") - 1) * F.lit(n_docs))
    return ranked.groupBy("epoch", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("p").cast("long").alias("min_pos"),
        F.max("p").cast("long").alias("max_pos"),
        F.round(F.sum("p").cast("double") / F.count("*"), 2).alias("avg_pos"),
    )


@register(
    "qc48_domain_frequency_cap",
    oracle="""
        WITH ranked AS (
            SELECT source,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS r,
                   n_chars
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(count(CASE WHEN r <= 15 THEN 1 END) AS BIGINT) AS n_kept,
               CAST(count(CASE WHEN r > 15 THEN 1 END) AS BIGINT) AS n_dropped,
               CAST(sum(CASE WHEN r <= 15 THEN n_chars ELSE 0 END) AS BIGINT)
                   AS kept_chars
        FROM ranked
        GROUP BY source
    """,
    doc="DOMAIN/SOURCE FREQUENCY CAPPING — the C4/RefinedWeb step that "
    "stops one prolific domain from dominating the mixture: keep at "
    "most 15 documents per source, selected by md5(doc_id) rank "
    "(content-addressed, so the SAME docs survive on every re-run and "
    "on any cluster — no RNG state).  The rank window is PARTITIONED "
    "by source (parallel; never global), and selection-by-hash means "
    "a re-crawled corpus keeps its previous survivors except where "
    "membership actually changed — the cache-friendly property "
    "curation pipelines want.  Output is the per-source audit: "
    "total/kept/dropped and surviving chars (the budget the mixture "
    "planner qc19/qc24 consumes).  Scale: one shuffle by source; "
    "skewed mega-domains are exactly the rows this screen exists to "
    "cut, and the window's per-partition top-k (WindowGroupLimit) "
    "keeps their cost at k, not domain size.",
)
def qc48_domain_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = d.select(
        "source", "n_chars", F.row_number().over(w).alias("r")
    )
    kept = F.col("r") <= 15
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_total"),
        F.count(F.when(kept, 1)).cast("long").alias("n_kept"),
        F.count(F.when(~kept, 1)).cast("long").alias("n_dropped"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("kept_chars"),
    )


_KN_PROBE = "'table','query','value','the','spark'"
_KN_D = 0.75


@register(
    "qc49_kn_bigram_lm",
    oracle=f"""
        WITH pos AS (
            SELECT doc_id, i, w[i] AS tok, len(w) AS n
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents)
            CROSS JOIN UNNEST(generate_series(1, len(w))) AS t(i)
        ),
        big AS (
            SELECT a.tok AS w1, b.tok AS w2,
                   CAST(count(*) AS BIGINT) AS c
            FROM pos a
            JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
            GROUP BY 1, 2
        ),
        c1 AS (
            SELECT w1, CAST(sum(c) AS BIGINT) AS tot,
                   CAST(count(*) AS BIGINT) AS n1p
            FROM big GROUP BY w1
        ),
        cont AS (
            SELECT w2, CAST(count(*) AS BIGINT) AS nprec
            FROM big GROUP BY w2
        ),
        t AS (SELECT CAST(count(*) AS BIGINT) AS types FROM big),
        probe AS (
            SELECT a.w AS w1, b.w AS w2
            FROM UNNEST([{_KN_PROBE}]) AS a(w)
            CROSS JOIN UNNEST([{_KN_PROBE}]) AS b(w)
        )
        SELECT p.w1, p.w2,
               CAST(COALESCE(big.c, 0) AS BIGINT) AS c,
               CASE WHEN c1.tot IS NULL THEN NULL
                    ELSE round(
                        greatest(COALESCE(big.c, 0) - {_KN_D}, 0) / c1.tot
                        + ({_KN_D} * c1.n1p / c1.tot)
                          * (CAST(COALESCE(cont.nprec, 0) AS DOUBLE)
                             / (SELECT types FROM t)), 6)
               END AS p_kn
        FROM probe p
        LEFT JOIN big ON big.w1 = p.w1 AND big.w2 = p.w2
        LEFT JOIN c1 ON c1.w1 = p.w1
        LEFT JOIN cont ON cont.w2 = p.w2
    """,
    doc="KNESER-NEY-style bigram language model scoring, fully "
    "relational: absolute discounting (d=0.75) with the continuation-"
    "probability backoff — P(w2|w1) = max(c(w1w2)-d,0)/c(w1·) + "
    "(d·N1+(w1·)/c(w1·)) · (N1+(·w2)/|bigram types|) — evaluated on a "
    "fixed 5x5 probe grid that includes seen, rare, and UNSEEN "
    "bigrams (the backoff path).  This is the scoring core of "
    "n-gram-LM quality filtering (perplexity-style corpus screens a "
    "la CCNet) built from four aggregates over one bigram table: "
    "counts, first-token totals, distinct-successor counts N1+(w1·), "
    "distinct-predecessor counts N1+(·w2), and the type total.  All "
    "counts are exact BIGINTs; the probability is a single mirrored "
    "double expression (6-dp wire).  Unseen first tokens yield NULL "
    "in both engines (CASE-guarded, no 0/0).  Scale: bigrams come "
    "from a per-doc position self-join (equi on doc_id, i+1 — "
    "shuffle-free relative to the explode partitioning), and every "
    "model table is vocabulary-squared-BOUNDED (sublinear in corpus "
    "size by Heaps' law); the probe join is a broadcast.",
)
def qc49_kn_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    probe_words = [s.strip("'") for s in _KN_PROBE.split(",")]
    pos = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "tok")
    )
    a = pos.select(
        F.col("doc_id").alias("da"), F.col("i").alias("ia"),
        F.col("tok").alias("w1"),
    )
    b = pos.select(
        F.col("doc_id").alias("da"), (F.col("i") - 1).alias("ia"),
        F.col("tok").alias("w2"),
    )
    big = (
        a.join(b, ["da", "ia"])
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    c1 = big.groupBy("w1").agg(
        F.sum("c").cast("bigint").alias("tot"),
        F.count("*").cast("bigint").alias("n1p"),
    )
    cont = big.groupBy("w2").agg(
        F.count("*").cast("bigint").alias("nprec")
    )
    types = big.agg(F.count("*").cast("bigint").alias("types"))
    probe = spark.createDataFrame(
        [(x, y) for x in probe_words for y in probe_words], "w1 string, w2 string"
    )
    j = (
        probe.join(big, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(types))
    )
    c = F.coalesce(F.col("c"), F.lit(0))
    p_kn = F.when(F.col("tot").isNull(), F.lit(None)).otherwise(
        F.round(
            F.greatest(c - _KN_D, F.lit(0)) / F.col("tot")
            + (_KN_D * F.col("n1p") / F.col("tot"))
            * (
                F.coalesce(F.col("nprec"), F.lit(0)).cast("double")
                / F.col("types")
            ),
            6,
        )
    )
    return j.select(
        "w1", "w2", c.cast("bigint").alias("c"), p_kn.alias("p_kn")
    )


_MIX_LANGS = ("de", "en", "es", "fr", "zh")
_MIX_ALPHA_DOC = "alpha=0.5 (sqrt temperature)"


@register(
    "qc50_mixture_temperature",
    oracle="""
        WITH g AS (
            SELECT
                """ + ",\n                ".join(
        f"CAST(sum(CASE WHEN lang = '{l}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_{l}" for l in _MIX_LANGS
    ) + """,
                CAST(count(*) AS BIGINT) AS n
            FROM documents
            WHERE lang IN ('de', 'en', 'es', 'fr', 'zh')
        ),
        z AS (
            SELECT *, sqrt(n_de) + sqrt(n_en) + sqrt(n_es)
                      + sqrt(n_fr) + sqrt(n_zh) AS denom
            FROM g
        )
        """ + "\n        UNION ALL\n        ".join(
        f"""SELECT '{l}' AS lang, n_{l} AS n_docs,
               round(CAST(n_{l} AS DOUBLE) / n, 6) AS raw_share,
               round(sqrt(n_{l}) / denom, 6) AS temp_share,
               round((sqrt(n_{l}) / denom)
                     / (CAST(n_{l} AS DOUBLE) / n), 6) AS boost,
               CAST(round(1e6 * sqrt(n_{l}) / denom) AS BIGINT)
                   AS docs_per_million
        FROM z""" for l in _MIX_LANGS
    ),
    doc="TEMPERATURE-SCALED source mixing (alpha=0.5): the sampling "
    "weights w_i = n_i^alpha / sum_j n_j^alpha that every multilingual "
    "training-data pipeline uses to up-sample low-resource slices "
    "(the mT5/XLM-R recipe) — reported per language as raw share, "
    "temperature share, the resulting boost factor, and exact "
    "expected docs per million sampled.  The whole computation is ONE "
    "map-side conditional aggregate (the 5-language domain pivots to "
    "columns), and the denominator sum_j sqrt(n_j) is written in a "
    "FIXED textual order in both engines — no float aggregation "
    "order exists, so the 6-dp wire is deterministic.  Scale: one "
    "scan, one combiner row per task, 5 output rows; adding a "
    "language adds a column, not a pass.",
)
def qc50_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin(*_MIX_LANGS)
    )
    g = d.agg(
        *[
            F.sum(F.when(F.col("lang") == l, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{l}")
            for l in _MIX_LANGS
        ],
        F.count("*").cast("bigint").alias("n"),
    )
    denom = None
    for l in _MIX_LANGS:
        t = F.sqrt(F.col(f"n_{l}"))
        denom = t if denom is None else denom + t
    z = g.withColumn("denom", denom)
    outs = []
    for l in _MIX_LANGS:
        nl = F.col(f"n_{l}")
        w = F.sqrt(nl) / F.col("denom")
        outs.append(
            z.select(
                F.lit(l).alias("lang"),
                nl.alias("n_docs"),
                F.round(nl.cast("double") / F.col("n"), 6).alias("raw_share"),
                F.round(w, 6).alias("temp_share"),
                F.round(w / (nl.cast("double") / F.col("n")), 6).alias("boost"),
                F.round(F.lit(1e6) * F.sqrt(nl) / F.col("denom"))
                .cast("bigint")
                .alias("docs_per_million"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


@register(
    "qc51_quantile_normalization",
    oracle="""
        WITH ranked AS (
            SELECT source, n_chars, doc_id,
                   row_number() OVER (
                       PARTITION BY source ORDER BY n_chars, doc_id
                   ) AS r,
                   count(*) OVER (PARTITION BY source) AS n
            FROM documents
        ),
        flagged AS (
            SELECT *, CASE WHEN r > 0.9 * (n + 1) THEN 1 ELSE 0 END
                          AS topn
            FROM ranked
        ),
        thresh AS (
            SELECT CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars
            FROM documents
        )
        SELECT source,
               CAST(max(n) AS BIGINT) AS n_docs,
               round(CAST(sum(r) AS DOUBLE)
                     / (max(n) * (max(n) + 1.0)), 6) AS norm_mean,
               round(CAST(sum(CASE WHEN n_chars >
                                   (SELECT mean_chars FROM thresh)
                              THEN 1 ELSE 0 END) AS DOUBLE) / max(n), 6)
                   AS raw_top_share,
               round(CAST(sum(topn) AS DOUBLE) / max(n), 6)
                   AS norm_top_share
        FROM flagged GROUP BY source
    """,
    doc="CROSS-SOURCE QUANTILE NORMALIZATION of a quality signal — the "
    "calibration step a multi-source training-data mixer needs before "
    "comparing quality scores across feeds whose raw scales differ "
    "(one crawl\'s length distribution says nothing about "
    "another\'s): each doc\'s score becomes its within-source rank "
    "ratio r/(n+1), making every source uniform on (0,1).  The audit "
    "output proves the property: norm_mean is EXACTLY 0.5 per source "
    "(sum of ranks is n(n+1)/2 — integer identity, not luck), the "
    "RAW top-share against the global mean varies wildly by source, "
    "and the NORMALIZED top-share (rank ratio > 0.9) is ~0.1 "
    "everywhere — the before/after of the calibration in one table.  "
    "Scale: one per-source window (rank state bounded per partition "
    "key) + one grouped agg; the global mean is a broadcast scalar.  "
    "The window sorts within source only — at 100 TB a monster "
    "source routes through dist_rank\'s range exchange per the "
    "global-window policy.",
)
def qc51_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "source",
        "n_chars",
        "doc_id",
        F.row_number().over(w).alias("r"),
        F.count("*").over(W.partitionBy("source")).alias("n"),
    )
    mean_chars = d.agg(
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias(
            "mean_chars"
        )
    )
    return (
        ranked.crossJoin(F.broadcast(mean_chars))
        .groupBy("source")
        .agg(
            F.max("n").cast("bigint").alias("n_docs"),
            F.round(
                F.sum("r").cast("double")
                / (F.max("n") * (F.max("n") + 1.0)),
                6,
            ).alias("norm_mean"),
            F.round(
                F.sum(
                    F.when(F.col("n_chars") > F.col("mean_chars"), 1).otherwise(0)
                ).cast("double")
                / F.max("n"),
                6,
            ).alias("raw_top_share"),
            F.round(
                F.sum(
                    F.when(F.col("r") > 0.9 * (F.col("n") + 1), 1).otherwise(0)
                ).cast("double")
                / F.max("n"),
                6,
            ).alias("norm_top_share"),
        )
    )


@register(
    "qc52_contamination_removal",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source, string_split(text, ' ') AS w
            FROM documents
        ),
        pos AS (
            SELECT doc_id, source, i, w[i] AS tok, len(w) AS n
            FROM toks
            CROSS JOIN UNNEST(generate_series(1, len(w))) AS t(i)
        ),
        grams AS (
            SELECT doc_id, source, i,
                   array_to_string(w[i:i+2], ' ') AS g
            FROM toks
            CROSS JOIN UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        ),
        bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
        hits AS (
            SELECT gr.doc_id, gr.i
            FROM grams gr JOIN bench b USING (g)
            WHERE gr.source <> 'src0'
        ),
        islands AS (
            SELECT doc_id, i,
                   i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
                       AS grp
            FROM hits
        ),
        hard AS (
            SELECT doc_id, grp
            FROM islands GROUP BY doc_id, grp
            HAVING count(*) + 2 >= 8
        ),
        covered AS (
            SELECT DISTINCT il.doc_id, il.i + o.off AS p
            FROM islands il
            JOIN hard h ON h.doc_id = il.doc_id AND h.grp = il.grp
            CROSS JOIN (SELECT unnest([0, 1, 2]) AS off) o
        ),
        kept AS (
            SELECT p.doc_id, p.i, p.tok, p.n
            FROM pos p
            WHERE p.source <> 'src0'
              AND p.doc_id IN (SELECT doc_id FROM covered)
              AND NOT EXISTS (
                  SELECT 1 FROM covered c
                  WHERE c.doc_id = p.doc_id AND c.p = p.i)
        )
        SELECT doc_id,
               CAST(max(n) AS BIGINT) AS tokens_before,
               CAST(max(n) - count(*) AS BIGINT) AS tokens_removed,
               CAST(count(*) AS BIGINT) AS tokens_after,
               md5(string_agg(tok, ' ' ORDER BY i)) AS cleaned_md5
        FROM kept GROUP BY doc_id
    """,
    doc="CONTAMINATION REMOVAL surgery — the rewrite qc45's profiler "
    "feeds: documents whose benchmark 3-gram hits form a hard span "
    "(>= 8 consecutive tokens, the Lee et al. threshold qc45 pins) "
    "get those spans EXCISED — every token position covered by a "
    "gram of a hard run (gram start + offsets 0..2) is dropped, the "
    "survivors re-join in order, and the audit reports "
    "before/removed/after token counts plus the md5 of the cleaned "
    "text, so the surgery is verified BYTE-EXACT, not just counted "
    "(removing one token too many or re-joining out of order breaks "
    "the hash).  Scattered (soft) hits stay — span removal only, the "
    "quote-vs-topic distinction.  Scale: benchmark grams broadcast; "
    "islands window per-doc; the covered-position explode is 3x the "
    "hard-hit count; the rebuild groups per doc (collect bounded by "
    "doc length).  Only affected docs are rewritten — the untouched "
    "corpus never shuffles.",
)
def qc52_contamination_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.split("text", " ").alias("w")
    )
    pos = toks.select(
        "doc_id",
        "source",
        F.size("w").alias("n"),
        F.posexplode("w").alias("i0", "tok"),
    ).select(
        "doc_id", "source", "n", (F.col("i0") + 1).alias("i"), "tok"
    )
    grams = toks.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                "transform(sequence(1, greatest(size(w) - 2, 0)),"
                " j -> array_join(slice(w, j, 3), ' '))"
            )
        ).alias("i0", "g"),
    ).select(
        "doc_id", "source", (F.col("i0") + 1).alias("i"), "g"
    ).localCheckpoint(eager=True)
    bench = (
        grams.filter(F.col("source") == "src0").select("g").distinct()
    )
    hits = (
        grams.filter(F.col("source") != "src0")
        .join(F.broadcast(bench), "g")
        .select("doc_id", "i")
    )
    w_isl = W.partitionBy("doc_id").orderBy("i")
    islands = hits.withColumn(
        "grp", F.col("i") - F.row_number().over(w_isl)
    )
    hard = (
        islands.groupBy("doc_id", "grp")
        .agg(F.count("*").alias("rg"))
        .filter(F.col("rg") + 2 >= 8)
        .select("doc_id", "grp")
    )
    covered = (
        islands.join(hard, ["doc_id", "grp"])
        .select(
            "doc_id",
            F.explode(
                F.array(F.col("i"), F.col("i") + 1, F.col("i") + 2)
            ).alias("p"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    affected = covered.select("doc_id").distinct()
    kept = (
        pos.filter(F.col("source") != "src0")
        .join(affected, "doc_id", "left_semi")
        .join(
            covered.withColumnRenamed("p", "i"),
            ["doc_id", "i"],
            "left_anti",
        )
    )
    return kept.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("tokens_before"),
        (F.max("n") - F.count("*")).cast("bigint").alias("tokens_removed"),
        F.count("*").cast("bigint").alias("tokens_after"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("cleaned_md5"),
    )


@register(
    "qc53_length_bucket_packing",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
            FROM documents
        ),
        arrival AS (
            SELECT lang, n_tok,
                   CAST((row_number() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) - 1) // 16 AS BIGINT) AS batch_id
            FROM toks
        ),
        sorted_s AS (
            SELECT lang, n_tok,
                   CAST((row_number() OVER (
                       PARTITION BY lang
                       ORDER BY n_tok DESC, doc_id
                   ) - 1) // 16 AS BIGINT) AS batch_id
            FROM toks
        ),
        batches AS (
            SELECT 'arrival' AS strategy, lang, batch_id,
                   count(*) AS cnt, max(n_tok) AS mx, sum(n_tok) AS tot
            FROM arrival GROUP BY lang, batch_id
            UNION ALL
            SELECT 'length_sorted' AS strategy, lang, batch_id,
                   count(*) AS cnt, max(n_tok) AS mx, sum(n_tok) AS tot
            FROM sorted_s GROUP BY lang, batch_id
        )
        SELECT strategy, lang,
               CAST(count(*) AS BIGINT) AS n_batches,
               CAST(sum(tot) AS BIGINT) AS total_tokens,
               CAST(sum(mx * cnt - tot) AS BIGINT) AS padded_tokens,
               round(sum(mx * cnt - tot) * 1.0
                     / (sum(mx * cnt - tot) + sum(tot)), 6) AS waste_ratio
        FROM batches
        GROUP BY strategy, lang
    """,
    doc="Length-grouped batching audit — the padding-waste question "
    "every LLM training pipeline answers before fixing its dataloader "
    "order: batches of 16 sequences pad every member to the batch max, "
    "so arrival-order batches (md5-hash order, the qc03 deterministic "
    "shuffle stand-in) mix long and short documents and burn compute "
    "on pad tokens, while length-sorted batches (n_tok DESC, the "
    "bucketing trick) make batch-mates near-equal length.  Output is "
    "per (strategy, lang): batch count, real tokens, padded slots, "
    "and waste ratio — the measured gap between the two orders IS the "
    "dataloader-bucketing win.  All counts are exact integers; the "
    "single ratio divides two integer sums.  Scale: both strategies "
    "are one row_number window PARTITIONED BY lang (the stratum key) "
    "and two grouped aggs — no global sort; at 100 TB the per-lang "
    "partitions shuffle independently and a finer stratum key (lang, "
    "source) bounds any one partition.",
)
def qc53_length_bucket_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    arrival_w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    sorted_w = W.partitionBy("lang").orderBy(F.col("n_tok").desc(), "doc_id")

    def _batches(src: DataFrame, w, strategy: str) -> DataFrame:
        return (
            src.select(
                "lang",
                "n_tok",
                F.floor((F.row_number().over(w) - 1) / 16)
                .cast("long")
                .alias("batch_id"),
            )
            .groupBy("lang", "batch_id")
            .agg(
                F.count("*").alias("cnt"),
                F.max("n_tok").alias("mx"),
                F.sum("n_tok").alias("tot"),
            )
            .select(F.lit(strategy).alias("strategy"), "lang", "batch_id", "cnt", "mx", "tot")
        )

    batches = _batches(toks, arrival_w, "arrival").unionAll(
        _batches(toks, sorted_w, "length_sorted")
    )
    padded = F.sum(F.col("mx") * F.col("cnt") - F.col("tot"))
    return batches.groupBy("strategy", "lang").agg(
        F.count("*").cast("bigint").alias("n_batches"),
        F.sum("tot").cast("bigint").alias("total_tokens"),
        padded.cast("bigint").alias("padded_tokens"),
        F.round(padded * 1.0 / (padded + F.sum("tot")), 6).alias("waste_ratio"),
    )


@register(
    "qc54_dup_ngram_fraction",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source,
                   string_split(text, ' ') AS t,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
            FROM documents
        ),
        grams AS (
            SELECT doc_id, r.i AS pos,
                   array_to_string(t[r.i:r.i + 4], ' ') AS gram
            FROM toks, UNNEST(range(1, n_tok - 3)) AS r(i)
            WHERE n_tok >= 5
        ),
        dup AS (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       count(*) OVER (PARTITION BY doc_id, gram) AS c
                FROM grams
            ) WHERE c >= 2
        ),
        cov AS (
            SELECT doc_id, count(DISTINCT u.q) AS covered
            FROM dup, UNNEST(range(pos, pos + 5)) AS u(q)
            GROUP BY doc_id
        ),
        per_doc AS (
            SELECT tk.doc_id, tk.source, tk.n_tok,
                   coalesce(c.covered, 0) AS covered
            FROM toks tk LEFT JOIN cov c ON tk.doc_id = c.doc_id
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN covered * 10 >= 3 * n_tok
                             THEN 1 ELSE 0 END) AS BIGINT) AS flagged_docs,
               CAST(sum(covered) AS BIGINT) AS total_covered,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               round(sum(covered) * 1.0 / sum(n_tok), 6) AS dup_fraction
        FROM per_doc
        GROUP BY source
    """,
    doc="Duplicate-5-gram coverage fraction — the Gopher/MassiveText "
    "repetition rule qc15 leaves out: the fraction of token POSITIONS "
    "covered by any 5-gram that repeats within the same document "
    "(qc05's type-token ratio sees scattered word reuse; THIS sees "
    "copy-pasted spans, boilerplate blocks, and degenerate loops).  "
    "Position coverage is computed exactly: each within-doc duplicate "
    "gram occurrence claims positions [p, p+4], claims are unioned by "
    "count(DISTINCT position) so overlapping repeats never "
    "double-count, and the per-source rollup divides integer sums "
    "once (never averages per-doc doubles — summation order).  The "
    "flag gate covered*10 >= 3*n is integer-exact at the 30%% "
    "boundary.  Scale: grams explode to ~n rows per doc (bounded "
    "fan-out 1x), the dup window partitions by (doc_id, gram), and "
    "the coverage explode is 5x on DUPLICATED grams only — cost "
    "scales with repetition density, not corpus size.",
)
def qc54_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.split("text", " ").alias("t"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    grams = toks.filter(F.col("n_tok") >= 5).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, int(n_tok) - 4), "
                "i -> named_struct('pos', bigint(i), "
                "'gram', concat_ws(' ', slice(t, i, 5))))"
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    dup = (
        grams.withColumn(
            "c", F.count("*").over(W.partitionBy("doc_id", "gram"))
        )
        .filter(F.col("c") >= 2)
        .select("doc_id", "pos")
    )
    cov = (
        dup.select(
            "doc_id", F.explode(F.sequence("pos", F.col("pos") + 4)).alias("q")
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("covered"))
    )
    per_doc = toks.join(cov, "doc_id", "left").select(
        "source",
        "n_tok",
        F.coalesce("covered", F.lit(0)).alias("covered"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(
            F.when(F.col("covered") * 10 >= 3 * F.col("n_tok"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("flagged_docs"),
        F.sum("covered").cast("bigint").alias("total_covered"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.round(F.sum("covered") * 1.0 / F.sum("n_tok"), 6).alias(
            "dup_fraction"
        ),
    )


@register(
    "qc57_epoch_exhaustion_schedule",
    oracle="""
        WITH avail AS (
            SELECT source,
                   CAST(substr(source, 4) AS BIGINT) + 1 AS w_units,
                   CAST(sum(len(list_filter(string_split(text, ' '),
                                            w -> w <> ''))) AS BIGINT)
                       AS tokens
            FROM documents
            GROUP BY source
        )
        SELECT source, tokens,
               CAST(w_units AS BIGINT) AS w_units,
               CAST(100000000 * w_units // 210 AS BIGINT) AS budget_tokens,
               CAST((100000000 * w_units // 210 + tokens - 1) // tokens
                    AS BIGINT) AS epochs_ceil,
               round((100000000 * w_units // 210) * 1.0 / tokens, 6)
                   AS repeat_factor,
               (100000000 * w_units // 210 > 4 * tokens) AS over_repeat
        FROM avail
    """,
    doc="Epoch-exhaustion schedule for a data-constrained mixture "
    "(Muennighoff et al. 2023, 'Scaling Data-Constrained Language "
    "Models'): given a 100M-token training budget and per-source "
    "mixture weights (deterministic w_units = source index + 1, "
    "summing to 210 across src0..src19), how many EPOCHS of each "
    "source does the run consume, and which sources repeat past the "
    "~4-epoch point where repeated data stops helping?  "
    "repeat_factor = budget_share / available is the continuous "
    "answer, epochs_ceil the integer one (ceiling division as "
    "(n+d-1)//d in exact integers), over_repeat the 4x gate as an "
    "integer cross-multiplication.  qc19/qc24 waterfill a budget "
    "across sources; THIS inverts the question to repetition per "
    "source — the two together are the mixture-planning loop.  "
    "Scale: the per-source token rollup is the only corpus-sized "
    "stage (map-side combinable); everything after is arithmetic on "
    "one row per source.",
)
def qc57_epoch_exhaustion_schedule(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    avail = d.groupBy("source").agg(
        F.sum(
            F.size(F.expr("filter(split(text, ' '), w -> w != '')")).cast(
                "long"
            )
        ).alias("tokens")
    )
    w_units = (F.substring("source", 4, 10).cast("long") + 1).alias("w_units")
    avail = avail.select("source", "tokens", w_units)
    budget = F.expr("(100000000 * w_units) div 210")
    return avail.select(
        "source",
        "tokens",
        F.col("w_units").cast("bigint").alias("w_units"),
        budget.cast("bigint").alias("budget_tokens"),
        F.expr(
            "((100000000 * w_units) div 210 + tokens - 1) div tokens"
        )
        .cast("bigint")
        .alias("epochs_ceil"),
        F.round(budget * 1.0 / F.col("tokens"), 6).alias("repeat_factor"),
        (budget > 4 * F.col("tokens")).alias("over_repeat"),
    )


@register(
    "qc59_cross_source_flow",
    oracle="""
        WITH hashed AS (
            SELECT doc_id, source, md5(text) AS digest
            FROM documents
        ),
        firsts AS (
            SELECT digest,
                   min(doc_id) AS first_id,
                   arg_min(source, doc_id) AS first_src
            FROM hashed GROUP BY digest
        )
        SELECT f.first_src AS source_from,
               h.source AS source_to,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM hashed h
        JOIN firsts f ON h.digest = f.digest AND h.doc_id > f.first_id
        GROUP BY f.first_src, h.source
    """,
    doc="Cross-source duplicate FLOW matrix — provenance attribution "
    "for exact duplicates: for every content digest seen more than "
    "once, the lowest-doc_id copy is the origin (qc22's keep-first "
    "debit convention) and each later copy contributes one "
    "(origin_source -> copying_source) cell.  The matrix answers the "
    "curation question qc22's per-source totals can't: WHO copies "
    "FROM whom — a mirror site shows as one heavy off-diagonal cell, "
    "scraper-of-scrapers chains as a dense row, and self-dups stay "
    "on the diagonal.  Everything is exact (md5 digest, integer "
    "min/argmin tiebreak, integer cell counts).  Scale: one map-side "
    "digest projection, one digest-keyed rollup (the firsts table "
    "is at most one row per distinct content), one digest equi-join "
    "back — the q70 exact-dedup shape with one extra aggregation.",
)
def qc59_cross_source_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    hashed = d.select("doc_id", "source", F.md5("text").alias("digest"))
    firsts = hashed.groupBy("digest").agg(
        F.min("doc_id").alias("first_id"),
        F.expr("min_by(source, doc_id)").alias("first_src"),
    )
    return (
        hashed.join(firsts, "digest")
        .filter(F.col("doc_id") > F.col("first_id"))
        .groupBy(
            F.col("first_src").alias("source_from"),
            F.col("source").alias("source_to"),
        )
        .agg(F.count("*").cast("bigint").alias("n_copies"))
    )


def _ps_u16_duck(key: str) -> str:
    """DuckDB twin of the Spark conv() hex parse: uniform 16-bit from
    md5('ps:' || key) via the instr digit ladder (q28d/ml34 convention)."""
    h = f"md5('ps:' || CAST({key} AS VARCHAR))"
    parts = [
        f"(instr('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        f" * {16 ** (3 - i)}"
        for i in range(4)
    ]
    return "(" + " + ".join(parts) + ")"


@register(
    "qc60_weighted_priority_sample",
    oracle=f"""
        WITH pr AS (
            SELECT o_orderkey,
                   o_totalprice AS w,
                   o_totalprice /
                       (({_ps_u16_duck('o_orderkey')} + 1) / 65536.0)
                       AS q
            FROM orders
        ),
        top21 AS (
            SELECT * FROM pr ORDER BY q DESC, o_orderkey ASC LIMIT 21
        ),
        tau AS (SELECT min(q) AS tau, count(*) AS m FROM top21),
        -- the (k+1)-th row of the (q DESC, id ASC) order = the one
        -- row dropped when m = k+1 (deterministic tie break: ties AT
        -- tau stay in the sample, only the last-ordered row leaves)
        dropped AS (
            SELECT o_orderkey AS drop_id FROM top21
            ORDER BY q ASC, o_orderkey DESC LIMIT 1
        )
        SELECT p.o_orderkey,
               p.w AS weight,
               round(p.q, 4) AS priority,
               round(CASE WHEN p.w >= t.tau THEN p.w ELSE t.tau END, 2)
                   AS ht_estimate
        FROM top21 p CROSS JOIN tau t CROSS JOIN dropped d
        WHERE t.m <= 20 OR p.o_orderkey <> d.drop_id
    """,
    doc="WEIGHTED PRIORITY SAMPLING (Duffield-Lund-Thorup) — the "
    "sample-without-replacement that makes subset sums estimable: each "
    "order draws priority q = w/u from its weight w (total price) and "
    "a DETERMINISTIC uniform u = (md5-16bit + 1)/65536 (the ml34 "
    "derandomization, so both engines draw the SAME sample), the k=20 "
    "largest priorities are kept, and tau (the 21st priority) gives "
    "the Horvitz-Thompson estimate max(w, tau) per kept item — sums "
    "of ht_estimate over any kept subset are unbiased for the "
    "population subset total, the property that lets a 20-row sample "
    "answer revenue questions about the full table.  u is a power-of-"
    "two division (exact), q is ONE IEEE division (identical across "
    "engines), and the boundary is rank-based — the sample is exactly "
    "the first k rows of the (q DESC, id ASC) order, so ties AT tau "
    "never shrink it below k (round-8 advice; the old strict q > tau "
    "cut dropped every tied row).  Scale: priorities are map-side; the only "
    "reduction is TakeOrdered(21) + a broadcast 1-row threshold — no "
    "window, no shuffle of the data.",
)
def qc60_weighted_priority_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Thin binding over the generic operator (repo convention: qd14 ->
    # api.ks_drift, qc05 -> api.stratified_sample).  The 65536.0D
    # double-literal trap and the n<=k DLT edge live in ONE place —
    # api.priority_sample — so fixes reach both surfaces.
    from .. import api

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("w")
    )
    s = api.priority_sample(o, "w", "o_orderkey", k=20, salt="ps")
    return s.select(
        "o_orderkey",
        F.col("w").alias("weight"),
        F.round("priority", 4).alias("priority"),
        F.round("ht_estimate", 2).alias("ht_estimate"),
    )


@register(
    "qc61_pseudonymization_invariance",
    oracle="""
        WITH o AS (
            SELECT o_custkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        via_real AS (
            SELECT c.c_mktsegment,
                   CAST(sum(o.cents) AS BIGINT) AS cents_real,
                   CAST(count(*) AS BIGINT) AS n_real
            FROM o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment
        ),
        pseu_c AS (
            SELECT md5('pseu:' || CAST(c_custkey AS VARCHAR)) AS pid,
                   c_mktsegment
            FROM customer
        ),
        pseu_o AS (
            SELECT md5('pseu:' || CAST(o_custkey AS VARCHAR)) AS pid, cents
            FROM o
        ),
        via_pseu AS (
            SELECT c.c_mktsegment,
                   CAST(sum(o.cents) AS BIGINT) AS cents_pseu,
                   CAST(count(*) AS BIGINT) AS n_pseu
            FROM pseu_o o JOIN pseu_c c ON o.pid = c.pid
            GROUP BY c.c_mktsegment
        )
        SELECT r.c_mktsegment,
               r.n_real, r.cents_real, p.n_pseu, p.cents_pseu,
               r.n_real = p.n_pseu AND r.cents_real = p.cents_pseu
                   AS invariant
        FROM via_real r JOIN via_pseu p
          ON r.c_mktsegment = p.c_mktsegment
    """,
    doc="REFERENTIALLY-CONSISTENT PSEUDONYMIZATION proof — the "
    "privacy-engineering requirement behind every data-sharing "
    "agreement: replacing the customer key with a keyed digest "
    "(md5('pseu:'||key), deterministic so BOTH tables map "
    "identically) must preserve every join-derived statistic while "
    "severing the link to the real identifier.  The audit runs the "
    "SAME revenue-by-segment rollup twice — joined on real keys and "
    "joined on pseudonyms — and emits both, plus the row-level "
    "invariant flag; any collision or mapping drift between the two "
    "key spaces breaks the hash.  (A production deployment swaps "
    "md5 for an HMAC with a secret salt — the relational shape is "
    "identical; the salt is the only secret.)  Exact cents end to "
    "end.  Scale: two broadcast-dim joins and two grouped rollups; "
    "pseudonym minting is map-side (the q56c content-addressed-ID "
    "convention).",
)
def qc61_pseudonymization_invariance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    pid = lambda col: F.md5(F.concat(F.lit("pseu:"), F.col(col).cast("string")))  # noqa: E731
    via_real = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            o.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.sum("cents").cast("bigint").alias("cents_real"),
            F.count("*").cast("bigint").alias("n_real"),
        )
    )
    pseu_c = c.select(
        pid("c_custkey").alias("pid"), "c_mktsegment"
    )
    pseu_o = o.select(pid("o_custkey").alias("pid"), "cents")
    via_pseu = (
        pseu_o.join(F.broadcast(pseu_c), "pid")
        .groupBy(F.col("c_mktsegment").alias("seg_p"))
        .agg(
            F.sum("cents").cast("bigint").alias("cents_pseu"),
            F.count("*").cast("bigint").alias("n_pseu"),
        )
    )
    return via_real.join(
        via_pseu, via_real.c_mktsegment == via_pseu.seg_p
    ).select(
        "c_mktsegment",
        "n_real",
        "cents_real",
        "n_pseu",
        "cents_pseu",
        (
            (F.col("n_real") == F.col("n_pseu"))
            & (F.col("cents_real") == F.col("cents_pseu"))
        ).alias("invariant"),
    )


@register(
    "qc62_survivorship_quality_shift",
    oracle="""
        WITH hashed AS (
            SELECT doc_id, source, n_chars, md5(text) AS digest
            FROM documents
        ),
        firsts AS (
            SELECT digest, min(doc_id) AS first_id
            FROM hashed GROUP BY digest
        ),
        tagged AS (
            SELECT h.source, h.n_chars,
                   CASE WHEN h.doc_id = f.first_id THEN 'kept'
                        ELSE 'dropped' END AS fate
            FROM hashed h JOIN firsts f ON h.digest = f.digest
        )
        SELECT source,
               CAST(sum(CASE WHEN fate = 'kept' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN fate = 'dropped' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dropped,
               CASE WHEN sum(CASE WHEN fate = 'kept' THEN 1 ELSE 0
                             END) = 0 THEN NULL
                    ELSE round(CAST(sum(CASE WHEN fate = 'kept'
                                       THEN n_chars ELSE 0 END) AS DOUBLE)
                               / sum(CASE WHEN fate = 'kept' THEN 1
                                     ELSE 0 END), 4)
               END AS kept_mean_chars,
               CASE WHEN sum(CASE WHEN fate = 'dropped' THEN 1 ELSE 0
                             END) = 0 THEN NULL
                    ELSE round(CAST(sum(CASE WHEN fate = 'dropped'
                                       THEN n_chars ELSE 0 END) AS DOUBLE)
                               / sum(CASE WHEN fate = 'dropped' THEN 1
                                     ELSE 0 END), 4)
               END AS dropped_mean_chars
        FROM tagged GROUP BY source
    """,
    doc="DEDUP SURVIVORSHIP-BIAS AUDIT — the question every corpus "
    "team should ask after a dedup pass and almost none do: are the "
    "documents we DROP systematically different from the ones we "
    "keep?  Keep-first exact dedup (the qc22/qc59 convention) tags "
    "every doc kept/dropped, and per source the mean length of each "
    "fate is compared — if dropped docs skew long (mirrors cloning "
    "the good content) the dedup is eating quality, if they skew "
    "short it's cleaning boilerplate; either way the delta belongs "
    "in the pipeline report, not in the dark.  Integer sums, one "
    "guarded division per fate (NULL when a fate is EMPTY — dropped "
    "nothing, or kept nothing because every doc was first seen under "
    "another source — explicit CASE in BOTH engines, the qc46 "
    "zero-guard convention).  Scale: one digest rollup + one digest-keyed "
    "equi-join + one grouped aggregate — the q70 shape.",
)
def qc62_survivorship_quality_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id", "source", "n_chars", F.md5("text").alias("digest")
    )
    firsts = hashed.groupBy("digest").agg(F.min("doc_id").alias("first_id"))
    tagged = hashed.join(firsts, "digest").select(
        "source",
        "n_chars",
        F.when(F.col("doc_id") == F.col("first_id"), "kept")
        .otherwise("dropped")
        .alias("fate"),
    )
    kept = F.when(F.col("fate") == "kept", 1).otherwise(0)
    dropped = F.when(F.col("fate") == "dropped", 1).otherwise(0)
    kept_chars = F.when(F.col("fate") == "kept", F.col("n_chars")).otherwise(
        0
    )
    dropped_chars = F.when(
        F.col("fate") == "dropped", F.col("n_chars")
    ).otherwise(0)
    return tagged.groupBy("source").agg(
        F.sum(kept).cast("bigint").alias("n_kept"),
        F.sum(dropped).cast("bigint").alias("n_dropped"),
        # Both fates carry the same explicit zero-guard (round-8
        # advice): a source whose every doc was first seen under
        # another source keeps nothing, and the doc contract says one
        # GUARDED division per fate — not one guarded, one lucky.
        F.when(F.sum(kept) == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.sum(kept_chars).cast("double") / F.sum(kept), 4))
        .alias("kept_mean_chars"),
        F.when(F.sum(dropped) == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(F.sum(dropped_chars).cast("double") / F.sum(dropped), 4)
        )
        .alias("dropped_mean_chars"),
    )


@register(
    "qc64_target_mix_reweighting",
    oracle="""
        WITH cells AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY lang
        ),
        tot AS (
            SELECT CAST(sum(n) AS BIGINT) AS nn,
                   CAST(count(*) AS BIGINT) AS k
            FROM cells
        ),
        weighted AS (
            SELECT c.lang, c.n, t.nn, t.k,
                   (CAST(t.nn AS DOUBLE) / t.k) / c.n AS w
            FROM cells c CROSS JOIN tot t
        ),
        ess AS (
            SELECT sum(n * w) * sum(n * w) / sum(n * w * w) AS ess
            FROM weighted
        )
        SELECT w.lang,
               w.n AS n_docs,
               round(CAST(w.n AS DOUBLE) / w.nn, 6) AS current_share,
               round(1.0 / w.k, 6) AS target_share,
               round(w.w, 6) AS weight,
               round(e.ess, 2) AS effective_sample_size,
               round(e.ess / w.nn, 6) AS ess_fraction
        FROM weighted w CROSS JOIN ess e
    """,
    doc="TARGET-MIX IMPORTANCE REWEIGHTING + EFFECTIVE SAMPLE SIZE — "
    "the honest version of 'just upweight the rare languages': "
    "per-cell weights w = target_share/current_share hit a UNIFORM "
    "language mix in expectation, and the Kish effective sample size "
    "ESS = (sum w)^2 / sum w^2 reports what that reweighting COSTS — "
    "an ESS fraction near 1 means nearly-free rebalancing, one near "
    "the rarest cell's share means the corpus now behaves like a far "
    "smaller one (the statistical fact mixture tuning discussions "
    "routinely skip; Kish 1965, standard importance-sampling "
    "diagnostics).  Per-doc sums collapse to cell-count algebra "
    "(every doc in a cell shares w), so ESS is computed from the "
    "CELL table — exact integer counts, a handful of double ops, "
    "6dp wire.  Scale: one grouped count + broadcast scalars; the "
    "weight table is |cells| rows and joins back map-side wherever "
    "the pipeline applies it.",
)
def qc64_target_mix_reweighting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("n"))
    tot = cells.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.count("*").cast("bigint").alias("k"),
    )
    weighted = cells.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n",
        "nn",
        "k",
        ((F.col("nn").cast("double") / F.col("k")) / F.col("n")).alias("w"),
    )
    ess = weighted.agg(
        (
            F.sum(F.col("n") * F.col("w"))
            * F.sum(F.col("n") * F.col("w"))
            / F.sum(F.col("n") * F.col("w") * F.col("w"))
        ).alias("ess")
    )
    return weighted.crossJoin(F.broadcast(ess)).select(
        "lang",
        F.col("n").alias("n_docs"),
        F.round(F.col("n").cast("double") / F.col("nn"), 6).alias(
            "current_share"
        ),
        F.round(1.0 / F.col("k"), 6).alias("target_share"),
        F.round("w", 6).alias("weight"),
        F.round("ess", 2).alias("effective_sample_size"),
        F.round(F.col("ess") / F.col("nn"), 6).alias("ess_fraction"),
    )
