"""Text-analysis operators: language/source stats, quality scoring,
token counting, fingerprinting, heuristic language-ID, pure-SQL TF-IDF.

SURVEY.md §2.10 + BASELINE.json north-star ("text analysis").

Everything here is built-in-expression only (no UDFs): tokenization is
split(), counting is regexp_count / size(), scoring is arithmetic — all
codegen'd, all safe at 100 TB because each is a scan + one hash-agg at
most.  The MLlib TF-IDF/classification path lives in ml/pipelines.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import register
from ..session import memo
from ..sources import load_table


@register(
    "q76_lang_source_stats",
    oracle="""
        SELECT
            lang,
            count(*) AS n_docs,
            count(DISTINCT source) AS n_sources,
            CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
            min(n_chars) AS min_chars,
            max(n_chars) AS max_chars
        FROM documents
        GROUP BY lang
    """,
    doc="Corpus profile per language: doc counts, source coverage, length "
    "distribution (integer-sum average — exact).",
)
def q76_lang_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "q77_text_quality",
    oracle="""
        WITH scored AS (
            SELECT
                doc_id,
                n_chars,
                len(string_split(text, ' ')) AS n_tokens,
                CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len,
                len(list_filter(string_split(text, ' '),
                    t -> list_contains(['the','a','of','and','to','in','is','for'], t)))
                    AS n_stopwords
            FROM documents
        )
        SELECT
            doc_id,
            n_tokens,
            round(avg_token_len, 6) AS avg_token_len,
            n_stopwords,
            round(CAST(n_stopwords AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
            (n_tokens >= 10 AND avg_token_len BETWEEN 3 AND 12) AS passes_quality
        FROM scored
    """,
    doc="Per-document quality signals: token count, mean token length, "
    "stopword ratio, and a composite quality gate — the filter stage of "
    "a training-data pipeline.",
)
def q77_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    stop = F.array([F.lit(s) for s in ["the", "a", "of", "and", "to", "in", "is", "for"]])
    n_tokens = F.size(toks).cast("long")
    avg_len = F.col("n_chars").cast("double") / n_tokens
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast("long")
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(avg_len, 6).alias("avg_token_len"),
        n_stop.alias("n_stopwords"),
        F.round(n_stop.cast("double") / n_tokens, 6).alias("stopword_ratio"),
        ((n_tokens >= 10) & avg_len.between(3, 12)).alias("passes_quality"),
    )


@register(
    "q78_token_count",
    oracle="""
        SELECT
            lang,
            CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
            CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT)
                AS bpe_ish_tokens,
            CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang
    """,
    doc="Token accounting per language: whitespace tokens vs a BPE-ish "
    "regex lexer ([a-z]+ | digits | single punctuation) — the token-"
    "budget estimator of a training pipeline (regexp_count stays "
    "JVM-side; no UDF).",
)
def q78_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("ws_tokens"),
        F.sum(F.regexp_count("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]")))
        .cast("bigint")
        .alias("bpe_ish_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "q79_fingerprint",
    oracle="""
        SELECT
            doc_id,
            md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
            substr(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), 1, 8) AS bucket8
        FROM documents
    """,
    doc="Canonical document fingerprint: whitespace-normalized lowercase "
    "md5 (plus an 8-hex-char bucket prefix for sharded dedup indexes).",
)
def q79_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..api import fingerprint

    d = load_table(spark, sf_dir, "documents")
    return fingerprint(d, "text").select(
        "doc_id",
        "fingerprint",
        F.substring("fingerprint", 1, 8).alias("bucket8"),
    )


#: Tiny per-language marker vocabularies for the heuristic classifier.
#: The fixture text is synthetic Spark-vocabulary soup, so real-language
#: markers barely fire — the operator still demonstrates the mechanism
#: (vocabulary-overlap scoring) with fully deterministic output.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "es": ["el", "la", "de", "que", "es"],
    "fr": ["le", "la", "et", "est", "les"],
    "zh": ["de", "shi", "le", "bu", "wo"],
}


@register(
    "q80_langid",
    oracle="""
        WITH scored AS (
            SELECT
                doc_id,
                lang,
                len(list_filter(string_split(text, ' '),
                    t -> list_contains(['the','and','of','to','is'], t))) AS score_en,
                len(list_filter(string_split(text, ' '),
                    t -> list_contains(['der','die','und','ist','nicht'], t))) AS score_de,
                len(list_filter(string_split(text, ' '),
                    t -> list_contains(['el','la','de','que','es'], t))) AS score_es,
                len(list_filter(string_split(text, ' '),
                    t -> list_contains(['le','la','et','est','les'], t))) AS score_fr,
                len(list_filter(string_split(text, ' '),
                    t -> list_contains(['de','shi','le','bu','wo'], t))) AS score_zh
            FROM documents
        )
        SELECT
            doc_id,
            lang,
            CASE
                WHEN score_en >= score_de AND score_en >= score_es
                     AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
                WHEN score_de >= score_es AND score_de >= score_fr
                     AND score_de >= score_zh THEN 'de'
                WHEN score_es >= score_fr AND score_es >= score_zh THEN 'es'
                WHEN score_fr >= score_zh THEN 'fr'
                ELSE 'zh'
            END AS predicted_lang,
            score_en + score_de + score_es + score_fr + score_zh AS marker_hits
        FROM scored
    """,
    doc="Heuristic language ID: marker-vocabulary overlap scores with a "
    "deterministic argmax (ties break by fixed language priority).",
)
def q80_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    def marker_score(markers: list[str]):
        arr = F.array([F.lit(m) for m in markers])
        # single-parameter lambda: PySpark passes (element, index) to
        # two-parameter lambdas, so the array must be closed over.
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("long")

    order = ["en", "de", "es", "fr", "zh"]
    # Materialize the 5 scores once: the argmax below references each
    # score many times, and rebuilding the filter-HOF per reference would
    # re-tokenize the text for every comparison.
    scored = d.select(
        "doc_id",
        "lang",
        *[marker_score(_LANG_MARKERS[lang]).alias(f"score_{lang}") for lang in order],
    )
    scores = {lang: F.col(f"score_{lang}") for lang in order}
    pred = F.lit("zh")
    # Build the argmax back-to-front so earlier languages win ties.
    for lang in reversed(order[:-1]):
        later = order[order.index(lang) + 1 :]
        cond = None
        for other in later:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lang).otherwise(pred)
    total = None
    for lang in order:
        total = scores[lang] if total is None else (total + scores[lang])
    return scored.select("doc_id", "lang", pred.alias("predicted_lang"), total.alias("marker_hits"))


@register(
    "q81_tfidf_sql",
    oracle="""
        WITH tok AS (
            SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS term
            FROM documents
        ), tf AS (
            SELECT lang, term, count(*) AS tf FROM tok GROUP BY lang, term
        ), df AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
        ), n AS (
            SELECT count(*) AS n_docs FROM documents
        ), scored AS (
            SELECT
                tf.lang,
                tf.term,
                round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
            FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
        )
        SELECT lang, term, tfidf FROM (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY tfidf DESC, term ASC
                   ) AS rn
            FROM scored
        ) WHERE rn <= 10
    """,
    doc="Pure-SQL TF-IDF: document-frequency-weighted term scores, top-10 "
    "terms per language.  tf = docs-in-lang containing term, "
    "idf = ln(N/df).  The MLlib HashingTF+IDF twin is ml01.",
)
def q81_tfidf_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()  # scalar dimension (document count), broadcast as literal
    tok = d.select("doc_id", "lang", F.explode(F.array_distinct(F.split("text", " "))).alias("term"))
    tf = tok.groupBy("lang", "term").agg(F.count("*").alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df, "term").select(
        "lang",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
    )
    w = W.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 10).select(
        "lang", "term", "tfidf"
    )


@register(
    "q82_stopword_filter",
    oracle="""
        SELECT
            doc_id,
            len(string_split(text, ' ')) AS n_tokens,
            len(list_filter(string_split(text, ' '),
                t -> NOT list_contains(['the','a','of','and','to','in','is','for','on','with'], t)))
                AS n_content_tokens
        FROM documents
        WHERE doc_id < 300
    """,
    doc="Stopword removal as a pure HOF expression (array filter against "
    "a broadcast-literal stop list) — the codegen'd twin of MLlib's "
    "StopWordsRemover (ml01).",
)
def q82_stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    stop = F.array(
        *[F.lit(s) for s in ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]]
    )
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: ~F.array_contains(stop, t))).cast("long").alias(
            "n_content_tokens"
        ),
    )


@register(
    "q83_token_entropy",
    oracle="""
        WITH tok AS (
            SELECT doc_id, lang,
                   unnest(string_split(text, ' ')) AS token
            FROM documents
        ), freq AS (
            SELECT doc_id, lang, token, count(*) AS c
            FROM tok GROUP BY doc_id, lang, token
        ), withp AS (
            SELECT doc_id, lang,
                   c * 1.0 / sum(c) OVER (PARTITION BY doc_id) AS p
            FROM freq
        ), doc_h AS (
            SELECT doc_id, lang, -sum(p * ln(p)) AS h
            FROM withp
            GROUP BY doc_id, lang
        )
        SELECT lang,
               count(*) AS n_docs,
               round(avg(h), 4) AS avg_entropy,
               round(min(h), 4) AS min_entropy,
               round(max(h), 4) AS max_entropy
        FROM doc_h
        GROUP BY lang
        ORDER BY lang
    """,
    doc="Per-document Shannon token entropy, aggregated per language — "
    "the information-density screen (low entropy = repetitive/template "
    "text, a stronger signal than the qc05 repetition ratio).  Pure "
    "Catalyst: explode -> (doc,token) partial-agg count -> window "
    "normalize -> -sum(p ln p) -> per-lang stats.  Two shuffles total "
    "(token counts, per-doc regroup); at 100 TB the (doc,token) "
    "aggregate is the only corpus-sized exchange, and it combines "
    "map-side.",
)
def q83_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "lang", "token")
        .agg(F.count("*").alias("c"))
    )
    with_p = freq.withColumn(
        "p", F.col("c") / F.sum("c").over(W.partitionBy("doc_id"))
    )
    doc_h = with_p.groupBy("doc_id", "lang").agg(
        (-F.sum(F.col("p") * F.log("p"))).alias("h")
    )
    return (
        doc_h.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("h"), 4).alias("avg_entropy"),
            F.round(F.min("h"), 4).alias("min_entropy"),
            F.round(F.max("h"), 4).alias("max_entropy"),
        )
        .orderBy("lang")
    )


#: RAG-style chunker geometry: window of _CHUNK_W tokens advancing by
#: _CHUNK_S (overlap = _CHUNK_W - _CHUNK_S).  Fixture docs average ~56
#: tokens, so 24/16 yields ~3 chunks/doc; production uses 512/384 etc. —
#: the constants fold, the plan shape is identical.
_CHUNK_W = 24
_CHUNK_S = 16


@register(
    "q83b_sliding_chunks",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        sized AS (
            SELECT doc_id, w, len(w) AS n,
                   CASE WHEN len(w) <= {_CHUNK_W} THEN 1
                        ELSE ((len(w) - {_CHUNK_W}) + {_CHUNK_S} - 1) // {_CHUNK_S} + 1
                   END AS n_chunks
            FROM toks
            WHERE len(w) >= 1
        )
        SELECT
            doc_id,
            i AS chunk_idx,
            1 + i * {_CHUNK_S} AS start_tok,
            least(1 + i * {_CHUNK_S} + {_CHUNK_W} - 1, n)
                - (1 + i * {_CHUNK_S}) + 1 AS n_tokens,
            md5(array_to_string(
                w[1 + i * {_CHUNK_S} : least(1 + i * {_CHUNK_S} + {_CHUNK_W} - 1, n)],
                ' ')) AS chunk_md5
        FROM sized CROSS JOIN UNNEST(generate_series(0, n_chunks - 1)) AS t(i)
    """,
    doc=f"Overlapping sliding-window chunker (RAG / context-window prep): "
    f"each doc becomes ceil((n-{_CHUNK_W})/{_CHUNK_S})+1 chunks of up to "
    f"{_CHUNK_W} tokens advancing by {_CHUNK_S} (overlap "
    f"{_CHUNK_W - _CHUNK_S}).  Pure generator expression — sequence + "
    "explode + slice, no UDTF — so the whole thing is map-side, "
    "embarrassingly parallel, and emits md5(chunk) rather than chunk "
    "bodies (downstream dedup/indexing keys on the digest; bodies "
    "re-slice on demand).  Complements q98's UDTF chunker: same job, "
    "Catalyst-native, and with stride-overlap semantics.",
)
def q83b_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.split("text", " ").alias("w"),
        F.size(F.split("text", " ")).alias("n"),
    ).where(F.col("n") >= 1)
    sized = sized.withColumn(
        "n_chunks",
        F.when(F.col("n") <= _CHUNK_W, F.lit(1)).otherwise(
            F.expr(
                f"((n - {_CHUNK_W}) + {_CHUNK_S} - 1) div {_CHUNK_S} + 1"
            ).cast("int")
        ),
    )
    exploded = sized.select(
        "doc_id",
        "w",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_idx"),
    )
    start = F.lit(1) + F.col("chunk_idx") * _CHUNK_S
    end = F.least(start + _CHUNK_W - 1, F.col("n"))
    return exploded.select(
        "doc_id",
        "chunk_idx",
        start.alias("start_tok"),
        (end - start + 1).alias("n_tokens"),
        F.md5(F.array_join(F.slice(F.col("w"), start, end - start + 1), " ")).alias(
            "chunk_md5"
        ),
    )


@register(
    "q77b_heaps_law",
    oracle="""
        WITH per_source AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(count(DISTINCT u.tok) AS BIGINT) AS n_distinct
            FROM documents,
                 UNNEST(string_split(text, ' ')) AS u(tok)
            GROUP BY source
        )
        SELECT source, n_tokens, n_distinct,
               round(ln(n_distinct) / ln(n_tokens), 6) AS heaps_ratio
        FROM per_source
    """,
    doc="Heaps'-law vocabulary-growth audit: per-source total tokens vs "
    "distinct tokens and the log-log ratio (V ~ K n^beta → "
    "ln V / ln n approaches beta for K~1) — the corpus statistic that "
    "tells you whether a source keeps contributing NEW vocabulary or "
    "has gone repetitive (crawl loops, boilerplate farms plateau "
    "hard).  One explode + per-(source, token) partial agg; the "
    "distinct count shuffles vocabulary-sized pairs, never the "
    "corpus.  NOTE the DuckDB oracle counts tokens from the SAME "
    "unnest so sub-token whitespace quirks cancel out exactly.",
)
def q77b_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    per_source = toks.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.count_distinct("tok").alias("n_distinct"),
    )
    return per_source.select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.round(F.log(F.col("n_distinct")) / F.log(F.col("n_tokens")), 6).alias(
            "heaps_ratio"
        ),
    )


@register(
    "q77c_zipf_fit",
    oracle="""
        WITH freq AS (
            SELECT u.tok, count(*) AS f
            FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
            GROUP BY u.tok
        ),
        ranked AS (
            SELECT f, row_number() OVER (ORDER BY f DESC, tok ASC) AS r
            FROM freq
        )
        SELECT CAST(count(*) AS BIGINT) AS n_types,
               round(regr_slope(ln(f), ln(r)), 4) AS zipf_slope,
               round(regr_r2(ln(f), ln(r)), 4) AS fit_r2
        FROM ranked
    """,
    doc="Zipf's-law fit over the corpus token-frequency spectrum: rank "
    "tokens by frequency (deterministic tiebreak on the token), then "
    "closed-form OLS of ln(freq) on ln(rank) via the regr_* aggregate "
    "family — slope near -1 is the natural-language signature; "
    "synthetic or template-generated text shows up as a flat or "
    "kinked spectrum, making this a generated-content screen.  The "
    "exact vocabulary rank is computed DISTRIBUTED via "
    "dist_rank.distributed_row_number (range exchange + pid-local "
    "row_number + broadcast offsets — bit-identical to the global "
    "window for this total order, no single-task WindowExec), so even "
    "a 10^8-type web vocabulary ranks in parallel; the approx_top_k "
    "sketch alternative stays EXECUTABLE as q77d.  regr_slope/regr_r2 "
    "are single-pass mergeable aggregates — hash-stable cross-engine "
    "(q20c established the regr_* parity pattern).",
)
def q77c_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dist_rank import distributed_row_number

    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
        # Range-exchange boundary sampling re-executes the input plan;
        # pin the corpus-sized explode+agg once (lazy, repo policy).
        .localCheckpoint(eager=True)
    )
    ranked = distributed_row_number(
        freq, [F.col("f").desc(), F.col("tok").asc()], "r"
    ).select("f", "r")
    return ranked.agg(
        F.count("*").cast("long").alias("n_types"),
        F.round(F.expr("regr_slope(ln(f), ln(r))"), 4).alias("zipf_slope"),
        F.round(F.expr("regr_r2(ln(f), ln(r))"), 4).alias("fit_r2"),
    )


@register(
    "q77d_vocab_topk_sketch",
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT doc_id, u.tok
            FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
            WHERE u.tok <> ''
        ),
        df AS (SELECT tok, count(*) AS df FROM pairs GROUP BY tok),
        nd AS (SELECT count(*) AS n FROM documents)
        SELECT tok, CAST(df AS BIGINT) AS df
        FROM df, nd
        WHERE df * 4 >= 3 * n
    """,
    doc="Vocabulary heavy hitters via the approx_top_k SKETCH — the "
    "executable scale path that q77c's and q83d's exact "
    "vocabulary-rank windows cite (SCALE.md 'Global-window policy'): "
    "distinct (doc, token) pairs feed one mergeable approx_top_k "
    "aggregate (k=100, maxItemsTracked=10000 — above the fixture "
    "vocabulary, so the sketch is EXACT inside its tracked window, "
    "the q28b trick), then a deterministic integer support cut keeps "
    "tokens present in >= 75%% of documents (df*4 >= 3*n — boundary "
    "ties decided by exact integer compare, never by the sketch's "
    "tie order, so the result is hash-stable as long as k exceeds "
    "the qualifying count).  This is the boilerplate-vocabulary "
    "detector at 100 TB: partial sketches combine map-side and the "
    "shuffle carries one bounded buffer per partition, while the "
    "exact twin's rank window would sort the whole (Heaps-sublinear "
    "but unbounded) vocabulary.",
)
def q77d_vocab_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = d.select(
        "doc_id",
        F.explode(F.expr("filter(split(text, ' '), t -> t != '')")).alias("tok"),
    ).distinct()
    sk = pairs.agg(F.expr("approx_top_k(tok, 100, 10000)").alias("topk"))
    nd = d.agg(F.count("*").alias("n"))
    return (
        sk.select(F.explode("topk").alias("e"))
        .select(F.col("e.item").alias("tok"), F.col("e.count").cast("long").alias("df"))
        .crossJoin(F.broadcast(nd))
        .filter(F.col("df") * 4 >= 3 * F.col("n"))
        .drop("n")
    )


@register(
    "q80b_langid_confusion",
    oracle="""
        WITH scored AS (
            SELECT
                lang,
                len(list_filter(string_split(text, ' '),
                    t -> list_contains(['the','and','of','to','is'], t))) AS score_en,
                len(list_filter(string_split(text, ' '),
                    t -> list_contains(['der','die','und','ist','nicht'], t))) AS score_de,
                len(list_filter(string_split(text, ' '),
                    t -> list_contains(['el','la','de','que','es'], t))) AS score_es,
                len(list_filter(string_split(text, ' '),
                    t -> list_contains(['le','la','et','est','les'], t))) AS score_fr,
                len(list_filter(string_split(text, ' '),
                    t -> list_contains(['de','shi','le','bu','wo'], t))) AS score_zh
            FROM documents
        ),
        pred AS (
            SELECT lang,
                CASE
                    WHEN score_en >= score_de AND score_en >= score_es
                         AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
                    WHEN score_de >= score_es AND score_de >= score_fr
                         AND score_de >= score_zh THEN 'de'
                    WHEN score_es >= score_fr AND score_es >= score_zh THEN 'es'
                    WHEN score_fr >= score_zh THEN 'fr'
                    ELSE 'zh'
                END AS predicted_lang
            FROM scored
        )
        SELECT lang AS labeled_lang, predicted_lang,
               count(*) AS n_docs,
               round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY lang), 4)
                   AS frac_of_label
        FROM pred
        GROUP BY lang, predicted_lang
    """,
    doc="Classifier EVALUATION as a confusion matrix: q80's heuristic "
    "language-ID predictions cross-tabulated against the labeled lang "
    "column, with per-label fractions (the diagonal is per-class "
    "recall) — the standard quality gate before trusting any "
    "classifier-derived filter in a curation pipeline.  Composes the "
    "registered q80 plan directly (one scan + a |langs|^2-row agg + a "
    "window over that tiny result); at 100 TB the eval runs on a "
    "deterministic hash sample (qc03) rather than the full corpus.",
)
def q80b_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..registry import all_queries

    pred = all_queries()["q80_langid"].fn(spark, sf_dir)
    counts = pred.groupBy(
        F.col("lang").alias("labeled_lang"), "predicted_lang"
    ).agg(F.count("*").alias("n_docs"))
    from pyspark.sql import Window as W

    w = W.partitionBy("labeled_lang")
    return counts.select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        F.round(F.col("n_docs") * 1.0 / F.sum("n_docs").over(w), 4).alias(
            "frac_of_label"
        ),
    )


#: Winnowing parameters: k-gram size (words) and window width (grams).
#: Guarantee (Schleimer et al. 2003): any shared run of at least
#: k + w - 1 = 8 consecutive words produces at least one shared
#: fingerprint — the detection floor is a tunable, not a heuristic.
_WINNOW_K = 4
_WINNOW_W = 5
_WINNOW_MIN_SHARED = 3


@register(
    "q79b_winnowing",
    oracle=f"""
        WITH grams AS (
            SELECT doc_id, i AS pos,
                   substr(md5(array_to_string(w[i:i+{_WINNOW_K - 1}], '_')), 1, 8) AS h
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
            CROSS JOIN UNNEST(generate_series(1, len(w) - {_WINNOW_K - 1})) AS u(i)
        ),
        win AS (
            SELECT doc_id, pos,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW
                                AND {_WINNOW_W - 1} FOLLOWING) AS fp,
                   count(*) OVER (PARTITION BY doc_id) AS n_grams
            FROM grams
        ),
        fps AS (
            SELECT DISTINCT doc_id, fp
            FROM win WHERE pos <= n_grams - {_WINNOW_W - 1}
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= {_WINNOW_MIN_SHARED}
    """,
    doc="Winnowing document fingerprints (Schleimer, Wilkerson & Aiken, "
    f"SIGMOD 2003, public): hash every {_WINNOW_K}-word gram, slide a "
    f"{_WINNOW_W}-gram window, keep each window's MINIMUM hash — any "
    f"match of >= k+w-1 = {_WINNOW_K + _WINNOW_W - 1} consecutive words "
    "between two docs is GUARANTEED to surface as a shared fingerprint "
    "(the local-algorithm detection bound that plain 1-in-p hash "
    "sampling cannot give).  Docs sharing >= "
    f"{_WINNOW_MIN_SHARED} fingerprints are emitted as overlap "
    "candidates — the copy/plagiarism/boilerplate detector that "
    "complements set-level MinHash (q72c, whole-doc resemblance) and "
    "span-level rolling-hash dedup (q74c, exact substrings).  The "
    "windowed-min selection is expressed as the SAME window frame in "
    "both engines, so the pair list is hash-verified end to end.  "
    "Scale shape: one scan + per-doc window (no cross-doc shuffle "
    "until the fingerprint equi-join), fingerprints are 8-hex-char "
    "digests (~1/w of gram count per doc), and the pair join's "
    "fan-out is bounded by per-fingerprint df exactly like q74e's "
    "prefix join — near-linear, never all-pairs.",
)
def q79b_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import spread

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"), 32)
    toks = F.split("text", " ")
    # Guard docs shorter than k tokens: sequence(1, size-k+1) with a
    # negative span would DESCEND (Spark defaults step to -1 when
    # start > stop) and element_at(toks, 0) then raises at runtime,
    # while the oracle's generate_series simply emits no rows.  An
    # empty array makes posexplode emit no rows — same semantics.
    gram_arr = F.when(
        F.size(toks) >= _WINNOW_K,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (_WINNOW_K - 1)),
            lambda i: F.substring(
                F.md5(
                    F.concat_ws("_", *[F.element_at(toks, i + j) for j in range(_WINNOW_K)])
                ),
                1,
                8,
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # n_grams is just the token count minus k-1 — known BEFORE the
    # explode, so no count-over-partition window (a second full window
    # pass) is needed, and the md5 gram array is evaluated exactly once.
    grams = d.select(
        "doc_id",
        (F.size(toks) - (_WINNOW_K - 1)).alias("n_grams"),
        F.posexplode(gram_arr).alias("pos0", "h"),
    ).select("doc_id", "n_grams", (F.col("pos0") + 1).alias("pos"), "h")
    win = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, _WINNOW_W - 1)
    fps = (
        grams.select(
            "doc_id",
            "pos",
            "n_grams",
            F.min("h").over(win).alias("fp"),
        )
        .filter(F.col("pos") <= F.col("n_grams") - (_WINNOW_W - 1))
        .select("doc_id", "fp")
        .distinct()
        .cache()  # both sides of the pair self-join read this (~1/w of grams)
    )
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= _WINNOW_MIN_SHARED)
    )


@register(
    "q83c_ngram_novelty",
    oracle="""
        WITH sh AS (
            SELECT DISTINCT doc_id, array_to_string(w[i:i+2], '_') AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents) t
            CROSS JOIN UNNEST(generate_series(1, len(w) - 2)) AS u(i)
        ),
        firsts AS (SELECT s, min(doc_id) AS fd FROM sh GROUP BY s)
        SELECT sh.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               round(sum(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END)
                     * 1.0 / count(*), 6) AS novelty
        FROM sh JOIN firsts f USING (s)
        GROUP BY sh.doc_id
    """,
    doc="Per-document n-gram NOVELTY score — the 'how much of this "
    "ingest batch is genuinely new text' accounting a crawl pipeline "
    "runs before paying for downstream processing: a doc's novelty is "
    "the fraction of its distinct 3-gram shingles whose FIRST corpus "
    "occurrence (min doc_id = ingest order) is the doc itself.  "
    "Near-1 = fresh content, near-0 = recombined boilerplate — the "
    "span-level complement of q74c's duplicated-span ratio (which "
    "needs >=2 docs sharing a span; novelty attributes every shared "
    "span to its earliest owner).  Docs with <3 tokens have no "
    "shingles and are absent by construction on both sides.  Scale "
    "shape: one shingle explode (map-side), one min-agg keyed by "
    "shingle, one join back on the same key — two shuffles of "
    "(shingle, doc_id) pairs, never all-pairs; at 100 TB the shingle "
    "string is xxhash64-digested so shuffle keys are 8 bytes, and "
    "min(doc_id) is replaced by min(ingest_ts, doc_id) for the same "
    "first-owner semantics across crawls.",
)
def q83c_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..api import shingles
    from ..sources import spread

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"), 32)
    sh = d.select("doc_id", F.explode(shingles("text", 3)).alias("s"))
    firsts = sh.groupBy("s").agg(F.min("doc_id").alias("fd"))
    novel = F.sum(F.when(F.col("fd") == F.col("doc_id"), 1).otherwise(0))
    return (
        sh.join(firsts, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            novel.cast("long").alias("n_novel"),
            F.round(novel * 1.0 / F.count("*"), 6).alias("novelty"),
        )
    )


@register(
    "q80c_script_mix",
    oracle="""
        WITH per_doc AS (
            SELECT lang,
                   n_chars,
                   len(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0
                       / n_chars AS lower_r,
                   len(regexp_replace(text, '[^A-Z]', '', 'g')) * 1.0
                       / n_chars AS upper_r,
                   len(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                       / n_chars AS digit_r,
                   len(regexp_replace(text, '[^ ]', '', 'g')) * 1.0
                       / n_chars AS space_r
            FROM documents
            WHERE n_chars > 0
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(lower_r), 4) AS avg_lower,
               round(avg(upper_r), 4) AS avg_upper,
               round(avg(digit_r), 4) AS avg_digit,
               round(avg(space_r), 4) AS avg_space,
               round(avg(1.0 - lower_r - upper_r - digit_r - space_r), 4)
                   AS avg_other
        FROM per_doc
        GROUP BY lang
    """,
    doc="Character-CLASS mix per language — the script-level sanity "
    "check under q80's token-level language ID: per-doc fractions of "
    "lowercase / uppercase / digit / space / other characters (strip-"
    "and-measure regexp counting, identical char-class semantics in "
    "both engines), averaged per language.  Catches mis-tagged or "
    "mojibake sources (a 'zh'-tagged shard that is 90% ASCII "
    "lowercase; a prose shard that is 40% digits = tables/logs) "
    "before they poison a mixture.  Zero-length docs are excluded on "
    "both sides (division guard).  Scale: pure map-side regexp "
    "arithmetic + one lang-keyed agg; only 5 doubles per doc shuffle.  "
    "4-dp rounding absorbs float-avg summation order (the repo "
    "aggregate-double convention).",
)
def q80c_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)

    def ratio(cls: str):
        return F.length(F.regexp_replace("text", f"[^{cls}]", "")) * 1.0 / F.col(
            "n_chars"
        )

    per = d.select(
        "lang",
        ratio("a-z").alias("lower_r"),
        ratio("A-Z").alias("upper_r"),
        ratio("0-9").alias("digit_r"),
        ratio(" ").alias("space_r"),
    )
    return per.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("lower_r"), 4).alias("avg_lower"),
        F.round(F.avg("upper_r"), 4).alias("avg_upper"),
        F.round(F.avg("digit_r"), 4).alias("avg_digit"),
        F.round(F.avg("space_r"), 4).alias("avg_space"),
        F.round(
            F.avg(1.0 - F.col("lower_r") - F.col("upper_r") - F.col("digit_r") - F.col("space_r")),
            4,
        ).alias("avg_other"),
    )


_CT_LANGID_CTES = """ grams AS (
            SELECT doc_id, lang, substr(text, i, 3) AS g
            FROM documents
            CROSS JOIN UNNEST(generate_series(1, len(text) - 2)) u(i)
            WHERE len(text) >= 3
        ),
        lang_counts AS (
            SELECT lang, g, count(*) AS c FROM grams GROUP BY lang, g
        ),
        lang_prof AS (
            SELECT lang, g, lrank FROM (
                SELECT lang, g,
                       row_number() OVER (PARTITION BY lang
                           ORDER BY c DESC, g ASC) AS lrank
                FROM lang_counts
            ) x WHERE lrank <= 20
        ),
        doc_counts AS (
            SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
        ),
        doc_prof AS (
            SELECT doc_id, g, drank FROM (
                SELECT doc_id, g,
                       row_number() OVER (PARTITION BY doc_id
                           ORDER BY c DESC, g ASC) AS drank
                FROM doc_counts
            ) x WHERE drank <= 20
        ),
        langs AS (SELECT DISTINCT lang FROM documents),
        dists AS (
            SELECT dp.doc_id, l.lang AS cand,
                   sum(coalesce(abs(dp.drank - lp.lrank), 20)) AS dist
            FROM doc_prof dp
            CROSS JOIN langs l
            LEFT JOIN lang_prof lp ON lp.lang = l.lang AND lp.g = dp.g
            GROUP BY dp.doc_id, l.lang
        ),
        pred AS (
            SELECT doc_id,
                   first(cand ORDER BY dist ASC, cand ASC) AS predicted_lang
            FROM dists GROUP BY doc_id
        )"""


@register(
    "q80d_cavnar_trenkle_langid",
    oracle=f"""
        WITH {_CT_LANGID_CTES}
        SELECT d.lang, p.predicted_lang, count(*) AS n_docs
        FROM documents d JOIN pred p USING (doc_id)
        GROUP BY d.lang, p.predicted_lang
    """,
    doc="RANK-ORDER n-gram language ID (Cavnar & Trenkle 1994) — the "
    "profile-distance upgrade of q80's marker-vocabulary heuristic: "
    "per-language character-trigram profiles (top-20 grams by count, "
    "rank ties broken by the gram itself) train on the labeled "
    "corpus; each document's own top-20 profile is scored against "
    "every candidate by the OUT-OF-PLACE measure sum(|doc_rank - "
    "lang_rank|) with a K=20 penalty for grams absent from the "
    "language profile; argmin (distance, then language) predicts, "
    "and the output is the confusion matrix against the given lang "
    "label — the audit that says whether the classifier and the "
    "corpus labels agree.  Every quantity is an integer (ranks, "
    "penalties, counts) and every rank/argmax tie has a lexical "
    "tiebreak, so the whole classifier is hash-verified.  Scale: one "
    "corpus trigram explode feeding two map-side-combinable hash "
    "aggs; the per-doc rank window is PARTITIONED by doc_id (never "
    "global); language profiles are 5x20 rows broadcast to the "
    "distance join — the training side can run on a fixed sample at "
    "100 TB without changing shape.",
)
def q80d_cavnar_trenkle_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Memoized per session and fixture (``session.memo``): q80e's
    # metrics tail reuses the checkpointed 25-row matrix instead of
    # re-running the corpus trigram pass.
    return memo(
        spark, sf_dir, "ct_confusion_matrix", lambda: _ct_confusion_matrix(spark, sf_dir)
    )


def _ct_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    K = 20
    d = load_table(spark, sf_dir, "documents")
    grams = (
        d.filter(F.char_length("text") >= 3)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, char_length(text) - 2), "
                    "i -> substr(text, i, 3))"
                )
            ).alias("g"),
        )
    )
    # One explode + ONE corpus-sized agg: per-(doc, gram) counts carry
    # lang along (doc -> lang is functional), and the language totals
    # REAGGREGATE the per-doc counts instead of re-scanning the raw
    # gram explode — halves the heavy stage (measured ~1.5 s at sf0.1).
    doc_counts = grams.groupBy("doc_id", "lang", "g").agg(
        F.count("*").alias("c")
    )
    doc_counts = doc_counts.localCheckpoint(eager=True)
    lang_prof = (
        doc_counts.groupBy("lang", "g")
        .agg(F.sum("c").alias("c"))
        .withColumn(
            "lrank",
            F.row_number().over(
                W.partitionBy("lang").orderBy(F.col("c").desc(), F.col("g").asc())
            ),
        )
        .filter(F.col("lrank") <= K)
        .select("lang", "g", "lrank")
    )
    doc_prof = (
        doc_counts.withColumn(
            "drank",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("g").asc())
            ),
        )
        .filter(F.col("drank") <= K)
        .select("doc_id", "g", "drank")
    )
    langs = d.select(F.col("lang").alias("cand")).distinct()
    dists = (
        doc_prof.crossJoin(F.broadcast(langs))
        .join(
            F.broadcast(lang_prof.withColumnRenamed("lang", "cand")),
            ["cand", "g"],
            "left",
        )
        .groupBy("doc_id", "cand")
        .agg(
            F.sum(
                F.coalesce(F.abs(F.col("drank") - F.col("lrank")), F.lit(K))
            ).alias("dist")
        )
    )
    pred = dists.groupBy("doc_id").agg(
        F.min(F.struct("dist", "cand"))["cand"].alias("predicted_lang")
    )
    return (
        d.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
        .localCheckpoint(eager=True)
    )


@register(
    "q81b_bm25_retrieval",
    oracle="""
        WITH base AS (
            SELECT doc_id, lang,
                   len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl,
                   len(list_filter(string_split(text, ' '), t -> t = 'spark')) AS tf_spark,
                   len(list_filter(string_split(text, ' '), t -> t = 'join')) AS tf_join,
                   len(list_filter(string_split(text, ' '), t -> t = 'window')) AS tf_window
            FROM documents
        ),
        stats AS (
            SELECT count(*) AS n,
                   CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                   count(*) FILTER (WHERE tf_spark > 0) AS df_spark,
                   count(*) FILTER (WHERE tf_join > 0) AS df_join,
                   count(*) FILTER (WHERE tf_window > 0) AS df_window
            FROM base
        )
        SELECT b.doc_id, b.lang, CAST(b.dl AS BIGINT) AS dl,
               CAST((CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN tf_join > 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_terms,
               round(
                   ln((s.n - s.df_spark + 0.5) / (s.df_spark + 0.5) + 1.0)
                     * (b.tf_spark * 2.2) / (b.tf_spark + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
                 + ln((s.n - s.df_join + 0.5) / (s.df_join + 0.5) + 1.0)
                     * (b.tf_join * 2.2) / (b.tf_join + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
                 + ln((s.n - s.df_window + 0.5) / (s.df_window + 0.5) + 1.0)
                     * (b.tf_window * 2.2) / (b.tf_window + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)),
                 6) AS bm25
        FROM base b CROSS JOIN stats s
        WHERE tf_spark + tf_join + tf_window > 0
    """,
    doc="BM25 retrieval scoring (Robertson-Sparck Jones, the lexical "
    "ranking function behind Lucene/Elasticsearch; k1=1.2, b=0.75) for "
    "the fixed query {spark, join, window}: per-doc term frequencies "
    "computed map-side as filter-HOF counts (no explode, no shuffle of "
    "token rows), corpus stats (N, avgdl, per-term df) as ONE scalar "
    "aggregate broadcast back.  The score is a FIXED-ORDER sum of the "
    "three per-term contributions (conditional columns, not a "
    "nondeterministic-order SUM over exploded rows) so the 6-dp wire "
    "value is bit-stable across engines; the row gate (>=1 query term "
    "present) is integer-exact.  Scale: one full scan + one 1-row "
    "aggregate — the per-query cost of a search over 100 TB is a "
    "map-only pass, and the df/avgdl statistics are index-time "
    "artifacts a real deployment precomputes (qc10's heavy-hitter "
    "vocabulary is exactly that side table).",
)
def q81b_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def tf(term: str):
        return F.size(F.filter(toks, lambda t: t == F.lit(term)))

    base = d.select(
        "doc_id",
        "lang",
        F.size(F.filter(toks, lambda t: t != F.lit(""))).alias("dl"),
        tf("spark").alias("tf_spark"),
        tf("join").alias("tf_join"),
        tf("window").alias("tf_window"),
    )
    stats = base.agg(
        F.count("*").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count_if(F.col("tf_spark") > 0).alias("df_spark"),
        F.count_if(F.col("tf_join") > 0).alias("df_join"),
        F.count_if(F.col("tf_window") > 0).alias("df_window"),
    )

    def contrib(tf_col: str, df_col: str):
        idf = F.log(
            (F.col("n") - F.col(df_col) + 0.5) / (F.col(df_col) + 0.5) + 1.0
        )
        return idf * (F.col(tf_col) * 2.2) / (
            F.col(tf_col) + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
        )

    hit = (
        F.when(F.col("tf_spark") > 0, 1).otherwise(0)
        + F.when(F.col("tf_join") > 0, 1).otherwise(0)
        + F.when(F.col("tf_window") > 0, 1).otherwise(0)
    )
    return (
        base.crossJoin(F.broadcast(stats))
        .filter(F.col("tf_spark") + F.col("tf_join") + F.col("tf_window") > 0)
        .select(
            "doc_id",
            "lang",
            F.col("dl").cast("long").alias("dl"),
            hit.cast("long").alias("n_hit_terms"),
            F.round(
                contrib("tf_spark", "df_spark")
                + contrib("tf_join", "df_join")
                + contrib("tf_window", "df_window"),
                6,
            ).alias("bm25"),
        )
    )


@register(
    "q83d_pmi_cooccurrence",
    oracle="""
        WITH tok AS (
            SELECT DISTINCT doc_id, u.t
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) x
            CROSS JOIN UNNEST(x.w) AS u(t)
            WHERE u.t <> ''
        ),
        df AS (SELECT t, count(*) AS df FROM tok GROUP BY t),
        vocab AS (
            SELECT t, df FROM (
                SELECT t, df,
                       row_number() OVER (ORDER BY df DESC, t ASC) AS rn
                FROM df
            ) WHERE rn <= 30
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        vtok AS (SELECT tok.doc_id, tok.t FROM tok JOIN vocab ON tok.t = vocab.t),
        pairs AS (
            SELECT a.t AS t1, b.t AS t2, count(*) AS df_ab
            FROM vtok a JOIN vtok b ON a.doc_id = b.doc_id AND a.t < b.t
            GROUP BY a.t, b.t
        )
        SELECT p.t1, p.t2, CAST(p.df_ab AS BIGINT) AS df_ab,
               round(ln((p.df_ab * 1.0 * n.n_docs) / (da.df * db.df)), 6) AS pmi
        FROM pairs p
        JOIN vocab da ON p.t1 = da.t
        JOIN vocab db ON p.t2 = db.t
        CROSS JOIN n
        WHERE p.df_ab * 10 >= n.n_docs
    """,
    doc="Pointwise mutual information over document-level token "
    "co-occurrence (Church & Hanks 1990 word association): distinct "
    "tokens per doc, vocabulary capped at the top-30 by document "
    "frequency (integer-sorted, token tiebreak — deterministic), "
    "per-pair PMI = ln(P(a,b)/(P(a)P(b))) with doc-frequency "
    "probabilities.  The support gate is INTEGER arithmetic "
    "(df_ab*10 >= N, i.e. pairs in >=10% of docs) so the row set "
    "never depends on a float compare; PMI itself is a 6-dp report "
    "column.  Scale: the vocabulary cap bounds the per-doc pair "
    "fan-out at vocab^2/2 regardless of corpus size — the self-join "
    "runs doc-partitioned on vocab-filtered tokens (broadcast "
    "vocabulary), so the only corpus-sized shuffle carries (doc, "
    "token-id) pairs; this is the standard collocation-mining shape "
    "for building phrase lists over a 100 TB crawl.  The top-30-df "
    "vocabulary cut is WINDOW-FREE: (df DESC, t ASC) is a total order, "
    "so orderBy+limit(30) — Spark's TakeOrderedAndProject, k rows per "
    "partition + a k-row driver merge, never a global sort or "
    "single-task WindowExec — selects exactly the row_number()<=30 "
    "set (the q46b pattern); the approx_top_k sketch swap stays "
    "EXECUTABLE as q77d.",
)
def q83d_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.filter(F.split("text", " "), lambda t: t != ""))).alias("t"),
    )
    df = tok.groupBy("t").agg(F.count("*").alias("df"))
    vocab = df.orderBy(F.col("df").desc(), F.col("t").asc()).limit(30)
    n_docs = d.count()  # scalar dimension, baked as a literal
    vtok = tok.join(F.broadcast(vocab.select("t")), "t")
    a = vtok.select("doc_id", F.col("t").alias("t1"))
    b = vtok.select("doc_id", F.col("t").alias("t2"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count("*").alias("df_ab"))
        .filter(F.col("df_ab") * 10 >= F.lit(n_docs))
    )
    da = vocab.select(F.col("t").alias("t1"), F.col("df").alias("df_a"))
    db = vocab.select(F.col("t").alias("t2"), F.col("df").alias("df_b"))
    return (
        pairs.join(F.broadcast(da), "t1")
        .join(F.broadcast(db), "t2")
        .select(
            "t1",
            "t2",
            F.col("df_ab").cast("long").alias("df_ab"),
            F.round(
                F.log((F.col("df_ab") * 1.0 * F.lit(float(n_docs))) / (F.col("df_a") * F.col("df_b"))),
                6,
            ).alias("pmi"),
        )
    )


@register(
    "q80e_langid_prf",
    oracle=f"""
        WITH {_CT_LANGID_CTES},
        m AS (
            SELECT d.lang, p.predicted_lang, count(*) AS n
            FROM documents d JOIN pred p USING (doc_id)
            GROUP BY d.lang, p.predicted_lang
        ),
        langs2 AS (SELECT DISTINCT lang FROM documents),
        tp AS (SELECT lang, n FROM m WHERE lang = predicted_lang),
        truth AS (SELECT lang, sum(n) AS n_true FROM m GROUP BY lang),
        predt AS (
            SELECT predicted_lang AS lang, sum(n) AS n_pred
            FROM m GROUP BY predicted_lang
        )
        SELECT l.lang,
               CAST(coalesce(t.n_true, 0) AS BIGINT) AS n_true,
               CAST(coalesce(pr.n_pred, 0) AS BIGINT) AS n_pred,
               CAST(coalesce(tp.n, 0) AS BIGINT) AS tp,
               CASE WHEN coalesce(pr.n_pred, 0) = 0 THEN NULL
                    ELSE round(coalesce(tp.n, 0) * 1.0 / pr.n_pred, 6)
               END AS precision,
               CASE WHEN coalesce(t.n_true, 0) = 0 THEN NULL
                    ELSE round(coalesce(tp.n, 0) * 1.0 / t.n_true, 6)
               END AS recall,
               CASE WHEN coalesce(t.n_true, 0) + coalesce(pr.n_pred, 0) = 0
                    THEN NULL
                    ELSE round(2.0 * coalesce(tp.n, 0)
                         / (coalesce(t.n_true, 0) + coalesce(pr.n_pred, 0)), 6)
               END AS f1
        FROM langs2 l
        LEFT JOIN tp ON tp.lang = l.lang
        LEFT JOIN truth t ON t.lang = l.lang
        LEFT JOIN predt pr ON pr.lang = l.lang
    """,
    doc="Per-class precision / recall / F1 derived from q80d's "
    "Cavnar-Trenkle confusion matrix — the evaluation readout a "
    "labeling-quality review actually consumes: per language, "
    "true-support and predicted-support counts, true positives, and "
    "the three rates (F1 as the single-division form 2tp/(n_true + "
    "n_pred) — exact integers until one correctly-rounded division; "
    "zero-support langs yield NULL explicitly in both engines, never "
    "a divide-by-zero dialect difference).  Classified docs only "
    "(q80d's >= 3-char gate), matching the matrix.  Scale: the "
    "metrics tail runs over the 25-row matrix — free; the cost is "
    "q80d's corpus pass, shared shape.",
)
def q80e_langid_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = q80d_cavnar_trenkle_langid(spark, sf_dir).withColumnRenamed(
        "n_docs", "n"
    )
    langs = (
        load_table(spark, sf_dir, "documents")
        .select("lang")
        .distinct()
    )
    tp = m.filter(F.col("lang") == F.col("predicted_lang")).select(
        "lang", F.col("n").alias("tp_n")
    )
    truth = m.groupBy("lang").agg(F.sum("n").alias("n_true"))
    predt = m.groupBy(F.col("predicted_lang").alias("lang")).agg(
        F.sum("n").alias("n_pred")
    )
    j = (
        langs.join(tp, "lang", "left")
        .join(truth, "lang", "left")
        .join(predt, "lang", "left")
        .select(
            "lang",
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("tp_n", F.lit(0)).cast("long").alias("tp"),
        )
    )
    return j.select(
        "lang",
        "n_true",
        "n_pred",
        "tp",
        F.when(F.col("n_pred") == 0, F.lit(None))
        .otherwise(F.round(F.col("tp") * 1.0 / F.col("n_pred"), 6))
        .alias("precision"),
        F.when(F.col("n_true") == 0, F.lit(None))
        .otherwise(F.round(F.col("tp") * 1.0 / F.col("n_true"), 6))
        .alias("recall"),
        F.when(F.col("n_true") + F.col("n_pred") == 0, F.lit(None))
        .otherwise(
            F.round(
                2.0 * F.col("tp") / (F.col("n_true") + F.col("n_pred")), 6
            )
        )
        .alias("f1"),
    )


@register(
    "q81c_rrf_hybrid_fusion",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl,
                   len(list_filter(string_split(text, ' '), t -> t = 'spark')) AS tf_spark,
                   len(list_filter(string_split(text, ' '), t -> t = 'join')) AS tf_join,
                   len(list_filter(string_split(text, ' '), t -> t = 'window')) AS tf_window
            FROM documents
        ),
        stats AS (
            SELECT count(*) AS n,
                   CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                   count(*) FILTER (WHERE tf_spark > 0) AS df_spark,
                   count(*) FILTER (WHERE tf_join > 0) AS df_join,
                   count(*) FILTER (WHERE tf_window > 0) AS df_window
            FROM base
        ),
        lex AS (
            SELECT b.doc_id,
                   round(
                       ln((s.n - s.df_spark + 0.5) / (s.df_spark + 0.5) + 1.0)
                         * (b.tf_spark * 2.2) / (b.tf_spark + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
                     + ln((s.n - s.df_join + 0.5) / (s.df_join + 0.5) + 1.0)
                         * (b.tf_join * 2.2) / (b.tf_join + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl))
                     + ln((s.n - s.df_window + 0.5) / (s.df_window + 0.5) + 1.0)
                         * (b.tf_window * 2.2) / (b.tf_window + 1.2 * (0.25 + 0.75 * b.dl / s.avgdl)),
                     6) AS lex_score
            FROM base b CROSS JOIN stats s
            WHERE tf_spark + tf_join + tf_window > 0
        ),
        lex_top AS (
            SELECT doc_id, lex_rank FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY lex_score DESC, doc_id ASC)
                           AS lex_rank
                FROM lex
            ) WHERE lex_rank <= 10
        ),
        vec AS (
            SELECT e.vec_id AS doc_id,
                   list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])) AS vscore
            FROM embeddings e,
                 (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            WHERE e.vec_id <> 0
        ),
        vec_top AS (
            SELECT doc_id, vec_rank FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY vscore DESC, doc_id ASC)
                           AS vec_rank
                FROM vec
            ) WHERE vec_rank <= 10
        )
        SELECT doc_id,
               CAST(l.lex_rank AS INT) AS lex_rank,
               CAST(v.vec_rank AS INT) AS vec_rank,
               round(coalesce(1.0 / (60 + l.lex_rank), 0)
                   + coalesce(1.0 / (60 + v.vec_rank), 0), 6) AS rrf_score
        FROM lex_top l FULL OUTER JOIN vec_top v USING (doc_id)
    """,
    doc="HYBRID retrieval via Reciprocal Rank Fusion (Cormack et al. "
    "2009, the fusion rule behind most production lexical+vector "
    "search): the BM25 arm (q81b's scoring for the fixed query "
    "{spark, join, window}, pre-ROUNDED to the 6-dp wire value before "
    "ranking so the rank key is the cross-engine-stable number — the "
    "q85c pre-round pattern) and the cosine arm (q85's exact dot "
    "ordering — sequential folds are bit-identical cross-engine) each "
    "produce a top-10 id list; fusion joins them FULL OUTER on doc_id "
    "(embeddings key = doc_id, the q89 linkage) and scores "
    "sum(1/(60+rank)) over the arms where the doc appears.  Spark "
    "plan is WINDOW-FREE: each arm is TakeOrdered(10) and the rank "
    "within the 10-row frame is a broadcast count-of-better self-join "
    "(the q46b threshold family, generalized to rank assignment), so "
    "at 100 TB each arm costs one map-side scan + a k-row driver "
    "merge and the fusion is a 20-row join — the oracle's global "
    "row_number windows exist only DuckDB-side.  RRF needs no score "
    "calibration between arms (ranks only), which is exactly why it "
    "scales operationally: arms can be served by different systems.",
)
def q81c_rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import dot, to_double_array

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")

    def tf(term: str):
        return F.size(F.filter(toks, lambda t: t == F.lit(term)))

    base = d.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: t != F.lit(""))).alias("dl"),
        tf("spark").alias("tf_spark"),
        tf("join").alias("tf_join"),
        tf("window").alias("tf_window"),
    )
    stats = base.agg(
        F.count("*").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count_if(F.col("tf_spark") > 0).alias("df_spark"),
        F.count_if(F.col("tf_join") > 0).alias("df_join"),
        F.count_if(F.col("tf_window") > 0).alias("df_window"),
    )

    def contrib(tf_col: str, df_col: str):
        idf = F.log(
            (F.col("n") - F.col(df_col) + 0.5) / (F.col(df_col) + 0.5) + 1.0
        )
        return idf * (F.col(tf_col) * 2.2) / (
            F.col(tf_col) + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
        )

    lex = (
        base.crossJoin(F.broadcast(stats))
        .filter(F.col("tf_spark") + F.col("tf_join") + F.col("tf_window") > 0)
        .select(
            "doc_id",
            F.round(
                contrib("tf_spark", "df_spark")
                + contrib("tf_join", "df_join")
                + contrib("tf_window", "df_window"),
                6,
            ).alias("score"),
        )
    )
    e = load_table(spark, sf_dir, "embeddings")
    qv = (
        e.filter(F.col("vec_id") == 0)
        .select(to_double_array("embedding").alias("qvec"))
    )
    vec = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            dot(to_double_array("embedding"), F.col("qvec")).alias("score"),
        )
    )

    def top10_ranked(scored: DataFrame, rank_col: str) -> DataFrame:
        """Window-free top-10 with exact ranks: TakeOrdered(10), then
        rank = 1 + count of better rows within the bounded frame (a
        10x10 broadcast nested-loop — constant work at any scale)."""
        top = scored.orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        ).limit(10)
        better = top.select(
            F.col("doc_id").alias("b_id"), F.col("score").alias("b_score")
        )
        beats = (F.col("b_score") > F.col("score")) | (
            (F.col("b_score") == F.col("score"))
            & (F.col("b_id") < F.col("doc_id"))
        )
        return (
            top.join(F.broadcast(better), beats, "left")
            .groupBy("doc_id")
            .agg((F.count("b_id") + 1).cast("int").alias(rank_col))
        )

    lex_top = top10_ranked(lex, "lex_rank")
    vec_top = top10_ranked(vec, "vec_rank")
    return lex_top.join(vec_top, "doc_id", "full").select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        F.round(
            F.coalesce(1.0 / (60 + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("vec_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )


_RAKE_STOPS = "'the','a','of','and','to','in','is','for','on','with'"
_RAKE_TOPK = 15


@register(
    "q83e_rake_keywords",
    oracle=f"""
        WITH pos AS (
            SELECT doc_id, i, w[i] AS tok,
                   CASE WHEN list_contains([{_RAKE_STOPS}], w[i])
                        THEN 1 ELSE 0 END AS is_stop
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents)
            CROSS JOIN UNNEST(generate_series(1, len(w))) AS t(i)
        ),
        grouped AS (
            SELECT doc_id, i, tok, grp FROM (
                SELECT doc_id, i, tok, is_stop,
                       sum(is_stop) OVER (
                           PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS grp
                FROM pos
            ) WHERE is_stop = 0
        ),
        inst AS (
            SELECT doc_id, grp,
                   string_agg(tok, ' ' ORDER BY i) AS phrase,
                   CAST(count(*) AS BIGINT) AS plen
            FROM grouped GROUP BY doc_id, grp
        ),
        wstat AS (
            SELECT g.tok,
                   CAST(count(*) AS BIGINT) AS freq,
                   CAST(sum(p.plen) AS BIGINT) AS deg
            FROM grouped g
            JOIN inst p ON p.doc_id = g.doc_id AND p.grp = g.grp
            GROUP BY g.tok
        ),
        wscore AS (
            SELECT tok,
                   CAST(round(1e6 * deg / freq) AS BIGINT) AS micro
            FROM wstat
        ),
        phrases AS (
            SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ FROM inst
            GROUP BY phrase
        ),
        scored AS (
            SELECT p.phrase, p.n_occ,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(s.micro) AS BIGINT) AS rake_micro
            FROM phrases p
            CROSS JOIN UNNEST(string_split(p.phrase, ' ')) AS t(tok)
            JOIN wscore s ON s.tok = t.tok
            GROUP BY p.phrase, p.n_occ
        )
        SELECT phrase, n_occ, n_words, rake_micro
        FROM scored
        ORDER BY rake_micro DESC, phrase
        LIMIT {_RAKE_TOPK}
    """,
    doc="RAKE keyword extraction (Rose et al. 2010) over the corpus: "
    "candidate phrases are maximal stopword-free token runs (the "
    "stopword list is q82's), each word scores degree/frequency "
    "(degree = summed length of every phrase it appears in — words "
    "that live in long phrases score higher), and a phrase scores "
    "the sum of its words' scores; top-15 corpus keywords by score.  "
    "Phrase segmentation is the gap-and-island pattern: a running "
    "count of stopwords over the PER-DOCUMENT position window (state "
    "bounded by doc length) labels each token run, identical in both "
    "engines.  Word scores are quantized to integer micro-units "
    "(round(1e6*deg/freq), one deterministic double division from "
    "two exact integers) before the phrase sum, so phrase scores are "
    "BIGINT and the global top-k threshold is exact (no float "
    "summation order).  Scale: two explodes + keyed aggs; word-score "
    "and phrase tables are vocabulary-sized (sublinear, Heaps), the "
    "top-k is TakeOrdered.",
)
def q83e_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    stops = [s.strip("'") for s in _RAKE_STOPS.split(",")]
    pos = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("i", "tok"),
    ).withColumn(
        "is_stop",
        F.when(F.col("tok").isin(stops), 1).otherwise(0),
    )
    w_run = (
        W.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    grouped = (
        pos.withColumn("grp", F.sum("is_stop").over(w_run))
        .filter(F.col("is_stop") == 0)
        .select("doc_id", "i", "tok", "grp")
    )
    inst = grouped.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").cast("bigint").alias("plen"),
    )
    wstat = (
        grouped.join(inst.select("doc_id", "grp", "plen"), ["doc_id", "grp"])
        .groupBy("tok")
        .agg(
            F.count("*").cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("deg"),
        )
    )
    wscore = wstat.select(
        "tok",
        F.round(F.lit(1e6) * F.col("deg") / F.col("freq"))
        .cast("bigint")
        .alias("micro"),
    )
    phrases = inst.groupBy("phrase").agg(
        F.count("*").cast("bigint").alias("n_occ")
    )
    scored = (
        phrases.select(
            "phrase", "n_occ", F.explode(F.split("phrase", " ")).alias("tok")
        )
        .join(wscore, "tok")
        .groupBy("phrase", "n_occ")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("micro").cast("bigint").alias("rake_micro"),
        )
    )
    return scored.select("phrase", "n_occ", "n_words", "rake_micro").orderBy(
        F.col("rake_micro").desc(), "phrase"
    ).limit(_RAKE_TOPK)
