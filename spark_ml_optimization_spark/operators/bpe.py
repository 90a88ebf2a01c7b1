"""Subword (BPE-style) token accounting — greedy longest-match
segmentation against a literal merged-subword vocabulary.

Every token budget in the curation family (qc04 packing, qc19/qc20/qc24
mixtures, qc22 savings, qc32 weighted median) is denominated in
WHITESPACE tokens; a real pretraining-data budget is denominated in
SUBWORD tokens (Sennrich et al. 2016 BPE; Wu et al. 2016 WordPiece).
This module closes that accounting gap with the deterministic core both
schemes share at inference time: per word, scan left to right, at each
position consume the LONGEST vocabulary entry that prefix-matches the
remaining suffix, else consume one character (the unknown/byte
fallback).  Token count = number of segments consumed.

Spark side: a pure-Catalyst nested higher-order-function fold — for
each word, ``aggregate(sequence(1, len(w)), (pos, cnt), ...)`` advances
``pos`` by the longest match (itself an ``aggregate`` over the literal
vocabulary array) and counts segments; an outer ``aggregate`` over the
word array sums per-word counts.  Everything stays inside whole-stage
codegen: per-doc counts are MAP-SIDE with zero shuffle and zero Python.

Oracle side: the same greedy scan as a DuckDB recursive CTE — one row
per (word, scan position), each recursion step advancing by the
longest-match length from a correlated scalar subquery over the
shared vocabulary VALUES list.  Both engines walk identical integer
positions, so the counts are exact, not approximate.

Scale: the fold is O(word_len x vocab) per word, vectorized JVM-side;
a production tokenizer swaps the 50-entry literal for a trie/regex
automaton (or an Arrow kernel over a real BPE merges file) behind the
same per-doc-count contract.  Only (id, lang, counts) ever shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import api
from ..registry import register
from ..session import memo
from ..sources import load_table

#: Literal merged-subword vocabulary (longest-match wins; single-char
#: fallback is implicit).  Entries are common English merges, lengths
#: 2-4, deliberately overlapping (e.g. 'th'/'the'/'ther', 'in'/'ing'/
#: 'ington') so greedy longest-match boundaries are actually exercised.
BPE_VOCAB: tuple[str, ...] = (
    "tion", "ther", "ight", "ough", "ment", "ing", "ent", "ion", "and",
    "the", "ver", "ate", "est", "ter", "ere", "ies", "ous", "ity",
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd", "ti",
    "es", "or", "te", "of", "ed", "is", "it", "al", "ar", "st", "to",
    "nt", "ng", "se", "ha", "as", "ou", "io", "le", "ve", "co",
)

#: SQL literal fragments shared by the Spark expression and the oracle.
_VOCAB_VALUES = ", ".join(f"('{v}')" for v in BPE_VOCAB)


def _len_bucket_array(n: int) -> str:
    entries = [v for v in BPE_VOCAB if len(v) == n]
    return "array(" + ", ".join(f"'{v}'" for v in entries) + ")"


def bpe_count_expr(text_col: str = "text") -> F.Column:
    """Column: greedy longest-match subword token count of a whole
    document — nested Catalyst HOF fold, map-side, no UDF.

    Words are split on single spaces with empties dropped (the q73
    tokenizer rule).  Per word w: fold over sequence(1, len(w)) with
    accumulator (pos, cnt); step i acts only when i == pos (positions
    already consumed by a multi-char match are skipped), advancing pos
    by the longest vocabulary match at pos and counting one segment.
    Longest-match is a per-length CASE ladder (vocab entries are
    length 4/3/2, tried longest first; 1 = single-char fallback) — one
    substr + one array_contains per length instead of a 50-entry scan
    (measured ~4x faster than the naive inner fold at sf0.1).
    """
    a4, a3, a2 = (_len_bucket_array(n) for n in (4, 3, 2))
    match_len = (
        f"IF(array_contains({a4}, substr(w, acc.pos, 4)), 4, "
        f"IF(array_contains({a3}, substr(w, acc.pos, 3)), 3, "
        f"IF(array_contains({a2}, substr(w, acc.pos, 2)), 2, 1)))"
    )
    word_count = f"""
      aggregate(
        sequence(1, char_length(w)),
        named_struct('pos', 1, 'cnt', 0),
        (acc, i) -> IF(i != acc.pos, acc,
          named_struct(
            'pos', acc.pos + {match_len},
            'cnt', acc.cnt + 1)),
        acc -> acc.cnt)
    """
    return F.expr(
        f"aggregate(filter(split({text_col}, ' '), w -> w != ''), "
        f"0L, (tot, w) -> tot + {word_count})"
    )


#: Recursive-CTE re-derivation of the same greedy scan (DuckDB).  Emits
#: per-doc subword counts as `bpe(doc_id, bpe_tokens)`; compose into
#: query-specific oracles.  cnt increases by 1 every step, so the
#: terminal row (pos > len) carries the final count -> max(cnt).
_BPE_ORACLE_CTES = f"""
    vocab(v) AS (SELECT * FROM (VALUES {_VOCAB_VALUES}) xx),
    words AS (
        SELECT doc_id, i, s[i] AS w, len(s[i]) AS wl
        FROM (SELECT doc_id, string_split(text, ' ') AS s
              FROM documents) x
        CROSS JOIN UNNEST(generate_series(1, len(s))) u(i)
        WHERE s[i] <> ''
    ),
    seg AS (
        SELECT doc_id, i, w, wl, 1 AS pos, 0 AS cnt FROM words
        UNION ALL
        SELECT doc_id, i, w, wl,
               pos + coalesce((SELECT max(len(v.v)) FROM vocab v
                               WHERE substr(w, pos, len(v.v)) = v.v), 1),
               cnt + 1
        FROM seg WHERE pos <= wl
    ),
    per_word AS (
        SELECT doc_id, i, max(cnt) AS toks FROM seg GROUP BY doc_id, i
    ),
    bpe AS (
        SELECT d.doc_id, CAST(coalesce(sum(p.toks), 0) AS BIGINT)
                   AS bpe_tokens
        FROM documents d LEFT JOIN per_word p USING (doc_id)
        GROUP BY d.doc_id
    )
"""


@register(
    "qc34_bpe_token_count",
    oracle=f"""
        WITH RECURSIVE {_BPE_ORACLE_CTES}
        SELECT d.doc_id, d.lang,
               CAST(len(list_filter(string_split(d.text, ' '),
                                    w -> w <> '')) AS BIGINT) AS ws_tokens,
               b.bpe_tokens,
               CASE WHEN len(list_filter(string_split(d.text, ' '),
                                         w -> w <> '')) = 0 THEN NULL
                    ELSE round(b.bpe_tokens * 1.0 /
                         len(list_filter(string_split(d.text, ' '),
                                         w -> w <> '')), 4)
               END AS fertility
        FROM documents d JOIN bpe b USING (doc_id)
    """,
    doc="SUBWORD (BPE-style) token accounting per document — greedy "
    "longest-match segmentation against a 50-entry literal merge "
    "vocabulary (Sennrich et al. 2016 / WordPiece inference rule), "
    "plus the whitespace count and the FERTILITY ratio (subwords per "
    "word — the number a budget translator multiplies by).  Spark "
    "side is a triple-nested Catalyst HOF fold (zero shuffle, zero "
    "Python, whole-stage codegen); the oracle re-walks the identical "
    "greedy scan as a recursive CTE, so every per-doc count is "
    "hash-VERIFIED, including merge-boundary and fallback behavior.  "
    "Integer counts; fertility is one division, 4-dp wire.  Scale: "
    "map-side per-doc work, O(word_len x vocab) vectorized; swap the "
    "literal vocab for a trie automaton at production vocab sizes — "
    "the per-doc-count contract is unchanged.",
)
def qc34_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(F.expr("filter(split(text, ' '), w -> w != '')")).cast("long")
    return d.select(
        "doc_id",
        "lang",
        ws.alias("ws_tokens"),
        bpe_count_expr("text").alias("bpe_tokens"),
    ).select(
        "doc_id",
        "lang",
        "ws_tokens",
        "bpe_tokens",
        F.when(F.col("ws_tokens") == 0, F.lit(None)).otherwise(
            F.round(F.col("bpe_tokens") * 1.0 / F.col("ws_tokens"), 4)
        ).alias("fertility"),
    )


_BPE_SEQ_BUDGET = 2048  # subword-token budget per packed sequence


@register(
    "qc35_bpe_budget_pack",
    oracle=f"""
        WITH RECURSIVE {_BPE_ORACLE_CTES},
        t AS (
            SELECT d.lang, d.doc_id, b.bpe_tokens
            FROM documents d JOIN bpe b USING (doc_id)
        ),
        c AS (
            SELECT lang, bpe_tokens,
                COALESCE(sum(bpe_tokens) OVER (
                    PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) AS cum_before
            FROM t
        )
        SELECT
            lang,
            CAST(floor(cum_before / {_BPE_SEQ_BUDGET}) AS BIGINT) AS seq_id,
            count(*) AS n_docs,
            CAST(sum(bpe_tokens) AS BIGINT) AS seq_tokens
        FROM c
        GROUP BY lang, seq_id
    """,
    doc=f"qc04's token-budget sequence packing RE-DENOMINATED in subword "
    f"tokens — the unit a pretraining batch is actually billed in: "
    f"per-doc BPE counts (qc34's map-side fold) stream (doc_id order, "
    f"per lang) into ~{_BPE_SEQ_BUDGET}-subword sequences via the same "
    "running-sum window (api.pack_sequences), document boundaries "
    "preserved.  The oracle composes the recursive-CTE subword counts "
    "with qc04's window arithmetic, so the whole budget pipeline — "
    "segmentation, cumulative sum, floor bucketing — is hash-verified "
    "end-to-end.  Scale: counts-only window partitioned by lang (add "
    "a hash shard to the key at 100 TB, exactly like qc04); text "
    "never shuffles — the fold already reduced it map-side.",
)
def qc35_bpe_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select("lang", "doc_id", bpe_count_expr("text").alias("bpe_tokens"))
    packed = api.pack_sequences(
        t, "lang", "doc_id", "bpe_tokens", budget=_BPE_SEQ_BUDGET
    )
    return packed.groupBy("lang", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("bpe_tokens").cast("long").alias("seq_tokens"),
    )


# ---------------------------------------------------------------------------
# BPE merge TRAINING (qc42/qc43) — learned merges, not a literal vocabulary.

_TRAIN_ROUNDS = 8  # merge rounds (unrolled verbatim in the oracle SQL)
_TRAIN_TOP_WORDS = 200  # bounded word-frequency table the merges train on

#: Shared training recipe note: segmentations are encoded as
#: '|seg1||seg2||seg3|' strings.  Every segment owns BOTH its delimiters
#: (none shared with a neighbor), so replacing '|L||R|' -> '|LR|' is the
#: exact left-to-right non-overlapping greedy merge in BOTH engines
#: (plain substring replace) — including runs of identical symbols,
#: where a shared-delimiter encoding would diverge from the fold.

def _train_cte_sql() -> str:
    """DuckDB CTE chain re-deriving the identical training loop: the
    bounded word-frequency table, char segmentation, and _TRAIN_ROUNDS
    unrolled (pairs_r -> best_r -> seg_r) rounds."""
    parts = [
        f"""
        wf AS (
            SELECT w AS word, count(*) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents) x
            WHERE w <> '' AND regexp_matches(w, '^[a-z]{{2,12}}$')
            GROUP BY w
            ORDER BY freq DESC, w
            LIMIT {_TRAIN_TOP_WORDS}
        ),
        seg0 AS (
            SELECT word, freq,
                   regexp_replace(word, '(.)', '|\\1|', 'g') AS seg
            FROM wf
        )"""
    ]
    for r in range(1, _TRAIN_ROUNDS + 1):
        parts.append(f"""
        pairs{r} AS (
            SELECT s[i] AS l, s[i+1] AS r2, sum(freq) AS cnt
            FROM (SELECT freq, string_split(trim(seg, '|'), '||') AS s
                  FROM seg{r - 1}) x
            CROSS JOIN UNNEST(generate_series(1, len(s) - 1)) u(i)
            GROUP BY 1, 2
        ),
        best{r} AS (
            SELECT l, r2, cnt FROM pairs{r}
            ORDER BY cnt DESC, l, r2 LIMIT 1
        ),
        seg{r} AS (
            SELECT word, freq,
                   replace(seg, '|' || b.l || '||' || b.r2 || '|',
                           '|' || b.l || b.r2 || '|') AS seg
            FROM seg{r - 1}, best{r} b
        )""")
    return ",".join(parts)


_MERGES_UNION_SQL = "\n UNION ALL ".join(
    f"SELECT {r} AS round, l, r2, cnt FROM best{r}"
    for r in range(1, _TRAIN_ROUNDS + 1)
)


def learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge table of :func:`_train_merges`, trained once per session
    and fixture and shared by qc42/qc43 (``session.memo``)."""
    return memo(spark, sf_dir, "learned_merges", lambda: _train_merges(spark, sf_dir))


def _train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train _TRAIN_ROUNDS BPE merges over the bounded word-frequency
    table — the classic Sennrich et al. loop as an iterative DataFrame
    program (the q84 PageRank template): per round, one pair-count
    aggregate over current segmentations, one deterministic argmax
    (count desc, pair asc), one broadcast re-segment.  Fully LAZY —
    the argmax row joins back via broadcast crossJoin instead of a
    driver collect, and each round is a lazy localCheckpoint so the
    plan stays shallow (without it the seg lineage doubles per round).

    Returns (round, l, r2, cnt): the learned merge table.  Scale: the
    pair-count aggregate is the only data-sized stage and it runs over
    the WORD-FREQUENCY table (sublinear, Heaps' law), not the corpus;
    rounds are sequential by nature (each argmax depends on the last),
    exactly like production BPE trainers."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.expr("filter(split(text, ' '), w -> w != '')")).alias("w")
    )
    wf = (
        words.filter(F.col("w").rlike("^[a-z]{2,12}$"))
        .groupBy(F.col("w").alias("word"))
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(_TRAIN_TOP_WORDS)
    )
    seg = wf.withColumn(
        "seg", F.regexp_replace("word", "(.)", "|$1|")
    ).localCheckpoint(eager=True)
    pair_arr = (
        "zip_with(slice(s, 1, greatest(size(s) - 1, 0)), "
        "slice(s, 2, greatest(size(s) - 1, 0)), "
        "(a, b) -> struct(a AS l, b AS r2))"
    )
    bests = []
    for rnd in range(1, _TRAIN_ROUNDS + 1):
        pairs = (
            seg.select(
                "freq",
                F.expr(r"split(trim(BOTH '|' FROM seg), '\\|\\|')").alias("s"),
            )
            .select("freq", F.explode(F.expr(pair_arr)).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r2").alias("r2"))
            .agg(F.sum("freq").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.col("cnt").desc(), "l", "r2")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        bests.append(best.withColumn("round", F.lit(rnd)))
        seg = (
            seg.crossJoin(F.broadcast(best.select("l", "r2")))
            .withColumn(
                "seg",
                F.replace(
                    "seg",
                    F.concat(
                        F.lit("|"), F.col("l"), F.lit("||"), F.col("r2"), F.lit("|")
                    ),
                    F.concat(F.lit("|"), F.col("l"), F.col("r2"), F.lit("|")),
                ),
            )
            .drop("l", "r2")
            .localCheckpoint(eager=True)
        )
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out.select("round", "l", "r2", "cnt")


@register(
    "qc42_bpe_merge_training",
    oracle=f"""
        WITH {_train_cte_sql()}
        SELECT round, l AS left_sym, r2 AS right_sym,
               l || r2 AS merged, CAST(cnt AS BIGINT) AS pair_count
        FROM ({_MERGES_UNION_SQL})
    """,
    doc="BPE merge TRAINING, relational and hash-VERIFIED — the "
    f"Sennrich et al. (2016) loop itself, not just its inference: "
    f"{_TRAIN_ROUNDS} rounds of (adjacent-pair count over current "
    "segmentations, weighted by word frequency) -> (deterministic "
    "argmax: count desc, pair asc) -> (re-segment every word by "
    "replacing the pair).  Trains on the bounded top-"
    f"{_TRAIN_TOP_WORDS} word-frequency table ([a-z]{{2,12}} words).  "
    "Segmentations are '|a||b|'-delimited strings whose segments "
    "share no delimiter characters, so the merge step is a plain "
    "left-to-right substring replace with IDENTICAL non-overlap "
    "semantics in Spark and DuckDB (runs of repeated symbols "
    "included); the oracle unrolls the same rounds as a chained CTE, "
    "so every learned merge and its pair count is hash-verified.  "
    "Fully lazy: the per-round argmax re-enters the plan as a "
    "broadcast crossJoin (never a driver collect), rounds are lazy "
    "localCheckpoints.  Scale: pair counting aggregates the "
    "word-frequency table (sublinear in corpus size), the corpus "
    "itself is touched once to build it — the standard scalable BPE "
    "trainer shape.",
)
def qc42_bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = learned_merges(spark, sf_dir)
    return m.select(
        "round",
        F.col("l").alias("left_sym"),
        F.col("r2").alias("right_sym"),
        F.concat("l", "r2").alias("merged"),
        F.col("cnt").cast("long").alias("pair_count"),
    )


@register(
    "qc43_bpe_learned_count",
    oracle=f"""
        WITH RECURSIVE {_train_cte_sql()},
        lvocab(v) AS (
            SELECT l || r2 FROM ({_MERGES_UNION_SQL})
        ),
        lwords AS (
            SELECT doc_id, i, s[i] AS w, len(s[i]) AS wl
            FROM (SELECT doc_id, string_split(text, ' ') AS s
                  FROM documents WHERE doc_id % 4 = 0) x
            CROSS JOIN UNNEST(generate_series(1, len(s))) u(i)
            WHERE s[i] <> ''
        ),
        lscan AS (
            SELECT doc_id, i, w, wl, 1 AS pos, 0 AS cnt FROM lwords
            UNION ALL
            SELECT doc_id, i, w, wl,
                   pos + coalesce((SELECT max(len(v.v)) FROM lvocab v
                                   WHERE substr(w, pos, len(v.v)) = v.v), 1),
                   cnt + 1
            FROM lscan WHERE pos <= wl
        ),
        lper_word AS (
            SELECT doc_id, i, max(cnt) AS toks FROM lscan GROUP BY doc_id, i
        ),
        lbpe AS (
            SELECT d.doc_id, CAST(coalesce(sum(p.toks), 0) AS BIGINT)
                       AS learned_tokens
            FROM (SELECT * FROM documents WHERE doc_id % 4 = 0) d
            LEFT JOIN lper_word p USING (doc_id)
            GROUP BY d.doc_id
        )
        SELECT d.doc_id, d.lang,
               CAST(len(list_filter(string_split(d.text, ' '),
                                    w -> w <> '')) AS BIGINT) AS ws_tokens,
               b.learned_tokens,
               CASE WHEN len(list_filter(string_split(d.text, ' '),
                                         w -> w <> '')) = 0 THEN NULL
                    ELSE round(b.learned_tokens * 1.0 /
                         len(list_filter(string_split(d.text, ' '),
                                         w -> w <> '')), 4)
               END AS fertility
        FROM documents d JOIN lbpe b USING (doc_id)
        WHERE d.doc_id % 4 = 0
    """,
    doc="qc34's greedy longest-match subword accounting RE-PARAMETERIZED "
    "over the LEARNED merge table (qc42's training output) instead of "
    "the 50-entry literal vocabulary — the budget a real pretraining "
    "run is billed against.  The learned merged symbols arrive as a "
    "broadcast one-row array (collect_list over the lazy merge table; "
    "longest-match takes a max over entry lengths, so list order is "
    "irrelevant) and the per-word fold's match step becomes an inner "
    "aggregate over that runtime array (single-char fallback "
    "unchanged).  The oracle re-derives THE WHOLE PIPELINE — training "
    "rounds, learned vocabulary, recursive greedy scan — so "
    "segmentation against learned merges is hash-verified end to "
    "end on a deterministic 1-in-4 document sample.  Scale: training "
    "as qc42; inference is the same zero-shuffle map-side fold as "
    "qc34 with an 8-entry broadcast vocabulary.",
)
def qc43_bpe_learned_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = learned_merges(spark, sf_dir)
    vocab = m.agg(F.collect_list(F.concat("l", "r2")).alias("vs"))
    match_len = (
        "aggregate(vs, 1, (m, v) -> "
        "IF(char_length(v) > m AND substr(w, acc.pos, char_length(v)) = v, "
        "char_length(v), m))"
    )
    word_count = f"""
      aggregate(
        sequence(1, char_length(w)),
        named_struct('pos', 1, 'cnt', 0),
        (acc, i) -> IF(i != acc.pos, acc,
          named_struct(
            'pos', acc.pos + {match_len},
            'cnt', acc.cnt + 1)),
        acc -> acc.cnt)
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 0)
    ws = F.size(F.expr("filter(split(text, ' '), w -> w != '')")).cast("long")
    return (
        d.crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "lang",
            ws.alias("ws_tokens"),
            F.expr(
                f"aggregate(filter(split(text, ' '), w -> w != ''), "
                f"0L, (tot, w) -> tot + {word_count})"
            ).alias("learned_tokens"),
        )
        .select(
            "doc_id",
            "lang",
            "ws_tokens",
            "learned_tokens",
            F.when(F.col("ws_tokens") == 0, F.lit(None))
            .otherwise(F.round(F.col("learned_tokens") * 1.0 / F.col("ws_tokens"), 4))
            .alias("fertility"),
        )
    )
