"""Deduplication operators over the documents table: exact, near-dup
candidate generation (MinHash+LSH), SimHash, n-gram Jaccard.

SURVEY.md §2.10; BASELINE.json north-star ("LLM-data-pipeline operators").

Scale design (100 TB of documents):
- exact dedup is a hash-groupBy on md5(text) — shuffles 16-byte digests +
  doc ids, never the text bodies;
- MinHash+LSH turns the O(n²) all-pairs problem into per-band bucket
  joins; implemented on pyspark.ml's MinHashLSH (approxSimilarityJoin =
  explode-bands → bucket-join → exact-distance filter);
- SimHash is a single mapInPandas pass (Arrow-vectorized) producing one
  64-bit signature per doc; near-dup candidates then bucket on signature
  prefixes instead of joining all pairs;
- n-gram Jaccard is exact but candidate-bounded (same lang+source), the
  pattern a production pipeline uses after LSH candidate generation.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import _REGISTRY, register
from ..session import MEMO_EVENTS, memo, scoped_conf
from ..sources import load_table, spread


@register(
    "q70_exact_dedup",
    oracle="""
        SELECT
            md5(text) AS text_md5,
            min(doc_id) AS keep_id,
            count(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
    doc="Exact dedup: group on md5(text), keep the smallest doc_id as "
    "canonical.  Shuffles digests only — text bodies never cross the "
    "wire.  FIXTURES.md: 8 planted dup texts exist at sf0.1 "
    "(tests/test_dedup_groundtruth.py asserts them).",
)
def q70_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..api import dup_groups

    d = load_table(spark, sf_dir, "documents")
    return dup_groups(d, "text", "doc_id")


@register(
    "q71_dedup_keep_first",
    oracle="""
        SELECT doc_id, lang, source, n_chars
        FROM (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY md5(text) ORDER BY doc_id ASC
                   ) AS rn
            FROM documents
        ) WHERE rn = 1
    """,
    doc="Exact dedup materialized: the surviving (canonical) rows — the "
    "deterministic dropDuplicates(['text']) with pinned survivor choice.",
)
def q71_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..api import exact_dedup

    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d, "text", "doc_id").select("doc_id", "lang", "source", "n_chars")


@register(
    "q72_minhash_lsh_neardup",
    oracle=None,  # LSH banding/seeding is engine-specific — rows-only;
    # recall vs exact Jaccard is unit-tested (test_dedup_groundtruth).
    doc="Near-duplicate candidate pairs via MinHash+LSH "
    "(pyspark.ml.feature.MinHashLSH, seed pinned): 3-gram word shingles "
    "→ HashingTF binary vectors → banded min-hash bucket join → exact "
    "Jaccard-distance filter ≤ 0.5.  Shingling (not unigrams) is what "
    "makes the corpus separable: the fixture vocabulary is 31 words, so "
    "unigram Jaccard averages 0.63 between unrelated docs (measured) "
    "while 3-gram Jaccard is <0.02 — shingles keep LSH candidate sets "
    "near-linear, the property that carries dedup to 100 TB.",
)
def q72_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, Tokenizer

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"), 32)
    toks = Tokenizer(inputCol="text", outputCol="tokens").transform(d)
    shingled = NGram(n=3, inputCol="tokens", outputCol="shingles").transform(toks)
    # Binary shingle-presence vectors (Jaccard is set-based).
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True)
    # materialize once: the LSH fit and BOTH sides of the self-join read
    # this — lineage would re-tokenize the corpus three times otherwise
    feats = tf.transform(shingled).select("doc_id", "features").localCheckpoint(eager=True)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


@register(
    "q72b_minhash_banded_custom",
    oracle=None,  # xxhash64 signatures are Spark-specific — rows-only;
    # planted-dup recall is unit-tested (test_dedup_groundtruth).
    doc="Banded MinHash built from first principles as a pure DataFrame "
    "composition (no MLlib; api.minhash_neardup_pairs): 3-gram shingles "
    "→ 16 xxhash64 min-hashes per doc (one grouped agg) → 4-row band "
    "signatures → band-bucket self-join for candidates → signature-"
    "estimated Jaccard ≥ 0.5.  Demonstrates the custom-operator path: "
    "everything is exploded rows + groupBy + join, so Catalyst plans, "
    "AQE balances, and no stage leaves the JVM.  Candidate cost is "
    "O(docs·bands), textbook AND-OR amplification (P = 1-(1-J⁴)⁴).",
)
def q72b_minhash_banded_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..api import minhash_neardup_pairs

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"), 32)
    return minhash_neardup_pairs(d, "doc_id", "text")


_SIMHASH_BITS = 64


def _simhash_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched SimHash: md5-derived 64-bit token hashes, bitwise
    majority vote.  Deterministic across runs/partitions.

    Vectorized: per doc, all token hashes become an (n_tokens × 64) bit
    matrix via np.unpackbits; the majority vote is one column sum.  Token
    hashes are memoized per batch (the corpus vocabulary is tiny relative
    to token occurrences)."""
    import hashlib

    import numpy as np

    hash_cache: dict[str, np.ndarray] = {}

    def token_bits(tok: str) -> np.ndarray:
        bits = hash_cache.get(tok)
        if bits is None:
            digest8 = hashlib.md5(tok.encode()).digest()[:8]
            bits = np.unpackbits(np.frombuffer(digest8, dtype=np.uint8)).astype(np.int8)
            hash_cache[tok] = bits
        return bits

    for pdf in it:
        n = len(pdf)
        sigs = np.zeros(n, dtype=np.uint64)
        keep = np.ones(n, dtype=bool)
        weights = np.left_shift(np.uint64(1), np.arange(63, -1, -1, dtype=np.uint64))
        for i, text in enumerate(pdf["text"].tolist()):
            # Single-space split + empty filter, matching the oracle's
            # string_split(text, ' ') ... WHERE tok <> '' exactly — a bare
            # str.split() would silently diverge on tabs/double spaces.
            toks = set(text.split(" "))
            toks.discard("")
            if not toks:
                # A zero-token doc has NO signature — the oracle's token
                # CTE emits no row for it; emitting simhash=0 here would
                # be a Spark-only row (adversarial-fixture finding).
                keep[i] = False
                continue
            mat = np.stack([token_bits(t) for t in toks])  # n × 64 of {0,1}
            votes = mat.sum(axis=0) * 2 - len(toks)  # ±1 majority per bit
            sigs[i] = np.uint64((weights * (votes > 0)).sum())
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy()[keep],
                "simhash": sigs[keep].astype(np.int64),
            }
        )


@register(
    "q73_simhash",
    oracle="""
        WITH toks AS (
            SELECT DISTINCT doc_id, u.tok
            FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
            WHERE u.tok <> ''
        ),
        vals AS (
            SELECT doc_id, (CAST((strpos('0123456789abcdef', substr(h16, 1, 1)) - 1) AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 2, 1)) - 1) AS HUGEINT) * CAST(72057594037927936 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 3, 1)) - 1) AS HUGEINT) * CAST(4503599627370496 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 4, 1)) - 1) AS HUGEINT) * CAST(281474976710656 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 5, 1)) - 1) AS HUGEINT) * CAST(17592186044416 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 6, 1)) - 1) AS HUGEINT) * CAST(1099511627776 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 7, 1)) - 1) AS HUGEINT) * CAST(68719476736 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 8, 1)) - 1) AS HUGEINT) * CAST(4294967296 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 9, 1)) - 1) AS HUGEINT) * CAST(268435456 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 10, 1)) - 1) AS HUGEINT) * CAST(16777216 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 11, 1)) - 1) AS HUGEINT) * CAST(1048576 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 12, 1)) - 1) AS HUGEINT) * CAST(65536 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 13, 1)) - 1) AS HUGEINT) * CAST(4096 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 14, 1)) - 1) AS HUGEINT) * CAST(256 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 15, 1)) - 1) AS HUGEINT) * CAST(16 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 16, 1)) - 1) AS HUGEINT) * CAST(1 AS HUGEINT)) AS h
            FROM (SELECT doc_id, substr(md5(tok), 1, 16) AS h16 FROM toks)
        ),
        bitpos AS (
            SELECT unnest(generate_series(0, 63)) AS k, unnest([CAST(1 AS HUGEINT), CAST(2 AS HUGEINT), CAST(4 AS HUGEINT), CAST(8 AS HUGEINT), CAST(16 AS HUGEINT), CAST(32 AS HUGEINT), CAST(64 AS HUGEINT), CAST(128 AS HUGEINT), CAST(256 AS HUGEINT), CAST(512 AS HUGEINT), CAST(1024 AS HUGEINT), CAST(2048 AS HUGEINT), CAST(4096 AS HUGEINT), CAST(8192 AS HUGEINT), CAST(16384 AS HUGEINT), CAST(32768 AS HUGEINT), CAST(65536 AS HUGEINT), CAST(131072 AS HUGEINT), CAST(262144 AS HUGEINT), CAST(524288 AS HUGEINT), CAST(1048576 AS HUGEINT), CAST(2097152 AS HUGEINT), CAST(4194304 AS HUGEINT), CAST(8388608 AS HUGEINT), CAST(16777216 AS HUGEINT), CAST(33554432 AS HUGEINT), CAST(67108864 AS HUGEINT), CAST(134217728 AS HUGEINT), CAST(268435456 AS HUGEINT), CAST(536870912 AS HUGEINT), CAST(1073741824 AS HUGEINT), CAST(2147483648 AS HUGEINT), CAST(4294967296 AS HUGEINT), CAST(8589934592 AS HUGEINT), CAST(17179869184 AS HUGEINT), CAST(34359738368 AS HUGEINT), CAST(68719476736 AS HUGEINT), CAST(137438953472 AS HUGEINT), CAST(274877906944 AS HUGEINT), CAST(549755813888 AS HUGEINT), CAST(1099511627776 AS HUGEINT), CAST(2199023255552 AS HUGEINT), CAST(4398046511104 AS HUGEINT), CAST(8796093022208 AS HUGEINT), CAST(17592186044416 AS HUGEINT), CAST(35184372088832 AS HUGEINT), CAST(70368744177664 AS HUGEINT), CAST(140737488355328 AS HUGEINT), CAST(281474976710656 AS HUGEINT), CAST(562949953421312 AS HUGEINT), CAST(1125899906842624 AS HUGEINT), CAST(2251799813685248 AS HUGEINT), CAST(4503599627370496 AS HUGEINT), CAST(9007199254740992 AS HUGEINT), CAST(18014398509481984 AS HUGEINT), CAST(36028797018963968 AS HUGEINT), CAST(72057594037927936 AS HUGEINT), CAST(144115188075855872 AS HUGEINT), CAST(288230376151711744 AS HUGEINT), CAST(576460752303423488 AS HUGEINT), CAST(1152921504606846976 AS HUGEINT), CAST(2305843009213693952 AS HUGEINT), CAST(4611686018427387904 AS HUGEINT), CAST(9223372036854775808 AS HUGEINT)]) AS w
        ),
        votes AS (
            SELECT v.doc_id, b.w,
                   CAST(sum(CAST((v.h // b.w) % 2 AS INT)) AS HUGEINT) AS cnt,
                   CAST(count(*) AS HUGEINT) AS n
            FROM vals v CROSS JOIN bitpos b
            GROUP BY v.doc_id, b.w
        ),
        sig AS (
            SELECT doc_id,
                   sum(CASE WHEN 2 * cnt - n > 0 THEN w
                            ELSE CAST(0 AS HUGEINT) END) AS s
            FROM votes GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(CASE WHEN s >= CAST(9223372036854775808 AS HUGEINT)
                         THEN s - CAST(18446744073709551616 AS HUGEINT)
                         ELSE s END AS BIGINT) AS simhash
        FROM sig
    """,
    doc="SimHash signatures (64-bit, md5 token hashes, bitwise majority) "
    "via mapInPandas — one Arrow-batched pass, one signature per doc; "
    "near-dups then bucket by signature bands instead of pairwise "
    "comparison.  HASH-VERIFIED bit-for-bit against a pure-SQL oracle "
    "that re-derives every signature relationally: unrolled hex->HUGEINT "
    "md5 parsing, positional bit weights, per-bit majority votes, "
    "two's-complement fold back to BIGINT — proving the Python kernel "
    "computes exactly the declared function, sign bit included.",
)
def q73_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"), 32)
    return d.mapInPandas(_simhash_batch, schema="doc_id long, simhash long")


@register(
    "q75_embedding_neardup",
    oracle="""
        SELECT
            a.vec_id AS vec_a,
            b.vec_id AS vec_b,
            round(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM embeddings a
        JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[])) >= 0.35
    """,
    doc="Embedding-cosine near-duplicate pairs: same-label blocking "
    "(labels ≈ cluster ids, the semantic blocking key) → pairwise dot "
    "(≡ cosine on unit vectors) ≥ 0.35 (p99.9 of the same-label cosine distribution — the fixture vectors are near-orthogonal even within labels).  At 100 TB, blocking comes from "
    "KMeans cluster assignment (q90) or LSH buckets (q87) instead of a "
    "given label — the join shape is identical.",
)
def q75_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import dot, to_double_array

    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label").alias("label_a"),
        to_double_array("embedding").alias("va"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        to_double_array("embedding").alias("vb"),
    )
    sim = dot(F.col("va"), F.col("vb"))
    return (
        a.join(b, (F.col("label_a") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")))
        .filter(sim >= 0.35)
        .select("vec_a", "vec_b", F.round(sim, 6).alias("cos_sim"))
    )


@register(
    "q74_jaccard_pairs",
    oracle="""
        WITH tok AS (
            SELECT DISTINCT doc_id, lang, source,
                   unnest(string_split(text, ' ')) AS token
            FROM documents
        ), sizes AS (
            SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM tok a
            JOIN tok b
              ON a.token = b.token AND a.lang = b.lang AND a.source = b.source
             AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT
            doc_a,
            doc_b,
            round(CAST(n_common AS DOUBLE) /
                  (sa.n_tok + sb.n_tok - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common) >= 0.8
    """,
    doc="Exact token-set Jaccard over candidate pairs (same lang+source "
    "block): explode → token equi-join → |A∩B| / (|A|+|B|-|A∩B|) ≥ 0.8. "
    "Exact-verification stage run after LSH candidate generation at "
    "scale; the blocking keys bound the join fan-out.",
)
def q74_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..api import jaccard_pairs

    d = spread(load_table(spark, sf_dir, "documents"), 32)
    return jaccard_pairs(d, "doc_id", "text", ["lang", "source"], min_jaccard=0.8)

def _dup_component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged min-label connected components (node, component) over
    the exact-Jaccard near-dup pair graph — the shared artifact behind
    q74b 's cluster report AND qc21's leakage-safe split (which used to
    re-run this whole fixpoint).  Memoized per (app, sf_dir); the
    converged label table is checkpointed, id-only, and tiny."""

    def build() -> DataFrame:
        from ..api import jaccard_pairs

        d = spread(load_table(spark, sf_dir, "documents"), 32)
        pairs = jaccard_pairs(
            d, "doc_id", "text", ["lang", "source"], min_jaccard=0.8
        ).select("doc_a", "doc_b")
        edges = pairs.select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        ).unionByName(
            pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b"))
        )
        # label propagation: label(node) = min(label(node), min label of
        # neighbors).  Each round is localCheckpoint-ed: caching alone
        # keeps the full lineage, and iterative plans grow super-linearly
        # in analysis time (measured: round times 1.7s → 65s by round 5
        # without truncation; flat with it).
        edges = edges.localCheckpoint(eager=True)
        labels = (
            edges.select("a")
            .distinct()
            .select(F.col("a").alias("node"), F.col("a").alias("component"))
            .localCheckpoint(eager=True)
        )
        for _ in range(20):  # ≥ graph diameter for any realistic dup cluster
            neighbor_min = (
                edges.join(labels, edges.b == labels.node)
                .groupBy(F.col("a").alias("node2"))
                .agg(F.min("component").alias("nbr_component"))
            )
            new_labels = (
                labels.join(neighbor_min, labels.node == F.col("node2"), "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"),
                        F.coalesce("nbr_component", F.col("component")),
                    ).alias("component"),
                    (
                        F.coalesce("nbr_component", F.col("component"))
                        < F.col("component")
                    ).alias("upd"),
                )
                .localCheckpoint(eager=True)
            )
            # Convergence check scans the already-materialized checkpoint —
            # no extra join/shuffle per round (the old new-vs-old join was
            # one full shuffle per iteration; the flag rides along free).
            changed = new_labels.filter("upd").count()
            labels = new_labels.drop("upd")
            if changed == 0:
                break
        return labels

    return memo(spark, sf_dir, "dup_components", build)


@register(
    "q74b_dup_components",
    oracle="""
        WITH RECURSIVE pairs AS (
            WITH tok AS (
                SELECT DISTINCT doc_id, lang, source,
                       unnest(string_split(text, ' ')) AS token
                FROM documents
            ), sizes AS (
                SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM tok a
                JOIN tok b ON a.token = b.token AND a.lang = b.lang
                          AND a.source = b.source AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common) >= 0.8
        ), edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ), reach(node, root) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
        )
        SELECT node AS doc_id, min(root) AS component, count(DISTINCT root) AS component_size
        FROM reach GROUP BY node
    """,
    doc="Near-duplicate CLUSTERS: connected components over the exact-"
    "Jaccard pair graph (q74 edges) via iterative min-label propagation "
    "on DataFrames — the GraphX-free CC: broadcast-join label exchange "
    "per round until fixpoint (bounded rounds = graph diameter).  Oracle "
    "mirrors with a recursive CTE.  This is how pair lists become "
    "canonical keep/drop decisions in a real dedup pipeline.",
)
def q74b_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _dup_component_labels(spark, sf_dir)
    sizes = labels.groupBy("component").agg(F.count("*").alias("sz"))
    # component_size in the oracle counts distinct reachable roots per
    # node, which for a converged min-labeling equals the number of
    # distinct labels seen = 1..n; mirror with the count of component
    # members' distinct roots reachable — for a fixpoint min-label CC the
    # oracle's count(DISTINCT root) per node equals the number of label
    # updates; simpler: both sides report the node's final component and
    # the count of nodes sharing it.
    return labels.join(sizes, "component").select(
        "node", "component", F.col("sz").alias("component_size")
    ).withColumnRenamed("node", "doc_id")


#: The session memo's audit list under its older name, the same list
#: object (never a copy), for readers written against this module.
GRAPH_MEMO_EVENTS = MEMO_EVENTS


def _copurchase_counted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pa, pb, c): distinct co-purchasing ORDER count per part pair
    (pa < pb) — ONE heavy self-join serves the whole graph family:
    copurchase_edges projects it (c >= 1) and strong_copurchase_edges
    filters it (c >= 2), so the first graph consumer in a session pays
    the join once, not once per substrate."""

    def build() -> DataFrame:
        items = (
            load_table(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        a = items.select("k", F.col("p").alias("pa"))
        b = items.select("k", F.col("p").alias("pb"))
        return (
            a.join(b, "k")
            .filter(F.col("pa") < F.col("pb"))
            .groupBy("pa", "pb")
            .agg(F.count("*").alias("c"))
            .localCheckpoint(eager=True)
        )

    return memo(spark, sf_dir, "copurchase_counted", build)


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct part co-purchase edges oriented low-id → high-id
    (pa < pb): parts are adjacent iff they share an order.  The shared
    adjacency table of the graph family — q84b consumes it oriented,
    q84c symmetrizes it; projected from the shared counted-pair
    artifact and checkpointed once per (app, sf_dir)."""

    def build() -> DataFrame:
        return (
            _copurchase_counted(spark, sf_dir)
            .select("pa", "pb")
            .localCheckpoint(eager=True)
        )

    return memo(spark, sf_dir, "copurchase", build)


#: Token width for duplicated-span detection (production uses 50-token
#: spans per Lee et al. "Deduplicating Training Data Makes Language
#: Models Better"; the 56-token-average fixture docs need a narrower
#: window to exercise the operator).
_SPAN = 5


@register(
    "q74c_duplicate_spans",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        grams AS (
            SELECT doc_id, array_to_string(w[i:i+{_SPAN - 1}], ' ') AS g
            FROM toks CROSS JOIN UNNEST(generate_series(1, len(w) - {_SPAN - 1})) AS t(i)
            WHERE len(w) >= {_SPAN}
        ),
        gd AS (
            SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
        ),
        spans AS (
            SELECT doc_id, count(*) AS n_spans FROM grams GROUP BY doc_id
        ),
        dups AS (
            SELECT doc_id, count(*) AS n_dup_spans
            FROM grams JOIN gd USING (g) GROUP BY doc_id
        )
        SELECT
            s.doc_id,
            s.n_spans,
            coalesce(d.n_dup_spans, 0) AS n_dup_spans,
            round(coalesce(d.n_dup_spans, 0) * 1.0 / s.n_spans, 4) AS dup_ratio
        FROM spans s LEFT JOIN dups d USING (doc_id)
    """,
    doc=f"Substring-level (span) dedup — the exact-substring pass from "
    "Lee et al. (2022), re-expressed relationally: every rolling "
    f"{_SPAN}-token span is a gram; a span duplicated across >=2 distinct "
    "docs marks each of its positions as copied text, and the per-doc "
    "dup_ratio is the fraction of spans that are copies (the score used "
    "to drop or trim boilerplate-heavy documents).  Scale: the explode "
    "is map-side; the only shuffles carry (gram, doc_id) pairs — at "
    "100 TB the gram string is replaced by xxhash64(gram) so the shuffle "
    "key is 8 bytes (the text-form key here keeps the DuckDB oracle "
    "bit-identical).  The gram relation is recomputed for the two "
    "aggregations rather than cached: it is a pure map over the scan, "
    "and recompute beats materializing ~n_tokens rows per executor.",
)
def q74c_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), 32)
    toks = d.select("doc_id", F.split("text", " ").alias("w")).where(
        F.size("w") >= _SPAN
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {_SPAN - 1}),"
                f" i -> array_join(slice(w, i, {_SPAN}), ' '))"
            )
        ).alias("g"),
    )
    dup_grams = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("g")
    )
    spans = grams.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    dups = (
        grams.join(dup_grams, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_spans"))
    )
    return (
        spans.join(dups, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.round(
                F.coalesce("n_dup_spans", F.lit(0)) / F.col("n_spans"), 4
            ).alias("dup_ratio"),
        )
    )


@register(
    "q74d_fuzzy_blocked_match",
    oracle="""
        SELECT
            a.c_custkey AS id_a,
            b.c_custkey AS id_b,
            a.c_name AS name_a,
            b.c_name AS name_b,
            levenshtein(a.c_name, b.c_name) AS dist
        FROM customer a
        JOIN customer b
          ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    doc="Fuzzy entity matching: blocked edit-distance join (record "
    "linkage).  Pairs are generated only inside a block (same nation) "
    "and kept when levenshtein <= 1 — the canonical name-dedup shape.  "
    "Spark side uses the 3-arg bounded levenshtein(l, r, threshold), "
    "which early-exits the DP once the bound is exceeded (O(k·n) not "
    "O(n²) per pair).  Execution shape: there are only 25 block keys, so "
    "a shuffle join would land all pairs on 25 of 32 reducers (skew); "
    "instead the dim-sized side broadcasts and pair generation "
    "parallelizes over the probe side's 32 partitions (measured 12 s → "
    "1.3 s at sf0.1), with the bounded distance evaluated ONCE in the "
    "projection and reused by the filter.  At 100 TB the block key "
    "comes from a cheap canonicalization (sorted-token prefix / "
    "phonetic key / LSH bucket) sized so each block fits one task, and "
    "both sides bucket on it — never a global cross join.",
)
def q74d_fuzzy_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    a, b = spread(c, 32).alias("a"), c.alias("b")
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("id_a"),
            F.col("b.c_custkey").alias("id_b"),
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_name").alias("name_b"),
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name"), 1).alias("dist"),
        )
        .where((F.col("dist") >= 0) & (F.col("dist") <= 1))
    )


@register(
    "q84_pagerank",
    oracle="""
        WITH RECURSIVE edges AS (
            SELECT DISTINCT -(l_suppkey + 1) AS src, o_custkey AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        nodes AS (
            SELECT src AS node FROM edges UNION SELECT dst FROM edges
        ),
        weighted AS (
            SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / d.deg AS w
            FROM edges e
            JOIN (SELECT src, count(*) AS deg FROM edges GROUP BY src) d
              USING (src)
            UNION ALL
            -- zero-weight self edge per node: keeps no-in-edge nodes in
            -- every iteration without a disallowed second recursive ref
            SELECT node, node, CAST(0.0 AS DOUBLE) FROM nodes
        ),
        r AS (
            SELECT 0 AS it, node, CAST(1.0 AS DOUBLE) AS rank FROM nodes
            UNION ALL
            SELECT r.it + 1, w.dst AS node,
                   CAST(0.15 AS DOUBLE)
                       + CAST(0.85 AS DOUBLE) * sum(r.rank * w.w) AS rank
            FROM r JOIN weighted w ON w.src = r.node
            WHERE r.it < 8
            GROUP BY r.it, w.dst
        )
        SELECT
            CASE WHEN node < 0 THEN -node - 1 ELSE node END AS entity_id,
            CASE WHEN node < 0 THEN 'supplier' ELSE 'customer' END
                AS entity_type,
            round(rank, 6) AS pagerank
        FROM r WHERE it = 8
        ORDER BY pagerank DESC, entity_id ASC
        LIMIT 25
    """,
    # The damped iteration IS SQL-expressible: DuckDB permits aggregation
    # in the recursive term, so each CTE step is exactly one Spark round
    # (join on src, sum per dst).  Hash-verified at 6 dp (summation-order
    # float drift stays ~1e-13 over 8 rounds, far inside the rounding);
    # rank conservation + determinism additionally pinned in
    # tests/test_graph.py.
    doc="PageRank over the supplier→customer revenue graph (edges: "
    "supplier shipped to customer, from lineitem⋈orders), 8 damped "
    "iterations (d=0.85), uniform init.  Same iterative-DataFrame "
    "discipline as q74b connected components: out-degree joined once "
    "up front, per-round contribution groupBy, localCheckpoint to "
    "truncate lineage, NO driver-side data — only the fixed round "
    "count.  At 100 TB this is the canonical 'iterative algorithm on "
    "DataFrames' template (GraphX-free); round cost is one shuffle on "
    "dst.  Returns the top-25 ranked nodes (deterministic id "
    "tiebreak).",
)
def q84_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # directed edges supplier -> customer (distinct pairs).  Suppliers
    # map to the negative id space (-(suppkey+1)): customer keys are
    # non-negative at EVERY scale, so the two entity spaces can never
    # collide (a fixed positive offset would merge entities once
    # custkey crossed it).
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (-(F.col("l_suppkey") + 1)).alias("src"),
            F.col("o_custkey").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Loop-invariant: edge weights 1/deg(src) never change — join the
    # out-degree ONCE and checkpoint, so each round is exactly one join
    # + one groupBy instead of re-deriving degrees every iteration.
    # A zero-weight self-edge per node (the oracle's own formulation)
    # keeps no-in-edge nodes alive through the groupBy, fusing the old
    # per-round nodes LEFT JOIN away: one join + one aggregate per
    # round instead of two joins + one aggregate.  Bit-identical:
    # the extra terms are +0.0 * rank added to strictly-positive
    # partial sums, which IEEE addition leaves unchanged.
    weighted = (
        edges.join(edges.groupBy("src").agg(F.count("*").alias("deg")), "src")
        .select("src", "dst", (F.lit(1.0) / F.col("deg")).alias("w"))
        .unionByName(
            nodes.select(
                F.col("node").alias("src"),
                F.col("node").alias("dst"),
                F.lit(0.0).alias("w"),
            )
        )
        .localCheckpoint(eager=True)
    )
    d = 0.85
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for _ in range(8):
        ranks = (
            weighted.join(ranks, weighted.src == ranks.node)
            .select("dst", (F.col("rank") * F.col("w")).alias("c"))
            .groupBy("dst")
            .agg((F.lit(1 - d) + F.lit(d) * F.sum("c")).alias("rank"))
            .select(F.col("dst").alias("node"), "rank")
            .localCheckpoint(eager=True)
        )
    is_supplier = F.col("node") < 0
    return (
        ranks.select(
            F.when(is_supplier, -F.col("node") - 1)
            .otherwise(F.col("node"))
            .alias("entity_id"),
            F.when(is_supplier, F.lit("supplier")).otherwise(F.lit("customer")).alias(
                "entity_type"
            ),
            F.round("rank", 6).alias("pagerank"),
        )
        .orderBy(F.desc("pagerank"), F.asc("entity_id"))
        .limit(25)
    )


@register(
    "q73b_simhash_arrow",
    oracle="""
        WITH toks AS (
            SELECT DISTINCT doc_id, u.tok
            FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
            WHERE u.tok <> ''
        ),
        vals AS (
            SELECT doc_id, (CAST((strpos('0123456789abcdef', substr(h16, 1, 1)) - 1) AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 2, 1)) - 1) AS HUGEINT) * CAST(72057594037927936 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 3, 1)) - 1) AS HUGEINT) * CAST(4503599627370496 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 4, 1)) - 1) AS HUGEINT) * CAST(281474976710656 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 5, 1)) - 1) AS HUGEINT) * CAST(17592186044416 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 6, 1)) - 1) AS HUGEINT) * CAST(1099511627776 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 7, 1)) - 1) AS HUGEINT) * CAST(68719476736 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 8, 1)) - 1) AS HUGEINT) * CAST(4294967296 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 9, 1)) - 1) AS HUGEINT) * CAST(268435456 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 10, 1)) - 1) AS HUGEINT) * CAST(16777216 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 11, 1)) - 1) AS HUGEINT) * CAST(1048576 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 12, 1)) - 1) AS HUGEINT) * CAST(65536 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 13, 1)) - 1) AS HUGEINT) * CAST(4096 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 14, 1)) - 1) AS HUGEINT) * CAST(256 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 15, 1)) - 1) AS HUGEINT) * CAST(16 AS HUGEINT) + CAST((strpos('0123456789abcdef', substr(h16, 16, 1)) - 1) AS HUGEINT) * CAST(1 AS HUGEINT)) AS h
            FROM (SELECT doc_id, substr(md5(tok), 1, 16) AS h16 FROM toks)
        ),
        bitpos AS (
            SELECT unnest(generate_series(0, 63)) AS k, unnest([CAST(1 AS HUGEINT), CAST(2 AS HUGEINT), CAST(4 AS HUGEINT), CAST(8 AS HUGEINT), CAST(16 AS HUGEINT), CAST(32 AS HUGEINT), CAST(64 AS HUGEINT), CAST(128 AS HUGEINT), CAST(256 AS HUGEINT), CAST(512 AS HUGEINT), CAST(1024 AS HUGEINT), CAST(2048 AS HUGEINT), CAST(4096 AS HUGEINT), CAST(8192 AS HUGEINT), CAST(16384 AS HUGEINT), CAST(32768 AS HUGEINT), CAST(65536 AS HUGEINT), CAST(131072 AS HUGEINT), CAST(262144 AS HUGEINT), CAST(524288 AS HUGEINT), CAST(1048576 AS HUGEINT), CAST(2097152 AS HUGEINT), CAST(4194304 AS HUGEINT), CAST(8388608 AS HUGEINT), CAST(16777216 AS HUGEINT), CAST(33554432 AS HUGEINT), CAST(67108864 AS HUGEINT), CAST(134217728 AS HUGEINT), CAST(268435456 AS HUGEINT), CAST(536870912 AS HUGEINT), CAST(1073741824 AS HUGEINT), CAST(2147483648 AS HUGEINT), CAST(4294967296 AS HUGEINT), CAST(8589934592 AS HUGEINT), CAST(17179869184 AS HUGEINT), CAST(34359738368 AS HUGEINT), CAST(68719476736 AS HUGEINT), CAST(137438953472 AS HUGEINT), CAST(274877906944 AS HUGEINT), CAST(549755813888 AS HUGEINT), CAST(1099511627776 AS HUGEINT), CAST(2199023255552 AS HUGEINT), CAST(4398046511104 AS HUGEINT), CAST(8796093022208 AS HUGEINT), CAST(17592186044416 AS HUGEINT), CAST(35184372088832 AS HUGEINT), CAST(70368744177664 AS HUGEINT), CAST(140737488355328 AS HUGEINT), CAST(281474976710656 AS HUGEINT), CAST(562949953421312 AS HUGEINT), CAST(1125899906842624 AS HUGEINT), CAST(2251799813685248 AS HUGEINT), CAST(4503599627370496 AS HUGEINT), CAST(9007199254740992 AS HUGEINT), CAST(18014398509481984 AS HUGEINT), CAST(36028797018963968 AS HUGEINT), CAST(72057594037927936 AS HUGEINT), CAST(144115188075855872 AS HUGEINT), CAST(288230376151711744 AS HUGEINT), CAST(576460752303423488 AS HUGEINT), CAST(1152921504606846976 AS HUGEINT), CAST(2305843009213693952 AS HUGEINT), CAST(4611686018427387904 AS HUGEINT), CAST(9223372036854775808 AS HUGEINT)]) AS w
        ),
        votes AS (
            SELECT v.doc_id, b.w,
                   CAST(sum(CAST((v.h // b.w) % 2 AS INT)) AS HUGEINT) AS cnt,
                   CAST(count(*) AS HUGEINT) AS n
            FROM vals v CROSS JOIN bitpos b
            GROUP BY v.doc_id, b.w
        ),
        sig AS (
            SELECT doc_id,
                   sum(CASE WHEN 2 * cnt - n > 0 THEN w
                            ELSE CAST(0 AS HUGEINT) END) AS s
            FROM votes GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(CASE WHEN s >= CAST(9223372036854775808 AS HUGEINT)
                         THEN s - CAST(18446744073709551616 AS HUGEINT)
                         ELSE s END AS BIGINT) AS simhash
        FROM sig
    """,  # q73's relational signature oracle (identical
    # output contract); cross-kernel equality is additionally pinned in
    # tests/test_dedup_groundtruth.py.
    doc="SimHash via mapInArrow — the zero-copy twin of q73's "
    "mapInPandas: the kernel consumes pyarrow.RecordBatch directly "
    "(no pandas Series materialization per column), emitting one "
    "int64 signature per doc.  Bit-identical to q73 (tested); use "
    "this form when the kernel is numpy-native and per-batch pandas "
    "conversion is measurable overhead.",
)
def q73b_simhash_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    def arrow_kernel(batches):
        import hashlib

        import numpy as np

        cache: dict[str, "np.ndarray"] = {}

        def token_bits(tok: str):
            bits = cache.get(tok)
            if bits is None:
                digest8 = hashlib.md5(tok.encode()).digest()[:8]
                bits = np.unpackbits(
                    np.frombuffer(digest8, dtype=np.uint8)
                ).astype(np.int8)
                cache[tok] = bits
            return bits

        weights = np.left_shift(
            np.uint64(1), np.arange(63, -1, -1, dtype=np.uint64)
        )
        for batch in batches:
            doc_ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
            texts = batch.column("text").to_pylist()
            sigs = np.zeros(len(texts), dtype=np.uint64)
            keep = np.ones(len(texts), dtype=bool)
            for i, text in enumerate(texts):
                # Match the oracle's string_split(text, ' ') + empty filter
                # (see _simhash_batch) — not bare str.split().
                toks = set(text.split(" "))
                toks.discard("")
                if not toks:
                    # No tokens → no signature row (mirrors _simhash_batch
                    # and the oracle's token CTE).
                    keep[i] = False
                    continue
                mat = np.stack([token_bits(t) for t in toks])
                votes = mat.sum(axis=0) * 2 - len(toks)
                sigs[i] = np.uint64((weights * (votes > 0)).sum())
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids[keep]), pa.array(sigs[keep].astype(np.int64))],
                names=["doc_id", "simhash"],
            )

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"), 32)
    return d.mapInArrow(arrow_kernel, schema="doc_id long, simhash long")


#: Portable-MinHash parameters (q72c): md5-hex min-hashes so the WHOLE
#: LSH pipeline is reproducible in any engine (fixed-width lowercase hex
#: compares lexicographically == numerically — no integer parsing).
_PMH_N = 16
_PMH_BANDS = 4
_PMH_R = 4


@register(
    "q72c_minhash_portable",
    oracle="""
        WITH sh AS (
            SELECT DISTINCT doc_id, array_to_string(w[i:i+2], '_') AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
            CROSS JOIN UNNEST(generate_series(1, len(w) - 2)) AS u(i)
        ),
        sig AS (
            SELECT doc_id,
                   min(substr(md5(s || '#0'), 1, 16)) AS h0,
                   min(substr(md5(s || '#1'), 1, 16)) AS h1,
                   min(substr(md5(s || '#2'), 1, 16)) AS h2,
                   min(substr(md5(s || '#3'), 1, 16)) AS h3,
                   min(substr(md5(s || '#4'), 1, 16)) AS h4,
                   min(substr(md5(s || '#5'), 1, 16)) AS h5,
                   min(substr(md5(s || '#6'), 1, 16)) AS h6,
                   min(substr(md5(s || '#7'), 1, 16)) AS h7,
                   min(substr(md5(s || '#8'), 1, 16)) AS h8,
                   min(substr(md5(s || '#9'), 1, 16)) AS h9,
                   min(substr(md5(s || '#10'), 1, 16)) AS h10,
                   min(substr(md5(s || '#11'), 1, 16)) AS h11,
                   min(substr(md5(s || '#12'), 1, 16)) AS h12,
                   min(substr(md5(s || '#13'), 1, 16)) AS h13,
                   min(substr(md5(s || '#14'), 1, 16)) AS h14,
                   min(substr(md5(s || '#15'), 1, 16)) AS h15
            FROM sh GROUP BY doc_id
        ),
        banded AS (
            SELECT doc_id, 0 AS band, md5(h0 || '|' || h1 || '|' || h2 || '|' || h3) AS band_sig FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band, md5(h4 || '|' || h5 || '|' || h6 || '|' || h7) AS band_sig FROM sig
            UNION ALL
            SELECT doc_id, 2 AS band, md5(h8 || '|' || h9 || '|' || h10 || '|' || h11) AS band_sig FROM sig
            UNION ALL
            SELECT doc_id, 3 AS band, md5(h12 || '|' || h13 || '|' || h14 || '|' || h15) AS band_sig FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a
            JOIN banded b
              ON a.band = b.band AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               round(((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END) + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) + (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END) + (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END) + (CASE WHEN sa.h8 = sb.h8 THEN 1 ELSE 0 END) + (CASE WHEN sa.h9 = sb.h9 THEN 1 ELSE 0 END) + (CASE WHEN sa.h10 = sb.h10 THEN 1 ELSE 0 END) + (CASE WHEN sa.h11 = sb.h11 THEN 1 ELSE 0 END) + (CASE WHEN sa.h12 = sb.h12 THEN 1 ELSE 0 END) + (CASE WHEN sa.h13 = sb.h13 THEN 1 ELSE 0 END) + (CASE WHEN sa.h14 = sb.h14 THEN 1 ELSE 0 END) + (CASE WHEN sa.h15 = sb.h15 THEN 1 ELSE 0 END)) / 16.0, 4) AS est_jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b
        WHERE ((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END) + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) + (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END) + (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END) + (CASE WHEN sa.h8 = sb.h8 THEN 1 ELSE 0 END) + (CASE WHEN sa.h9 = sb.h9 THEN 1 ELSE 0 END) + (CASE WHEN sa.h10 = sb.h10 THEN 1 ELSE 0 END) + (CASE WHEN sa.h11 = sb.h11 THEN 1 ELSE 0 END) + (CASE WHEN sa.h12 = sb.h12 THEN 1 ELSE 0 END) + (CASE WHEN sa.h13 = sb.h13 THEN 1 ELSE 0 END) + (CASE WHEN sa.h14 = sb.h14 THEN 1 ELSE 0 END) + (CASE WHEN sa.h15 = sb.h15 THEN 1 ELSE 0 END)) / 16.0 >= 0.5
    """,
    doc="Banded MinHash-LSH near-dup pairs with a PORTABLE hash family: "
    "h_i(shingle) = first 16 hex chars of md5(shingle || '#i'), min'd "
    "as a STRING (fixed-width lowercase hex orders lexicographically "
    "exactly like the underlying 64-bit integer — no conv/parse step), "
    "band signatures = md5 of the 4 concatenated mins, candidates from "
    "the (band, band_sig) self-join, est-Jaccard from signature "
    "agreement >= 0.5.  Unlike q72b's xxhash64 (Spark-internal, fast "
    "path), every step here reproduces bit-for-bit in DuckDB — the "
    "full LSH pipeline is hash-VERIFIED end to end, not just "
    "recall-tested (tests/test_scale_parity.py pins it at sf0.1 where "
    "~38k planted near-dup pairs make the result non-trivial).  Same "
    "O(n·bands) candidate complexity as q72b; md5 costs more per "
    "shingle than xxhash64, which is why production keeps the fast "
    "family and audits with this one.",
)
def q72c_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Emit-once REJECTED here (round 11, measured): replacing this
    # dropDuplicates with a first-agreeing-band join predicate was
    # 17% slower at sf0.1 AND 26% slower at 10x content scale — the
    # when-chain re-compares all 16 h-columns per fanned candidate row
    # (on top of eq below), while the dedup it replaces needs NO
    # exchange (the banded side stays hash-partitioned by doc_id from
    # the signature agg, which satisfies (doc_a, doc_b) clustering).
    # Numbers in OPTIMIZATION_r11.md; the q72f variant DID win and is
    # kept there.
    _sh, sig, banded = _pmh_sig_banded(spark, sf_dir)
    a, b = banded.alias("a"), banded.alias("b")
    eq = sum(
        (F.col(f"a.h{i}") == F.col(f"b.h{i}")).cast("int") for i in range(_PMH_N)
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (eq / float(_PMH_N)).alias("est"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("est") >= 0.5)
        .select("doc_a", "doc_b", F.round("est", 4).alias("est_jaccard"))
    )


def _pmh_sig_banded(spark: SparkSession, sf_dir: str, checkpoint_sig: bool = False):
    """Shared portable-MinHash stages (q72c + the q72d audit): the
    per-doc shingle relation, the 16-hash signature relation, and the
    banded relation, all built from the memoized distinct-shingle
    vocabulary (see q72c's doc for the scale rationale).

    checkpoint_sig: opt-in eager materialization of the signature
    table.  Measured per caller (optimization round 10, standalone
    best-of-3 at sf0.1): it pays when sig feeds structurally DIFFERENT
    subtrees that defeat exchange reuse (qc39's incoming-vs-corpus
    split: 4.4 s -> 2.7 s) and costs when the caller's plan already
    reuses the single aggregation exchange (q72d: 1.3 s -> 2.8 s with
    a blanket checkpoint) — so the default stays lazy."""
    from ..api import shingles

    # spread(32): the sf0.1 parquet is a single split, which would serialize
    # the shingle explode + hash work onto one core (measured 14s -> see
    # BASELINE.md); on a real cluster the scan splits do this for free.
    d = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), 32
    )
    # Materialized once: the vocabulary distinct, the signature join, and
    # (in q72d) the exact-Jaccard ground-truth branches all re-read it.
    sh = d.select("doc_id", F.explode(shingles("text", 3)).alias("s")).cache()
    # Memoize the 16-hash md5 family over the DISTINCT-shingle vocabulary
    # and broadcast-join it back, instead of hashing every shingle
    # OCCURRENCE 16x: the vocabulary is ≪ the corpus at any scale
    # (shingles repeat — that's the whole premise of near-dup detection),
    # so this trades one distinct-shuffle of short strings for ~16x less
    # md5 work on the corpus side.  min() is duplicate-insensitive, so the
    # per-doc aggregate (and the oracle) is unchanged.  At a vocabulary
    # too big to broadcast, drop the hint and let AQE pick a shuffle hash
    # join keyed on the shingle — the memoization still pays for itself.
    vocab = sh.select("s").distinct().select(
        "s",
        *[
            F.substring(F.md5(F.concat(F.col("s"), F.lit(f"#{i}"))), 1, 16).alias(
                f"v{i}"
            )
            for i in range(_PMH_N)
        ],
    )
    sig = (
        sh.join(F.broadcast(vocab), "s")
        .groupBy("doc_id")
        .agg(*[F.min(f"v{i}").alias(f"h{i}") for i in range(_PMH_N)])
    )
    if checkpoint_sig:
        sig = sig.localCheckpoint(eager=True)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws("|", *[F.col(f"h{b * _PMH_R + r}") for r in range(_PMH_R)])
            ).alias("band_sig"),
        )
        for b in range(_PMH_BANDS)
    ]
    banded = sig.select(
        "doc_id",
        *[F.col(f"h{i}") for i in range(_PMH_N)],
        F.explode(F.array(*band_structs)).alias("bb"),
    ).select(
        "doc_id",
        *[F.col(f"h{i}") for i in range(_PMH_N)],
        F.col("bb.band").alias("band"),
        F.col("bb.band_sig").alias("band_sig"),
    )
    return sh, sig, banded


#: Exact-Jaccard threshold shared by the q72d audit's ground truth and
#: the q74e lossless prefix join (0.5 = q72c's est-Jaccard gate, 0.6 =
#: q74e's — both interpolated into their oracles).
_AUDIT_TAU = 0.5
_SETSIM_TAU = 0.6

_PMH_ORACLE_STAGES = """
        sh AS (
            SELECT DISTINCT doc_id, array_to_string(w[i:i+2], '_') AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
            CROSS JOIN UNNEST(generate_series(1, len(w) - 2)) AS u(i)
        ),
        sig AS (
            SELECT doc_id,
                   min(substr(md5(s || '#0'), 1, 16)) AS h0,
                   min(substr(md5(s || '#1'), 1, 16)) AS h1,
                   min(substr(md5(s || '#2'), 1, 16)) AS h2,
                   min(substr(md5(s || '#3'), 1, 16)) AS h3,
                   min(substr(md5(s || '#4'), 1, 16)) AS h4,
                   min(substr(md5(s || '#5'), 1, 16)) AS h5,
                   min(substr(md5(s || '#6'), 1, 16)) AS h6,
                   min(substr(md5(s || '#7'), 1, 16)) AS h7,
                   min(substr(md5(s || '#8'), 1, 16)) AS h8,
                   min(substr(md5(s || '#9'), 1, 16)) AS h9,
                   min(substr(md5(s || '#10'), 1, 16)) AS h10,
                   min(substr(md5(s || '#11'), 1, 16)) AS h11,
                   min(substr(md5(s || '#12'), 1, 16)) AS h12,
                   min(substr(md5(s || '#13'), 1, 16)) AS h13,
                   min(substr(md5(s || '#14'), 1, 16)) AS h14,
                   min(substr(md5(s || '#15'), 1, 16)) AS h15
            FROM sh GROUP BY doc_id
        ),
        banded AS (
            SELECT doc_id, 0 AS band, md5(h0 || '|' || h1 || '|' || h2 || '|' || h3) AS band_sig FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band, md5(h4 || '|' || h5 || '|' || h6 || '|' || h7) AS band_sig FROM sig
            UNION ALL
            SELECT doc_id, 2 AS band, md5(h8 || '|' || h9 || '|' || h10 || '|' || h11) AS band_sig FROM sig
            UNION ALL
            SELECT doc_id, 3 AS band, md5(h12 || '|' || h13 || '|' || h14 || '|' || h15) AS band_sig FROM sig
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a
            JOIN banded b
              ON a.band = b.band AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id
        )
"""


@register(
    "q72d_lsh_quality_audit",
    oracle=f"""
        WITH {_PMH_ORACLE_STAGES},
        sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        exact AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sz sa ON sa.doc_id = doc_a
            JOIN sz sb ON sb.doc_id = doc_b
            WHERE c * 1.0 / (sa.n + sb.n - c) >= {_AUDIT_TAU}
        ),
        tp AS (
            SELECT count(*) AS n_tp
            FROM cand JOIN exact USING (doc_a, doc_b)
        )
        SELECT
            CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
            CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
            CAST(n_tp AS BIGINT) AS n_true_pos,
            round(n_tp * 1.0 / (SELECT count(*) FROM cand), 4) AS precision,
            round(n_tp * 1.0 / (SELECT count(*) FROM exact), 4) AS recall
        FROM tp
    """,
    doc="LSH quality audit, fully relational and hash-VERIFIED: the "
    "q72c portable-MinHash banding stage's candidate pairs are scored "
    f"against the EXACT shingle-Jaccard ground truth (J >= {_AUDIT_TAU}, "
    "computed via the inverted-index shingle self-join — never "
    "all-pairs row products), emitting one row of n_exact / "
    "n_candidates / n_true_pos / precision / recall.  This is the "
    "measurement loop a production dedup pipeline runs on a SAMPLE "
    "before committing band/row parameters for a 100 TB sweep: both "
    "sides of the comparison are deterministic md5 arithmetic, so the "
    "quality metrics themselves — not just the mechanism — reproduce "
    "bit-for-bit in any engine (unlike q72/q87's seeded-MLlib recall "
    "tests, which pin bounds rather than values).  Scale shape: the "
    "exact side joins on shingles whose document frequency is bounded "
    "(p99 = 4 on the fixture; stopword-shingles would be capped by a "
    "df filter at scale), so candidate generation AND verification "
    "both stay near-linear in corpus size.",
)
def q72d_lsh_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Emit-once REJECTED here (round 11, measured — see q72c: the
    # first-agreeing-band predicate re-compares every h-column per
    # fanned row while this .distinct() needs no exchange; 12% slower
    # at sf0.1, scales worse).
    sh, _sig, banded = _pmh_sig_banded(spark, sf_dir)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .cache()  # read twice: n_candidates count + true-positive join
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), "s")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        sha.join(shb, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    sza = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    szb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    exact = (
        inter.join(sza, "doc_a")
        .join(szb, "doc_b")
        .filter(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")) >= _AUDIT_TAU)
        .select("doc_a", "doc_b")
        .cache()  # read twice: n_exact count + true-positive join
    )
    n_exact = exact.agg(F.count("*").cast("long").alias("n_exact"))
    n_cand = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    n_tp = cand.join(exact, ["doc_a", "doc_b"]).agg(
        F.count("*").cast("long").alias("n_true_pos")
    )
    return (
        n_tp.crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(n_cand))
        .select(
            "n_exact",
            "n_candidates",
            "n_true_pos",
            F.round(F.col("n_true_pos") / F.col("n_candidates"), 4).alias("precision"),
            F.round(F.col("n_true_pos") / F.col("n_exact"), 4).alias("recall"),
        )
    )


@register(
    "q74e_setsim_prefix_join",
    oracle=f"""
        WITH sh AS (
            SELECT DISTINCT doc_id, array_to_string(w[i:i+2], '_') AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
            CROSS JOIN UNNEST(generate_series(1, len(w) - 2)) AS u(i)
        ),
        sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
        FROM inter
        JOIN sz sa ON sa.doc_id = doc_a
        JOIN sz sb ON sb.doc_id = doc_b
        WHERE c * 1.0 / (sa.n + sb.n - c) >= {_SETSIM_TAU}
    """,
    doc="Prefix-filtered set-similarity self-join (SSJoin/PPJoin family "
    "— Chaudhuri et al. 2006, Xiao et al. 2008, public): every doc's "
    "3-gram shingle set is globally ordered by (document frequency "
    "ASC, shingle), and only the first |T| - ceil(tau*|T|) + 1 "
    "shingles — the rarest ones — enter the candidate join; any pair "
    f"with Jaccard >= {_SETSIM_TAU} provably shares a prefix shingle, "
    "so candidates are then verified with an exact intersection count. "
    "The ORACLE is the brute-force all-pairs Jaccard — hash-equality "
    "with it proves the prefix filter is LOSSLESS, not just plausible. "
    "ceil(round(tau*n, 6)) keeps the prefix length at the MATH ceiling "
    "(0.6*n in binary floats can land a hair above the exact product "
    "and shorten the prefix below the lossless bound).  Scale shape: "
    "the df-ordered prefix puts only low-fanout shingles into the "
    "join (rarest-first is WHY prefix filtering scales — candidate "
    "fan-out is bounded by prefix-token df, p99 = 4 here), the "
    "verify join touches candidates only, and the df ranking itself "
    "is one groupBy + one window — near-linear end to end where "
    "naive all-pairs is quadratic.",
)
def q74e_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..api import shingles

    d = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"), 32)
    # The shingle relation feeds SIX branches (sizes, document
    # frequencies, ranking, and both sides of the verify join); Spark has
    # no cross-branch common-subexpression reuse, so materialize it once
    # — the same "write the shingle table, then index it" step a 100 TB
    # dedup run performs (54 s → ~5 s at sf0.1 without/with).
    sh = d.select("doc_id", F.explode(shingles("text", 3)).alias("s")).cache()
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df"))
    ranked = sh.join(dfreq, "s").withColumn(
        "rn", F.row_number().over(W.partitionBy("doc_id").orderBy("df", "s"))
    )
    prefix_len = (
        F.col("n") - F.ceil(F.round(F.col("n") * _SETSIM_TAU, 6)) + 1
    )
    prefix = (
        ranked.join(sz, "doc_id")
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "s")
        .cache()  # both sides of the candidate self-join read this
    )
    a = prefix.select(F.col("doc_id").alias("doc_a"), "s")
    b = prefix.select(F.col("doc_id").alias("doc_b"), "s")
    cand = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), "s")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "s")
    common = (
        cand.join(sha, "doc_a")
        .join(shb, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    sza = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    szb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.join(sza, "doc_a")
        .join(szb, "doc_b")
        .filter(jac >= _SETSIM_TAU)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "q75b_semantic_dedup",
    oracle="""
        WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        dropped AS (
            SELECT DISTINCT b.vec_id
            FROM e a JOIN e b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) >= 0.35
        )
        SELECT e.label,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) - count(d.vec_id) AS BIGINT) AS n_kept,
               CAST(count(d.vec_id) AS BIGINT) AS n_dropped
        FROM e LEFT JOIN dropped d ON e.vec_id = d.vec_id
        GROUP BY e.label
    """,
    doc="SemDeDup-style semantic deduplication (Abbas et al. 2023, "
    "public): within each semantic block, a document is DROPPED iff a "
    "lower-id neighbor sits within cosine >= 0.35 (q75's p99.9 "
    "threshold) — the keep-one-per-semantic-neighborhood rule that "
    "complements lexical MinHash/SimHash dedup (paraphrases share no "
    "shingles but land in the same embedding neighborhood).  Here the "
    "block key is the fixture's label column; at 100 TB the block is a "
    "KMeans cluster id (q90's assignment — SemDeDup's own recipe), "
    "which makes the within-block pair join near-linear: O(sum of "
    "cluster sizes squared) with bounded cluster radius, never "
    "all-pairs.  The SURVIVOR-SELECTION semantics (lowest-id-wins, the "
    "deterministic greedy) are what's hash-verified; q75 pins the pair "
    "listing itself.  Output = per-block keep/drop accounting.",
)
def q75b_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import dot, to_double_array

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double_array("embedding").alias("v")
    )
    a = e.select(
        F.col("vec_id").alias("id_a"), F.col("label").alias("label_a"),
        F.col("v").alias("va"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("label").alias("label_b"),
        F.col("v").alias("vb"),
    )
    dropped = (
        a.join(
            b,
            (F.col("label_a") == F.col("label_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(dot(F.col("va"), F.col("vb")) >= 0.35)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        e.join(dropped.withColumn("is_dropped", F.lit(1)), "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            (F.count("*") - F.count("is_dropped")).cast("long").alias("n_kept"),
            F.count("is_dropped").cast("long").alias("n_dropped"),
        )
    )


@register(
    "q70b_canonical_dedup",
    oracle="""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000,
                   upper(text) || '   trailing  ws '
            FROM documents WHERE doc_id % 10 = 0
        ),
        canon AS (
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       AS canon_md5
            FROM corpus
        )
        SELECT canon_md5,
               min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM canon
        GROUP BY canon_md5
        HAVING count(*) >= 2
    """,
    doc="Canonicalized (normalization-aware) exact dedup: documents are "
    "keyed by md5 of lower-cased, whitespace-collapsed, trimmed text — "
    "the canonicalization every production exact-dedup runs BEFORE "
    "hashing, because case/whitespace variants of the same page are "
    "the most common duplicate class crawls produce.  The fixture text "
    "is already canonical, so variants are PLANTED by construction "
    "(every 10th doc re-enters uppercased with injected whitespace "
    "under doc_id+1e6): the operator must merge each variant with its "
    "original — vacuous-pass-proof, and both engines canonicalize with "
    "the same regex.  Same 100 TB shape as q70: only 16-byte digests "
    "shuffle; normalization is a map-side expression, trailing-space "
    "included via trim so '   ' collapses fully.",
)
def q70b_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("   trailing  ws ")).alias("text"),
    )
    corpus = d.unionByName(variants)
    canon = F.md5(
        F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    )
    return (
        corpus.select("doc_id", canon.alias("canon_md5"))
        .groupBy("canon_md5")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") >= 2)
    )


@register(
    "q84b_triangle_count",
    oracle="""
        WITH e AS (
            SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
            FROM lineitem a
            JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        deg AS (
            SELECT node, count(*) AS d FROM (
                SELECT pa AS node FROM e UNION ALL SELECT pb FROM e
            ) GROUP BY node
        ),
        tri AS (
            SELECT count(*) AS n_triangles
            FROM e e1
            JOIN e e2 ON e2.pa = e1.pb
            JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
        )
        SELECT
            CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
            CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
            CAST((SELECT sum(d * (d - 1) / 2) FROM deg) AS BIGINT) AS n_wedges,
            CAST(n_triangles AS BIGINT) AS n_triangles,
            round(3.0 * n_triangles
                  / (SELECT sum(d * (d - 1) / 2) FROM deg), 6)
                AS global_clustering
        FROM tri
    """,
    doc="Triangle counting + global clustering coefficient over the "
    "part co-purchase graph (parts sharing an order are adjacent): the "
    "classic two-hop join-intersection — e1(a,b) ⋈ e2(b,c) ⋈ "
    "e3(a,c) — with every edge oriented low-id → high-id so each "
    "triangle is counted exactly once, plus the exact wedge count "
    "Σ d(d-1)/2 for the 3T/W clustering ratio.  Completes the graph "
    "family beside q84 (PageRank) and q74b (connected components); "
    "clustering structure is a standard corpus-graph health signal "
    "(citation/link graphs in curation).  Scale shape: the joins shuffle "
    "on single node keys; at 100 TB the edge relation is ORIENTED BY "
    "DEGREE (low-degree endpoint first, the standard O(m^1.5) "
    "bound) instead of by id — same output, the orientation only "
    "caps the per-key fan-out; the id orientation here mirrors the "
    "oracle so both engines count identical join paths.",
)
def q84b_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shared family artifact: the checkpointed co-purchase adjacency
    # table (feeds degree stats, the orientation join, and the wedge
    # joins here; q84c symmetrizes the same relation).
    e = copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("pa").alias("node"))
        .unionAll(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # Degree-ordered orientation (node-iterator algorithm): re-orient
    # every edge from its lower-(degree, id) endpoint so each node's
    # oriented out-degree is capped at ~sqrt(2m) (the standard
    # O(m^1.5) bound); the triangle total is orientation-invariant,
    # so the id-oriented oracle still matches.
    dega = deg.select(F.col("node").alias("pa"), F.col("d").alias("da"))
    degb = deg.select(F.col("node").alias("pb"), F.col("d").alias("db"))
    ed = e.join(dega, "pa").join(degb, "pb")
    fwd = F.struct("da", "pa") < F.struct("db", "pb")
    # cache + EXPLICIT unpersist (see the eager 1-row localCheckpoint
    # at the end, which lets the unpersist happen inside this
    # function): measured at replica x10, leaked .cache() entries
    # degraded repeat invocations 35 s -> 152 s, and a lazy
    # localCheckpoint of this 12M-row relation was 4x worse than
    # cache (27-72 s vs 7-12 s) because each run writes all its
    # blocks and cleanup lags the next run.
    eo = ed.select(
        F.when(fwd, F.col("pa")).otherwise(F.col("pb")).alias("u"),
        F.when(fwd, F.col("pb")).otherwise(F.col("pa")).alias("v"),
    ).cache()
    # Adjacency-array intersection (round-8 verdict item #3): the old
    # wedge JOIN materialized Σ d_out(u)^2/2 wedge ROWS through the
    # shuffle (205 M rows at replica x5 — GC-bound on one JVM, and the
    # same shape that OOMs one executor at 100 TB when a hub key lands
    # there).  Instead, pack each node's oriented out-neighborhood
    # into ONE array (collect_set per u — array length capped by the
    # degree orientation at ~sqrt(2m)), then for every oriented edge
    # (u, v) count |N+(u) ∩ N+(v)| with a vectorized array_intersect.
    # Each oriented triangle u→v, u→w, v→w is counted exactly once, at
    # its base edge (u, v) (w is the common out-neighbor), so the
    # total is identical to the wedge-join's and the oracle is
    # unchanged.  Scale shape: the shuffle carries m edge rows + 2
    # bounded arrays per row — never a wedge relation — and per-task
    # work is Σ_edges (|N+(u)|+|N+(v)|), the same O(m^1.5) bound,
    # executed inside one codegen'd intersect instead of a join.
    # Measured (key-shifted disjoint replicas of sf0.1, same session,
    # counts hash-equal): x2 6.98 s / x5 17.38 s vs the wedge join's
    # x2 8.84 s / x5 129.1 s — 2.5x data -> 2.5x time, exactly linear.
    # SHUFFLE_HASH hints: past the broadcast threshold the planner's
    # default is SortMergeJoin, which must SORT the edge relation WITH
    # its array payloads — measured 30.5 s vs 5.3 s hash-join for the
    # same x10 intersect (sorting 12 M array-carrying rows is the
    # whole gap).  Hash join never orders the payload, and unlike
    # broadcast (3.9 s here) it stays valid when the adjacency
    # relation outgrows one executor at 100 TB.
    adj = eo.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
    au = adj.select("u", F.col("nbrs").alias("nu")).hint("shuffle_hash")
    av = adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nv")).hint(
        "shuffle_hash"
    )
    tri = (
        eo.select("u", "v")
        .join(au, "u")
        .join(av, "v")
        .select(F.size(F.array_intersect("nu", "nv")).alias("k"))
        # coalesce: a triangle-free graph whose every oriented target
        # is a sink (e.g. a star) leaves the adjacency joins empty, so
        # sum(k) is NULL — the oracle's join-path count is 0 there.
        .agg(F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("n_triangles"))
    )
    stats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    )
    n_edges = e.agg(F.count("*").cast("long").alias("n_edges"))
    out = (
        tri.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6).alias(
                "global_clustering"
            ),
        )
        # eager 1-ROW checkpoint: materializes the whole computation
        # here so eo can be unpersisted before returning (the caller
        # collects a frame that no longer references the cache)
        .localCheckpoint(eager=True)
    )
    eo.unpersist()
    return out


@register(
    "q72e_mergeable_minhash",
    oracle="""
        WITH sh AS (
            SELECT DISTINCT doc_id, lang, source,
                   array_to_string(w[i:i+2], '_') AS s
            FROM (SELECT doc_id, lang, source,
                         string_split(text, ' ') AS w FROM documents) t
            CROSS JOIN UNNEST(generate_series(1, len(w) - 2)) AS u(i)
        ),
        partials AS (
            SELECT lang, source,
                   min(substr(md5(s || '#0'), 1, 16)) AS p0,
                   min(substr(md5(s || '#1'), 1, 16)) AS p1,
                   min(substr(md5(s || '#2'), 1, 16)) AS p2,
                   min(substr(md5(s || '#3'), 1, 16)) AS p3
            FROM sh GROUP BY lang, source
        ),
        merged AS (
            SELECT lang, min(p0) AS h0, min(p1) AS h1,
                   min(p2) AS h2, min(p3) AS h3
            FROM partials GROUP BY lang
        ),
        direct AS (
            SELECT lang,
                   min(substr(md5(s || '#0'), 1, 16)) AS d0,
                   min(substr(md5(s || '#1'), 1, 16)) AS d1,
                   min(substr(md5(s || '#2'), 1, 16)) AS d2,
                   min(substr(md5(s || '#3'), 1, 16)) AS d3
            FROM sh GROUP BY lang
        )
        SELECT m.lang, m.h0, m.h1, m.h2, m.h3,
               CAST(m.h0 = d.d0 AND m.h1 = d.d1 AND m.h2 = d.d2
                    AND m.h3 = d.d3 AS INT) AS merge_matches_direct
        FROM merged m JOIN direct d USING (lang)
    """,
    doc="MinHash MERGEABILITY — the algebraic property that makes the "
    "sketch distributable: minhash(A ∪ B) = elementwise-min of "
    "minhash(A), minhash(B), so per-shard partial signatures combine "
    "into the corpus signature without revisiting data.  Demonstrated "
    "relationally at corpus level: per-(lang, source) partial "
    "signatures (the 'per-shard' aggregation) are min-merged per lang "
    "and compared against the signature computed directly over all "
    "shingles — merge_matches_direct = 1 for every row, INSIDE the "
    "hash-verified result.  This is the exact shape of a 100 TB "
    "corpus-sketch rollup (qc07's HLL union is the cardinality "
    "sibling): shard partials are partition-local, the rollup moves "
    "4 × 16-hex values per shard, and incremental ingest min-merges "
    "yesterday's signature with the new batch's.",
)
def q72e_mergeable_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..api import shingles

    d = spread(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "source", "text"
        ),
        32,
    )
    sh = d.select(
        "lang", "source", F.explode(shingles("text", 3)).alias("s")
    ).cache()  # both the partial path and the direct path read this
    hashes = [
        F.substring(F.md5(F.concat(F.col("s"), F.lit(f"#{i}"))), 1, 16).alias(
            f"x{i}"
        )
        for i in range(4)
    ]
    hashed = sh.select("lang", "source", *hashes)
    partials = hashed.groupBy("lang", "source").agg(
        *[F.min(f"x{i}").alias(f"p{i}") for i in range(4)]
    )
    merged = partials.groupBy("lang").agg(
        *[F.min(f"p{i}").alias(f"h{i}") for i in range(4)]
    )
    direct = hashed.groupBy("lang").agg(
        *[F.min(f"x{i}").alias(f"d{i}") for i in range(4)]
    )
    match = (
        (F.col("h0") == F.col("d0"))
        & (F.col("h1") == F.col("d1"))
        & (F.col("h2") == F.col("d2"))
        & (F.col("h3") == F.col("d3"))
    ).cast("int")
    return (
        merged.join(direct, "lang")
        .select("lang", "h0", "h1", "h2", "h3", match.alias("merge_matches_direct"))
    )


@register(
    "q84c_bfs_shortest_paths",
    oracle="""
        WITH RECURSIVE e AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        ),
        src AS (SELECT min(u) AS s FROM e),
        reach(node, dist) AS (
            SELECT s, 0 FROM src
            UNION
            SELECT e.v, r.dist + 1
            FROM reach r JOIN e ON e.u = r.node
            WHERE r.dist < 8
        ),
        best AS (SELECT node, min(dist) AS dist FROM reach GROUP BY node)
        SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
        FROM best GROUP BY dist ORDER BY dist
    """,
    doc="Single-source BFS shortest paths over the part co-purchase "
    "graph — distance histogram from the lowest part key, completing "
    "the graph family (q84 PageRank, q74b components, q84b triangles): "
    "iterative min-distance label propagation on DataFrames, one "
    "broadcast-free neighbor join + min-agg per round, localCheckpoint "
    "lineage truncation per round (the q74b/q84 template), early exit "
    "on fixpoint.  The oracle replays it as a depth-capped recursive "
    "CTE (cap 8 ≥ the measured diameter 3; UNION-dedup on (node, "
    "dist) pairs needs the cap to terminate on cyclic graphs).  The "
    "co-purchase graph is small-world (134 direct neighbors, then "
    "~everything at 2-3 hops at sf0.1) — exactly why frontier rounds, "
    "not path enumeration, is the only shape that survives scale; "
    "rounds are bounded by diameter, each round one keyed shuffle.",
)
def q84c_bfs_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The u≠v directed edge set is exactly the symmetrization of the
    # shared oriented (pa<pb) co-purchase adjacency table — a narrow
    # map over the family checkpoint, no second self-join/distinct.
    eo = copurchase_edges(spark, sf_dir)
    e = eo.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionByName(
        eo.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    src = e.agg(F.min("u").alias("node")).select("node", F.lit(0).alias("dist"))
    labels = src.localCheckpoint(eager=True)
    for _ in range(8):
        frontier = (
            e.join(labels, e.u == labels.node)
            .groupBy(F.col("v").alias("node2"))
            .agg((F.min("dist") + 1).alias("cand"))
        )
        merged = (
            labels.join(frontier, labels.node == F.col("node2"), "full")
            .select(
                F.coalesce("node", "node2").alias("node"),
                F.least(
                    F.coalesce("dist", F.lit(1 << 30)),
                    F.coalesce("cand", F.lit(1 << 30)),
                ).alias("dist"),
                (
                    F.col("dist").isNull()
                    | (F.coalesce("cand", F.lit(1 << 30)) < F.col("dist"))
                ).alias("upd"),
            )
            .localCheckpoint(eager=True)
        )
        changed = merged.filter("upd").count()
        labels = merged.drop("upd")
        if changed == 0:
            break
    return (
        labels.groupBy("dist")
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .orderBy("dist")
    )


@register(
    "q84d_degree_distribution",
    oracle="""
        WITH e AS (
            SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
            FROM lineitem a
            JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        deg AS (
            SELECT node, count(*) AS d FROM (
                SELECT pa AS node FROM e UNION ALL SELECT pb FROM e
            ) GROUP BY node
        ),
        hist AS (
            SELECT CAST(floor(log2(d)) AS BIGINT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n_nodes
            FROM deg GROUP BY 1
        ),
        fit AS (
            SELECT regr_slope(ln(n_nodes), bucket) AS slope FROM hist
        )
        SELECT h.bucket, h.n_nodes, round(f.slope, 6) AS loglog_slope
        FROM hist h CROSS JOIN fit f
    """,
    doc="Degree distribution of the co-purchase graph + a log-log tail "
    "fit — the graph-health profile read before ANY iterative "
    "algorithm is launched on it (q84/q84b/q84c): nodes histogrammed "
    "into log2 degree buckets, and the regr_slope of ln(count) vs "
    "bucket quantifies how heavy the hub tail is (a slope near 0 "
    "means hubs — the signal to pre-aggregate or salt before the "
    "wedge joins; q84b's 34 s → 6 s degree-orientation fix was "
    "exactly a response to what this profile shows).  Reuses the "
    "FAMILY'S shared checkpointed edge artifact, so in-suite it costs "
    "one degree agg + a 12-row fit.  Scale: degrees are one "
    "partial-agg pass over edges; the histogram is O(log(max_degree)) "
    "rows.",
)
def q84d_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = copurchase_edges(spark, sf_dir)
    deg = (
        e.select(F.col("pa").alias("node"))
        .unionAll(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    # Eagerly checkpointed O(log(max_degree))-row histogram (round 11,
    # guide §5 — the qc39/q72f pattern): hist feeds BOTH the output and
    # the regr_slope fit, and without the checkpoint each side re-ran
    # the full union + degree agg + histogram agg subtree (plan showed
    # the 3-Exchange chain twice, once under the broadcast).
    hist = deg.groupBy(
        F.floor(F.log2("d")).cast("long").alias("bucket")
    ).agg(F.count("*").cast("long").alias("n_nodes")).localCheckpoint(eager=True)
    fit = hist.agg(
        F.regr_slope(F.log("n_nodes"), F.col("bucket").cast("double")).alias("slope")
    )
    return hist.crossJoin(F.broadcast(fit)).select(
        "bucket", "n_nodes", F.round("slope", 6).alias("loglog_slope")
    )


# qc28's oracle embeds q74b's recursive-CTE component derivation as a
# subquery — one source of truth for the CC semantics on both sides
# (the Spark side reuses the memoized _dup_component_labels artifact).
_QC28_ORACLE = f"""
    WITH comp AS ({_REGISTRY["q74b_dup_components"].oracle}),
    members AS (
        SELECT c.doc_id, c.component,
               len(string_split(d.text, ' ')) AS n_tokens,
               d.n_chars
        FROM comp c JOIN documents d USING (doc_id)
        WHERE c.component IN (
            SELECT component FROM comp
            GROUP BY component HAVING count(*) >= 2
        )
    ),
    per_cluster AS (
        SELECT component,
               count(*) AS n_members,
               sum(n_tokens) AS cluster_tokens,
               min_by(n_tokens, doc_id) AS keep_first_tokens,
               first(n_tokens ORDER BY n_chars DESC, doc_id ASC)
                   AS keep_longest_tokens
        FROM members GROUP BY component
    )
    SELECT CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(n_members) AS BIGINT) AS n_clustered_docs,
           CAST(sum(cluster_tokens) AS BIGINT) AS total_cluster_tokens,
           CAST(sum(keep_first_tokens) AS BIGINT) AS tokens_keep_first,
           CAST(sum(keep_longest_tokens) AS BIGINT) AS tokens_keep_longest,
           CAST(sum(keep_longest_tokens) - sum(keep_first_tokens)
                AS BIGINT) AS policy_delta_tokens
    FROM per_cluster
"""


@register(
    "qc28_canonical_policy_audit",
    oracle=_QC28_ORACLE,
    doc="CANONICAL-SELECTION policy audit over near-dup clusters — the "
    "decision table behind every dedup stage's 'which member "
    "survives' rule: for each multi-doc component (q74b's connected "
    "components, reused from the family's memoized artifact — the "
    "fixpoint never reruns), compare keep-FIRST (min doc_id, the "
    "reproducible default qp5/qc22 use) against keep-LONGEST (max "
    "n_chars, id tiebreak — the recall-preserving policy crawl "
    "pipelines often prefer) by retained token mass.  A positive "
    "policy_delta says keep-first is discarding longer members — "
    "the measured cost of the cheap policy.  All counts/token sums "
    "are exact integers; the argmin/argmax are min_by/max_by with "
    "deterministic struct tiebreaks on BOTH engines.  Scale: one "
    "join of the (tiny) cluster membership against doc metadata, "
    "two-level agg; bodies never move.",
)
def qc28_canonical_policy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _dup_component_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "component"
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.size(F.split("text", " ")).alias("n_tokens")
    )
    sizes = labels.groupBy("component").agg(F.count("*").alias("n_members"))
    members = (
        labels.join(sizes.filter(F.col("n_members") >= 2), "component")
        .join(d, "doc_id")
    )
    per_cluster = members.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.sum("n_tokens").alias("cluster_tokens"),
        F.min(F.struct("doc_id", "n_tokens")).getField("n_tokens").alias(
            "keep_first_tokens"
        ),
        # max over (n_chars ASC, -doc_id ASC) == first by n_chars DESC,
        # doc_id ASC — a true lexicographic tiebreak, valid for ANY
        # doc_id / n_chars magnitude (the previous packed-BIGINT key
        # n_chars*1e9 + (999999999 - doc_id) silently inverted the
        # tiebreak past doc_id 1e9 and overflowed past n_chars ~9e9).
        F.max(
            F.struct(
                F.col("n_chars").alias("k1"),
                (-F.col("doc_id")).alias("k2"),
                F.col("n_tokens"),
            )
        )
        .getField("n_tokens")
        .alias("keep_longest_tokens"),
    )
    return per_cluster.agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("n_members").cast("long").alias("n_clustered_docs"),
        F.sum("cluster_tokens").cast("long").alias("total_cluster_tokens"),
        F.sum("keep_first_tokens").cast("long").alias("tokens_keep_first"),
        F.sum("keep_longest_tokens").cast("long").alias("tokens_keep_longest"),
        (F.sum("keep_longest_tokens") - F.sum("keep_first_tokens"))
        .cast("long")
        .alias("policy_delta_tokens"),
    )


# q84e's oracle embeds q74b's recursive-CTE component derivation the
# same way qc28's does — one source of truth for CC semantics; the
# Spark side reuses the memoized _dup_component_labels artifact.
_Q84E_ORACLE = f"""
    WITH comp AS ({_REGISTRY["q74b_dup_components"].oracle}),
    sizes AS (
        SELECT component, count(*) AS csize FROM comp GROUP BY component
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    linked AS (
        SELECT csize, count(*) AS n_components, csize * count(*) AS n_in
        FROM sizes GROUP BY csize
    ),
    single AS (
        SELECT 1 AS csize,
               n.n_docs - coalesce((SELECT sum(csize) FROM sizes), 0)
                   AS n_components,
               n.n_docs - coalesce((SELECT sum(csize) FROM sizes), 0) AS n_in
        FROM n
    )
    SELECT CAST(u.csize AS BIGINT) AS component_size,
           CAST(u.n_components AS BIGINT) AS n_components,
           CAST(u.n_in AS BIGINT) AS n_docs,
           round(u.n_in * 1.0 / n.n_docs, 6) AS corpus_fraction
    FROM (SELECT * FROM linked UNION ALL SELECT * FROM single) u
    CROSS JOIN n
"""


@register(
    "q84e_component_size_profile",
    oracle=_Q84E_ORACLE,
    doc="Connected-component SIZE DISTRIBUTION over the near-dup graph "
    "— the corpus-health readout a dedup pipeline publishes alongside "
    "q74b's per-doc labels: how many docs sit in clusters of size k, "
    "what fraction of the corpus is singleton vs clustered (the "
    "'giant component' early-warning — a template-heavy crawl shows "
    "a few huge clusters, a healthy one a long tail of pairs).  The "
    "singleton bucket is derived by DIFFERENCE (total docs minus "
    "labeled nodes — labels only exist for edge-bearing docs, and "
    "every edge-bearing component has size >= 2), so the histogram "
    "always partitions the whole corpus; all gates/counts integer, "
    "corpus_fraction one division.  Spark side reuses the memoized "
    "checkpointed CC labels (shared with q74b/qc21/qc28 — zero extra "
    "fixpoint cost in-suite); oracle embeds q74b's recursive CTE.  "
    "Scale: the profile aggregates the id-only label table — "
    "component-count-sized, corpus-size-free.",
)
def q84e_component_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _dup_component_labels(spark, sf_dir)
    n_docs = load_table(spark, sf_dir, "documents").count()  # scalar literal
    sizes = labels.groupBy("component").agg(F.count("*").alias("csize"))
    linked = sizes.groupBy("csize").agg(
        F.count("*").alias("n_components"),
        (F.col("csize") * F.count("*")).alias("n_in"),
    )
    n_labeled = labels.count()
    single = spark.range(1).select(
        F.lit(1).cast("long").alias("csize"),
        F.lit(n_docs - n_labeled).cast("long").alias("n_components"),
        F.lit(n_docs - n_labeled).cast("long").alias("n_in"),
    )
    return linked.unionByName(single).select(
        F.col("csize").cast("long").alias("component_size"),
        F.col("n_components").cast("long").alias("n_components"),
        F.col("n_in").cast("long").alias("n_docs"),
        F.round(F.col("n_in") * 1.0 / F.lit(float(n_docs)), 6).alias(
            "corpus_fraction"
        ),
    )


@register(
    "qc31_threshold_sensitivity",
    oracle="""
        WITH tok AS (
            SELECT DISTINCT doc_id, lang, source,
                   unnest(string_split(text, ' ')) AS token
            FROM documents
        ), sizes AS (
            SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM tok a
            JOIN tok b
              ON a.token = b.token AND a.lang = b.lang AND a.source = b.source
             AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), pairs AS (
            SELECT i.n_common,
                   sa.n_tok + sb.n_tok - i.n_common AS n_union
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
        )
        SELECT t.t10,
               round(t.t10 / 10.0, 1) AS threshold,
               CAST(count(*) FILTER (WHERE p.n_common * 10 >= t.t10 * p.n_union)
                    AS BIGINT) AS n_pairs
        FROM pairs p
        CROSS JOIN (SELECT unnest([5, 6, 7, 8, 9]) AS t10) t
        GROUP BY t.t10
    """,
    doc="DEDUP THRESHOLD SENSITIVITY sweep — the tuning table a "
    "pipeline builds BEFORE committing a Jaccard cutoff (q74/q72d "
    "fix 0.8; this measures what 0.5-0.9 would each catch): the "
    "blocked candidate-pair relation with (intersection, union) "
    "counts is computed ONCE, then every pair is tested against five "
    "thresholds by CROSS-MULTIPLIED INTEGER compare (n_common*10 >= "
    "t10*n_union — the mm05 rule; the existing 0.8 queries compare "
    "rounded doubles, which holds on these fixtures, but a sweep "
    "whose whole point is boundary counting must be boundary-exact).  "
    "Five counts from one pass — no per-threshold rescan.  Scale: "
    "identical join shape to q74 (blocking keys bound fan-out); the "
    "sweep adds a 5-row broadcast and a conditional count.",
)
def qc31_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"), 32)
    tok = d.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
    ).distinct()
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    a = tok.select(
        F.col("doc_id").alias("doc_a"), "lang", "source", "token"
    )
    b = tok.select(
        F.col("doc_id").alias("doc_b"), "lang", "source", "token"
    )
    inter = (
        a.join(b, ["token", "lang", "source"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_tok").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_tok").alias("nb"))
    pairs = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "n_common", (F.col("na") + F.col("nb") - F.col("n_common")).alias("n_union")
        )
    )
    thresholds = spark.range(5, 10).select(F.col("id").cast("int").alias("t10"))
    return (
        pairs.crossJoin(F.broadcast(thresholds))
        .groupBy("t10")
        .agg(
            F.count_if(
                F.col("n_common") * 10 >= F.col("t10") * F.col("n_union")
            ).cast("long").alias("n_pairs")
        )
        .select("t10", F.round(F.col("t10") / 10.0, 1).alias("threshold"), "n_pairs")
    )


@register(
    "qc39_incremental_neardup_admission",
    oracle=f"""
        WITH {_PMH_ORACLE_STAGES},
        inc_cand AS (
            SELECT DISTINCT a.doc_id AS in_id, b.doc_id AS corp_id
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.band_sig = b.band_sig
            WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        ),
        est AS (
            SELECT c.in_id,
                   (CAST(sa.h0 = sb.h0 AS INT) + CAST(sa.h1 = sb.h1 AS INT)
                    + CAST(sa.h2 = sb.h2 AS INT) + CAST(sa.h3 = sb.h3 AS INT)
                    + CAST(sa.h4 = sb.h4 AS INT) + CAST(sa.h5 = sb.h5 AS INT)
                    + CAST(sa.h6 = sb.h6 AS INT) + CAST(sa.h7 = sb.h7 AS INT)
                    + CAST(sa.h8 = sb.h8 AS INT) + CAST(sa.h9 = sb.h9 AS INT)
                    + CAST(sa.h10 = sb.h10 AS INT) + CAST(sa.h11 = sb.h11 AS INT)
                    + CAST(sa.h12 = sb.h12 AS INT) + CAST(sa.h13 = sb.h13 AS INT)
                    + CAST(sa.h14 = sb.h14 AS INT) + CAST(sa.h15 = sb.h15 AS INT)
                   ) / 16.0 AS est
            FROM inc_cand c
            JOIN sig sa ON sa.doc_id = c.in_id
            JOIN sig sb ON sb.doc_id = c.corp_id
        ),
        blocked AS (
            SELECT DISTINCT in_id FROM est WHERE est >= 0.5
        ),
        inc AS (
            SELECT doc_id, lang FROM documents WHERE doc_id % 10 = 0
        )
        SELECT lang,
               count(*) AS n_incoming,
               CAST(count(*) FILTER (WHERE b.in_id IS NOT NULL) AS BIGINT)
                   AS n_blocked,
               CAST(count(*) FILTER (WHERE b.in_id IS NULL) AS BIGINT)
                   AS n_admitted
        FROM inc LEFT JOIN blocked b ON inc.doc_id = b.in_id
        GROUP BY lang
    """,
    doc="INCREMENTAL near-dup ADMISSION gate — qp9's day-2 refresh "
    "upgraded from exact digests to lexical near-duplicates: the "
    "incoming batch (every 10th doc) is LSH-banded with the portable "
    "md5-min family (q72c's machinery, shared _pmh_sig_banded stages) "
    "and candidate pairs come from band-key equi-joins RESTRICTED to "
    "incoming x standing-corpus — never incoming x incoming, never "
    "all-pairs; an incoming doc whose estimated Jaccard vs any corpus "
    "doc reaches 0.5 is blocked, the rest admit, reported per "
    "language.  Docs under the shingle width carry no signature and "
    "admit by construction (both engines).  This is the gate that "
    "keeps a continuously-ingested corpus from re-accreting "
    "paraphrased copies that exact digests (qc11/qp9) cannot see.  "
    "Scale: the standing corpus keeps its banded signature table "
    "materialized (16 hashes + 4 band keys per doc — tiny next to "
    "text); each day's batch shuffles only its own band keys against "
    "it, O(batch + collisions), exactly how a 100 TB corpus admits "
    "a 100 GB day.",
)
def qc39_incremental_neardup_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # checkpoint_sig: the incoming/corpus filter split plus the sa/sb
    # re-score joins reference sig through four different subtrees —
    # measured 4.4 s -> 2.7 s (see _pmh_sig_banded doc).
    _sh, sig, banded = _pmh_sig_banded(spark, sf_dir, checkpoint_sig=True)
    inc_banded = banded.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("in_id"), "band", "band_sig"
    )
    corp_banded = banded.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("corp_id"),
        F.col("band").alias("c_band"),
        F.col("band_sig").alias("c_band_sig"),
    )
    cand = (
        inc_banded.join(
            corp_banded,
            (F.col("band") == F.col("c_band"))
            & (F.col("band_sig") == F.col("c_band_sig")),
        )
        .select("in_id", "corp_id")
        .dropDuplicates(["in_id", "corp_id"])
    )
    sa = sig.select(
        F.col("doc_id").alias("in_id"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(_PMH_N)],
    )
    sb = sig.select(
        F.col("doc_id").alias("corp_id"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(_PMH_N)],
    )
    eq = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(_PMH_N)
    )
    blocked = (
        cand.join(sa, "in_id")
        .join(sb, "corp_id")
        .select("in_id", (eq / float(_PMH_N)).alias("est"))
        .filter(F.col("est") >= 0.5)
        .select("in_id")
        .distinct()
        .withColumn("is_blocked", F.lit(1))
    )
    inc = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("in_id"), "lang")
    )
    return (
        inc.join(F.broadcast(blocked), "in_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_incoming"),
            F.sum(F.coalesce(F.col("is_blocked"), F.lit(0)))
            .cast("long")
            .alias("n_blocked"),
            F.sum(
                F.when(F.col("is_blocked").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_admitted"),
        )
    )


_BANDING_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))  # (bands, rows/band)


def _banding_oracle_sql() -> str:
    sig_cols = ",\n                   ".join(
        f"min(substr(md5(s || '#{i}'), 1, 16)) AS h{i}" for i in range(16)
    )
    eq = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(16)
    )
    parts = [f"""
        WITH sh AS (
            SELECT DISTINCT doc_id, array_to_string(w[i:i+2], '_') AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t
            CROSS JOIN UNNEST(generate_series(1, len(w) - 2)) AS u(i)
        ),
        sig AS (
            SELECT doc_id,
                   {sig_cols}
            FROM sh GROUP BY doc_id
        )"""]
    selects = []
    for b, r in _BANDING_CONFIGS:
        bands = "\n            UNION ALL\n".join(
            "            SELECT doc_id, {j} AS band, md5({cat}) AS band_sig FROM sig".format(
                j=j,
                cat=" || '|' || ".join(f"h{j * r + k}" for k in range(r)),
            )
            for j in range(b)
        )
        parts.append(f"""
        banded_{b}_{r} AS (
{bands}
        ),
        cand_{b}_{r} AS (
            SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
            FROM banded_{b}_{r} a
            JOIN banded_{b}_{r} b
              ON a.band = b.band AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id
        ),
        stats_{b}_{r} AS (
            SELECT {b} AS bands, {r} AS rows_per_band,
                   CAST(count(*) AS BIGINT) AS n_candidates,
                   CAST(coalesce(sum(CASE WHEN ({eq}) >= 8
                                          THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS n_accepted
            FROM cand_{b}_{r} c
            JOIN sig sa ON sa.doc_id = c.da
            JOIN sig sb ON sb.doc_id = c.db
        )""")
        selects.append(
            f"SELECT bands, rows_per_band, n_candidates, n_accepted, "
            f"CASE WHEN n_candidates = 0 THEN NULL "
            f"ELSE round(n_accepted * 1.0 / n_candidates, 6) END AS precision "
            f"FROM stats_{b}_{r}"
        )
    return ",".join(parts) + "\n        " + "\n        UNION ALL ".join(selects)


@register(
    "q72f_banding_tradeoff",
    oracle=_banding_oracle_sql(),
    doc="LSH BANDING (b, r) TRADEOFF table — the S-curve engineers "
    "consult before committing a near-dup sweep, computed on the "
    "actual corpus instead of the textbook formula: the same 16 "
    "portable minhashes (q72c's md5 family) are banded four ways "
    "(16x1, 8x2, 4x4, 2x8), and each configuration reports its "
    "candidate-pair count and the fraction accepted by the "
    "est-Jaccard >= 0.5 gate (>= 8 of 16 signature agreements — "
    "integer compare, no division luck).  16x1 recalls everything "
    "and drowns in candidates; 2x8 is surgical and misses; the "
    "table shows exactly where THIS corpus's elbow is.  Fully "
    "hash-verified: every stage is the q72c portable family.  "
    "Scale: candidates are banded-join sized per config — the whole "
    "point of the table is to SEE that 16x1's candidate count is "
    "unaffordable before running it on 100 TB; signatures are "
    "computed once (memoized vocabulary + cached shingles) and "
    "reused by all four configs.",
)
def q72f_banding_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    _sh, sig, _banded = _pmh_sig_banded(spark, sf_dir)
    sig = sig.localCheckpoint(eager=True)
    # Single-pass re-plan (optimization round 10): the four configs'
    # candidate sets are NESTED — a pair agreeing on an r-hash band
    # agrees on every single hash of that band, so candidates(2x8) ⊆
    # candidates(4x4) ⊆ candidates(8x2) ⊆ candidates(16x1).  Build the
    # 16x1 SUPERSET with one banded self-join, attach both signatures
    # once, and read every config's membership off the 16 per-hash
    # agreement bits: a pair is a (b, r) candidate iff some band's r
    # bits all agree.  Replaces 4 self-joins + 8 signature joins + 4
    # aggregates with 1 + 2 + 1; every count is unchanged because the
    # bit test and the band_sig join are the same predicate (fixed-
    # width md5 over the h-columns is equality-faithful).
    b16 = None
    for j in range(_PMH_N):
        one = sig.select(
            "doc_id",
            F.lit(j).alias("band"),
            F.md5(F.concat_ws("|", F.col(f"h{j}"))).alias("band_sig"),
        )
        b16 = one if b16 is None else b16.unionByName(one)
    a, bb = b16.alias("ba"), b16.alias("bb")
    # Emit-once (round 11, guide §2.4): the 16x1 superset join surfaced
    # a pair once per AGREEING HASH (an exact dup 16x) and paid a
    # .distinct() exchange over that fan-out before the signature
    # attach.  Instead, carry the EMITTING hash index through the
    # attach and keep only the row whose index is the pair's FIRST
    # agreeing hash — each pair survives exactly once, the distinct
    # exchange is gone, and the attach joins stay broadcast-shaped (sig
    # is the small side), so no exchange replaces it.  Membership /
    # acceptance bits are unchanged: they are computed from the
    # attached signatures, not from which band emitted the pair.
    cand = a.join(
        bb,
        (F.col("ba.band") == F.col("bb.band"))
        & (F.col("ba.band_sig") == F.col("bb.band_sig"))
        & (F.col("ba.doc_id") < F.col("bb.doc_id")),
    ).select(
        F.col("ba.doc_id").alias("da"),
        F.col("bb.doc_id").alias("db"),
        F.col("ba.band").alias("eband"),
    )
    n_agree = sum(
        (F.col(f"a.h{i}") == F.col(f"b.h{i}")).cast("int")
        for i in range(_PMH_N)
    )
    # First agreeing hash index (a when-chain returns the FIRST true
    # arm); the emitting row exists only because hash `eband` agrees,
    # so first_idx <= eband and equality keeps exactly one row per pair.
    first_idx = F.when(F.col("a.h0") == F.col("b.h0"), F.lit(0))
    for i in range(1, _PMH_N):
        first_idx = first_idx.when(
            F.col(f"a.h{i}") == F.col(f"b.h{i}"), F.lit(i)
        )
    member_cols = []
    for b, r in _BANDING_CONFIGS:
        member = None
        for j in range(b):
            band_all = None
            for k in range(r):
                bit = F.col(f"a.h{j * r + k}") == F.col(f"b.h{j * r + k}")
                band_all = bit if band_all is None else (band_all & bit)
            member = band_all if member is None else (member | band_all)
        member_cols.append(member.cast("int").alias(f"m_{b}x{r}"))
    scored = (
        cand.join(F.broadcast(sig.alias("a")), F.col("da") == F.col("a.doc_id"))
        .join(F.broadcast(sig.alias("b")), F.col("db") == F.col("b.doc_id"))
        .filter(F.col("eband") == first_idx)
        .select((n_agree >= 8).cast("int").alias("acc"), *member_cols)
    )
    # Eagerly checkpointed 1-row aggregate: the 4-row output below
    # references it once per config, and without the checkpoint each
    # branch of the union re-executes the whole candidate pipeline
    # (plan showed 4x replicated join subtrees).
    one_row = scored.agg(
        *[
            F.coalesce(F.sum(f"m_{b}x{r}"), F.lit(0))
            .cast("long")
            .alias(f"cand_{b}x{r}")
            for b, r in _BANDING_CONFIGS
        ],
        *[
            F.coalesce(F.sum(F.col(f"m_{b}x{r}") * F.col("acc")), F.lit(0))
            .cast("long")
            .alias(f"acc_{b}x{r}")
            for b, r in _BANDING_CONFIGS
        ],
    ).localCheckpoint(eager=True)
    out = None
    for b, r in _BANDING_CONFIGS:
        stats = one_row.select(
            F.lit(b).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            F.col(f"cand_{b}x{r}").alias("n_candidates"),
            F.col(f"acc_{b}x{r}").alias("n_accepted"),
            F.when(F.col(f"cand_{b}x{r}") == 0, F.lit(None))
            .otherwise(
                F.round(
                    F.col(f"acc_{b}x{r}") * 1.0 / F.col(f"cand_{b}x{r}"), 6
                )
            )
            .alias("precision"),
        )
        out = stats if out is None else out.unionByName(stats)
    return out


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peel rounds (the qc42 unrolled-fold convention): round r
    keeps nodes whose degree in e_{r-1} is >= k, then keeps edges with
    both endpoints surviving."""
    # Every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and each
    # round references the previous one THREE times (degree count + two
    # IN-subqueries), so an inlined chain re-evaluates the base pair
    # join 3^rounds times — measured as a >79 GB temp spill at sf0.1.
    # Materialization makes the oracle linear in rounds, matching the
    # Spark side's per-round localCheckpoint.
    ctes = [
        """e0 AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
            FROM lineitem a
            JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        )"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""d{r} AS MATERIALIZED (
            SELECT node, count(*) AS d FROM (
                SELECT pa AS node FROM e{r - 1}
                UNION ALL SELECT pb FROM e{r - 1}
            ) GROUP BY node
        )"""
        )
        ctes.append(
            f"k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE d >= {k})"
        )
        ctes.append(
            f"""e{r} AS MATERIALIZED (
            SELECT pa, pb FROM e{r - 1}
            WHERE pa IN (SELECT node FROM k{r})
              AND pb IN (SELECT node FROM k{r})
        )"""
        )
    selects = "\n        UNION ALL\n".join(
        f"""SELECT {r} AS round,
               CAST((SELECT count(*) FROM k{r}) AS BIGINT) AS n_nodes,
               CAST((SELECT count(*) FROM e{r}) AS BIGINT) AS n_edges"""
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n        ".join(ctes) + "\n        " + selects


_KCORE_K = 80
_KCORE_ROUNDS = 4


@register(
    "q84f_kcore_peel",
    oracle=_kcore_oracle(_KCORE_K, _KCORE_ROUNDS),
    doc=f"k-CORE decomposition by iterative peeling over the shared "
    f"co-purchase graph (k={_KCORE_K}, {_KCORE_ROUNDS} fixed rounds — "
    "the Matula-Beck peel as a DataFrame loop, the q84 iterative "
    "template): each round recomputes degrees on the surviving "
    "subgraph, drops nodes below k, and drops their incident edges; "
    "the per-round (nodes, edges) profile is the output, showing the "
    "peel cascade (removing a weak node weakens its neighbors).  "
    "k-core is the standard dense-substructure screen — spam-farm "
    "and botnet detection in co-occurrence graphs, and the 'core web' "
    "selection some crawl curations apply before dedup.  A FIXED "
    "round count keeps the operator deterministic and "
    "SQL-expressible (the oracle unrolls the same rounds as CTEs); "
    "production iterates to fixpoint with the identical per-round "
    "plan.  Scale: each round is one degree aggregate + two "
    "semi-join-shaped filters on the (shrinking) edge list — "
    "strictly cheaper than the triangle pass that shares this "
    "artifact; rounds localCheckpoint so lineage stays flat.",
)
def q84f_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(spark, sf_dir)
    rows = []
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = (
            edges.select(F.col("pa").alias("node"))
            .unionAll(edges.select(F.col("pb").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        # keep feeds BOTH semi-joins and the per-round count — without
        # the eager checkpoint the union+groupBy degree aggregation
        # re-executes three times per round (optimization round 10).
        keep = (
            deg.filter(F.col("d") >= _KCORE_K)
            .select("node")
            .localCheckpoint(eager=True)
        )
        edges = (
            edges.join(
                keep.withColumnRenamed("node", "pa"), "pa", "left_semi"
            )
            .join(keep.withColumnRenamed("node", "pb"), "pb", "left_semi")
            .select("pa", "pb")
            .localCheckpoint(eager=True)
        )
        rows.append((r, keep.count(), edges.count()))
    return spark.createDataFrame(
        rows, "round INT, n_nodes BIGINT, n_edges BIGINT"
    )


def strong_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-support co-purchase edges: parts adjacent iff they share
    >= 2 orders (pa < pb).  The SPARSE sibling of copurchase_edges —
    repeat co-occurrence kills the hub noise single orders create, so
    degrees stay small (max ~15 at sf0.01) and the graph is the right
    substrate for neighborhood algorithms (LPA, Adamic-Adar) that are
    quadratic in degree.  Built + checkpointed once per (app, sf_dir)."""

    def build() -> DataFrame:
        return (
            _copurchase_counted(spark, sf_dir)
            .filter(F.col("c") >= 2)
            .select("pa", "pb")
            .localCheckpoint(eager=True)
        )

    return memo(spark, sf_dir, "strong_copurchase", build)


_STRONG_EDGES_SQL = """
        items AS (
            SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
        ),
        e AS (
            SELECT a.p AS pa, b.p AS pb
            FROM items a
            JOIN items b ON a.k = b.k AND a.p < b.p
            GROUP BY 1, 2 HAVING count(*) >= 2
        ),
        sym AS (
            SELECT pa AS src, pb AS dst FROM e
            UNION ALL SELECT pb, pa FROM e
        )"""

_LPA_ROUNDS = 3


def _lpa_oracle(rounds: int) -> str:
    """Unrolled synchronous LPA rounds (q84f's unrolled-CTE convention):
    round r relabels every node with its neighbors' majority label from
    round r-1, ties broken toward the smallest label."""
    ctes = [
        _STRONG_EDGES_SQL,
        "lab0 AS (SELECT DISTINCT src AS node, src AS label FROM sym)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""lab{r} AS (
            SELECT node, label FROM (
                SELECT s.src AS node, l.label,
                       row_number() OVER (
                           PARTITION BY s.src
                           ORDER BY count(*) DESC, l.label
                       ) AS rn
                FROM sym s JOIN lab{r - 1} l ON l.node = s.dst
                GROUP BY s.src, l.label
            ) WHERE rn = 1
        )"""
        )
    selects = "\n        UNION ALL\n".join(
        f"""SELECT {r} AS round,
               CAST((SELECT count(DISTINCT label) FROM lab{r}) AS BIGINT)
                   AS n_labels,
               CAST((SELECT max(c) FROM (
                   SELECT count(*) AS c FROM lab{r} GROUP BY label))
                   AS BIGINT) AS largest_community"""
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n        ".join(ctes) + "\n        " + selects


@register(
    "q84g_label_propagation",
    oracle=_lpa_oracle(_LPA_ROUNDS),
    doc=f"LABEL PROPAGATION community detection ({_LPA_ROUNDS} fixed "
    "synchronous rounds, Raghavan et al. 2007) over the strong "
    "(multi-support) co-purchase graph: every node starts as its own "
    "community, and each round adopts the MAJORITY label among its "
    "neighbors with ties broken toward the smallest label — the "
    "deterministic variant of the classic randomized sweep, which is "
    "what a reproducible pipeline has to run.  Per-round profile "
    "(distinct labels, largest community) shows the consolidation "
    "curve.  Relational form: one edge-to-label equi-join + a "
    "(node,label) count + a per-node argmax window per round — the "
    "window partitions by node (state bounded by degree), and the "
    "oracle unrolls the identical rounds as CTEs.  Scale: each round "
    "shuffles the edge list once on dst then once on (src,label); "
    "labels localCheckpoint per round so lineage stays flat; the "
    "strong-edge substrate keeps degrees (and thus the argmax state) "
    "small by construction.",
)
def q84g_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # The strong graph is tiny (~4-6 k edges at any tested sf): 32-way
    # shuffles would be pure scheduling overhead for the per-round
    # join/agg/window chain, so the rounds run at 8 partitions
    # (scoped_conf, the qa22/q48c convention).  At 100 TB the
    # substrate grows and this knob simply isn't lowered.
    strong_copurchase_edges(spark, sf_dir)  # build at full parallelism
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        return _lpa_rounds(spark, sf_dir)


def _lpa_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = strong_copurchase_edges(spark, sf_dir)
    sym = e.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        e.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = W.partitionBy("node").orderBy(F.col("cnt").desc(), F.col("label"))
    profiles = []
    for r in range(1, _LPA_ROUNDS + 1):
        neigh = sym.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "label")
        counted = neigh.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        labels = (
            counted.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=True)
        )
        sizes = labels.groupBy("label").agg(F.count("*").alias("c"))
        profiles.append(
            sizes.agg(
                F.lit(r).alias("round"),
                F.count("*").cast("bigint").alias("n_labels"),
                F.max("c").cast("bigint").alias("largest_community"),
            )
        )
    # The whole 3-round cascade stays LAZY: one final action drives it,
    # each round's lazy localCheckpoint materializes once and is shared
    # by its own profile arm and the next round's join — no per-round
    # driver collect round-trips.
    out = profiles[0]
    for p_ in profiles[1:]:
        out = out.unionAll(p_)
    return out


_AA_TOPK = 20


@register(
    "q84h_adamic_adar",
    oracle=f"""
        WITH {_STRONG_EDGES_SQL.lstrip()},
        deg AS (
            SELECT src AS node, count(*) AS d FROM sym GROUP BY src
        ),
        wedge AS (
            SELECT s1.dst AS a, s2.dst AS b,
                   CAST(round(1e6 / ln(d.d)) AS BIGINT) AS micro
            FROM sym s1
            JOIN sym s2 ON s1.src = s2.src AND s1.dst < s2.dst
            JOIN deg d ON d.node = s1.src
        ),
        cand AS (
            SELECT a, b,
                   CAST(count(*) AS BIGINT) AS n_common,
                   CAST(sum(micro) AS BIGINT) AS aa_micro
            FROM wedge w
            WHERE NOT EXISTS (
                SELECT 1 FROM e WHERE e.pa = w.a AND e.pb = w.b)
            GROUP BY a, b
        )
        SELECT a AS pa, b AS pb, n_common, aa_micro
        FROM cand
        ORDER BY aa_micro DESC, pa, pb
        LIMIT {_AA_TOPK}
    """,
    doc="ADAMIC-ADAR link prediction over the strong co-purchase graph: "
    "for every NON-adjacent pair sharing a neighbor, score = sum over "
    "common neighbors w of 1/ln(deg(w)) — rare shared neighbors count "
    "more — and report the top-20 predicted links (the classic "
    "'parts that will be bought together next' / record-linkage "
    "candidate ranker).  The per-neighbor contribution is quantized "
    "to integer MICRO-UNITS (round(1e6/ln d), one deterministic "
    "double op from an exact integer) before summation, so pair "
    "scores are BIGINT sums — no float summation order exists, and "
    "the top-k threshold is exact.  Wedges enumerate via the "
    "center-node self-join (dst1 < dst2), existing edges drop with an "
    "anti-join, and the global top-20 is orderBy+limit "
    "(TakeOrdered).  Scale: wedge count is sum(deg^2) — bounded here "
    "by the multi-support substrate (max degree ~15); at 100 TB the "
    "standard hub cap (skip centers above a degree bound, their "
    "1/ln(d) contribution is negligible) bolts onto the deg join as "
    "one filter.",
)
def q84h_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = strong_copurchase_edges(spark, sf_dir)
    sym = e.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        e.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("d"))
    micro = F.round(F.lit(1e6) / F.log(F.col("d"))).cast("bigint")
    s1 = sym.select(F.col("src").alias("w"), F.col("dst").alias("a"))
    s2 = sym.select(F.col("src").alias("w"), F.col("dst").alias("b"))
    wedge = (
        s1.join(s2, "w")
        .filter(F.col("a") < F.col("b"))
        .join(deg.withColumnRenamed("src", "w"), "w")
        .select("a", "b", micro.alias("micro"))
    )
    cand = (
        wedge.join(
            e,
            (wedge["a"] == e["pa"]) & (wedge["b"] == e["pb"]),
            "left_anti",
        )
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("bigint").alias("n_common"),
            F.sum("micro").cast("bigint").alias("aa_micro"),
        )
    )
    return (
        cand.select(
            F.col("a").alias("pa"), F.col("b").alias("pb"), "n_common", "aa_micro"
        )
        .orderBy(F.col("aa_micro").desc(), "pa", "pb")
        .limit(_AA_TOPK)
    )


@register(
    "q84i_degree_assortativity",
    oracle=f"""
        WITH {_STRONG_EDGES_SQL.lstrip()},
        deg AS (
            SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM sym GROUP BY src
        ),
        pairs AS (
            SELECT da.d AS x, db.d AS y
            FROM sym s
            JOIN deg da ON da.node = s.src
            JOIN deg db ON db.node = s.dst
        ),
        m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(x * y) AS BIGINT) AS sxy
            FROM pairs
        )
        SELECT n AS n_endpoints,
               round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)
                     / (CAST(n AS DOUBLE) * sxx
                        - CAST(sx AS DOUBLE) * sx), 6)
                   AS assortativity
        FROM m
    """,
    doc="DEGREE ASSORTATIVITY of the strong co-purchase graph (Newman "
    "2002): the Pearson correlation of endpoint degrees over all "
    "directed edge instances — positive means hubs attach to hubs "
    "(social-network shape), negative means hubs attach to leaves "
    "(hub-and-spoke / star shape), the one-number topology summary "
    "that decides whether degree-based sampling or hub capping will "
    "bias a pipeline.  Symmetrized edges make sum(x)=sum(y) and "
    "sum(xx)=sum(yy), so r = (n*sxy - sx^2)/(n*sxx - sx^2) from FOUR "
    "exact BIGINT sums and one mirrored double division — no "
    "variance pass, no float accumulation.  Scale: two broadcastable "
    "degree joins (the degree table is node-sized) + one partial "
    "agg; cost is |edges|, trivial on the multi-support substrate.",
)
def q84i_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = strong_copurchase_edges(spark, sf_dir)
    sym = e.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        e.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").cast("bigint").alias("d"))
    pairs = (
        sym.join(
            deg.select(F.col("src"), F.col("d").alias("x")), "src"
        )
        .join(
            deg.select(
                F.col("src").alias("dst"), F.col("d").alias("y")
            ),
            "dst",
        )
        .select("x", "y")
    )
    m = pairs.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n, sx = F.col("n").cast("double"), F.col("sx").cast("double")
    return m.select(
        F.col("n").alias("n_endpoints"),
        F.round(
            (n * F.col("sxy") - sx * F.col("sx"))
            / (n * F.col("sxx") - sx * F.col("sx")),
            6,
        ).alias("assortativity"),
    )


@register(
    "q84j_jaccard_link_prediction",
    oracle=f"""
        WITH {_STRONG_EDGES_SQL.lstrip()},
        deg AS (
            SELECT src AS node, count(*) AS d FROM sym GROUP BY src
        ),
        wedge AS (
            SELECT s1.dst AS a, s2.dst AS b
            FROM sym s1
            JOIN sym s2 ON s1.src = s2.src AND s1.dst < s2.dst
        ),
        cand AS (
            SELECT a, b, CAST(count(*) AS BIGINT) AS n_common
            FROM wedge w
            WHERE NOT EXISTS (
                SELECT 1 FROM e WHERE e.pa = w.a AND e.pb = w.b)
            GROUP BY a, b
        )
        SELECT a AS pa, b AS pb, n_common,
               CAST(da.d AS BIGINT) AS deg_a,
               CAST(db.d AS BIGINT) AS deg_b,
               round(n_common * 1.0 / (da.d + db.d - n_common), 6)
                   AS jaccard
        FROM cand
        JOIN deg da ON da.node = a
        JOIN deg db ON db.node = b
        ORDER BY n_common * 1.0 / (da.d + db.d - n_common) DESC, pa, pb
        LIMIT {_AA_TOPK}
    """,
    doc="Neighbor-set JACCARD link prediction — completing the classic "
    "trio with common-neighbors (the n_common column) and q84h's "
    "Adamic-Adar over the SAME strong-edge substrate and candidate "
    "generation, so the three scores are directly comparable: "
    "|N(a) n N(b)| / |N(a) u N(b)| with the union expanded to "
    "deg(a)+deg(b)-common (all exact integers from the wedge count "
    "and degree table — no neighbor-set materialization).  The "
    "ranking divides identical integers in both engines, so the "
    "IEEE result and therefore the top-20 order match bit-for-bit, "
    "with (pa, pb) breaking exact ties.  Scale: identical to q84h — "
    "wedge work bounded by the multi-support substrate, anti-join "
    "drops existing edges, TakeOrdered(20) global head.",
)
def q84j_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = strong_copurchase_edges(spark, sf_dir)
    sym = e.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        e.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("d"))
    s1 = sym.select(F.col("src").alias("w"), F.col("dst").alias("a"))
    s2 = sym.select(F.col("src").alias("w"), F.col("dst").alias("b"))
    wedge = s1.join(s2, "w").filter(F.col("a") < F.col("b")).select("a", "b")
    cand = (
        wedge.join(
            e,
            (wedge["a"] == e["pa"]) & (wedge["b"] == e["pb"]),
            "left_anti",
        )
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    da = deg.select(F.col("src").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("src").alias("b"), F.col("d").alias("deg_b"))
    jac = F.col("n_common") * 1.0 / (
        F.col("deg_a") + F.col("deg_b") - F.col("n_common")
    )
    return (
        cand.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.col("a").alias("pa"),
            F.col("b").alias("pb"),
            "n_common",
            F.col("deg_a").cast("bigint").alias("deg_a"),
            F.col("deg_b").cast("bigint").alias("deg_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy(jac.desc(), "pa", "pb")
        .limit(_AA_TOPK)
    )


@register(
    "qc56_containment_dedup",
    oracle="""
        WITH tok AS (
            SELECT DISTINCT doc_id, lang, source,
                   unnest(string_split(text, ' ')) AS token
            FROM documents
        ), sizes AS (
            SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM tok a
            JOIN tok b
              ON a.token = b.token AND a.lang = b.lang
             AND a.source = b.source AND a.doc_id <> b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a AS contained_doc, doc_b AS container_doc,
               CAST(sa.n_tok AS BIGINT) AS n_a,
               CAST(sb.n_tok AS BIGINT) AS n_b,
               n_common,
               round(n_common * 1.0 / sa.n_tok, 6) AS containment,
               round(n_common * 1.0
                     / (sa.n_tok + sb.n_tok - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common * 10 >= 8 * sa.n_tok
          AND n_common * 2 < sa.n_tok + sb.n_tok - n_common
    """,
    doc="ASYMMETRIC containment dedup — the excerpt detector symmetric "
    "Jaccard (q74) structurally misses: C(A,B) = |A n B| / |A| flags "
    "documents whose token set lives almost entirely inside a LARGER "
    "document (quotes, excerpts, page-within-crawl), where Jaccard "
    "is dragged below any dedup threshold by the big |A u B| "
    "denominator.  The output keeps exactly the pairs Jaccard-dedup "
    "would pass (J < 0.5) but containment catches (C >= 0.8) — both "
    "gates integer cross-multiplications, so boundary pairs classify "
    "identically cross-engine; pairs are DIRECTIONAL (contained -> "
    "container), which downstream keep-the-container policies need.  "
    "Scale: same blocked token equi-join as q74 (lang+source "
    "blocking bounds fan-out; at 100 TB the block key is the LSH "
    "band from qc39's incremental admission instead).",
)
def qc56_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.split("text", " ")).alias("token"),
    ).distinct()
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    a = tok.select(
        F.col("doc_id").alias("doc_a"), "lang", "source", "token"
    )
    b = tok.select(
        F.col("doc_id").alias("doc_b"), "lang", "source", "token"
    )
    inter = (
        a.join(b, ["token", "lang", "source"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_tok").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_tok").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(
            (F.col("n_common") * 10 >= 8 * F.col("n_a"))
            & (F.col("n_common") * 2
               < F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        .select(
            F.col("doc_a").alias("contained_doc"),
            F.col("doc_b").alias("container_doc"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            "n_common",
            F.round(F.col("n_common") * 1.0 / F.col("n_a"), 6).alias(
                "containment"
            ),
            F.round(
                F.col("n_common")
                * 1.0
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "qc58_cluster_transitivity_audit",
    oracle=f"""
        WITH comp AS ({_REGISTRY["q74b_dup_components"].oracle}),
        multi AS (
            SELECT doc_id, component FROM comp
            WHERE component IN (
                SELECT component FROM comp
                GROUP BY component HAVING count(*) >= 2
            )
        ),
        tok AS (
            SELECT DISTINCT m.component, m.doc_id,
                   unnest(string_split(d.text, ' ')) AS token
            FROM multi m JOIN documents d USING (doc_id)
        ),
        sizes AS (
            SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id
        ),
        allpairs AS (
            SELECT m1.component, m1.doc_id AS a, m2.doc_id AS b
            FROM multi m1
            JOIN multi m2 ON m1.component = m2.component
                         AND m1.doc_id < m2.doc_id
        ),
        common AS (
            SELECT t1.doc_id AS a, t2.doc_id AS b, count(*) AS n_common
            FROM tok t1
            JOIN tok t2 ON t1.token = t2.token
                       AND t1.component = t2.component
                       AND t1.doc_id < t2.doc_id
            GROUP BY 1, 2
        ),
        scored AS (
            SELECT p.component,
                   coalesce(c.n_common, 0) AS nc,
                   sa.n_tok AS na, sb.n_tok AS nb
            FROM allpairs p
            LEFT JOIN common c ON c.a = p.a AND c.b = p.b
            JOIN sizes sa ON sa.doc_id = p.a
            JOIN sizes sb ON sb.doc_id = p.b
        )
        SELECT component,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN 2 * nc < na + nb - nc
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_weak_pairs,
               round(min(nc * 1.0 / (na + nb - nc)), 6) AS min_jaccard,
               (max(CASE WHEN 2 * nc < na + nb - nc THEN 1 ELSE 0 END) = 1)
                   AS false_merge
        FROM scored
        GROUP BY component
    """,
    doc="Cluster TRANSITIVITY audit — the dedup-quality question "
    "connected components silently create: edges require Jaccard >= "
    "0.8, but components merge by CHAINS (A~B, B~C) so two members "
    "can share almost nothing; every multi-member cluster is scored "
    "on ALL its internal pairs (generated from the membership self-"
    "join, NOT from the token join — transitive pairs with zero "
    "shared tokens must appear as J=0, not vanish) and flagged "
    "false_merge when any pair falls under J=0.5.  This is the audit "
    "behind the 'keep one per cluster' decision: a flagged cluster's "
    "survivor silently deletes non-duplicates.  Weak-pair gates are "
    "integer cross-multiplications; min() over identically-computed "
    "doubles is order-safe.  Spark reuses the memoized q74b component "
    "labels (the fixpoint never reruns); the oracle embeds q74b's "
    "recursive CTE — one source of truth for CC semantics.  Scale: "
    "clusters are tiny (pair work is sum of squared CLUSTER sizes, "
    "not corpus size); the token join is blocked by component.",
)
def qc58_cluster_transitivity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    labels = _dup_component_labels(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "component"
    )
    multi = (
        labels.withColumn(
            "csize", F.count("*").over(W.partitionBy("component"))
        )
        .filter(F.col("csize") >= 2)
        .select("doc_id", "component")
    )
    d = load_table(spark, sf_dir, "documents")
    tok = (
        multi.join(d.select("doc_id", "text"), "doc_id")
        .select(
            "component",
            "doc_id",
            F.explode(F.split("text", " ")).alias("token"),
        )
        .distinct()
    )
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    m1 = multi.select("component", F.col("doc_id").alias("a"))
    m2 = multi.select(F.col("component").alias("c2"), F.col("doc_id").alias("b"))
    allpairs = m1.join(
        m2, (F.col("component") == F.col("c2")) & (F.col("a") < F.col("b"))
    ).select("component", "a", "b")
    t1 = tok.select("component", F.col("doc_id").alias("a"), "token")
    t2 = tok.select(
        F.col("component").alias("c2"),
        F.col("doc_id").alias("b"),
        F.col("token").alias("token2"),
    )
    common = (
        t1.join(
            t2,
            (F.col("component") == F.col("c2"))
            & (F.col("token") == F.col("token2"))
            & (F.col("a") < F.col("b")),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n_tok").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n_tok").alias("nb"))
    scored = (
        allpairs.join(common, ["a", "b"], "left")
        .join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .select(
            "component",
            F.coalesce("n_common", F.lit(0)).alias("nc"),
            "na",
            "nb",
        )
    )
    union = F.col("na") + F.col("nb") - F.col("nc")
    weak = F.when(2 * F.col("nc") < union, 1).otherwise(0)
    return scored.groupBy("component").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(weak).cast("bigint").alias("n_weak_pairs"),
        F.round(F.min(F.col("nc") * 1.0 / union), 6).alias("min_jaccard"),
        (F.max(weak) == 1).alias("false_merge"),
    )


#: q84l geometry: PMI floored to whole BITS (a 40-step comparison
#: ladder over milli-lift — integer-exact floor(log2 lift), no
#: transcendental), hub contexts above this degree skipped (their
#: near-uniform lift carries no signal and their wedge cost is deg^2).
_PPMI_BITS = 40
_PPMI_HUB = 64
_PPMI_TOPK = 20


def _pmi_bits_sql(lift_milli: str) -> str:
    """floor(log2(lift)) for lift = lift_milli/1000, as a fixed integer
    comparison ladder — m = #{{j in 1..40 : lift_milli >= 1000*2^j}}.
    Pure BIGINT comparisons, so Spark and DuckDB agree bit-for-bit."""
    return "(" + " + ".join(
        f"(CASE WHEN {lift_milli} >= {1000 * 2 ** j} THEN 1 ELSE 0 END)"
        for j in range(1, _PPMI_BITS + 1)
    ) + ")"


@register(
    "q84l_distributional_similarity",
    oracle=f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey AS k, l_partkey AS p FROM lineitem
        ),
        ew AS (
            SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS c
            FROM items a
            JOIN items b ON a.k = b.k AND a.p < b.p
            GROUP BY 1, 2 HAVING count(*) >= 2
        ),
        sym AS (
            SELECT pa AS node, pb AS ctx, c FROM ew
            UNION ALL SELECT pb, pa, c FROM ew
        ),
        marg AS (
            SELECT node, CAST(sum(c) AS BIGINT) AS r FROM sym GROUP BY node
        ),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM sym),
        lifted AS (
            SELECT s.node, s.ctx,
                   (s.c * t.t * 1000) // (mn.r * mc.r) AS lift_milli
            FROM sym s
            JOIN marg mn ON mn.node = s.node
            JOIN marg mc ON mc.node = s.ctx
            CROSS JOIN tot t
        ),
        vec AS (
            SELECT node, ctx, {_pmi_bits_sql('lift_milli')} AS m
            FROM lifted
            WHERE lift_milli >= 2000
        ),
        ctxdeg AS (
            SELECT ctx FROM vec GROUP BY ctx
            HAVING count(*) <= {_PPMI_HUB}
        ),
        v AS (SELECT vec.* FROM vec JOIN ctxdeg USING (ctx)),
        nsq AS (
            SELECT node, CAST(sum(m * m) AS BIGINT) AS nsq
            FROM v GROUP BY node
        ),
        cand AS (
            SELECT va.node AS pa, vb.node AS pb,
                   CAST(count(*) AS BIGINT) AS n_shared_ctx,
                   CAST(sum(va.m * vb.m) AS BIGINT) AS dot
            FROM v va
            JOIN v vb ON va.ctx = vb.ctx AND va.node < vb.node
            WHERE NOT EXISTS (
                SELECT 1 FROM ew
                WHERE ew.pa = va.node AND ew.pb = vb.node)
            GROUP BY 1, 2
        )
        SELECT pa, pb, n_shared_ctx, dot,
               round(CAST(dot AS DOUBLE)
                     / (sqrt(CAST(na.nsq AS DOUBLE))
                        * sqrt(CAST(nb.nsq AS DOUBLE))), 6) AS cosine
        FROM cand
        JOIN nsq na ON na.node = cand.pa
        JOIN nsq nb ON nb.node = cand.pb
        ORDER BY dot DESC, pa, pb
        LIMIT {_PPMI_TOPK}
    """,
    doc="DISTRIBUTIONAL similarity over the strong co-purchase graph — "
    "the graph-embedding-lite substitute finder (Levy & Goldberg 2014: "
    "PPMI context vectors are the closed-form skip-gram): each part's "
    "embedding is its positive-PMI context profile, with PMI floored "
    "to whole BITS — lift = c*T/(r_a*r_c) in exact BIGINT milli-units, "
    "then m = floor(log2 lift) via a fixed 40-step comparison ladder, "
    "so no transcendental ever enters a comparison and both engines "
    "agree bit-for-bit — and two parts are similar when their "
    "context PROFILES agree even if they are never co-purchased — the "
    "anti-join keeps only non-adjacent pairs, i.e. genuine substitute "
    "candidates rather than complements.  Candidates enumerate via the "
    "shared-context self-join (q84h's wedge shape) with a degree cap "
    f"on hub contexts (> {_PPMI_HUB} skipped — their near-uniform lift "
    "carries no signal and their wedge cost is deg^2); ranking is by "
    "the exact BIGINT dot product (tie-broken pa, pb), with the double "
    "cosine attached for interpretation only — sqrt and one division "
    "are IEEE-correctly-rounded from exact integers, so the oracle "
    "reproduces it bit-for-bit.  Scale: milli-lift weights shuffle "
    "once keyed by context, wedge volume is capped-degree-bounded, "
    "and the top-20 is a TakeOrdered — never a global sort.",
)
def q84l_distributional_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ew = _copurchase_counted(spark, sf_dir).filter(F.col("c") >= 2)
    sym = ew.select(
        F.col("pa").alias("node"), F.col("pb").alias("ctx"), "c"
    ).unionAll(ew.select(F.col("pb"), F.col("pa"), "c"))
    marg = sym.groupBy("node").agg(F.sum("c").cast("long").alias("r"))
    tot = sym.agg(F.sum("c").cast("long").alias("t"))
    lifted = (
        sym.join(marg.withColumnRenamed("r", "r_node"), "node")
        .join(
            marg.select(
                F.col("node").alias("ctx"), F.col("r").alias("r_ctx")
            ),
            "ctx",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "node",
            "ctx",
            F.expr("(c * t * 1000) div (r_node * r_ctx)").alias(
                "lift_milli"
            ),
        )
    )
    vec = lifted.filter(F.col("lift_milli") >= 2000).select(
        "node", "ctx", F.expr(_pmi_bits_sql("lift_milli")).alias("m")
    )
    ctxdeg = vec.groupBy("ctx").count().filter(
        F.col("count") <= _PPMI_HUB
    ).select("ctx")
    v = vec.join(ctxdeg, "ctx")
    nsq = v.groupBy("node").agg(F.sum(F.col("m") * F.col("m")).cast("long").alias("nsq"))
    va = v.select(F.col("ctx"), F.col("node").alias("pa"), F.col("m").alias("ma"))
    vb = v.select(F.col("ctx"), F.col("node").alias("pb"), F.col("m").alias("mb"))
    cand = (
        va.join(vb, "ctx")
        .filter(F.col("pa") < F.col("pb"))
        .join(
            ew.select("pa", "pb"),
            ["pa", "pb"],
            "left_anti",
        )
        .groupBy("pa", "pb")
        .agg(
            F.count("*").cast("long").alias("n_shared_ctx"),
            F.sum(F.col("ma") * F.col("mb")).cast("long").alias("dot"),
        )
    )
    return (
        cand.join(
            nsq.select(F.col("node").alias("pa"), F.col("nsq").alias("na")),
            "pa",
        )
        .join(
            nsq.select(F.col("node").alias("pb"), F.col("nsq").alias("nb")),
            "pb",
        )
        .select(
            "pa",
            "pb",
            "n_shared_ctx",
            "dot",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
        .orderBy(F.col("dot").desc(), "pa", "pb")
        .limit(_PPMI_TOPK)
    )
