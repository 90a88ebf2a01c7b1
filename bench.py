#!/usr/bin/env python
"""Benchmark harness: runs the declared query suite at the bench scale
factor and prints ONE COMPACT JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec", "sf": 0.1,
     "n_queries": N, "n_failures": F, "queries": {<headline queries only>},
     "detail_file": "BENCH_DETAIL_c<cpus>.json", "budget_ok": true,
     "budget_breaches": 0}

The full per-query map goes to the sidecar named in `detail_file`, next
to this file: BENCH_DETAIL_c{cpus}.json for a full run (cpus = the
session's default parallelism, so runs on hosts of different sizes keep
separate records) and BENCH_DETAIL_SUBSET.json for a BENCH_QUERIES
subset.  Round 1 showed the driver tail-captures stdout, and a 142-entry
JSON line outgrew the capture window (`BENCH_r01.json` parsed: null).
The printed line stays under ~1 KB so the driver can always parse it.

Env knobs (driver contract):
    SPARK_GRAFT_SF_DIR  input dir   (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS    local[N]    (default all cores; read by get_spark)
    BENCH_QUERIES       comma-separated subset (default: all registered)
    BENCH_REPEAT        repetitions per query, best-of (default 1)

Each query is timed end-to-end (plan → execute → collect), matching how
the verify driver consumes results, by one helper, `measure`.  Timings
are warm numbers: the JVM scan path, Python-worker fork, MLlib JIT, and
streaming engine are warmed once before the timed loop.  The sidecar
records, per query, the min of its readings (the value summed) and
their median.
"""

from __future__ import annotations

import json
import os
import random
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_ml_optimization_spark import registry  # noqa: E402
from spark_ml_optimization_spark.session import get_spark  # noqa: E402

#: Flagship rows compared across rounds — timed first, right
#: after a full GC, and echoed in the compact printed line.
HEADLINE = [
    "q01_pricing_summary",
    "q10_star_join_revenue",
    "q40_topk_per_group",
    "q60_tumbling_window",
    "q70_exact_dedup",
    "q72_minhash_lsh_neardup",
    "q85_topk_cosine",
    "q86_knn_join",
    "q90_kmeans_clusters",
    "q92_ann_ivf",
    "ml03_logreg_cv_tuning",
    "ml06_als_recommender",
    "st08_stream_stream_join",
    "st11_checkpoint_exactly_once",
    "qc14_paragraph_dedup",
    "ml22_batch_scoring_sql",
    "qp1_training_data_pipeline",
]

#: The remainder runs in a seeded shuffle, so a host-contention episode
#: spreads across unrelated query families instead of landing on one
#: contiguous family and passing for a family regression.  The seed is
#: a constant so every run times the remainder in the same order.
ORDER_SEED = 12

#: Budget lines: the expensive tail is intrinsic iteration cost (MLlib
#: fits, graph fixpoints), never plan waste, so a query over 10 s or a
#: suite mean over 1.3 s/query flags a regression in every bench record
#: (and in tests/test_bench_gate.py, which reads the sidecar).
SINGLE_QUERY_LIMIT_S = 10.0
PER_QUERY_LIMIT_S = 1.3


def measure(spark, name, fn, sf_dir, n, gc=False) -> list[float]:
    """Time ``fn(spark, sf_dir).collect()`` ``n`` times back to back and
    return every reading in seconds; query exceptions propagate.

    Before the first run, outside the timed window: stop any stream a
    previous query left running and drop every cached relation (safe:
    results are already collected), plus a full JVM GC when ``gc``.  A
    long single-JVM run otherwise accumulates GC debt (checkpoint
    blocks, shuffle files, state stores) that lands as multi-second
    pauses on arbitrary later queries.  With ``n == 1`` a first reading
    over 5 s earns one more run after a full GC: such a reading is
    often a GC or JIT landing zone, and the min keeps the warm cost.
    Every Spark job the query runs carries ``name`` as its description.
    """
    sc = spark.sparkContext
    try:
        for sq in spark.streams.active:
            sq.stop()
        spark.catalog.clearCache()
        if gc:
            sc._jvm.System.gc()
    except Exception:
        pass  # hygiene must never fail the run it prepares
    sc.setJobDescription(name)
    readings: list[float] = []
    while len(readings) < n:
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        readings.append(time.perf_counter() - t0)
        if n == 1 and readings[0] > 5.0:
            n = 2
            sc._jvm.System.gc()
    return readings


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeat = int(os.environ.get("BENCH_REPEAT", "1"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark("bench")
    queries = registry.all_queries()
    subset = os.environ.get("BENCH_QUERIES")
    names = [n.strip() for n in subset.split(",")] if subset else sorted(queries)

    # Warm all execution paths once so the first query of each kind
    # doesn't pay one-time startup inside its measured window: JVM/scan
    # (parquet + codegen), Python workers (Arrow/pandas UDF fork+import),
    # and the MLlib fit path (JIT of the optimizer loop).  Warm-up at
    # the SMALLEST fixture so it costs milliseconds, and never let a
    # warm-up failure crash the bench — real failures surface per-query
    # in the timed loop below.
    small = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    warm_dir = small if os.path.isdir(small) else sf_dir
    try:
        import pandas as _pd  # noqa: F401

        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.linalg import Vectors

        if "q01_pricing_summary" in queries:
            queries["q01_pricing_summary"].fn(spark, warm_dir).collect()
        warm = spark.createDataFrame(
            [(float(i % 2), Vectors.dense([float(i), 1.0])) for i in range(8)],
            ["label", "features"],
        )
        LogisticRegression(maxIter=1).fit(warm)
        # Tree-ensemble and ALS engines JIT separate code paths (random
        # forest histogram aggregation, blocked least squares + netlib
        # BLAS binding) — warm each with a toy fit so ml06/ml10's timed
        # windows measure the algorithm, not first-use JIT/classloading.
        from pyspark.ml.recommendation import ALS
        from pyspark.ml.regression import GBTRegressor

        GBTRegressor(maxIter=2, maxDepth=2).fit(warm)
        ALS(
            rank=2, maxIter=1, userCol="u", itemCol="i", ratingCol="r",
            numUserBlocks=2, numItemBlocks=2,
        ).fit(
            spark.createDataFrame(
                [(i % 3, i % 5, 1.0) for i in range(20)], ["u", "i", "r"]
            )
        )
        spark.range(4).mapInPandas(lambda it: it, schema="id long").collect()
        # Prime the BENCH-scale parquet scans (footer reads + page-cache
        # fill): with headline queries timed first, the first touch of
        # each table would otherwise land inside their windows (measured
        # q85 0.28 -> 1.32 s when it pays the cold embeddings scan).
        from spark_ml_optimization_spark.sources import TABLES, load_table

        for t in TABLES:
            load_table(spark, sf_dir, t).count()
        # Streaming engine init (state store, micro-batch scheduler) costs
        # ~7 s once per session — warm it at the smallest fixture scale.
        if "st01_stream_tumbling" in queries:
            queries["st01_stream_tumbling"].fn(spark, warm_dir).collect()
    except Exception:
        pass  # warm-up must never fail the bench

    head_first = [n for n in HEADLINE if n in names]
    rest = [n for n in names if n not in set(head_first)]
    random.Random(ORDER_SEED).shuffle(rest)
    names = head_first + rest

    # Graph-family memo audit: _GRAPH_MEMO survives clearCache between
    # queries by design, so mark which queries built a shared artifact
    # inside their own timed window ("<artifact>:build") and which
    # reused one an earlier query paid for ("<artifact>:hit").
    from spark_ml_optimization_spark.operators.dedup import GRAPH_MEMO_EVENTS

    memo_annotations: dict[str, list[str]] = {}
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    failures: dict[str, str] = {}
    for i, name in enumerate(names):
        fn = queries[name].fn
        memo_mark = len(GRAPH_MEMO_EVENTS)
        # Headline rows are the cross-round comparison anchors; a single
        # reading carries 1.4-1.7x JIT/GC noise, so they get two.
        n = max(repeat, 2) if name in HEADLINE else repeat
        try:
            readings = measure(spark, name, fn, sf_dir, n, gc=i % 5 == 0)
        except Exception as ex:  # surfaced in the sidecar and exit code
            failures[name] = f"{type(ex).__name__}: {ex}"[:200]
        else:
            timings[name] = round(min(readings), 3)
            medians[name] = round(statistics.median(readings), 3)
        memo_events = GRAPH_MEMO_EVENTS[memo_mark:]
        if memo_events:
            memo_annotations[name] = sorted(
                {f"{k}:{kind}" for k, kind in memo_events}
            )

    per_query = round(sum(timings.values()) / max(len(timings), 1), 3)
    breaches = {n: t for n, t in timings.items() if t > SINGLE_QUERY_LIMIT_S}
    budget = {
        "per_query_s": per_query,
        "per_query_limit_s": PER_QUERY_LIMIT_S,
        "single_query_limit_s": SINGLE_QUERY_LIMIT_S,
        "breaches": breaches,
        "order_seed": ORDER_SEED,
        "graph_memo": memo_annotations,
        "ok": per_query <= PER_QUERY_LIMIT_S and not breaches,
    }
    detail = {
        "metric": "declared-suite wall clock (collect), warm, sum of per-query"
        " min over best-of-%d (headline best-of-%d; a lone reading over 5 s"
        " gets one more after a full GC)" % (repeat, max(repeat, 2)),
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries": timings,
        "median": medians,
        "failures": failures,
        "budget": budget,
    }
    cpus = spark.sparkContext.defaultParallelism
    detail_name = "BENCH_DETAIL_SUBSET.json" if subset else f"BENCH_DETAIL_c{cpus}.json"
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), detail_name)
    detail_written = True
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError:
        detail_written = False  # read-only checkout must not fail the bench

    out = {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_failures": len(failures),
        "queries": {n: timings[n] for n in HEADLINE if n in timings},
        "detail_file": detail_name,
        "budget_ok": budget["ok"],
        "budget_breaches": len(breaches),
    }
    if failures and not detail_written:
        # Sidecar lost (read-only checkout / full disk): the printed line
        # is then the only record — carry a truncated failures map so the
        # driver can still see WHICH queries broke.
        out["failures"] = {k: v[:80] for k, v in list(failures.items())[:5]}
    print(json.dumps(out))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
