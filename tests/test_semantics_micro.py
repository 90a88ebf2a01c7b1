"""Micro unit tests on hand-built DataFrames with known answers —
boundary semantics the oracle diff can't isolate (SURVEY §5.4)."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F


def test_session_gap_boundary_exactly_30min(spark):
    """An event exactly 30:00 after the previous one stays in the SAME
    session (gap must EXCEED the threshold to split) — matches both the
    gap-and-island SQL and session_window semantics."""
    from pyspark.sql import Window as W

    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:30:00"),  # exactly the gap → same session
        (1, "2024-01-01 01:00:01"),  # 30:01 after → new session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    w = W.partitionBy("user_id").orderBy("us")
    gap_us = 30 * 60 * 1000000
    flagged = df.withColumn(
        "is_new",
        F.when(F.lag("us").over(w).isNull() | ((F.col("us") - F.lag("us").over(w)) > gap_us), 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid", F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    )
    sids = [r.sid for r in sess.orderBy("us").collect()]
    assert sids == [1, 1, 2]


def test_asof_tie_click_at_same_instant_counts(spark):
    """A click at exactly the purchase timestamp is visible to the
    purchase (ASOF <= semantics via sort-order is_purchase tiebreak)."""
    from pyspark.sql import Window as W

    rows = [
        (1, 100, "click", 10.0),
        (1, 100, "purchase", 99.0),  # same ts as click → click counts
        (1, 50, "click", 5.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, us long, event_type string, value double")
    e = df.select(
        "user_id",
        "us",
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_purchase"),
        F.when(F.col("event_type") == "click", F.col("value")).alias("click_value"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("us").asc(), F.col("is_purchase").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    out = (
        e.withColumn("last_click", F.last("click_value", ignorenulls=True).over(w))
        .filter(F.col("is_purchase") == 1)
        .collect()
    )
    assert len(out) == 1 and out[0].last_click == 10.0


def test_jaccard_known_sets(spark):
    """J({a,b,c},{b,c,d}) = 2/4 = 0.5 through the q74 expression chain."""
    rows = [(1, "a b c", "x", "s"), (2, "b c d", "x", "s")]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    tok = d.select("doc_id", "lang", "source", F.explode(F.array_distinct(F.split("text", " "))).alias("token"))
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    inter = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count("*").alias("c"))
        .collect()
    )
    assert len(inter) == 1 and inter[0].c == 2
    ns = {r.doc_id: r.n for r in sizes.collect()}
    j = inter[0].c / (ns[1] + ns[2] - inter[0].c)
    assert j == 0.5


def test_dot_product_hof_known_vectors(spark):
    from spark_ml_optimization_spark.functions.vector import dot, to_double_array

    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<double>, b array<double>"
    )
    out = df.select(dot(to_double_array("a"), to_double_array("b")).alias("d")).collect()
    assert out[0].d == 32.0


def test_simhash_identical_texts_equal(spark):
    from spark_ml_optimization_spark.operators.dedup import _simhash_batch

    pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": ["spark sql engine", "spark sql engine", "totally different words here"]})
    out = next(_simhash_batch(iter([pdf])))
    assert out.simhash[0] == out.simhash[1]
    assert out.simhash[0] != out.simhash[2]


def test_tumbling_window_boundary_inclusive_start(spark):
    """Event exactly at a window boundary belongs to the window it
    starts (start-inclusive, end-exclusive)."""
    df = spark.createDataFrame([("2024-01-02 00:00:00",)], "ts string").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    w = df.groupBy(F.window("ts", "1 day").alias("w")).count().collect()[0]
    assert w.w.start.isoformat().startswith("2024-01-02T00:00:00")


def test_stat_freq_quantile_anchored_to_exact_twins(spark):
    """q20e's sketches pinned against exact computations (the qc10/q22
    anchor pattern): freqItems must CONTAIN every value whose true
    frequency exceeds the support, and each approxQuantile estimate must
    land between the exact percentiles at rank +/- relativeError*n."""
    from spark_ml_optimization_spark.registry import all_queries
    from spark_ml_optimization_spark.sources import load_table

    from .conftest import SF_CORRECT

    row = (
        all_queries()["q20e_stat_freq_quantile"]
        .fn(spark, SF_CORRECT)
        .collect()[0]
    )
    li = load_table(spark, SF_CORRECT, "lineitem")

    # Exact heavy hitters: every flag with freq > 0.2 must be reported.
    n = li.count()
    exact = {
        r["l_returnflag"]
        for r in li.groupBy("l_returnflag").count().collect()
        if r["count"] > 0.2 * n
    }
    reported = set(row["freq_flags"].split("|"))
    assert exact <= reported

    # Exact rank brackets: GK guarantees rank error <= 0.01 * n.
    err = 0.01
    vals = (
        li.select(F.col("l_extendedprice").alias("v"))
        .orderBy("v")
        .collect()
    )
    sorted_vals = [r["v"] for r in vals]
    for p, est in [
        (0.25, row["approx_q25"]),
        (0.5, row["approx_q50"]),
        (0.75, row["approx_q75"]),
    ]:
        lo = sorted_vals[max(0, int((p - err) * n) - 1)]
        hi = sorted_vals[min(n - 1, int((p + err) * n) + 1)]
        assert lo <= est <= hi, (p, lo, est, hi)


def test_avro_roundtrip_when_connector_present(spark):
    """Gated twin of the protobuf gate: activates the moment a future
    environment ships the spark-avro connector jar (SURVEY §2.1)."""
    import pytest

    from spark_ml_optimization_spark.operators.io_ops import (
        avro_connector_available,
    )

    if not avro_connector_available():
        pytest.skip("spark-avro connector jar not on classpath")
    from spark_ml_optimization_spark.registry import all_queries

    from .conftest import SF_CORRECT

    df = all_queries()["src16_avro_roundtrip"].fn(spark, SF_CORRECT)
    assert df.count() > 0


def test_avro_probe_ignores_jars_off_the_classpath(tmp_path, monkeypatch):
    """Only pyspark's own jars/ dir is on the local JVM's classpath, so a
    spark-avro jar anywhere else must not register src16, which could
    not then find the avro source."""
    import pytest

    from spark_ml_optimization_spark.operators.io_ops import (
        avro_connector_available,
    )

    if avro_connector_available():
        pytest.skip("pyspark ships the spark-avro connector jar")
    (tmp_path / "spark-avro_2.13-x.jar").write_bytes(b"")
    monkeypatch.setenv("SPARK_GRAFT_AVRO_JARS", str(tmp_path))
    assert not avro_connector_available()


def test_winnowing_guarantee_detects_planted_run(spark, tmp_path):
    """Schleimer et al.'s local guarantee: any shared run of at least
    k + w - 1 = 8 consecutive words MUST surface as >= 1 shared
    fingerprint.  Two otherwise-disjoint docs share a planted 10-word
    run; q79b's kernel on a temp view must report the pair."""
    from spark_ml_optimization_spark.operators import text as text_ops

    # Long enough that the >= 3 shared-fingerprint emission threshold is
    # cleared comfortably (the bare k+w-1 guarantee yields >= 1 per
    # shared window span; a 30-word run spans ~23 interior windows).
    run = " ".join(
        f"w{i}" for i in range(30)
    )
    filler_a = " ".join(f"a{i}" for i in range(30))
    filler_b = " ".join(f"b{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, f"{filler_a} {run}"), (2, f"{run} {filler_b}")],
        ["doc_id", "text"],
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = text_ops.q79b_winnowing(spark, str(tmp_path)).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in out}
    assert (1, 2) in pairs, out


def test_generalization_ladder_monotone(spark):
    """qd56's lattice property: widening the band can only MERGE groups,
    so min_group_size is non-decreasing and risky-group count is
    non-increasing up the ladder (the Incognito pruning invariant)."""
    import __spark_entry__ as entry

    from .conftest import SF_SMOKE

    rows = entry.queries()["qd56_generalization_ladder"](
        spark, SF_SMOKE
    ).collect()
    by_width = sorted(rows, key=lambda r: r["width"])
    for a, b in zip(by_width, by_width[1:]):
        assert b["min_group_size"] >= a["min_group_size"], (a, b)
        assert b["n_risky_groups"] <= a["n_risky_groups"], (a, b)
        assert b["n_groups"] <= a["n_groups"], (a, b)


def test_brier_decomposition_identity(spark):
    """ml40: within_bin_variance = brier - (rel - res + unc) must be
    >= 0 (it's a variance) and small relative to brier; rel/res/unc are
    all non-negative by construction."""
    import __spark_entry__ as entry

    from .conftest import SF_SMOKE

    row = entry.queries()["ml40_brier_decomposition"](
        spark, SF_SMOKE
    ).collect()[0]
    assert row["reliability"] >= 0
    assert row["resolution"] >= 0
    assert 0 <= row["uncertainty"] <= 0.25 + 1e-9
    assert row["within_bin_variance"] >= -1e-6, row


def test_mm07_intensity_mean_half_boundary_and_partition_invariance(spark):
    """Round-8 pin of the mm07 convention (round-7 judge finding #1):
    a resolution-group mean intensity must be computed as ONE division
    over an associative int64 sum — round(avg(<per-doc double>)) was
    summation-order fragile (a 4-dp half boundary flipped with thread
    scheduling under load).  This plants images whose EXACT group mean
    sits precisely ON a 4-dp half boundary (sum 3 over 96 samples =
    0.03125) and asserts (a) the integer-pair path lands the half-up
    answer 0.0313 deterministically, and (b) the result is identical
    under 1-partition and 7-partition execution — which an avg-of-
    doubles plan does not guarantee."""
    from spark_ml_optimization_spark.operators.multimodal import (
        _decode_batch_exact,
        _decode_ppm,
    )

    def ppm(w, h, samples):
        assert len(samples) == w * h * 3
        return b"P6\n%d %d\n255\n" % (w, h) + bytes(samples)

    # Two 4x4 images (48 samples each): sums 3 and 0 -> group mean
    # 3/96 = 0.03125, exactly on the .xxxx5 boundary at 4 dp.
    imgs = [
        (0, ppm(4, 4, [1, 1, 1] + [0] * 45)),
        (1, ppm(4, 4, [0] * 48)),
        # A second resolution class (5x3, 45 samples) with an
        # off-boundary mean as a control: sums 7 and 11 -> 18/90 = 0.2.
        (2, ppm(5, 3, [7] + [0] * 44)),
        (3, ppm(5, 3, [11] + [0] * 44)),
    ]
    # Kernel-level: exact integer pairs come back.
    w, h, isum, npx = _decode_ppm(imgs[0][1])
    assert (w, h, isum, npx) == (4, 4, 3, 48)

    rows = [(i, "image/ppm", bytearray(p)) for i, p in imgs]
    df = spark.createDataFrame(
        rows, "doc_id long, media_type string, payload binary"
    )

    def profile(src):
        dec = src.mapInPandas(
            _decode_batch_exact,
            schema="doc_id long, media_type string, width int, height int,"
            " intensity_sum long, n_px long",
        )
        out = (
            dec.groupBy("width", "height")
            .agg(
                F.count("*").alias("n_assets"),
                F.sum("intensity_sum").alias("isum"),
            )
            .select(
                "width",
                "height",
                F.round(
                    F.col("isum").cast("double")
                    / (F.col("n_assets") * F.col("width") * F.col("height") * 3),
                    4,
                ).alias("avg_intensity"),
            )
        )
        return {(r["width"], r["height"]): r["avg_intensity"] for r in out.collect()}

    p1 = profile(df.repartition(1))
    p7 = profile(df.repartition(7))
    assert p1 == p7, (p1, p7)
    assert p1[(4, 4)] == 0.0313, p1  # half boundary resolves UP, always
    assert p1[(5, 3)] == 0.2, p1
