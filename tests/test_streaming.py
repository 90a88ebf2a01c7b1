"""Streaming-twin semantics: the streaming operators must agree with
their hash-verified batch twins over the static fixture (one logical
plan, two execution modes — SURVEY.md §2.9)."""

from __future__ import annotations

from spark_ml_optimization_spark.registry import all_queries

from .conftest import SF_CORRECT


def test_stream_dedup_matches_batch_keys(spark):
    """st04's dropDuplicatesWithinWatermark must emit exactly one row per
    (user_id, event_type) — the same key set q64's batch dedup keeps.
    (Which event survives per key is arbitrary in streaming; the KEY SET
    is the deterministic contract.)"""
    batch = all_queries()["q64_windowed_dedup"].fn(spark, SF_CORRECT).toPandas()
    stream = all_queries()["st04_stream_dedup"].fn(spark, SF_CORRECT).toPandas()
    bkeys = set(zip(batch.user_id, batch.event_type))
    skeys = set(zip(stream.user_id, stream.event_type))
    assert len(stream) == len(skeys), "stream emitted duplicate keys"
    assert skeys == bkeys


def test_stream_tumbling_matches_batch_counts(spark):
    """st01's windowed counts must equal q60's batch tumbling counts."""
    import pandas as pd

    batch = all_queries()["q60_tumbling_window"].fn(spark, SF_CORRECT).toPandas()
    stream = all_queries()["st01_stream_tumbling"].fn(spark, SF_CORRECT).toPandas()
    # st01 emits unix-micro window bounds (tz-independent, oracle-
    # comparable); q60 emits naive timestamps — normalize for compare.
    b = {
        (pd.Timestamp(r.window_start).value // 1000, r.event_type): r.n_events
        for r in batch.itertuples()
    }
    s = {
        (r.window_start_us, r.event_type): r.n_events
        for r in stream.itertuples()
    }
    assert s == b


def test_stream_stream_left_join_emits_unmatched(spark):
    """st09: every purchase appears; purchases with no qualifying click
    carry NULL click_id; matched pairs equal st08's inner join."""
    from spark_ml_optimization_spark.registry import all_queries

    left = all_queries()["st09_stream_stream_left_join"].fn(spark, SF_CORRECT)
    rows = left.collect()
    inner = all_queries()["st08_stream_stream_join"].fn(spark, SF_CORRECT).collect()
    matched = [r for r in rows if r["click_id"] is not None]
    assert sorted(map(tuple, matched)) == sorted(map(tuple, inner))
    purchases = {r["purchase_id"] for r in rows}
    from spark_ml_optimization_spark.sources import load_table
    from pyspark.sql import functions as F

    events = load_table(spark, SF_CORRECT, "events")
    rows_all = (
        events.filter(F.col("event_type") == "purchase")
        .select("event_id", "ts")
        .collect()
    )
    # The sequenced watermark-driver batches (st09's oracle note) push
    # the global watermark past EVERY fixture purchase's eviction bound
    # before the stream stops, so the deterministic contract is total:
    # every purchase emits, matched or NULL — no watermark-tail holdout.
    assert purchases == {r["event_id"] for r in rows_all}
    # Sentinel driver rows must never leak into the result.  The query
    # itself filters p_user >= 0, so asserting on p_user would be
    # tautological; the real leak channels are the EVENT ids — a
    # sentinel click (event_id < 0) joined onto a fixture purchase
    # would survive the p_user filter.  Sentinel event ids are the
    # negative ones (-2,-3,-4,-5 by construction).
    assert all(r["purchase_id"] >= 0 for r in rows)
    assert all(r["click_id"] is None or r["click_id"] >= 0 for r in rows)


def test_stream_upsert_matches_batch_counts(spark):
    """st10's serving table (streaming foreachBatch keyed merge) must
    equal the batch per-user groupBy exactly — the upsert is idempotent
    and loses no epochs."""
    from pyspark.sql import functions as F

    from spark_ml_optimization_spark.sources import load_table

    served = (
        all_queries()["st10_stream_upsert_serving"].fn(spark, SF_CORRECT).toPandas()
    )
    truth = (
        load_table(spark, SF_CORRECT, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.unix_micros(F.max("ts").cast("timestamp")).alias("last_ts_us"),
        )
        .toPandas()
    )
    m = served.merge(truth, on="user_id", suffixes=("_s", "_t"))
    assert len(m) == len(truth) == len(served)
    assert (m.n_events_s == m.n_events_t).all()
    assert (m.last_ts_us_s == m.last_ts_us_t).all()


def test_st15_transform_with_state_gated(spark, duck):
    """st15 registers only when protobuf exists (the src16 Avro-gate
    pattern); when it does, the query must hash-match its per-user
    batch-total oracle like st06."""
    import pytest

    from spark_ml_optimization_spark.streaming.stream_ops import (
        transform_with_state_available,
    )

    if not transform_with_state_available():
        from spark_ml_optimization_spark.registry import all_queries

        assert "st15_transform_with_state" not in all_queries()
        pytest.skip("protobuf absent: transformWithStateInPandas unavailable")
    from spark_ml_optimization_spark.registry import all_queries

    from .conftest import SF_CORRECT
    from .harness import run_and_compare

    q = all_queries()["st15_transform_with_state"]
    run_and_compare(spark, duck, q.fn, q.oracle, "st15", SF_CORRECT)


def test_stream_stream_full_join_emits_both_sides(spark):
    """st21: matched pairs equal st08's inner join; unmatched purchases
    carry NULL click_id (st09's left rows); unmatched clicks carry NULL
    purchase_id (the full-outer addition); sentinels never leak."""
    from spark_ml_optimization_spark.registry import all_queries

    full = all_queries()["st21_stream_stream_full_join"].fn(spark, SF_CORRECT)
    rows = full.collect()
    inner = all_queries()["st08_stream_stream_join"].fn(spark, SF_CORRECT).collect()
    matched = [
        (r["purchase_id"], r["click_id"], r["p_user"])
        for r in rows
        if r["click_id"] is not None and r["purchase_id"] is not None
    ]
    assert sorted(matched) == sorted(map(tuple, inner))
    right_only = [r for r in rows if r["purchase_id"] is None]
    assert right_only, "full outer must emit unmatched clicks"
    assert all(r["c_user"] is not None and r["c_user"] >= 0 for r in right_only)
    left_only = [r for r in rows if r["click_id"] is None]
    assert left_only, "full outer must emit unmatched purchases"
    # Sentinel leak channels: negative event ids on either side.
    assert all(r["purchase_id"] is None or r["purchase_id"] >= 0 for r in rows)
    assert all(r["click_id"] is None or r["click_id"] >= 0 for r in rows)


def test_offset_replay_delivers_batch_twice_and_sink_absorbs_it(spark, tmp_path):
    """Pins st30's MECHANISM, not just its end result: losing
    commits/<n> (offsets/<n> intact) makes the restarted engine
    re-execute batch n into the sink — the foreachBatch fn observes
    the SAME batch id twice — and the overwrite-by-batch-id sink
    leaves byte-identical output, so the duplicate delivery is
    invisible.  An append sink would hold 2x the replayed batch."""
    import os
    import shutil

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    os.makedirs(src)
    os.makedirs(out)
    spark.range(10).coalesce(1).write.parquet(os.path.join(src, "p1"))
    delivered = []

    def sink(df, bid):
        delivered.append(int(bid))
        df.write.mode("overwrite").parquet(os.path.join(out, f"b={bid}"))

    def run(ck_dir):
        q = (
            spark.readStream.schema("id long")
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck_dir)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run(ck)
    ck2 = str(tmp_path / "ck2")
    shutil.copytree(ck, ck2)
    for name in ("0", ".0.crc"):
        p = os.path.join(ck2, "commits", name)
        if os.path.exists(p):
            os.remove(p)
    spark.range(10, 20).coalesce(1).write.parquet(os.path.join(src, "p2"))
    run(ck2)
    assert delivered == [0, 0, 1], delivered  # batch 0 REPLAYED
    got = sorted(
        r["id"] for r in spark.read.parquet(os.path.join(out, "b=0"), os.path.join(out, "b=1")).collect()
    )
    assert got == list(range(20)), got  # idempotent: no 2x, no loss


def _events_fixture(tmp_path, keep):
    """A one-table sf_dir whose events.parquet is sf0.01's events
    filtered by ``keep`` (table -> row mask), schema unchanged."""
    import pyarrow.parquet as pq

    table = pq.read_table(f"{SF_CORRECT}/events.parquet")
    pq.write_table(table.filter(keep(table)), str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_split_restart_twins_survive_a_missing_parity(spark, tmp_path):
    """st11/st30 split the fixture by event_id parity with one
    dynamic-partition write, which creates no directory for a parity
    without rows.  On an odd-ids-only fixture both must still match
    their oracles over that file."""
    import duckdb
    import pyarrow.compute as pc

    from .harness import compare

    sf_dir = _events_fixture(
        tmp_path, lambda t: pc.equal(pc.bit_wise_and(t["event_id"], 1), 1)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    for name in ("st11_checkpoint_exactly_once", "st30_offset_replay_sink"):
        q = all_queries()[name]
        compare(q.fn(spark, sf_dir).toPandas(), con.execute(q.oracle).df(), name)
    con.close()


def test_sentinel_driven_twins_on_an_empty_fixture(spark, tmp_path):
    """st09/st21/st22/st24 plant no driver batches when the fixture has
    no rows (there is nothing to evict, finalize or drop): the shared
    memory-sink driver runs the lone fixture batch and each query
    returns zero rows."""
    sf_dir = _events_fixture(tmp_path, lambda t: [False] * t.num_rows)
    for name in (
        "st09_stream_stream_left_join",
        "st21_stream_stream_full_join",
        "st22_stream_chained_windows",
        "st24_stream_late_data_drop",
    ):
        assert all_queries()[name].fn(spark, sf_dir).count() == 0, name


def test_drift_monitor_counts_events_without_a_reference(spark, tmp_path):
    """st12 with no reference rows (no event_id % 3 == 0): the decile
    edges, the reference bin counts and the PSI join are all empty, yet
    each monitoring row must still carry its micro-batch's row count
    (psi_total is then NULL)."""
    import pyarrow as pa

    sf_dir = _events_fixture(
        tmp_path, lambda t: pa.array(t["event_id"].to_numpy() % 3 != 0)
    )
    ids = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    batch_rows = sorted(
        ids.filter(f"event_id % 3 = {m}").count() for m in (1, 2)
    )
    rows = all_queries()["st12_stream_drift_monitor"].fn(spark, sf_dir).collect()
    got = [r["n_events"] for r in rows]
    assert None not in got and sorted(got) == batch_rows, rows
    assert all(r["n_batches"] == 2 and r["psi_total"] is None for r in rows)


def test_stage_once_leaves_only_a_complete_stage(tmp_path):
    """A write that raises leaves nothing at the stage path, so the next
    call writes the stage; once it exists, later calls reuse it without
    calling the writer."""
    import os

    import pytest

    from spark_ml_optimization_spark import scratch
    from spark_ml_optimization_spark.streaming.stream_ops import _stage_once

    sf_dir = str(tmp_path)
    calls = []

    def write(d, fail=False):
        calls.append(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as fh:
            fh.write("x")
        if fail:
            raise RuntimeError("write failed")

    dst = scratch.path("stage_once_test", sf_dir)
    with pytest.raises(RuntimeError, match="write failed"):
        _stage_once("stage_once_test", sf_dir, lambda d: write(d, fail=True))
    assert not os.path.exists(dst)
    assert not os.path.exists(calls[0])  # the partial copy is removed
    assert _stage_once("stage_once_test", sf_dir, write) == dst
    assert os.listdir(dst) == ["part-0.parquet"]
    assert _stage_once("stage_once_test", sf_dir, write) == dst
    assert len(calls) == 2


def test_stage_once_under_concurrent_callers(tmp_path):
    """Threads that race to stage one input all get the same complete
    stage, and every losing copy is removed."""
    import os
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from spark_ml_optimization_spark import scratch
    from spark_ml_optimization_spark.streaming.stream_ops import _stage_once

    sf_dir = str(tmp_path)

    def write(d):
        for i in range(3):
            with open(os.path.join(d, f"part-{i}.parquet"), "w") as fh:
                fh.write(threading.current_thread().name)
            time.sleep(0.001)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            futures = [
                pool.submit(_stage_once, "stage_race_test", sf_dir, write)
                for _ in range(32)
            ]
            got = {f.result(timeout=60) for f in futures}
    finally:
        sys.setswitchinterval(old)
    dst = scratch.path("stage_race_test", sf_dir)
    assert got == {dst}
    files = sorted(os.listdir(dst))
    assert files == [f"part-{i}.parquet" for i in range(3)]
    writers = {open(os.path.join(dst, f)).read() for f in files}
    assert len(writers) == 1  # one writer's complete copy, not a mix
    root, name = os.path.split(dst)
    assert [n for n in os.listdir(root) if n.startswith("stage_race_test")] == [name]
