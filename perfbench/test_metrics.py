"""Unit tests for the benchmark's arithmetic: ``python3 -m pytest perfbench``."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import metrics  # noqa: E402


def _canon(v):
    return "<NULL>" if v is None else v


# --- tail percentile -------------------------------------------------------


def test_tail_needs_twenty_samples():
    assert metrics.tail([1.0] * 19) is None


def test_tail_leaves_ten_samples_beyond():
    samples = [float(i) for i in range(30)][::-1]
    pct, value, n = metrics.tail(samples)
    assert n == 30
    assert sum(s > value for s in samples) == metrics.TAIL_BEYOND
    assert value == 19.0
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_at_minimum_sample_count_is_the_median_rank():
    pct, value, _ = metrics.tail([float(i) for i in range(20)])
    assert (pct, value) == (50.0, 9.0)


# --- pass total and error rate ----------------------------------------------


def test_pass_total_sums_per_query_medians():
    assert metrics.pass_total({"a": [1.0, 3.0, 2.0], "b": [10.0, 20.0], "c": []}) == 2.0 + 15.0


def test_error_rate_counts_failed_and_wrong():
    assert metrics.error_rate(attempted=20, failed=1, wrong=3) == 0.2
    assert metrics.error_rate(attempted=5, failed=0, wrong=0) == 0.0


def test_error_rate_rejects_empty_run():
    with pytest.raises(ValueError):
        metrics.error_rate(0, 0, 0)


# --- job-id window ---------------------------------------------------------


def _job(jid, sub, group=None, stages=()):
    return {"jobId": jid, "submissionTime": sub, "jobGroup": group, "stageIds": list(stages)}


def test_job_window_takes_ids_after_mark_up_to_query_end():
    jobs = [
        _job(4, 900),  # earlier query
        _job(5, 1000, group="q"),  # build-time job
        _job(6, 1500, group=None),  # micro-batch on the stream's thread
        _job(7, 2100),  # after the query ended: not ours
        _job(8, None),  # not yet submitted
    ]
    owned, build = metrics.job_window(jobs, after_id=4, end_ms=2000, build_end_ms=1200)
    assert owned == [5, 6]
    assert build == [5]


def test_job_window_empty_when_query_launched_nothing():
    assert metrics.job_window([_job(3, 10)], after_id=3, end_ms=99, build_end_ms=50) == ([], [])


# --- stage totals ----------------------------------------------------------


def _stage(sid, status="COMPLETE", tasks=2, run_ms=100, cpu_ns=50_000_000, **extra):
    return {
        "stageId": sid, "status": status, "numCompleteTasks": tasks,
        "numFailedTasks": 0, "numKilledTasks": 0, "executorRunTime": run_ms,
        "executorCpuTime": cpu_ns, "jvmGcTime": 0, **extra,
    }


def test_stage_totals_skip_skipped_stages_and_other_jobs():
    jobs = [_job(1, 0, stages=[10, 11]), _job(2, 0, stages=[12]), _job(3, 0, stages=[13])]
    stages = [
        _stage(10, shuffleWriteBytes=500),
        _stage(11, status="SKIPPED", tasks=0),
        _stage(12, shuffleReadBytes=500, inputBytes=7, memoryBytesSpilled=3, diskBytesSpilled=2),
        _stage(13),  # job 3 is not in the window
    ]
    out = metrics.stage_totals(jobs, stages, [1, 2])
    assert out["jobs"] == 2 and out["stages"] == 2 and out["tasks"] == 4
    assert out["executor_run_s"] == pytest.approx(0.2)
    assert out["executor_cpu_s"] == pytest.approx(0.1)
    assert out["shuffle_write_bytes"] == 500 and out["shuffle_read_bytes"] == 500
    assert out["input_bytes"] == 7 and out["spill_bytes"] == 5


def test_stage_totals_count_every_attempt():
    jobs = [_job(1, 0, stages=[10])]
    stages = [_stage(10, status="FAILED", tasks=1), _stage(10, tasks=2)]
    out = metrics.stage_totals(jobs, stages, [1])
    assert out["stages"] == 2 and out["tasks"] == 3


# --- streaming listener ----------------------------------------------------


def _progress(qid, rows, state_rows, add=10, commit=2):
    return {
        "id": qid, "numInputRows": rows,
        "durationMs": {"addBatch": add, "queryPlanning": 1, "walCommit": commit,
                       "commitOffsets": commit, "triggerExecution": add + 5},
        "stateOperators": [{"numRowsTotal": state_rows, "memoryUsedBytes": 8 * state_rows}],
    }


def test_stream_totals_sum_flows_and_take_peak_state_per_query():
    out = metrics.stream_totals(
        [_progress("a", 100, 40), _progress("a", 0, 25), _progress("b", 50, 10, add=20)]
    )
    assert out["batches"] == 3 and out["input_rows"] == 150
    assert out["add_batch_ms"] == 40 and out["trigger_ms"] == 55
    assert out["wal_commit_ms"] == 6 and out["commit_offsets_ms"] == 6
    assert out["state_rows"] == 40 + 10 and out["state_bytes"] == 8 * 50


def test_stream_totals_without_progress_are_zero():
    out = metrics.stream_totals([])
    assert out["batches"] == 0 and out["state_rows"] == 0 and out["add_batch_ms"] == 0


# --- graph memo ------------------------------------------------------------


def test_memo_totals_hit_ratio_over_accesses():
    out = metrics.memo_totals([("g", "build"), ("g", "hit"), ("g", "hit"), ("h", "build")])
    assert (out["builds"], out["hits"]) == (2, 2)
    assert out["hit_ratio"] == 0.5
    assert metrics.memo_totals([])["hit_ratio"] == 0.0


# --- result comparison -----------------------------------------------------


def test_exact_compare_is_order_insensitive_multiset():
    want = [(1, "a", 2.5), (2, "b", None), (2, "b", None)]
    assert metrics.compare_rows(list(reversed(want)), want, _canon) is None
    assert metrics.compare_rows([(1, "a", 2.5), (2, "b", None), (1, "a", 2.5)], want, _canon)


def test_exact_compare_rejects_last_digit_float_difference():
    assert metrics.compare_rows([("k", 0.1 + 0.2)], [("k", 0.3)], _canon) is not None


def test_compare_rejects_row_count_mismatch():
    assert "row count" in metrics.compare_rows([(1,)], [(1,), (1,)], _canon)


# --- process tree ----------------------------------------------------------


def test_process_tree_counts_own_cpu_and_memory():
    import os

    import proctree

    before = proctree.cpu_seconds(os.getpid())
    x = 0
    for i in range(3_000_000):
        x += i
    assert proctree.cpu_seconds(os.getpid()) > before
    assert proctree.rss_bytes(os.getpid()) > 10 * 2**20
    total, jit = proctree.cpu_split(os.getpid())
    assert total >= before and jit == {}  # no JVM in this tree
