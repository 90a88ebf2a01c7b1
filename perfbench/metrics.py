"""The benchmark's arithmetic: latency summaries, error accounting, job-window
attribution, Spark stage totals, streaming-progress totals and the result
comparison.  Pure functions over plain data so they can be unit-tested
without a Spark session (``python3 -m pytest perfbench``)."""

from __future__ import annotations

import statistics
from collections import Counter, defaultdict
from collections.abc import Iterable, Mapping, Sequence

#: A tail percentile needs at least this many samples beyond it ...
TAIL_BEYOND = 10
#: ... and is only reported for a run with at least this many samples.
TAIL_MIN_SAMPLES = 20


def tail(samples: Sequence[float]) -> tuple[float, float, int] | None:
    """Highest percentile with at least ``TAIL_BEYOND`` samples above it.

    Returns ``(percentile, value, sample_count)``, or ``None`` for fewer
    than ``TAIL_MIN_SAMPLES`` samples.  With ``n`` sorted samples the value
    at 0-based rank ``n - 1 - TAIL_BEYOND`` has exactly ``TAIL_BEYOND``
    samples beyond it; its percentile is the share of samples at or below.
    """
    n = len(samples)
    if n < TAIL_MIN_SAMPLES:
        return None
    rank = n - 1 - TAIL_BEYOND
    return 100.0 * (rank + 1) / n, sorted(samples)[rank], n


def pass_total(per_query: Mapping[str, Sequence[float]]) -> float:
    """One pass over the workload with every query at its median sample
    (latency or CPU time)."""
    return sum(statistics.median(v) for v in per_query.values() if v)


def error_rate(attempted: int, failed: int, wrong: int) -> float:
    """Failed plus wrong results over queries attempted."""
    if attempted < 1:
        raise ValueError("no query was attempted")
    return (failed + wrong) / attempted


def job_window(
    jobs: Iterable[Mapping], after_id: int, end_ms: int, build_end_ms: int
) -> tuple[list[int], list[int]]:
    """Jobs one query submitted, by job-id window.

    ``after_id`` is the highest job id seen before the query started and
    ``end_ms`` its end on the wall clock: the query owns every job with a
    larger id submitted no later than its end, whichever thread submitted it
    (streaming micro-batches run outside the caller's job group).  Returns
    ``(all_ids, build_ids)``; build jobs were submitted before the query
    function returned its DataFrame.
    """
    owned, build = [], []
    for job in jobs:
        jid, sub = job["jobId"], job.get("submissionTime")
        if jid <= after_id or sub is None or sub > end_ms:
            continue
        owned.append(jid)
        if sub <= build_end_ms:
            build.append(jid)
    return sorted(owned), sorted(build)


#: Stage-level counters summed over a query's stages, with their scale.
STAGE_FIELDS = {
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
}


def stage_totals(jobs: Iterable[Mapping], stages: Iterable[Mapping], job_ids: Iterable[int]) -> dict:
    """Jobs, stages that ran, tasks and executor counters for ``job_ids``.

    Skipped stages (their shuffle output was reused) did no work and are not
    counted; every attempt of a stage that ran is.
    """
    wanted = set(job_ids)
    stage_ids = set()
    for job in jobs:
        if job["jobId"] in wanted:
            stage_ids.update(job["stageIds"])
    out = {"jobs": len(wanted), "stages": 0, "tasks": 0}
    out.update({name: 0.0 for name, _ in STAGE_FIELDS.values()})
    for st in stages:
        if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"] + st["numKilledTasks"]
        for field, (name, scale) in STAGE_FIELDS.items():
            out[name] += st.get(field, 0) * scale
    return out


#: ``durationMs`` keys of a streaming progress report, by metric name.
STREAM_DURATIONS = {
    "add_batch_ms": "addBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "trigger_ms": "triggerExecution",
}


def stream_totals(progress: Iterable[Mapping]) -> dict:
    """Totals over streaming progress reports (``StreamingQueryProgress`` as
    dicts): batches, input rows, phase durations, and state size.

    State is a level, not a flow: per streaming query (``id``) take its
    largest per-batch state, then sum over queries.
    """
    out = {"batches": 0, "input_rows": 0}
    out.update({k: 0.0 for k in STREAM_DURATIONS})
    state_rows: dict[str, int] = defaultdict(int)
    state_bytes: dict[str, int] = defaultdict(int)
    for p in progress:
        out["batches"] += 1
        out["input_rows"] += p.get("numInputRows", 0)
        durations = p.get("durationMs", {})
        for name, key in STREAM_DURATIONS.items():
            out[name] += durations.get(key, 0)
        ops = p.get("stateOperators", [])
        qid = p.get("id", "")
        state_rows[qid] = max(state_rows[qid], sum(o.get("numRowsTotal", 0) for o in ops))
        state_bytes[qid] = max(state_bytes[qid], sum(o.get("memoryUsedBytes", 0) for o in ops))
    out["state_rows"] = sum(state_rows.values())
    out["state_bytes"] = sum(state_bytes.values())
    return out


def memo_totals(events: Sequence[tuple[str, str]]) -> dict:
    """Builds, hits and hit ratio (hits over accesses) of the graph memo."""
    kinds = Counter(kind for _, kind in events)
    accesses = kinds["build"] + kinds["hit"]
    return {
        "builds": kinds["build"],
        "hits": kinds["hit"],
        "hit_ratio": kinds["hit"] / accesses if accesses else 0.0,
    }


def compare_rows(got: Sequence[tuple], want: Sequence[tuple], canon) -> str | None:
    """Order-insensitive multiset comparison of two row lists whose columns
    are already in the same order; ``None`` when they match, else a reason.

    ``canon`` maps a cell to its canonical, hashable form (the test
    harness's ``canon_cell``), so every cell must match exactly, as in
    ``tests/harness.compare``.
    """
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    g = Counter(tuple(canon(v) for v in r) for r in got)
    w = Counter(tuple(canon(v) for v in r) for r in want)
    if g == w:
        return None
    return f"{sum((g - w).values())} rows differ, e.g. {next(iter(g - w))}"
