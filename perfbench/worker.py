"""One benchmark run inside a Spark driver process.

Started by ``run.py`` with the host-fit environment already set; writes its
measurements as JSON to ``--out``.  The run is a closed loop with one client:
queries run one after another, each timed from the call to its query
function until its rows are in Python (``collect``), the way the engine's
query contract (``__spark_entry__.py``) is called.

Phases:

1. set-up: import the registry, start the session, warm up by running the
   workload's own queries once on the small (sf0.001) inputs;
2. main passes over the workload, in its listed order, on the bench inputs:
   whole passes, at least one, until the summed query time reaches
   ``--seconds``;
3. with ``--trace 1`` only, an untraced, a traced and an untraced pass
   more, from which the tracing overhead is taken;
4. checks, outside every timed window: each timed result against its DuckDB
   oracle or, for rows-only queries, non-empty with a stable schema.

With ``--trace 1`` the main passes are traced.  A traced query is a span
with three children -- build (the query function), plan (forcing the
executed plan) and exec (collect) -- and, after the query and outside its
spans, the benchmark reads the jobs the query submitted from Spark's status
store.  A streaming-query listener collects micro-batch progress.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from datetime import datetime
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import datagen  # noqa: E402
import metrics  # noqa: E402
import proctree  # noqa: E402
import workloads  # noqa: E402


class StatusReader:
    """Reads Spark's job and stage lists as JSON, one py4j call each."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._store = spark._jsc.sc().statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala.__getattr__("MODULE$"))

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        listed = self._store.stageList(None, False, False, self._no_quantiles, None)
        return json.loads(self._mapper.writeValueAsString(listed))


def _progress_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


class Runner:
    """Runs passes over one workload and keeps what they measured."""

    def __init__(self, spark, queries, order, bench_dir, reader):
        self.spark, self.queries, self.order = spark, queries, order
        self.bench_dir, self.reader = bench_dir, reader
        self.anchor = (time.perf_counter(), time.time())
        self.spans: list[dict] = []
        # Samples of the main passes, per query.
        self.wall: dict[str, list[float]] = {q: [] for q in order}
        self.cpu: dict[str, list[float]] = {q: [] for q in order}
        self.jit: dict[str, list[float]] = {q: [] for q in order}
        self.layers: dict[str, dict[str, list[float]]] = {}
        self.results = []  # (name, rows, columns, schema) per timed execution
        self.failures: list[str] = []
        self.passes = 0

    def epoch_ms(self, t_perf: float) -> int:
        perf0, wall0 = self.anchor
        return int((wall0 + (t_perf - perf0)) * 1000)

    def span(self, name, span_id, parent, start, end, **attrs):
        self.spans.append({"name": name, "id": span_id, "parent": parent,
                           "start": start, "end": end, **attrs})

    def run_pass(self, traced: bool, main: bool) -> dict[str, float]:
        """One pass in order; returns each successful query's latency and,
        for a main pass, keeps its latency, CPU and layer samples."""
        latency = {}
        after_id = max((j["jobId"] for j in self.reader.jobs()), default=-1) if traced else -1
        pass_start = time.perf_counter()
        pid = os.getpid()
        for name in self.order:
            qid = f"{name}#{self.passes}"
            cpu0, jit0 = proctree.cpu_split(pid)
            a = time.perf_counter()
            try:
                df = self.queries[name].fn(self.spark, self.bench_dir)
                b = time.perf_counter()
                if traced:
                    df._jdf.queryExecution().executedPlan()
                c = time.perf_counter()
                rows = df.collect()
                d = time.perf_counter()
            except Exception as ex:  # counted in error_rate; the run goes on
                self.failures.append(f"{qid}: {ex!r}"[:300])
                continue
            latency[name] = d - a
            if main:
                cpu1, jit1 = proctree.cpu_split(pid)
                jit = sum(jit1[k] - jit0[k] for k in jit1.keys() & jit0.keys())
                self.wall[name].append(d - a)
                self.cpu[name].append(cpu1 - cpu0)
                self.jit[name].append(jit)
            self.results.append((name, rows, df.columns, df.schema.simpleString()))
            if not traced:
                continue
            # Outside the query's spans: attribute Spark work by job-id window.
            jobs = self.reader.jobs()
            owned, build_jobs = metrics.job_window(jobs, after_id, self.epoch_ms(d), self.epoch_ms(b))
            after_id = max([after_id, *owned])
            self.span("query", qid, f"pass#{self.passes}", a, d, jobs=owned)
            self.span("build", f"{qid}/build", qid, a, b, jobs=build_jobs)
            self.span("plan", f"{qid}/plan", qid, b, c)
            self.span("exec", f"{qid}/exec", qid, c, d)
            if main:
                counters = metrics.stage_totals(jobs, self.reader.stages(), owned)
                per_q = self.layers.setdefault(name, {})
                for key, value in {
                    "build.s": b - a, "plan.s": c - b, "exec.s": d - c,
                    "build.jobs": len(build_jobs),
                    **{f"spark.{k}": v for k, v in counters.items()},
                }.items():
                    per_q.setdefault(key, []).append(value)
        self.span("pass", f"pass#{self.passes}", "run", pass_start, time.perf_counter(), traced=traced)
        self.passes += 1
        return latency


def run(args) -> dict:
    sys.path.insert(0, str(Path(args.root)))
    t0 = time.perf_counter()
    from spark_ml_optimization_spark import registry

    queries = registry.all_queries()
    t1 = time.perf_counter()
    from spark_ml_optimization_spark.session import get_spark

    spark = get_spark("perfbench")
    t2 = time.perf_counter()
    order = list(workloads.WORKLOADS[args.workload])
    warm_failures = []
    for name in order:
        try:
            queries[name].fn(spark, args.small).collect()
        except Exception as ex:  # recorded; the timed passes count it again
            warm_failures.append(f"{name}: {ex!r}"[:300])
    t3 = time.perf_counter()
    setup_cpu = proctree.cpu_seconds(os.getpid())
    setup = {"registry.load_s": t1 - t0, "session.get_spark_s": t2 - t1, "warmup.s": t3 - t2}

    from spark_ml_optimization_spark.operators import dedup

    reader = StatusReader(spark) if args.trace else None
    progress: list[dict] = []
    if args.trace:
        spark.streams.addListener(_progress_listener(progress))
    runner = Runner(spark, queries, order, args.bench, reader)

    memo_mark = len(dedup.GRAPH_MEMO_EVENTS)
    timed = 0.0
    while timed < args.seconds or runner.passes == 0:
        timed += sum(runner.run_pass(traced=bool(args.trace), main=True).values())
    memo = metrics.memo_totals(dedup.GRAPH_MEMO_EVENTS[memo_mark:])
    main_passes = runner.passes
    main_end = time.time()
    overhead = 0.0
    if args.trace:
        # Untraced, traced, untraced: the mean of the two untraced passes
        # cancels the warming trend from one pass to the next.
        before = runner.run_pass(traced=False, main=False)
        traced = runner.run_pass(traced=True, main=False)
        after = runner.run_pass(traced=False, main=False)
        common = traced.keys() & before.keys() & after.keys()
        overhead = sum(traced[q] - (before[q] + after[q]) / 2 for q in common)
    runner.span("run", "run", None, runner.anchor[0], time.perf_counter(), passes=runner.passes)

    stream_progress = []
    if args.trace:
        # Progress events reach Python asynchronously; wait until they stop,
        # then keep those whose trigger started inside a main-pass query.
        seen = -1
        while seen != len(progress):
            seen = len(progress)
            time.sleep(0.5)
        windows = [
            (runner.epoch_ms(s["start"]), runner.epoch_ms(s["end"]))
            for s in runner.spans
            if s["name"] == "query" and int(s["id"].rsplit("#", 1)[1]) < main_passes
        ]
        for p in progress:
            started = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            ms = started.timestamp() * 1000
            if any(lo - 1 <= ms <= hi for lo, hi in windows):
                stream_progress.append(p)

    wrong = _check(args, queries, runner.results)
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "order": order,
        "passes": runner.passes,
        "main_passes": main_passes,
        "attempted": len(runner.results) + len(runner.failures),
        "failed": len(runner.failures),
        "wrong": len(wrong),
        "errors": runner.failures + wrong,
        "warmup_errors": warm_failures,
        "setup": setup,
        "setup_cpu_s": setup_cpu,
        "wall": runner.wall,
        "cpu": runner.cpu,
        "jit": runner.jit,
        "main_end": main_end,
    }
    if args.trace:
        out["trace_overhead_s"] = overhead
        out["layers"] = {
            name: {k: statistics.median(v) for k, v in per.items()}
            for name, per in runner.layers.items()
        }
        out["memo"] = memo
        out["stream"] = metrics.stream_totals(stream_progress)
        Path(args.out).with_name("spans.json").write_text(json.dumps(runner.spans))
    return out


def _check(args, queries, results) -> list[str]:
    """Compare every timed result; returns the wrong ones as messages."""
    import duckdb
    import pandas as pd

    from tests.harness import canon_cell

    cache = Path(args.oracle_cache)
    cache.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    for table in datagen.TABLES:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{args.bench}/{table}.parquet')")
    oracles: dict[str, pd.DataFrame] = {}
    schemas: dict[str, str] = {}
    wrong = []
    for i, (name, rows, columns, schema) in enumerate(results):
        sql = queries[name].oracle
        if sql is None:
            first = schemas.setdefault(name, schema)
            if not rows:
                wrong.append(f"{name}#{i}: no rows")
            elif schema != first:
                wrong.append(f"{name}#{i}: schema changed to {schema}")
            continue
        if name not in oracles:
            path = cache / f"{name}.pkl"
            if path.exists():
                oracles[name] = pd.read_pickle(path)
            else:
                oracles[name] = con.execute(sql).fetchdf()
                oracles[name].to_pickle(path)
        want = oracles[name]
        got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
        cols = sorted(got.columns)
        if cols != sorted(want.columns):
            wrong.append(f"{name}#{i}: columns {cols} != {sorted(want.columns)}")
            continue
        reason = metrics.compare_rows(
            list(got[cols].itertuples(index=False, name=None)),
            list(want[cols].itertuples(index=False, name=None)),
            canon_cell,
        )
        if reason:
            wrong.append(f"{name}#{i}: {reason}"[:300])
    con.close()
    return wrong


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--root", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", required=True)
    p.add_argument("--bench", required=True)
    p.add_argument("--oracle-cache", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    Path(args.out).write_text(json.dumps(run(args)))


if __name__ == "__main__":
    main()
