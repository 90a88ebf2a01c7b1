"""Benchmark entry point: one run of one workload, result as the last line.

    python3 perfbench/run.py --workload sql_short --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout.  The run

1. sizes the Spark session to this host (``SPARK_DRIVER_MEMORY`` from
   ``MemTotal``, ``SPARK_GRAFT_CPUS`` from the usable cores) and puts every
   scratch, temp and warehouse directory under ``perfbench/.work``;
2. generates the workload's inputs from ``--seed`` (cached per seed);
3. runs ``worker.py`` in a child process while sampling the resident memory
   of its whole process tree (Python driver, JVM, Python workers) from
   ``/proc``;
4. prints a human-readable report, then one JSON object
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
   with ``--trace 0``, the per-layer metrics with ``--trace 1``.

It exits non-zero, printing no result, when the engine's sources are not in
the checkout or the run fails.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import metrics  # noqa: E402
import proctree  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: Share of physical memory given to the driver heap (local mode: the one
#: JVM holds driver and executors); the rest is left to Python workers,
#: the page cache and other tenants of the host.
HEAP_SHARE = 0.25
#: Hard ceiling on one run, well inside the 180 s a run may take.
RUN_TIMEOUT_S = 170
SMALL_SF = 0.001


def host() -> dict:
    """Cores, heap and scratch placement for this host."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = max(1024, int(mem_kb / 1024 * HEAP_SHARE))
    cores = len(os.sched_getaffinity(0))
    WORK.mkdir(parents=True, exist_ok=True)
    return {"cores": cores, "heap_mb": heap_mb, "scratch_fs": _fs_type(WORK)}


def _fs_type(path: Path) -> str:
    best, fs = "", "unknown"
    real = str(path.resolve())
    with open("/proc/mounts") as f:
        for line in f:
            _, mount, kind, *_ = line.split()
            if (real == mount or real.startswith(mount.rstrip("/") + "/")) and len(mount) > len(best):
                best, fs = mount, kind
    return fs


class RssSampler(threading.Thread):
    """Samples the process tree's RSS every ``interval`` seconds."""

    def __init__(self, pid: int, interval: float = 0.5):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.samples: list[tuple[float, int]] = []
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.is_set():
            self.samples.append((time.time(), proctree.rss_bytes(self.pid)))
            self.done.wait(self.interval)

    def peak(self, start: float, end: float) -> int:
        return max((b for t, b in self.samples if start <= t <= end), default=0)


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                if os.getpgid(int(entry)) == pgid:
                    return True
            except ProcessLookupError:
                continue
    return False


def _run_worker(cmd: list[str], env: dict, cwd: Path) -> tuple[int, str, RssSampler]:
    """Run the worker in its own process group, sampling its tree's RSS.

    The group holds the worker, its JVM and the JVM's Python workers; on
    timeout or interrupt it is killed, and either way this returns only once
    every process in it has ended.
    """
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, start_new_session=True,
                            stdout=sys.stderr, stderr=subprocess.PIPE, text=True)
    sampler = RssSampler(proc.pid)
    sampler.start()
    err = ""
    try:
        _, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        err = f"worker exceeded {RUN_TIMEOUT_S} s"
    finally:
        sampler.done.set()
        sampler.join()
        deadline = time.time() + 30
        while _group_alive(proc.pid):
            if time.time() > deadline or proc.poll() is None:
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)
        proc.wait()
    return proc.returncode, err, sampler


def _inputs(seed: int) -> tuple[Path, Path]:
    small = WORK / "inputs" / f"sf{SMALL_SF}-seed{seed}"
    bench = WORK / "inputs" / f"sf0.1-seed{seed}"
    datagen.generate(small, SMALL_SF, seed)
    datagen.generate(bench, 0.1, seed)
    return small, bench


def measures(res: dict, hw: dict, rss_peak: int) -> dict[str, tuple[float, str]]:
    """Every metric this run measured, by name, as ``(value, unit)``."""
    samples = [v for q in res["order"] for v in res["wall"][q]]
    out = {
        "cpu_s": (metrics.pass_total(res["cpu"]), "s"),
        "setup_s": (res["setup_cpu_s"], "s"),
        "wall_s": (metrics.pass_total(res["wall"]), "s"),
        "query_p50_s": (statistics.median(samples) if samples else 0.0, "s"),
        "jvm.jit_cpu_s": (metrics.pass_total(res["jit"]), "s"),
        "setup.wall_s": (sum(res["setup"].values()), "s"),
        **{k: (v, "s") for k, v in res["setup"].items()},
        "peak_rss_mb": (rss_peak / 2**20, "MB"),
        "error_rate": (metrics.error_rate(res["attempted"], res["failed"], res["wrong"]), "ratio"),
    }
    tail = metrics.tail(samples)
    if tail:
        out["query_tail_s"] = (tail[1], "s")
    if "layers" not in res:
        return out
    layers = res["layers"]
    total = collections.Counter()
    for per in layers.values():
        total.update(per)
    for k in ("build.s", "plan.s", "exec.s", "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s"):
        out[k] = (total[k], "s")
    for k in ("build.jobs", "spark.jobs", "spark.stages", "spark.tasks"):
        out[k] = (total[k], "count")
    traced_wall = out["wall_s"][0]
    run_s = total["spark.executor_run_s"]
    out["spark.slot_busy_frac"] = (run_s / (traced_wall * hw["cores"]) if traced_wall else 0.0, "ratio")
    out["spark.cpu_frac"] = (total["spark.executor_cpu_s"] / run_s if run_s else 0.0, "ratio")
    out["sources.input_bytes"] = (total["spark.input_bytes"], "bytes")
    out["shuffle.read_bytes"] = (total["spark.shuffle_read_bytes"], "bytes")
    out["shuffle.write_bytes"] = (total["spark.shuffle_write_bytes"], "bytes")
    out["spill.bytes"] = (total["spark.spill_bytes"], "bytes")
    memo = res["memo"]
    out["graph_memo.builds"] = (memo["builds"], "count")
    out["graph_memo.hits"] = (memo["hits"], "count")
    out["graph_memo.hit_ratio"] = (memo["hit_ratio"], "ratio")
    counts = {"batches", "input_rows", "state_rows"}
    for k, v in res["stream"].items():
        unit = "count" if k in counts else "bytes" if k == "state_bytes" else "ms"
        out[f"stream.{k}"] = (v / res["main_passes"], unit)
    out["trace.wall_s"] = (traced_wall, "s")
    out["trace.overhead_s"] = (res["trace_overhead_s"], "s")
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "spark_ml_optimization_spark" / "registry.py").is_file():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    hw = host()
    small, bench = _inputs(args.seed)
    fingerprint = (bench / "FINGERPRINT").read_text().strip()
    run_dir = WORK / f"run-{os.getpid()}"
    for sub in ("scratch", "tmp", "cwd"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_DRIVER_MEMORY": f"{hw['heap_mb']}m",
        "SPARK_GRAFT_CPUS": str(hw["cores"]),
        "SPARK_GRAFT_SCRATCH": str(run_dir / "scratch"),
        "SPARK_LOCAL_DIRS": str(run_dir / "scratch"),
        "TMPDIR": str(run_dir / "tmp"),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    out = run_dir / "result.json"
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--root", str(ROOT), "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--small", str(small), "--bench", str(bench),
        "--oracle-cache", str(WORK / "oracle" / fingerprint), "--out", str(out),
    ]
    started = time.time()
    code, err, sampler = _run_worker(cmd, env, run_dir / "cwd")
    if code != 0 or not out.exists():
        sys.stderr.write(err[-4000:])
        print(f"worker failed with exit code {code}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    res = json.loads(out.read_text())
    keep = WORK / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    keep.mkdir(parents=True, exist_ok=True)
    shutil.copy(out, keep / "result.json")
    if args.trace:
        shutil.copy(run_dir / "spans.json", keep / "spans.json")
    shutil.rmtree(run_dir, ignore_errors=True)

    rss_peak = sampler.peak(started, res["main_end"])
    measured = measures(res, hw, rss_peak)
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in declared["per_layer" if args.trace else "end_to_end"]]
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"passes={res['passes']} queries={len(res['order'])} cores={hw['cores']} "
          f"heap={hw['heap_mb']}MB scratch={run_dir / 'scratch'} ({hw['scratch_fs']})")
    print(f"# attempted={res['attempted']} failed={res['failed']} wrong={res['wrong']}")
    for line in res["warmup_errors"]:
        print(f"# warm-up error: {line}")
    for line in res["errors"]:
        print(f"# error: {line}")
    samples = [v for q in res["order"] for v in res["wall"][q]]
    tail = metrics.tail(samples)
    if tail:
        print(f"# query_tail_s is p{tail[0]:.1f} of {tail[2]} samples")
    else:
        print(f"# query_tail_s: not measured, {len(samples)} samples < {metrics.TAIL_MIN_SAMPLES}")
    for name, (value, unit) in measured.items():
        print(f"# {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": res["failed"] == 0 and res["wrong"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"] + res["wrong"],
        "metrics": {k: {"value": measured[k][0], "unit": measured[k][1]} for k in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
