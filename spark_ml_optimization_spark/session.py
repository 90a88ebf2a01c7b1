"""SparkSession construction and runtime configuration.

The driver owns the SparkSession for verification (``__spark_entry__.py``),
so everything here must also be applicable to an *existing* session at
runtime — ``configure()`` sets only runtime-settable SQL confs.
"""

from __future__ import annotations

import os
import threading
import zipfile
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import SparkSession

from . import scratch

#: Runtime-settable confs applied to every session we touch.  All of these
#: are safe to set after session start (SQLConf, not SparkConf).
RUNTIME_CONFS = {
    # Deterministic timestamp semantics vs the DuckDB oracle (naive/UTC).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning, partition coalescing, skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Local-mode-right shuffle width; AQE coalesces below this as needed.
    # On a real cluster this would be ~2-3x total cores instead.
    "spark.sql.shuffle.partitions": "32",
    # Arrow transfer for toPandas / pandas UDFs (vectorized Python boundary).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: TPC-H-ish fixtures contain no edge cases that need it and
    # non-ANSI matches DuckDB's permissive casts more closely.
    "spark.sql.ansi.enabled": "false",
    # Lets the vectorized reader accept a TIMESTAMP(NANOS) ``events.ts``
    # (read as LongType, see sources/io.py); harmless on a micros fixture.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


_SHIPPED: set[str] = set()
_ZIP_LOCK = threading.Lock()


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors via addPyFile.

    Python workers unpickle module-level UDF kernels (mapInPandas etc.) by
    importing their defining module — which only works if the package is on
    every worker's path.  This is the same mechanism that deploys the
    library to a real cluster; in local mode it also makes the engine
    importable regardless of the driver process's cwd.  The zip is made
    once per process, under its scratch root, and shipped once per
    SparkContext.
    """
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED:
        return
    pkg_root = Path(__file__).resolve().parent
    zip_path = Path(scratch.path(f"{pkg_root.name}.zip"))
    # Threaded test lanes call configure() concurrently: write it once.
    with _ZIP_LOCK:
        if not zip_path.exists():
            with zipfile.ZipFile(zip_path, "w") as zf:
                for py in sorted(pkg_root.rglob("*.py")):
                    zf.write(py, Path(pkg_root.name) / py.relative_to(pkg_root))
    try:
        sc.addPyFile(str(zip_path))
    except Exception as ex:
        # The only benign failure is re-registering the same file with
        # this context; anything else (permissions, tmp-dir) would
        # surface later as obscure worker-side import errors — warn
        # loudly and do NOT mark the context as shipped.
        if "same" in str(ex).lower() or "already" in str(ex).lower():
            pass
        else:
            import warnings

            warnings.warn(f"addPyFile({zip_path}) failed: {ex!r}", RuntimeWarning)
            return
    _SHIPPED.add(key)


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver- or test-owned)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not settable at runtime in this Spark build — skip.
            pass
    _ship_package(spark)
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on ``spark`` for the ``with`` body, then restore each
    key's previous value, or unset it if the session had none — the
    contract of PySpark's ``SQLTestUtils.sql_conf``.  The only way
    package code changes session conf outside this module."""
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


#: The session-scoped artifact memo, keyed by (Spark application id,
#: sf_dir, artifact name): each value is built once per SparkContext and
#: fixture, then reused by every later query that asks for it.  Artifacts:
#: the graph family's eagerly checkpointed id-only edge/label tables
#: (``dedup``: copurchase_counted, copurchase, strong_copurchase,
#: dup_components), ``bpe.learned_merges`` (qc42/qc43), q80d's confusion
#: matrix (q80e) and ``bucketing``'s table names (src04).  Checkpoint
#: blocks survive ``clearCache()`` between bench queries, and this
#: reference keeps the ContextCleaner from dropping them.  The
#: application id, never ``id()``, ties a value to its context: CPython
#: reuses ids after GC.
_MEMO: dict[tuple[str, str, str], object] = {}

#: Audit trail of every memo access, ``(name, "build"|"hit")``, so a
#: timing harness can say which queries consumed an artifact an earlier
#: query paid for (bench.py's ``graph_memo`` sidecar block, perfbench's
#: ``graph_memo.*`` counters).  Append-only and never rebound: consumers
#: hold this list object and snapshot it by length.
MEMO_EVENTS: list[tuple[str, str]] = []


def memo(spark: SparkSession, sf_dir: str, name: str, build):
    """``build()``'s value for ``(spark's application, sf_dir, name)``,
    built on the first call and reused after; each call is recorded in
    :data:`MEMO_EVENTS`."""
    k = (spark.sparkContext.applicationId, sf_dir, name)
    value = _MEMO.get(k)
    if value is None:
        # benign under the threaded fastlane: a double build is two
        # valid values; setdefault keeps exactly one referenced.
        value = _MEMO.setdefault(k, build())
        MEMO_EVENTS.append((name, "build"))
    else:
        MEMO_EVENTS.append((name, "hit"))
    return value


_MB = 1024**2
#: Free space a tmpfs needs, and RAM it must leave beside the heap, before
#: it becomes the default scratch.
_TMPFS_MIN = 8 * 1024**3


def default_heap_mb(phys_bytes: int) -> int:
    """Driver heap for a host with ``phys_bytes`` of RAM: half of it, at
    least 1g.  Local mode runs driver and executors in this one JVM; the
    other half is left to Python workers, the page cache and tmpfs."""
    return max(1024, phys_bytes // 2 // _MB)


def tmpfs_scratch_fits(shm_free_bytes: int, phys_bytes: int, heap_mb: int) -> bool:
    """Whether a tmpfs with ``shm_free_bytes`` free may hold scratch.  A
    tmpfs stores its files in RAM, so beyond its own free space the host
    must keep ``_TMPFS_MIN`` of RAM spare after the heap."""
    return shm_free_bytes >= _TMPFS_MIN and phys_bytes - heap_mb * _MB >= _TMPFS_MIN


def _memory_mb(spec: str) -> int:
    """MiB in a ``spark.driver.memory`` string such as ``8g`` or ``512m``
    (no suffix means MiB, as Spark reads it)."""
    spec = spec.strip().lower().removesuffix("b")
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024**2}
    if spec[-1:] in scale:
        return int(float(spec[:-1]) * scale[spec[-1]])
    return int(spec)


def get_spark(app_name: str = "spark_ml_optimization_spark") -> SparkSession:
    """Build (or get) a local session sized for this host.

    local[N] with N from SPARK_GRAFT_CPUS (default: all cores).  Single-JVM
    local mode: driver memory is the only knob, half the host's RAM unless
    SPARK_DRIVER_MEMORY says otherwise.  Cluster deployments would
    configure executors instead; the SQL confs in RUNTIME_CONFS apply to
    both deployment shapes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = os.environ.get("SPARK_DRIVER_MEMORY") or f"{default_heap_mb(phys)}m"
    heap_mb = _memory_mb(heap)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # Scratch on tmpfs when available (optimization round 10, guide §6):
    # shuffle files, block-manager spill, and Structured Streaming's
    # temporary checkpoint/state directories are latency-bound local I/O
    # — on the 32-core VM /tmp was ext4 while /dev/shm is RAM-backed
    # (measured best-of-3 at sf0.1: st24 5.5 -> 4.5 s, st22 4.6 -> 4.5 s,
    # st09 6.6 -> 6.2 s; batch shuffles unchanged-to-slightly-better).
    # The cluster-scale analogue is pointing spark.local.dir at local
    # NVMe instead of a network mount — a deployment setting, so
    # SPARK_GRAFT_SCRATCH overrides it in both directions, and it falls
    # back to the JVM default when no tmpfs exists.
    local_dir = os.environ.get("SPARK_GRAFT_SCRATCH")
    if local_dir is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        # Capacity gate: Docker's default /dev/shm is 64 MB, and tmpfs is
        # RAM — on a 15 GB host a half-RAM heap leaves too little of it
        # for tmpfs spill, so such a host keeps the JVM default scratch.
        try:
            _vfs = os.statvfs("/dev/shm")
            if tmpfs_scratch_fits(_vfs.f_bavail * _vfs.f_frsize, phys, heap_mb):
                local_dir = "/dev/shm/spark_ml_optimization_scratch"
        except OSError:
            pass
    # The throughput collector.  In local mode one JVM holds the driver
    # and every executor and runs batch queries back to back, so pause
    # length matters little and G1's concurrent marking, refinement
    # threads and write barriers are overhead.  Measured against G1 on
    # 4 cores / 15 GB: perfbench build_heavy cpu_s won 9 of 10
    # interleaved pairs, median 34.4 -> 29.6 s, with identical Spark
    # job/stage/task counts.  The heap starts at its maximum (-Xms):
    # this collector resizes the heap only at collections, so growing it
    # from the JVM's default of 1/64 of RAM spends the first queries of a
    # session in extra collections and resizes whose timing varies from
    # run to run (see CHANGES.md for the measured first-query times).
    # Pages are still touched only as they are used.
    # One C1 and one C2 compiler thread (CICompilerCount=2; the HotSpot
    # default on 4 cores is 3: one C1, two C2).  In local mode one JVM
    # runs short queries one after another and its local[N] executors
    # already use every core, so a second C2 thread mostly compiles
    # methods that have stopped being hot by the time the compile lands.
    # With one C2 thread the tiered policy drops those stale tasks and
    # compiles queued methods at C1 tier 2 rather than the profiling
    # tier 3; a method that stays hot still reaches C2, so peak code is
    # unchanged.  Measured on 4 cores / 15 GB (see CHANGES.md): JFR C2
    # compile time over perfbench build_heavy set-up plus one pass fell
    # from 25-28 s to 17-19 s, and build_heavy setup_s won 10 of 10
    # interleaved pairs, median 35.3 -> 29.4 s.  Other core counts are
    # unmeasured.  JVM flags are start-time only; a driver-owned session
    # is unaffected.
    extra_jvm = ["-XX:+UseParallelGC", f"-Xms{heap_mb}m", "-XX:CICompilerCount=2"]
    if local_dir:
        try:
            os.makedirs(local_dir, exist_ok=True)
            builder = builder.config("spark.local.dir", local_dir)
            extra_jvm.append(f"-Djava.io.tmpdir={local_dir}")
        except OSError:
            pass
    builder = builder.config("spark.driver.extraJavaOptions", " ".join(extra_jvm))
    # Periodic ContextCleaner GC (default 30min) tightened to 2min: a
    # 280-query single-JVM suite accumulates dropped-RDD/shuffle/state
    # debt between the bench harness's explicit per-5-query System.gc()
    # calls, and long pytest sessions have no explicit GC at all — the
    # migrating 5-10x in-suite spikes (BASELINE.md round-7) shrink when
    # the cleaner keeps pace.
    builder = builder.config("spark.cleaner.periodicGC.interval", "2min")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
