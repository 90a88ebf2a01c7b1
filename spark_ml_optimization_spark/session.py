"""SparkSession construction and runtime configuration.

The driver owns the SparkSession for verification (``__spark_entry__.py``),
so everything here must also be applicable to an *existing* session at
runtime — ``configure()`` sets only runtime-settable SQL confs.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import SparkSession

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


_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors via addPyFile.

    Python workers unpickle module-level UDF kernels (mapInPandas etc.) by
    importing their defining module — which only works if the package is on
    every worker's path.  This is the same mechanism that deploys the
    library to a real cluster; in local mode it also makes the engine
    importable regardless of the driver process's cwd.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    pkg_root = Path(__file__).resolve().parent
    import hashlib

    files = sorted(pkg_root.rglob("*.py"))
    digest = hashlib.md5(
        "".join(f"{p}:{p.stat().st_mtime_ns}:{p.stat().st_size}" for p in files).encode()
    ).hexdigest()[:12]
    zip_path = Path(tempfile.gettempdir()) / f"spark_ml_optimization_spark_{digest}.zip"
    if not zip_path.exists():
        with zipfile.ZipFile(zip_path, "w") as zf:
            for py in files:
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


def get_spark(app_name: str = "spark_ml_optimization_spark") -> SparkSession:
    """Build (or get) a local session sized for this container.

    local[N] with N from SPARK_GRAFT_CPUS (default: all cores).  Single-JVM
    local mode: driver memory is the only knob.  Cluster deployments would
    configure executors instead; the SQL confs in RUNTIME_CONFS apply to
    both deployment shapes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # Scratch on tmpfs when available (optimization round 10, guide §6):
    # shuffle files, block-manager spill, and Structured Streaming's
    # temporary checkpoint/state directories are latency-bound local I/O
    # — on this container /tmp is ext4 while /dev/shm is RAM-backed
    # (measured best-of-3 at sf0.1: st24 5.5 -> 4.5 s, st22 4.6 -> 4.5 s,
    # st09 6.6 -> 6.2 s; batch shuffles unchanged-to-slightly-better).
    # The cluster-scale analogue is pointing spark.local.dir at local
    # NVMe instead of a network mount — a deployment setting, so it is
    # env-overridable and falls back to the JVM default when no tmpfs
    # exists.  Scratch volume at bench scale is MBs, far below the
    # 126 GB tmpfs.
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH")
    if scratch is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        # Capacity gate (round-11 advice): Docker's default /dev/shm is
        # 64 MB — auto-defaulting shuffle/spill there would ENOSPC on a
        # standard container, and spilling to RAM-backed tmpfs consumes
        # the memory spill exists to relieve.  Require several GB free
        # before electing tmpfs; SPARK_GRAFT_SCRATCH stays the explicit
        # override in both directions.
        try:
            _vfs = os.statvfs("/dev/shm")
            if _vfs.f_bavail * _vfs.f_frsize >= 8 * 1024**3:
                scratch = "/dev/shm/spark_ml_optimization_scratch"
        except OSError:
            pass
    extra_jvm = []
    if scratch:
        try:
            os.makedirs(scratch, exist_ok=True)
            builder = builder.config("spark.local.dir", scratch)
            extra_jvm.append(f"-Djava.io.tmpdir={scratch}")
        except OSError:
            pass
    # JVM flags (GC choice etc.) — start-time only, so env-injected here;
    # an already-running session (driver-owned) is unaffected.
    java_opts = os.environ.get("SPARK_DRIVER_JAVA_OPTS")
    if java_opts:
        extra_jvm.append(java_opts)
    if extra_jvm:
        builder = builder.config(
            "spark.driver.extraJavaOptions", " ".join(extra_jvm)
        )
    # Periodic ContextCleaner GC (default 30min) tightened to 2min: a
    # 280-query single-JVM suite accumulates dropped-RDD/shuffle/state
    # debt between the bench harness's explicit per-5-query System.gc()
    # calls, and long pytest sessions have no explicit GC at all — the
    # migrating 5-10x in-suite spikes (BASELINE.md round-7) shrink when
    # the cleaner keeps pace.  Env-overridable for A/B runs.
    builder = builder.config(
        "spark.cleaner.periodicGC.interval",
        os.environ.get("SPARK_GRAFT_PERIODIC_GC", "2min"),
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
