"""The per-process scratch root (``spark_ml_optimization_spark.scratch``):
stable names, fresh dirs, the stale-root sweep, and nothing left in
``TMPDIR`` after a process that ran scratch-writing queries exits."""

from __future__ import annotations

import os
import subprocess
import sys
import time
from pathlib import Path

from spark_ml_optimization_spark import scratch

from .conftest import SF_SMOKE

_REPO = Path(__file__).resolve().parent.parent


def _child_env(tmp_path: Path, **extra: str) -> dict[str, str]:
    return {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": str(_REPO), **extra}


def test_path_is_stable_and_normalises_sf_dir():
    a = scratch.path("x", "/a/b/")
    assert a == scratch.path("x", "/a/b") == scratch.path("x", "/a/b")
    assert os.path.basename(a) == "x__a_b"
    assert scratch.path("x") != a
    assert not os.path.exists(a)


def test_fresh_dirs_are_distinct_empty_and_under_the_root():
    root = os.path.dirname(scratch.path("x"))
    a, b = scratch.fresh("t_"), scratch.fresh("t_")
    assert a != b
    for d in (a, b):
        assert os.path.dirname(d) == root
        assert os.path.isdir(d) and not os.listdir(d)


def test_scoped_dir_is_removed_on_exit():
    with scratch.scoped("t_") as d:
        Path(d, "f").write_text("x")
    assert not os.path.exists(d)


def test_root_creation_sweeps_only_stale_roots(tmp_path):
    """A child process's first ``path()`` makes its root in ``TMPDIR``,
    removes a sibling root idle for over 24 h, keeps a recent one and
    any dir with another prefix, and removes its own root at exit."""
    old = tmp_path / "spark_graft_old"
    new = tmp_path / "spark_graft_new"
    other = tmp_path / "other_old"
    for d in (old, new, other):
        d.mkdir()
        (d / "f").write_text("x")
    day_ago = time.time() - 25 * 3600
    for d in (old, other):
        os.utime(d, (day_ago, day_ago))

    out = subprocess.run(
        [sys.executable, "-c",
         "from spark_ml_optimization_spark import scratch; print(scratch.path('x'))"],
        env=_child_env(tmp_path), capture_output=True, text=True, check=True,
    ).stdout.strip()

    assert Path(out).parent.parent == tmp_path
    assert sorted(p.name for p in tmp_path.iterdir()) == ["other_old", "spark_graft_new"]


def test_scratch_writers_leave_the_temp_dir_empty(tmp_path):
    """One child ships the package zip, runs a file round-trip, the
    binary fixture, a lazily read streaming sink, WAP and model
    persistence, then exits: nothing may remain in its temp dir."""
    names = [
        "src01_csv_roundtrip",
        "src13_binaryfile_ingest",
        "st05_stream_foreach_batch_sink",
        "q37e_write_audit_publish",
        "ml07_model_persistence",
    ]
    code = (
        "from spark_ml_optimization_spark import registry\n"
        "from spark_ml_optimization_spark.session import get_spark\n"
        "spark = get_spark('scratch_leak')\n"
        "qs = registry.all_queries()\n"
        f"for n in {names!r}:\n"
        f"    assert qs[n].fn(spark, {SF_SMOKE!r}).count() > 0, n\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        # a second JVM beside the test session's: keep its heap small
        env=_child_env(tmp_path, SPARK_DRIVER_MEMORY="1g", SPARK_GRAFT_CPUS="2"),
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert [p.name for p in tmp_path.iterdir()] == []
