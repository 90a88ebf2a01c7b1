"""Where the files the engine writes from Python live, and when they die.

Staged fixtures, round-trip sinks, lakehouse snapshots and streaming
sources, sinks and checkpoints all go under one directory per process,
``$TMPDIR/spark_graft_<random>``.  It is made on first use and removed
when the process exits.  A process killed without running its exit
hooks (SIGKILL, a SIGTERM with no handler) leaves its root behind; the
next root made in the same ``TMPDIR`` removes sibling roots older than
24 h.

JVM-side scratch (``spark.local.dir``) and the package zip shared by
every process (``session._ship_package``) are not placed here.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import time
from contextlib import contextmanager

_PREFIX = "spark_graft_"
#: A sibling root this old is abandoned.  A query's result may read its
#: dir lazily long after the query returned (a cached plan re-collected,
#: a long-lived interactive session), so age alone must rule out a live
#: process; every session class this engine runs in (driver round,
#: pytest run, bench) lives well under 24 h.
_STALE_S = 24 * 3600.0

_lock = threading.Lock()
_root: str | None = None


def _sweep(parent: str, keep: str) -> None:
    """Remove ``spark_graft_*`` dirs in ``parent`` older than
    :data:`_STALE_S`, except ``keep``.  Best effort: a failed sweep must
    not fail the query that triggered it."""
    cutoff = time.time() - _STALE_S
    try:
        entries = os.listdir(parent)
    except OSError:
        return
    for name in entries:
        p = os.path.join(parent, name)
        if not name.startswith(_PREFIX) or p == keep:
            continue
        try:
            if os.path.isdir(p) and os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue


def _get_root() -> str:
    global _root
    if _root is None:
        # Threaded test lanes run queries concurrently: make one root.
        with _lock:
            if _root is None:
                root = tempfile.mkdtemp(prefix=_PREFIX)
                atexit.register(shutil.rmtree, root, True)
                _sweep(os.path.dirname(root), keep=root)
                _root = root
    return _root


def path(name: str, sf_dir: str | None = None) -> str:
    """Stable path ``<root>/<name>[_<sf key>]`` for this process; not
    created.  The sf key is ``sf_dir`` without a trailing ``/``, with
    ``/`` spelled ``_``, so both spellings of one dir share a path."""
    if sf_dir is not None:
        name = f"{name}_{sf_dir.rstrip('/').replace('/', '_')}"
    return os.path.join(_get_root(), name)


def fresh(prefix: str) -> str:
    """A new empty dir under the root, for a result read lazily after
    the query returns (so it lives until the process exits)."""
    return tempfile.mkdtemp(prefix=prefix, dir=_get_root())


@contextmanager
def scoped(prefix: str):
    """A new empty dir under the root, removed when the block exits —
    for a query whose result is collected before it returns."""
    d = fresh(prefix)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)
