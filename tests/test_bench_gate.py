"""Bench budget tripwire.

Reads the newest full-suite bench sidecar (BENCH_DETAIL_c{cpus}.json,
written by bench.py) and asserts the established "intrinsic tail only"
property on raw readings: no single query over the 10 s line, and the
suite mean under 1.3 s/query.  This makes a plan regression (an
accidental cartesian, a lost broadcast, a global sort) red in the test
suite as soon as a bench has recorded it — without re-running the
multi-minute bench inside pytest.  Those tests skip when no sidecar
exists (fresh clone).

`test_bench_subset_end_to_end` runs bench.py itself on three cheap
headline queries at the smallest fixture and checks its printed-line
contract.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from .conftest import SF_SMOKE

_REPO = Path(__file__).resolve().parent.parent

#: Keys of bench.py's printed line; `failures`
#: joins them only when the sidecar could not be written.
_LINE_KEYS = {
    "metric", "value", "unit", "sf", "n_queries", "n_failures", "queries",
    "detail_file", "budget_ok", "budget_breaches",
}


def _load():
    sidecars = sorted(
        _REPO.glob("BENCH_DETAIL_c*.json"), key=lambda p: p.stat().st_mtime
    )
    if not sidecars:
        pytest.skip("no full-suite bench sidecar recorded yet")
    return json.loads(sidecars[-1].read_text())


def test_no_single_query_over_budget():
    detail = _load()
    assert not detail["budget"]["breaches"], (
        "queries over the 10 s single-query budget "
        f"(intrinsic-tail property violated): {detail['budget']['breaches']}"
    )


def test_suite_mean_under_budget():
    budget = _load()["budget"]
    assert budget["per_query_s"] <= budget["per_query_limit_s"], (
        f"suite mean {budget['per_query_s']} s/query exceeds the "
        f"{budget['per_query_limit_s']} line"
    )


def test_bench_recorded_no_failures():
    detail = _load()
    assert not detail["failures"], detail["failures"]


def test_bench_subset_end_to_end():
    """bench.py on a BENCH_QUERIES subset: the last stdout line parses,
    carries exactly the contract keys and stays under 1 KB, and the
    subset sidecar records min <= median for every query."""
    subset = ["q01_pricing_summary", "q40_topk_per_group", "q70_exact_dedup"]
    env = {
        **os.environ,
        "BENCH_QUERIES": ",".join(subset),
        "SPARK_GRAFT_SF_DIR": SF_SMOKE,
        "SPARK_GRAFT_CPUS": "2",
        # a second JVM beside the test session's: keep its heap small
        "SPARK_DRIVER_MEMORY": "1g",
    }
    proc = subprocess.run(
        [sys.executable, str(_REPO / "bench.py")],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = proc.stdout.strip().splitlines()[-1]
    assert len(line.encode()) < 1024, len(line.encode())
    out = json.loads(line)
    assert set(out) == _LINE_KEYS, sorted(out)
    assert out["n_queries"] == 3 and out["n_failures"] == 0
    assert set(out["queries"]) == set(subset)
    assert out["detail_file"] == "BENCH_DETAIL_SUBSET.json"

    sidecar = json.loads((_REPO / out["detail_file"]).read_text())
    assert set(sidecar["queries"]) == set(sidecar["median"]) == set(subset)
    for name in subset:
        assert sidecar["queries"][name] <= sidecar["median"][name], name
