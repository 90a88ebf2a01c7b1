"""session: the JVM launch sized to the host (heap, collector and
compiler pool), scoped_conf, the one way
package code changes session conf, and memo, the one audited
cross-query artifact memo."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from spark_ml_optimization_spark import registry
from spark_ml_optimization_spark.session import (
    MEMO_EVENTS,
    _memory_mb,
    default_heap_mb,
    memo,
    scoped_conf,
    tmpfs_scratch_fits,
)
from spark_ml_optimization_spark.sources import TABLES

from .conftest import SF_SMOKE

_GB = 1024**3

_KEY = "spark.sql.shuffle.partitions"
_UNSET_KEY = "spark.sql.test.scopedConf.probe"


def test_restores_the_previous_value(spark):
    before = spark.conf.get(_KEY)
    with scoped_conf(spark, {_KEY: "3"}):
        assert spark.conf.get(_KEY) == "3"
    assert spark.conf.get(_KEY) == before


def test_unsets_a_key_that_had_no_value(spark):
    assert spark.conf.get(_UNSET_KEY, None) is None
    with scoped_conf(spark, {_UNSET_KEY: "on"}):
        assert spark.conf.get(_UNSET_KEY) == "on"
    assert spark.conf.get(_UNSET_KEY, None) is None


def test_restores_when_the_body_raises(spark):
    before = spark.conf.get(_KEY)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {_KEY: "5", _UNSET_KEY: "on"}):
            raise RuntimeError("body failed")
    assert spark.conf.get(_KEY) == before
    assert spark.conf.get(_UNSET_KEY, None) is None


def test_driver_jvm_runs_the_throughput_collector(spark):
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    assert sorted(b.getName() for b in beans) == ["PS MarkSweep", "PS Scavenge"]


def test_driver_jvm_runs_one_c1_and_one_c2_compiler_thread(spark):
    jvm = spark._jvm
    bean_cls = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    diag = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_cls)
    assert diag.getVMOption("CICompilerCount").getValue() == "2"


def test_driver_heap_fits_the_host(spark):
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    max_heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert max_heap < phys
    # Started at its maximum; maxMemory() leaves out one survivor space.
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    assert mx.getHeapMemoryUsage().getInit() >= max_heap
    if "SPARK_DRIVER_MEMORY" not in os.environ:
        heap_mb = default_heap_mb(phys)
        assert spark.sparkContext.getConf().get("spark.driver.memory") == f"{heap_mb}m"
        assert max_heap <= heap_mb * 1024**2


@pytest.mark.parametrize(
    "phys_gb, shm_free_gb, heap_gb, tmpfs",
    [
        (15, 16, 7.5, False),  # 4-core host: the heap leaves < 8 GB for tmpfs
        (126, 63, 63, True),  # 32-core VM: room for both
        (126, 1 / 16, 63, False),  # Docker's default 64 MB /dev/shm
        (1, 16, 1, False),  # the 1g heap floor
    ],
)
def test_heap_and_scratch_sized_from_ram(phys_gb, shm_free_gb, heap_gb, tmpfs):
    heap_mb = default_heap_mb(phys_gb * _GB)
    assert heap_mb == heap_gb * 1024
    assert tmpfs_scratch_fits(int(shm_free_gb * _GB), phys_gb * _GB, heap_mb) is tmpfs


@pytest.mark.parametrize("spec, mb", [("8g", 8192), ("7680m", 7680), ("2048", 2048), ("1G", 1024)])
def test_memory_spec_in_mb(spec, mb):
    assert _memory_mb(spec) == mb


def _events(name: str, mark: int) -> list[tuple[str, str]]:
    return [e for e in MEMO_EVENTS[mark:] if e[0] == name]


def test_memo_builds_once_per_app_fixture_and_name():
    def app(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    builds = []

    def build():
        builds.append(1)
        return len(builds)

    mark = len(MEMO_EVENTS)
    assert memo(app("app-a"), "/sf", "probe", build) == 1
    assert memo(app("app-a"), "/sf", "probe", build) == 1
    assert memo(app("app-a"), "/sf2", "probe", build) == 2
    assert memo(app("app-b"), "/sf", "probe", build) == 3
    assert memo(app("app-a"), "/sf", "probe2", build) == 4
    assert memo(app("app-b"), "/sf", "probe", build) == 3
    assert _events("probe", mark) == [
        ("probe", "build"), ("probe", "hit"), ("probe", "build"),
        ("probe", "build"), ("probe", "hit"),
    ]
    assert _events("probe2", mark) == [("probe2", "build")]


def test_graph_memo_events_is_the_session_memo_list():
    from spark_ml_optimization_spark.operators import dedup

    assert dedup.GRAPH_MEMO_EVENTS is MEMO_EVENTS


@pytest.mark.parametrize(
    "first, second, artifact",
    [
        ("qc42_bpe_merge_training", "qc43_bpe_learned_count", "learned_merges"),
        ("q80d_cavnar_trenkle_langid", "q80e_langid_prf", "ct_confusion_matrix"),
    ],
)
def test_shared_artifact_built_by_first_consumer_then_hit(spark, tmp_path, first, second, artifact):
    """A fixture dir this session has not read yet (links to sf0.001):
    the first consumer builds the artifact, the second reuses it."""
    for t in TABLES:
        (tmp_path / f"{t}.parquet").symlink_to(os.path.join(SF_SMOKE, f"{t}.parquet"))
    queries = registry.all_queries()
    mark = len(MEMO_EVENTS)
    assert queries[first].fn(spark, str(tmp_path)).count() > 0
    assert _events(artifact, mark) == [(artifact, "build")]
    assert queries[second].fn(spark, str(tmp_path)).count() > 0
    assert _events(artifact, mark) == [(artifact, "build"), (artifact, "hit")]
