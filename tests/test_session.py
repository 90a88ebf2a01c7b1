"""session: the JVM launch sized to the host, and scoped_conf, the one way
package code changes session conf."""

from __future__ import annotations

import os

import pytest

from spark_ml_optimization_spark.session import (
    _memory_mb,
    default_heap_mb,
    scoped_conf,
    tmpfs_scratch_fits,
)

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
