"""build_session defaults that depend on the host."""

from __future__ import annotations


def test_default_driver_heap_fits_the_host(spark):
    """The default driver heap is at most half the host's physical memory
    and at most 48g, so a default session cannot outgrow a small host."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    assert heap.endswith("m")
    assert int(heap[:-1]) * 1024 <= min(kb // 2, 48 * 1024 * 1024)
