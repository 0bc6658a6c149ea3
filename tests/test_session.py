"""Driver-heap rule of ``get_spark``: checked on the pure function, no JVM."""

from __future__ import annotations

from flink_cooccurrence_spark.session import driver_memory

GIB = 1024**3


def test_explicit_driver_mem_passes_through_unchanged():
    env = {"SPARK_GRAFT_DRIVER_MEM": "3g"}
    assert driver_memory(env, phys_bytes=16 * GIB) == "3g"
    assert driver_memory(env, phys_bytes=256 * GIB) == "3g"


def test_small_host_gets_a_quarter_of_physical_memory():
    assert driver_memory({}, phys_bytes=16 * GIB) == "4096m"


def test_large_host_keeps_48g():
    assert driver_memory({}, phys_bytes=256 * GIB) == "48g"
    assert driver_memory({}, phys_bytes=192 * GIB) == "48g"


def test_default_reads_this_hosts_memory():
    mem = driver_memory({})
    assert mem == "48g" or (mem.endswith("m") and int(mem[:-1]) > 0)
