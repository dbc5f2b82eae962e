"""Session defaults that depend on the host (no Spark started)."""

from __future__ import annotations

from bm25_pagerank_rpi_spark.session import default_driver_memory

GIB = 1 << 30


def test_default_driver_memory_scales_with_host():
    assert default_driver_memory(int(15.7 * GIB)) == "4g"  # 4 vCPU / 16 GB VM
    assert default_driver_memory(125 * GIB) == "24g"  # capped
    assert default_driver_memory(2 * GIB) == "1g"  # floored
    assert default_driver_memory() in {f"{n}g" for n in range(1, 25)}
