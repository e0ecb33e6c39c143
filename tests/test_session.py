"""Session factory defaults and the per-JVM memo (no Spark)."""

import pytest
from pyspark import SparkContext

from loongcollector_spark.session import default_driver_memory, per_jvm


@pytest.mark.parametrize(
    "mem_total_kib, heap",
    [
        (16479424, "6g"),  # 15.7 GiB machine: 40% is 6.3 GiB
        (64 * 2**20, "16g"),  # large host: capped at 16g
        (40 * 2**20, "16g"),  # exactly 40% = 16 GiB
        (2 * 2**20, "1g"),  # small box: never below 1g
    ],
)
def test_default_driver_memory_is_40pct_of_memtotal_capped(tmp_path, mem_total_kib, heap):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(
        f"MemTotal:       {mem_total_kib} kB\nMemFree:        1024 kB\n"
    )
    assert default_driver_memory(str(meminfo)) == heap


def test_default_driver_memory_reads_this_machine():
    heap = default_driver_memory()
    assert heap.endswith("g") and 1 <= int(heap[:-1]) <= 16


def test_per_jvm_memo_lives_as_long_as_its_gateway(monkeypatch):
    """One build per argument tuple while the py4j gateway stays; a new
    gateway (the JVM was relaunched) rebuilds, as the old objects died."""
    builds = []

    @per_jvm
    def build(key):
        builds.append(key)
        return object()

    monkeypatch.setattr(SparkContext, "_gateway", object())
    a = build("a")
    assert build("a") is a and build("b") is not a
    assert builds == ["a", "b"]
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert build("a") is not a
    assert builds == ["a", "b", "a"]
