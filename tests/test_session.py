"""Session factory defaults that depend on the host."""

from __future__ import annotations

import pytest

from ngram_analytics_spark.session import default_driver_memory


@pytest.mark.parametrize(
    "mem_kib, want",
    [
        (15 * 1024 * 1024, "7680m"),  # 15 GiB host: half
        (128 * 1024 * 1024, "49152m"),  # capped at 48g
        (1024 * 1024, "1024m"),  # floor of 1g
    ],
)
def test_default_driver_memory_follows_memtotal(tmp_path, mem_kib, want):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {mem_kib} kB\nMemFree:  1 kB\n")
    assert default_driver_memory(str(meminfo)) == want


def test_default_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "4g"
