"""Host-fit session defaults: the driver heap asked for when
SPARK_DRIVER_MEMORY is unset must fit the machine."""

from __future__ import annotations

import os

from embulk_executor_mapreduce_spark.session import _driver_memory_default


def test_driver_memory_default_caps_at_three_quarters_of_ram():
    gib = 2**30
    assert _driver_memory_default(15 * gib) == f"{15 * 1024 * 3 // 4}m"
    assert _driver_memory_default(4 * gib) == "3072m"
    # a large host keeps the 48g ceiling
    assert _driver_memory_default(256 * gib) == "49152m"


def test_driver_memory_default_reads_this_host():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    got = int(_driver_memory_default().removesuffix("m"))
    assert 0 < got <= 48 * 1024 and got * 2**20 < phys
