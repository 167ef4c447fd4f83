"""Golden oracle tests: every catalog query with an oracle must hash-match
DuckDB on sf0.001 (the driver does the same at sf0.01)."""

from __future__ import annotations

import pytest

from embulk_executor_mapreduce_spark import catalog
from tests.oracle import compare

NAMES = sorted(n for n, e in catalog.entries().items() if e.oracle is not None)


@pytest.mark.parametrize("name", NAMES)
def test_oracle(spark, sf_dir, name):
    e = catalog.entries()[name]
    ok, msg = compare(spark, sf_dir, e.fn, e.oracle)
    assert ok, f"{name}: {msg}"


def test_rows_only_queries_run(spark, sf_dir):
    for name, e in catalog.entries().items():
        if e.oracle is None:
            assert e.fn(spark, sf_dir).count() >= 0, name


@pytest.mark.driver_sweep
@pytest.mark.parametrize("name", NAMES)
def test_oracle_driver_scale(spark, name):
    """Opt-in (--driver-sweep) sweep at the DRIVER's sf0.01: re-confirms
    every query at driver scale (VERDICT r4 item 9)."""
    from tests.conftest import SF_ORACLE

    e = catalog.entries()[name]
    ok, msg = compare(spark, SF_ORACLE, e.fn, e.oracle)
    assert ok, f"{name}: {msg}"
