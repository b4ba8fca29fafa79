"""Differential-oracle parity: every registered query vs its DuckDB
twin — the local mirror of the driver's correctness gate."""

from __future__ import annotations

import pytest

from database_scan_spark.registry import SPECS
from database_scan_spark.testing import assert_match, run_oracle

from conftest import SF_CORRECTNESS

ORACLED = [s for s in SPECS if s.oracle is not None]
ROWS_ONLY = [s for s in SPECS if s.oracle is None]


@pytest.mark.parametrize("spec", ORACLED, ids=[s.name for s in ORACLED])
def test_oracle_parity(spark, spec):
    spark_pdf = spec.fn(spark, SF_CORRECTNESS).toPandas()
    oracle_pdf = run_oracle(spec.oracle, SF_CORRECTNESS)
    assert_match(spark_pdf, oracle_pdf, spec.name)


@pytest.mark.parametrize("spec", ROWS_ONLY, ids=[s.name for s in ROWS_ONLY] or ["none"])
def test_rows_only(spark, spec):
    if spec == "none" or not ROWS_ONLY:
        pytest.skip("no rows-only specs yet")
    df = spec.fn(spark, SF_CORRECTNESS)
    n = df.count()
    assert n >= 0
    df.limit(5).collect()  # schema materializes without error


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    # The driver's smoke gate is rows > 0 (an empty flagship result is
    # a regression) — mirror it exactly (VERDICT r6 item 4).
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_driver_first_leads_registry():
    """The external correctness check samples SPECS[:50]; the queries
    changed since the last round must be inside that sample."""
    from database_scan_spark.registry import DRIVER_FIRST

    assert tuple(s.name for s in SPECS[: len(DRIVER_FIRST)]) == DRIVER_FIRST
