"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``database_scan_spark``; this module is a
thin view over its query registry (``database_scan_spark/registry.py``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from database_scan_spark.operators._helpers import release_tracked
from database_scan_spark.registry import SPECS


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The 6-step candidate-entity traversal (reference spec at
    /root/reference/x2.2.py:238-247) over the fixture star schema —
    see database_scan_spark/plans/candidate_parts.py.
    """
    from database_scan_spark.plans.candidate_parts import candidate_parts

    return candidate_parts(spark, "/root/testdata/sf0.001")


def _released(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Release the PREVIOUS query's engine caches, then build this one.

    Operators cache intermediates they consume more than once through
    ``tracked_persist``; a lazily-returned DataFrame can't unpersist
    behind itself, so the release happens here, at the next query's
    entry. The driver runs queries strictly sequentially (collect,
    then next), so this bounds the session to AT MOST ONE query's
    caches. Caches the caller made with a plain ``persist()`` are
    never tracked and so never released. See SCALE.md "Cache
    lifecycle".
    """

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_tracked()
        return fn(spark, sf_dir)

    run.__name__ = getattr(fn, "__name__", "query")
    run.__doc__ = fn.__doc__
    return run


def drain() -> None:
    """Release the previous query's engine caches NOW.

    ``queries()`` entries release on the next entry, which is correct
    for the sequential driver — but a caller that TIMES queries
    (bench.py) would then charge the previous query's unpersist cost
    to the next query's clock (ADVICE r9). Calling this between
    queries, outside the timed region, makes the entry's release a
    no-op.
    """
    release_tracked()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    north-star extension ops). Keys are SURVEY §2 Op ids."""
    return {s.name: _released(s.fn) for s in SPECS}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twin for every SQL-expressible query; non-SQL
    ops (streaming state, LSH internals) are omitted → rows-only."""
    return {s.name: s.oracle for s in SPECS if s.oracle is not None}
