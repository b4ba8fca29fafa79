"""Session cache lifecycle at the driver contract boundary.

VERDICT r4 "persist hygiene": operators cache intermediates through
``tracked_persist`` and cannot unpersist behind their own
lazily-returned result, so the lifetime contract is session-level —
each `__spark_entry__.queries()` entry releases the tracked caches of
the previous query, bounding a sequential sweep to at most one query's
cached relations (SCALE.md "Cache lifecycle").

ADVICE r5 upgrade: the release is TRACKED, not `clearCache()` — a
cache the CALLER created (e.g. a pre-cached input table) must survive
engine queries running around it.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

SF = "/root/testdata/sf0.001"

# A spec that persists intermediates (graph fixpoints do), followed by
# any second spec: after B starts, A's caches must be gone.
_PERSISTING = "graph_pagerank"
_NEXT = "agg_count"


def _cached_relations(spark) -> int:
    # InMemoryRelations materialize RDD storage lazily; storage info is
    # the observable (it is what OOMs a long sweep). Count cached RDDs.
    return len([r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()])


def test_second_query_releases_first_querys_caches(spark):
    qs = entry_mod.queries()

    spark.catalog.clearCache()
    a = qs[_PERSISTING](spark, SF)
    a_rows = a.count()  # materialize: A's persists are now resident
    assert a_rows > 0
    resident_after_a = _cached_relations(spark)
    assert resident_after_a > 0, (
        "probe spec no longer persists anything — pick another spec "
        "or this test is vacuous"
    )

    b = qs[_NEXT](spark, SF)
    # Entry into B must have released A's caches (before B builds its
    # own): the resident set cannot ACCUMULATE across sequential
    # queries through the contract surface.
    resident_at_b_entry = _cached_relations(spark)
    assert resident_at_b_entry == 0, (
        f"query entry leaked {resident_at_b_entry} cached relations "
        f"from the previous query (was {resident_after_a} after it ran)"
    )
    assert b.count() > 0

    # And the raw spec path (bench/tests) is untouched: no implicit
    # clear when calling spec.fn directly.
    from database_scan_spark.registry import get

    spark.catalog.clearCache()
    get(_PERSISTING).fn(spark, SF).count()
    direct = _cached_relations(spark)
    get(_NEXT).fn(spark, SF).count()
    assert _cached_relations(spark) >= direct, (
        "direct spec.fn path must not implicitly clear caches"
    )
    spark.catalog.clearCache()


def test_caller_caches_survive_engine_queries(spark):
    """A cache the CALLER owns is not collateral of the engine's
    release discipline (ADVICE r5: the r4-r5 clearCache() dropped it).
    """
    from database_scan_spark.catalog import load

    qs = entry_mod.queries()
    spark.catalog.clearCache()

    caller_df = load(spark, SF, "nation").persist()
    assert caller_df.count() > 0  # materialize the caller's cache
    assert caller_df.storageLevel.useMemory

    # Run a persisting engine query, then a second one (whose entry
    # releases the first's tracked persists).
    qs[_PERSISTING](spark, SF).count()
    qs[_NEXT](spark, SF).count()

    # The caller's cache is still marked persistent and still resident.
    assert caller_df.storageLevel.useMemory, (
        "engine query entry unpersisted a caller-owned cache"
    )
    assert _cached_relations(spark) >= 1
    caller_df.unpersist()
    spark.catalog.clearCache()


def test_drain_releases_between_queries(spark):
    """bench.py's out-of-band drain (ADVICE r9): calling
    ``__spark_entry__.drain()`` between queries releases the previous
    query's engine persists immediately, so the next query's timed
    region starts with nothing to drain."""
    qs = entry_mod.queries()
    spark.catalog.clearCache()
    qs[_PERSISTING](spark, SF).count()
    assert _cached_relations(spark) > 0
    entry_mod.drain()
    assert _cached_relations(spark) == 0, "drain() left engine caches resident"
    # idempotent when idle
    entry_mod.drain()
    assert qs[_NEXT](spark, SF).count() > 0
    spark.catalog.clearCache()


def test_cache_call_is_tracked_like_persist(spark):
    """ADVICE r6: a cached intermediate must not escape the release
    contract. Engine code caches only through ``tracked_persist`` (the
    static scan in test_scale_posture bans bare ``.cache()`` and
    ``.persist()``), so ``tracked_persist`` must cache at the same
    storage level as ``.cache()`` — swapping it in changes no plan —
    and the next entry must release what it cached."""
    from database_scan_spark.catalog import load
    from database_scan_spark.operators import _helpers

    spark.catalog.clearCache()
    entry_mod.drain()

    def caching_fn(s, sf):
        df = _helpers.tracked_persist(load(s, sf, "nation"))
        df.count()
        return df

    cached = entry_mod._released(caching_fn)(spark, SF)
    assert len(_helpers._TRACKED) == 1, (
        "a cache made inside a query build was not tracked"
    )
    # A different table: Spark shares one cache entry per plan.
    caller_df = load(spark, SF, "region").cache()
    assert cached.storageLevel == caller_df.storageLevel, (
        "tracked_persist caches at a different level than .cache()"
    )
    assert cached.storageLevel.useMemory
    # Next entry releases the tracked cache, not the caller's.
    entry_mod._released(lambda s, sf: load(s, sf, "region"))(spark, SF)
    assert not cached.storageLevel.useMemory, (
        "tracked cache was not released on the next entry"
    )
    assert caller_df.storageLevel.useMemory, (
        "next entry released a caller's .cache()"
    )
    assert len(_helpers._TRACKED) == 0
    caller_df.unpersist()
    spark.catalog.clearCache()
