"""Cache-lifecycle invariants: the session-scoped memoized handles
(fixture tables, match cascade) must be explicitly releasable, a catalog
change must be visible after invalidation, and nothing may linger in the
CacheManager once the caches are released — leaked entries silently
substitute into unrelated later plans and pin executor storage memory.
"""

from __future__ import annotations

from conftest import SF_UNIT


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_match_cache_memoizes_and_invalidates(spark):
    from tepsonic_database_sync_spark import fixtures
    from tepsonic_database_sync_spark.plans import sync

    fx = fixtures.build_fixtures(spark, SF_UNIT)
    m1 = sync.cached_matched(spark, SF_UNIT, fx["vendor_items"], fx["admin_products"])
    n1 = m1.count()
    assert n1 > 0
    # second call with the same key returns the SAME persisted handle —
    # re-runs reuse one CacheManager entry instead of stacking new ones
    m2 = sync.cached_matched(spark, SF_UNIT, fx["vendor_items"], fx["admin_products"])
    assert m2 is m1
    assert sync.invalidate_match_cache(spark) == 1


def test_catalog_change_reflected_after_invalidation(spark):
    from tepsonic_database_sync_spark import fixtures
    from tepsonic_database_sync_spark.plans import sync

    fx = fixtures.build_fixtures(spark, SF_UNIT)
    full = sync.cached_matched(
        spark, SF_UNIT, fx["vendor_items"], fx["admin_products"]
    ).count()
    # catalog mutation with the same cache key: without invalidation the
    # memoized table would silently keep serving matches for dropped rows
    sync.invalidate_match_cache(spark)
    empty_catalog = fx["admin_products"].limit(0)
    assert (
        sync.cached_matched(spark, SF_UNIT, fx["vendor_items"], empty_catalog).count()
        == 0
    )
    # restore for later tests: invalidate again so the stale empty-catalog
    # match table never leaks into other registry queries
    sync.invalidate_match_cache(spark)
    assert (
        sync.cached_matched(
            spark, SF_UNIT, fx["vendor_items"], fx["admin_products"]
        ).count()
        == full
    )


def test_no_cache_residue_after_release(spark):
    from tepsonic_database_sync_spark import fixtures, registry
    from tepsonic_database_sync_spark.plans import sync

    # run the queries that historically leaked persisted handles
    # (resync + idempotent merge built a fresh .persist() per invocation)
    for name in ("sync_merge_resync", "a3_merge_idempotent"):
        registry.queries()[name](spark, SF_UNIT).count()
        registry.queries()[name](spark, SF_UNIT).count()  # re-run: no stacking
    sync.invalidate_match_cache(spark)
    fixtures.invalidate_fixture_cache(spark)
    assert _cache_manager_empty(spark)


def test_schema_cache_sees_rewritten_file(spark, tmp_path):
    """The io metadata caches are keyed on the file's version, not its
    path: a table rewritten in place with a new column is read with the
    new schema, as ``spark.read.parquet`` would read it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tepsonic_database_sync_spark.io import load_table

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
