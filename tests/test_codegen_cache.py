"""Spark's generated-code cache holds the working set of a re-sync cycle.

A warm vendor re-sync cycle needs about 124 distinct generated classes;
Spark's default cache holds 100, and a loop over a working set larger
than an LRU cache evicts every class before it is used again, so each
cycle recompiled all of its code. ``session.build_session`` sizes the
cache (``CODEGEN_CACHE_ENTRIES``) and keeps AQE's stage ids out of the
generated class names, so that a warm cycle compiles nothing. This test
runs the benchmark's vendor cycle four times against one state store and
reads Spark's own compile counter around the last cycle.
"""

from __future__ import annotations

from tepsonic_database_sync_spark import fixtures
from tepsonic_database_sync_spark.operators import options, upsert
from tepsonic_database_sync_spark.plans import sync
from tepsonic_database_sync_spark.sources.jdbc import ParquetStateStore

from conftest import SF_UNIT

OPTION_KEYS = ["product_id", "grade", "color", "variant"]


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _cycle(spark, store: ParquetStateStore) -> None:
    fx = fixtures.build_fixtures(spark, SF_UNIT)
    vi, ap = fx["vendor_items"], fx["admin_products"]
    m = sync.cached_matched(spark, SF_UNIT, vi, ap)
    opts = sync.sync_options(vi, ap, matched=m)
    state = store.read()
    first = state is None
    if first:
        state = spark.createDataFrame([], opts.schema)
    upsert.upsert_flagged(state, opts, OPTION_KEYS).groupBy("op").count().collect()
    prev_keys = None if first else state.select("product_id", "grade")
    store.merge(opts, options.merge_options)
    sync.sync_summary(vi, ap, state_keys=prev_keys, matched=m).collect()
    fixtures.invalidate_fixture_cache(spark)
    sync.invalidate_match_cache(spark)


def test_warm_sync_cycle_compiles_no_code(spark, tmp_path):
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    per_cycle = []
    for _ in range(4):
        before = _compiles(spark)
        _cycle(spark, store)
        per_cycle.append(_compiles(spark) - before)
    assert per_cycle[-1] == 0, f"classes compiled per cycle: {per_cycle}"
