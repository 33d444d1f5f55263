"""Reference-semantics edge-case pins (FIXTURES.md §C / SURVEY.md §5.3).

Each test fixes one behavior lifted from the reference source, against
tiny hand-built inputs — the unit layer under the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tepsonic_database_sync_spark.operators.matching import match_cascade
from tepsonic_database_sync_spark.operators.options import merge_options
from tepsonic_database_sync_spark.plans.sync import sync_options, sync_summary

ITEM_COLS = (
    "id long, status string, esn string, hex_id string, total_price_paid long, "
    "sku string, grade string, manufacturer string, model string, color string, "
    "capacity string"
)
ADMIN_COLS = "_id string, name string, storage string"


def _items(spark, rows):
    return spark.createDataFrame(rows, ITEM_COLS)


def _admin(spark, rows):
    return spark.createDataFrame(rows, ADMIN_COLS)


def _opts(spark, items, admin):
    return {
        r["uids"]: r
        for r in sync_options(_items(spark, items), _admin(spark, admin)).collect()
    }


BASE_ADMIN = [("a1", "Acme Phone X", "128GB 4GB RAM, 256GB 8GB RAM")]


def row(**kw):
    d = dict(
        id=1, status="Available", esn="E1", hex_id="H1", total_price_paid=12345,
        sku="S1", grade="A", manufacturer="Acme", model="Phone X", color="Red",
        capacity="128",
    )
    d.update(kw)
    return tuple(d[k] for k in (
        "id", "status", "esn", "hex_id", "total_price_paid", "sku", "grade",
        "manufacturer", "model", "color", "capacity",
    ))


def test_c1_falsy_coalesce_skips_empty_string(spark):
    # products.js:185 — JS `||` skips "" (falsy), SQL coalesce would not
    opts = _opts(spark, [row(esn="", hex_id="HX9")], BASE_ADMIN)
    assert list(opts) == ["HX9"]


def test_c2_space_stripped_capacity_match(spark):
    # products.js:98 — "128 GB" strips to match "128GB 4GB RAM"
    opts = _opts(spark, [row(capacity="128 GB")], BASE_ADMIN)
    assert [r["variant"] for r in opts.values()] == ["128GB 4GB RAM"]


def test_c3_fallback_variant_without_admin_spec(spark):
    # products.js:157-159 — matched via partial (different exact name) ⇒
    # the variant lookup (exact-name probe) misses ⇒ `${cap}GB 4GB RAM`
    admin = [("a1", "Acme Phone X (2024)", "128GB 4GB RAM, 256GB 8GB RAM")]
    opts = _opts(spark, [row()], admin)
    assert [r["variant"] for r in opts.values()] == ["128GB 4GB RAM"]
    # unmatchable capacity inside spec also falls back to Unknown
    opts = _opts(spark, [row(capacity="999")], BASE_ADMIN)
    assert [r["variant"] for r in opts.values()] == ["Unknown"]


def test_c4_min_price_over_group(spark):
    # SURVEY A2 deviation: first-seen price → deterministic min
    opts = _opts(
        spark,
        [row(id=1, total_price_paid=20000), row(id=2, esn="E2", total_price_paid=9999)],
        BASE_ADMIN,
    )
    (r,) = opts.values()
    assert r["price"] == 100 and r["discount"] == 100 and r["stock"] == 2


def test_c5_duplicate_uids_preserved(spark):
    # products.js:185-187,209-212 — "uniqueNumbers" never dedupes
    opts = _opts(spark, [row(id=1), row(id=2)], BASE_ADMIN)  # both uid E1
    (r,) = opts.values()
    assert r["uids"] == "E1|E1"


def test_c6_zero_stock_group_skipped_but_valid(spark):
    # products.js:277-281 vs 255-256 — no Available items ⇒ no output row,
    # yet the group still counts as valid in the summary
    items = [row(status="Sold")]
    out = sync_options(_items(spark, items), _admin(spark, BASE_ADMIN))
    assert out.count() == 0
    s = sync_summary(_items(spark, items), _admin(spark, BASE_ADMIN)).collect()[0]
    assert s["validProducts"] == 1 and s["totalOperations"] == 0


def test_c7_short_name_no_partial_match(spark):
    # products.js:38 — partial match only when len(name) > 3
    admin = [("a1", "Ab Phone", "128GB 4GB RAM")]
    items = [row(manufacturer="Ab", model="", capacity="128")]
    g = spark.createDataFrame([("Ab",)], "gname string")
    assert match_cascade(g, _admin(spark, admin)).count() == 0
    s = sync_summary(_items(spark, items), _admin(spark, admin)).collect()[0]
    assert s["skippedProducts"] == 1


def test_c8_anti_split_counts(spark):
    # products.js:246-260 — unmatched groups counted, matched processed
    items = [row(), row(id=2, manufacturer="Nope", model="Brand")]
    s = sync_summary(_items(spark, items), _admin(spark, BASE_ADMIN)).collect()[0]
    assert s["validProducts"] == 1 and s["skippedProducts"] == 1
    assert s["totalFetched"] == 2


def test_exact_beats_partial(spark):
    # products.js:29-48 — exact-ci match wins before substring fallback
    admin = [
        ("a1", "ACME PHONE X", "128GB 4GB RAM"),       # exact (ci)
        ("a2", "Acme Phone X (2024)", "256GB 8GB RAM"),  # would match partial
    ]
    g = spark.createDataFrame([("Acme Phone X",)], "gname string")
    m = match_cascade(g, _admin(spark, admin)).collect()
    assert [r["product_id"] for r in m] == ["a1"]


def test_partial_matches_a_longer_name_when_own_product_is_absent(spark):
    # products.js:38-48 — a name whose own product is not in the catalog
    # falls through to the substring match and takes the first longer
    # catalog name that contains it: a match the vendor did not mean,
    # which is why perfbench's match_precision sits just below 1
    admin = [
        ("p1", "Brand#39 silver scanner pro", "128GB 4GB RAM"),
        ("p2", "Brand#39 silver scanner lite", "128GB 4GB RAM"),
        ("p3", "Brand#12 silver scanner", "128GB 4GB RAM"),
    ]
    g = spark.createDataFrame([("Brand#39 silver scanner",)], "gname string")
    m = match_cascade(g, _admin(spark, admin)).collect()
    assert [(r["gname"], r["product_id"]) for r in m] == [("Brand#39 silver scanner", "p2")]


def test_merge_non_idempotent_accumulation(spark):
    # products.js:208,300-307 — re-running a sync doubles stock by design
    opts = sync_options(_items(spark, [row()]), _admin(spark, BASE_ADMIN))
    merged_once = merge_options(opts, opts)
    r = merged_once.collect()[0]
    assert r["stock"] == 2 and r["uids"] == "E1|E1"
