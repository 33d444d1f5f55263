"""Driver-facing query catalog.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with the
equivalent DuckDB oracle SQL (None ⇒ rows-only check for ops SQL can't
express). ``__spark_entry__.py`` re-exports these as ``queries()`` /
``oracle_sql()``.

Naming ties back to SURVEY.md §2's operator inventory (P/F/J/A/S/X ids).
Column names are aliased identically on both sides — the driver sorts
columns by name and hash-compares values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tepsonic_database_sync_spark import oracle
from tepsonic_database_sync_spark.fixtures import build_fixtures
from tepsonic_database_sync_spark.functions.normalize import (
    cents_to_dollars,
    resolve_variant,
    uid_coalesce,
)
from tepsonic_database_sync_spark.operators import matching, options
from tepsonic_database_sync_spark.operators.events import (
    ANOMALY_BUCKET_S,
    ANOMALY_SPIKE_FACTOR,
    ANOMALY_TRAIL_BUCKETS,
)
from tepsonic_database_sync_spark.plans import sync

QueryFn = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# Reference-core queries (SURVEY.md §2) — flagship first
# ---------------------------------------------------------------------------


def q_sync_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the full first-sync spine (SURVEY §3 entry 1, steps 2-5)."""
    fx = build_fixtures(spark, sf_dir)
    m = sync.cached_matched(spark, sf_dir, fx["vendor_items"], fx["admin_products"])
    return sync.sync_options(fx["vendor_items"], fx["admin_products"], matched=m)


def q_sync_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — per-vendor run summary counters (products.js:343-353)."""
    fx = build_fixtures(spark, sf_dir)
    m = sync.cached_matched(spark, sf_dir, fx["vendor_items"], fx["admin_products"])
    return sync.sync_summary(fx["vendor_items"], fx["admin_products"], matched=m)


def q_sync_merge_resync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — merge of a re-run sync into existing state: stock doubles,
    uniqueNumbers concatenate (non-idempotent by reference design,
    products.js:194-223, 300-307)."""
    fx = build_fixtures(spark, sf_dir)
    m = sync.cached_matched(spark, sf_dir, fx["vendor_items"], fx["admin_products"])
    # the "existing" side of a re-sync is materialized state in reality;
    # eager localCheckpoint (not persist) materializes it once for the
    # self-merge WITHOUT leaving a CacheManager entry behind — repeated
    # invocations (bench min-of-N, driver_sim) would otherwise stack
    # duplicate cache entries that are never unpersisted
    opts = sync.sync_options(
        fx["vendor_items"], fx["admin_products"], matched=m
    ).localCheckpoint(eager=True)
    return options.merge_options(opts, opts)


def q_p1_norm_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2 — name normalization + grade default, as group keys with
    counts (also exercises A1 grouping)."""
    fx = build_fixtures(spark, sf_dir)
    keyed = options.with_group_keys(fx["vendor_items"])
    return keyed.groupBy("gname", "grade_c").agg(
        F.count("*").cast("long").alias("n_items")
    )


def q_p_nested_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The faithful nested payload shape (product_variation.product.*,
    SURVEY §1.2): null-safe struct navigation (the reference's ``?.``
    chains, products.js:61-66) back to flat columns — exercises nested
    field access + the NULL-struct guard rows (l_linenumber = 7)."""
    fx = build_fixtures(spark, sf_dir)
    n = fx["vendor_items_nested"]
    return n.select(
        "id",
        "status",
        F.col("product_variation.product.manufacturer").alias("manufacturer"),
        F.col("product_variation.product.model").alias("model"),
        F.col("product_variation.grade").alias("grade"),
        F.col("product_variation.sku").alias("sku"),
        F.col("product_variation").isNull().alias("no_variation"),
    )


def q_p3_uid_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — falsy-skipping identifier coalesce chain (products.js:185-187)."""
    fx = build_fixtures(spark, sf_dir)
    vi = fx["vendor_items"]
    return vi.select(
        "id",
        uid_coalesce(F.col("esn"), F.col("hex_id"), F.col("sku"), F.col("id")).alias(
            "uid"
        ),
    )


def q_p4_cents_to_dollars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — Math.round(cents/100) with null guard (products.js:168-170)."""
    fx = build_fixtures(spark, sf_dir)
    return fx["vendor_items"].select(
        "id", cents_to_dollars(F.col("total_price_paid")).alias("dollars")
    )


def q_p6_resolve_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/P7 — storage-variant resolution incl. both fallbacks, for every
    item against the exact-name admin lookup (products.js:90-111,150-162)."""
    fx = build_fixtures(spark, sf_dir)
    keyed = options.with_group_keys(fx["vendor_items"])
    vadmin = matching.variant_admin(fx["admin_products"])
    j = keyed.join(F.broadcast(vadmin), keyed.gname == vadmin.name, "left")
    return j.select(
        "id", resolve_variant(F.col("capacity"), F.col("storage")).alias("variant")
    )


def q_f1_status_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — Available-status predicate, shown as a status histogram."""
    fx = build_fixtures(spark, sf_dir)
    return (
        fx["vendor_items"]
        .groupBy("status")
        .agg(F.count("*").cast("long").alias("n"))
    )


def q_j1_match_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — case-insensitive exact name join, deterministic first pick."""
    fx = build_fixtures(spark, sf_dir)
    keyed = options.with_group_keys(fx["vendor_items"])
    gnames = keyed.select("gname").distinct()
    return matching.match_exact(gnames, fx["admin_products"])


def q_j2_match_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — substring-containment fallback join for J1 misses (len>3)."""
    fx = build_fixtures(spark, sf_dir)
    keyed = options.with_group_keys(fx["vendor_items"])
    gnames = keyed.select("gname").distinct()
    exact = matching.match_exact(gnames, fx["admin_products"])
    misses = gnames.join(exact.select("gname"), "gname", "left_anti")
    return matching.match_partial(misses, fx["admin_products"])


def q_j5_valid_skip_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — semi/anti split of groups into valid vs skipped, flagged."""
    fx = build_fixtures(spark, sf_dir)
    keyed = options.with_group_keys(fx["vendor_items"])
    groups = keyed.select("gname", "grade_c").distinct()
    gnames = groups.select("gname").distinct()
    matched = matching.match_cascade(gnames, fx["admin_products"])
    valid, skipped = matching.valid_skip_split(groups, matched)
    return valid.withColumn("is_valid", F.lit(True)).unionByName(
        skipped.withColumn("is_valid", F.lit(False))
    )


def q_s3_filtered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — predicate-pushdown scan of the vendor control table
    (find({database:'wholecell'}), products.js:429-433)."""
    fx = build_fixtures(spark, sf_dir)
    return fx["wholesale_apis"].filter(F.col("database") == "wholecell")


def q_s9_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 — backfill NULL database to 'wholecell' (products.js:369-380)."""
    fx = build_fixtures(spark, sf_dir)
    return fx["wholesale_apis"].withColumn(
        "database", F.coalesce(F.col("database"), F.lit("wholecell"))
    )


def q_s8_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/J4 — bulk upsert as full-outer-join with op audit column: state
    from even-id items, new batch from odd-id items (products.js:309-341)."""
    from tepsonic_database_sync_spark.operators.matching import variant_admin

    fx = build_fixtures(spark, sf_dir)
    vi, ap = fx["vendor_items"], fx["admin_products"]
    # enrich ONCE over all items (the joins are the expensive part), then
    # aggregate BOTH halves in one grouped pass with is_state in the key —
    # one shuffle over the fact rows instead of two — and split the tiny
    # aggregated result. The eager localCheckpoint materializes that
    # result once so the full-outer merge's two inputs don't each re-run
    # the scan+join+agg subtree (and leaves no CacheManager entry).
    m = sync.cached_matched(spark, sf_dir, vi, ap)
    src = options.option_source_rows(
        options.with_group_keys(vi),
        m,
        variant_admin(ap),
        extra_cols=((F.col("id") % 2 == 0).alias("is_state"),),
    )
    agg = options.aggregate_options(src, extra_keys=("is_state",)).localCheckpoint(
        eager=True
    )
    state = agg.filter(F.col("is_state")).drop("is_state")
    new = agg.filter(~F.col("is_state")).drop("is_state")
    from tepsonic_database_sync_spark.operators.upsert import upsert_flagged

    return upsert_flagged(state, new, ["product_id", "grade", "color", "variant"])


def q_x1_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/F4 — per-vendor dispatch after backfill: non-wholecell vendors
    become error rows (products.js:383-395)."""
    from tepsonic_database_sync_spark.operators.upsert import dispatch_vendors

    fx = build_fixtures(spark, sf_dir)
    backfilled = fx["wholesale_apis"].withColumn(
        "database", F.coalesce(F.col("database"), F.lit("wholecell"))
    )
    return dispatch_vendors(backfilled)


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort + limit (free-in-Spark basics, SURVEY §2.6): global top-100
    orders by total price, deterministic tiebreak on key."""
    from tepsonic_database_sync_spark.io import load_table

    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def q_window_topk_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: top-3 orders per customer (row_number ≤ 3)."""
    from pyspark.sql import Window
    from tepsonic_database_sync_spark.io import load_table

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("long").alias("rn"))
    )


def q_set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: UNION DISTINCT of two label domains."""
    from tepsonic_database_sync_spark.io import load_table

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("v")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("v")
    )
    return c.union(o).distinct()


def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: EXCEPT — customers who never placed an order."""
    from tepsonic_database_sync_spark.io import load_table

    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    return c.subtract(o)


def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: INTERSECT — customers who placed at least one order
    (compiles to a left-semi aggregate, completing the §2.6 set-op
    trio with union/except)."""
    from tepsonic_database_sync_spark.io import load_table

    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    return c.intersect(o)


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-field escape hatch (SURVEY §1.4): parse the JSON props
    column on demand — the engine's version of Mongo's schemaless fields."""
    from tepsonic_database_sync_spark.io import load_table

    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window agg (batch form of the streaming operator)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.streaming.windows import tumbling_counts

    return tumbling_counts(load_table(spark, sf_dir, "events"))


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window agg (1h window / 30m slide)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.streaming.windows import sliding_counts

    return sliding_counts(load_table(spark, sf_dir, "events"))


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute-gap sessions per user (gaps-and-islands)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.streaming.windows import sessionize

    return sessionize(load_table(spark, sf_dir, "events"))


def q_tpch_q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: revenue per nation for one region — a 6-table join
    where Catalyst broadcast-chains the dimension spine (region→nation→
    supplier) and the fact side shuffles once on orderkey."""
    from tepsonic_database_sync_spark.io import load_table

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
        "long"
    )
    dim = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(dim),
            (li.l_suppkey == dim.s_suppkey)
            & (c.c_nationkey == dim.s_nationkey),  # customer and supplier co-national
        )
        .groupBy("n_name")
        .agg(F.sum(rev).cast("long").alias("revenue_cents"))
    )


def q_tpch_q12_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shaped: per line status, counts of high- vs low-priority
    orders (conditional aggregation over a fact⋈fact join)."""
    from tepsonic_database_sync_spark.io import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linestatus")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count_if(high).cast("long").alias("high_line_count"),
            F.count_if(~high).cast("long").alias("low_line_count"),
        )
    )


def q_outliers_p99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-based anomaly counts: per event type, the exact p99 of
    value-cents and how many events exceed it. Percentile thresholds
    instead of z-scores — mean/stddev of doubles are summation-order-
    dependent, exact percentiles of integers are not."""
    from tepsonic_database_sync_spark.io import load_table

    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    thresh = e.groupBy("event_type").agg(
        F.percentile(cents, 0.99).alias("p99_cents")
    )
    return (
        e.select("event_type", cents.alias("cents"))
        .join(F.broadcast(thresh), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("p99_cents").alias("p99_cents"),
            F.count_if(F.col("cents") > F.col("p99_cents"))
            .cast("long")
            .alias("n_outliers"),
        )
    )


def q_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month order counts with deltas (lag window over the
    tiny monthly aggregate, never over raw rows)."""
    from tepsonic_database_sync_spark.io import load_table
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    month = F.trunc(F.col("o_orderdate").cast("date"), "month")
    monthly = o.groupBy(month.alias("month")).agg(
        F.count("*").cast("long").alias("n_orders")
    )
    w = Window.orderBy("month")
    return monthly.select(
        F.col("month").cast("string").alias("month"),
        "n_orders",
        (F.col("n_orders") - F.coalesce(F.lag("n_orders").over(w), F.lit(0)))
        .cast("long")
        .alias("delta"),
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (signup → view → purchase): per-user
    min-timestamp per stage in one groupBy, then a stage-count rollup."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.events import funnel_conversion

    return funnel_conversion(load_table(spark, sf_dir, "events"))


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle (first-activity week × offset)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.events import cohort_retention

    return cohort_retention(load_table(spark, sf_dir, "events"))


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences, with within-source probability in permille — the
    behavioral-analytics staple next to funnel/cohort. One user_id
    window shuffle over raw events; the normalization window runs over
    the |types|² count frame only."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.events import event_transitions

    return event_transitions(load_table(spark, sf_dir, "events"))


def q_event_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window spike detection on per-type hourly event volume:
    flag buckets above ANOMALY_SPIKE_FACTOR × the previous-24h average.
    Pure integer comparison (cnt·trailing_n > factor·trailing_sum), and
    the RANGE window runs over hourly aggregates, never raw events."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.events import event_anomaly

    return event_anomaly(load_table(spark, sf_dir, "events"))


def q_time_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with gap fill + LOCF over per-type event
    values — every hourly bucket between a type's first and last
    observation appears, empty buckets carry the last observed value
    forward. The LOCF window sorts only the (key, bucket) grid, never
    raw events; the grid is a bounded sequence-explode, not a
    driver-side loop."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.timeseries import (
        resample_locf,
    )

    ev = load_table(spark, sf_dir, "events")
    return resample_locf(
        ev,
        key="event_type",
        ts="ts",
        value_cents=F.round(F.col("value") * 100, 0).cast("long"),
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank over the symmetrized part↔supplier procurement
    graph from lineitem — the link-structure centrality signal, and the
    engine's iterative-algorithm exemplar beyond fixpoint label
    propagation. Edge list with out-degrees materialized once; each of
    the 5 rounds is one src equi-join (only the small rank frame
    reshuffles) plus one map-side-combined groupBy on dst."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.graph import pagerank

    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
    s = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    edges = pairs.select(p.alias("src"), s.alias("dst")).unionAll(
        pairs.select(s.alias("src"), p.alias("dst"))
    )
    return pagerank(edges)


def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering statistics over orders on
    (customer, order-day): bucket the 32-bit interleaved code on its top
    8 bits and report per-bucket count + min/max of both raw dimensions.
    Tight spans on BOTH dims are the file-pruning argument for
    ``layout.zorder_layout``; the bit ladder is pure codegen'd integer
    arithmetic shared with the oracle. One projection + one groupBy."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.layout import zorder_stats

    o = load_table(spark, sf_dir, "orders")
    day = (F.floor(F.unix_timestamp("o_orderdate") / 86400)).cast("long")
    return zorder_stats(o, x=F.col("o_custkey"), y=day)


def q_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency profile: each event opens a deterministic
    interval (duration from its value, 1-31 min) and the running sum of
    per-instant +1/−1 nets gives the live count per type at every
    boundary. Aggregate-first: the window sees one row per distinct
    boundary instant, never raw intervals."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.timeseries import (
        interval_concurrency,
    )

    ev = load_table(spark, sf_dir, "events")
    start = F.unix_timestamp("ts").cast("long")
    dur = (_cents("value") % 1800) + 60
    return interval_concurrency(
        ev, key="event_type", start_es=start, end_es=start + dur
    )


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dyadic-weight EWMA over the per-type hourly volume series (the
    smoothing signal next to event_anomaly's spike flags): power-of-two
    weights keep every contribution integer-exact, and gaps carry no
    weight — the denominator adapts. Contribution-explode shape: one
    generator fan-out + one groupBy, no self-join, no distance-weighted
    window."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.events import (
        hourly_type_counts,
    )
    from tepsonic_database_sync_spark.operators.timeseries import ewma_dyadic

    counts = hourly_type_counts(load_table(spark, sf_dir, "events"))
    return ewma_dyadic(counts, key="event_type", bucket_col="bucket_es",
                       value_col="cnt")


# co-purchase edge support threshold, shared with the oracle
TRIANGLE_MIN_SUPPORT = 2


def q_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficients over the
    co-purchase graph (parts co-ordered in ≥ 2 orders — the support
    threshold is what keeps the graph sparse and meaningful): the
    degree-ordered node-iterator counts each triangle once via one
    wedge equi-join + one closure equi-join over the oriented edge
    frame, materialized once."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.graph import triangle_stats

    items = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    pairs = (
        items.join(items.select("o", F.col("p").alias("q")), "o")
        .filter(F.col("p") < F.col("q"))
        .groupBy(F.col("p").alias("a"), F.col("q").alias("b"))
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= TRIANGLE_MIN_SUPPORT)
        .select("a", "b")
    )
    return triangle_stats(pairs)


def q_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-priority outlier census on order totals: median and
    MAD from the exact distinct-value histogram (no per-group sort of
    raw rows), fence |x−med| > 3·MAD cross-multiplied in integers.
    The resistant complement of outliers_p99."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.quantiles import (
        grouped_mad_outliers,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", _cents("o_totalprice").alias("cents")
    )
    return grouped_mad_outliers(o, "o_orderpriority", "cents")


# leaderboard size, shared with the oracle
LEADERBOARD_K = 20


def q_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by their single largest purchase (batch analog of
    streaming.ops.leaderboard_stream, whose CRDT top-k merge is proven
    equivalent over micro-batches): per-key max then a global top-k that
    compiles to TakeOrderedAndProject over the per-user aggregate."""
    from tepsonic_database_sync_spark.io import load_table

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    agg = e.groupBy(F.col("user_id").alias("key")).agg(
        F.max(_cents("value")).cast("long").alias("best_cents")
    )
    return agg.orderBy(F.col("best_cents").desc(), F.col("key")).limit(
        LEADERBOARD_K
    )


# k-anonymity threshold, shared with the oracle
KANON_K = 5


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over customer quasi-identifiers (nation,
    market segment, account-balance band): every equivalence class with
    its size and an at-risk flag (size < k). One rollup-shaped groupBy;
    classes bounded by the quasi space, not by rows."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.profile import k_anonymity

    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        # +1e6 shift keeps the dividend non-negative (acctbal can be
        # negative) so truncating DIV == flooring // across engines
        F.expr(
            "(CAST(round(c_acctbal * 100, 0) AS BIGINT) + 1000000)"
            " div 100000"
        ).alias("bal_band"),
    )
    return k_anonymity(
        c, ["c_nationkey", "c_mktsegment", "bal_band"], k=KANON_K
    )


def q_tvd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift (total variation distance decomposition)
    between the CDC snapshots' status distributions — the categorical
    complement of psi_drift: shares stay bounded for categories absent
    from one side, where PSI's log ratio blows up. Floored permille,
    full-outer category join, totals from a window over the tiny
    category frame."""
    from tepsonic_database_sync_spark.operators.drift import tvd_drift

    old, new = _cdc_snapshots(spark, sf_dir)
    return tvd_drift(old, new, "o_orderstatus")


def q_attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch / linear multi-touch attribution over
    the purchase→view window join, credited to the view's channel
    (props.k mod 5): one window pass over the pair frame (rn + count in
    the same partition ordering), integer linear split with the
    remainder pinned to the first touch so every model's total is
    exactly the attributed revenue."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.events import (
        attribution_models,
    )
    from tepsonic_database_sync_spark.streaming.ops import (
        ATTRIBUTION_WINDOW_S,
    )

    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        _cents("value").alias("purchase_cents"),
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
        (F.get_json_object("props", "$.k").cast("long") % 5).alias("channel"),
    )
    cond = (
        (p["user_id"] == v["v_user_id"])
        & (v["v_ts"] <= p["p_ts"])
        & (
            v["v_ts"]
            >= p["p_ts"] - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_S} SECONDS")
        )
    )
    pairs = p.join(v, cond, "inner").select(
        "purchase_id",
        "view_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts"))
        .cast("long")
        .alias("lag_sec"),
        "purchase_cents",
        "channel",
    )
    return attribution_models(pairs)


def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGINE-PORTABLE HyperLogLog register table over distinct users —
    unlike approx_count_distinct's opaque internal layout, these
    registers are pure integer functions of the portable hash, so the
    oracle reproduces the SKETCH ITSELF bit-for-bit (the strongest
    check a sketch can get; the family's other entries settle for
    bound flags). Max-merge is an idempotent CRDT join — the streaming
    twin (streaming.ops.distinct_sketch_stream) is replay-safe with no
    commit protocol at all."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.sketches import (
        hll_register_table,
    )

    return hll_register_table(
        load_table(spark, sf_dir, "events"), "user_id"
    )


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type over the value feed: open/close
    are the first/last reading under a TOTAL (epoch_us, event_id) order
    carried through a fixed-width string encoding — plain min/max, so
    any engine agrees even on shared-microsecond ties. One map-side-
    combined groupBy, no window."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.timeseries import ohlc_bars

    return ohlc_bars(
        load_table(spark, sf_dir, "events"),
        key="event_type",
        ts="ts",
        id_col="event_id",
        value_cents=F.round(F.col("value") * 100, 0).cast("long"),
    )


def q_group_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-priority moment vector (n, Σx, Σx², min/max, Σy, Σy²,
    Σxy) over (dollars, order-day) — the mergeable sufficient statistics
    for variance/covariance/correlation, one map-side-combined pass.
    Dollars (not cents) keep n·max² inside BIGINT (stated bound)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.profile import group_moments

    o = load_table(spark, sf_dir, "orders")
    dollars = F.expr(
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) div 100"
    )
    day = (F.floor(F.unix_timestamp("o_orderdate") / 86400)).cast("long")
    return group_moments(o, "o_orderpriority", dollars, day)


# compaction target size, shared with the oracle (documents bytes proxy)
COMPACT_TARGET = 2000


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy prefix-sum compaction planning over a file listing
    (documents as the listing: source = partition dir, doc = file,
    n_chars = bytes): one window per partition over METADATA rows
    assigns target-sized output bins; already-right-sized singleton
    bins are flagged to skip rewriting."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.compaction import (
        compaction_plan,
    )

    return compaction_plan(
        load_table(spark, sf_dir, "documents"),
        partition_col="source",
        file_col="doc_id",
        bytes_col="n_chars",
        target_bytes=COMPACT_TARGET,
    )


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift between the two CDC snapshots'
    price distributions — the dataset-version monitoring signal. Decile
    boundaries come from the reference's exact distinct-value histogram;
    proportions are clamped floored permille and the log ratio runs
    through the shared integer log, so every per-bucket contribution is
    engine-exact. Both PSI factors always share a sign, so the product
    is non-negative and truncating DIV equals flooring //."""
    from tepsonic_database_sync_spark.operators.drift import psi_drift

    old, new = _cdc_snapshots(spark, sf_dir)
    return psi_drift(old, new, "cents")


# prefix-filter similarity-join threshold, shared with the oracle.
# Canonical home is operators/dedup.py (ADVICE r9); re-exported here for
# the oracle f-strings below and existing test imports.
from tepsonic_database_sync_spark.operators.dedup import (  # noqa: E402
    PREFIX_TAU_PERMILLE,
)


def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard similarity self-join (J ≥ 0.6) via AllPairs prefix
    filtering — the provably-complete candidate tier of the Jaccard
    family. The oracle is the INDEPENDENT all-pairs ground truth, so the
    hash certifies completeness of the rare-first prefix blocking, not
    just the verify step."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        jaccard_pairs_prefix,
    )

    return jaccard_pairs_prefix(
        load_table(spark, sf_dir, "documents"),
        tau_permille=PREFIX_TAU_PERMILLE,
    )


def q_match_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant (edit-distance-1) name matching via SymSpell
    deletion-neighborhood blocking: probes are customer names with one
    deterministically-removed character, matched back against the
    catalog through an equi-join on the shared delete-variant key (zero
    false negatives by construction) and a single levenshtein verify per
    distinct candidate pair — never an all-pairs product. The oracle is
    the INDEPENDENT ground truth (full quadratic levenshtein join), so
    the hash certifies the blocking's completeness, not just its
    plumbing."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.matching import match_fuzzy

    cust = load_table(spark, sf_dir, "customer")
    probes = cust.select(
        F.col("c_custkey").alias("probe_id"),
        F.expr(
            "substr(c_name, 1, CAST(c_custkey % length(c_name) AS INT))"
            " || substr(c_name,"
            " CAST(c_custkey % length(c_name) AS INT) + 2)"
        ).alias("probe"),
    )
    catalog = cust.select(F.col("c_custkey").alias("cat_id"), "c_name")
    return match_fuzzy(
        probes, catalog, "probe_id", "probe", "cat_id", "c_name"
    )


# weighted-sample size per stratum, shared with the oracle
WSAMPLE_K = 40


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (Efraimidis-Spirakis) over the
    documents corpus: per source, the k docs with the smallest integer
    exponential arrival times win, so longer documents (weight =
    n_chars) are proportionally more likely — yet membership is a pure
    function of doc_id, reproducible across engines and runs."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.sampling import (
        weighted_sample,
    )

    return weighted_sample(
        load_table(spark, sf_dir, "documents"),
        weight=F.col("n_chars"),
        key="doc_id",
        k=WSAMPLE_K,
        stratum="source",
    )


def q_cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate maintenance under CDC: refresh the per-status
    (count, revenue) rollup from the drift-sized changeset alone — the
    maintenance law ``incremental_agg(agg(OLD), diff(OLD, NEW)) ≡
    agg(NEW)`` IS the oracle, so any retract/assert asymmetry (a row
    moving between groups, a delete not settling its group) breaks the
    hash. Nothing in the refresh touches the base table."""
    from tepsonic_database_sync_spark.operators.cdc import (
        incremental_agg,
        snapshot_diff,
    )

    old, new = _cdc_snapshots(spark, sf_dir)
    state = old.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
    diff = snapshot_diff(
        old, new, keys=["o_orderkey"], compare_cols=["cents", "o_orderstatus"]
    )
    return incremental_agg(
        state, diff, group="o_orderstatus", value="cents"
    )


# PMI collocation parameters, shared with the oracle
PMI_MIN_PAIR = 5
PMI_TOPK = 100


def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k adjacent-token collocations by PMI in milli-nats — the
    phrase-detection statistic over the documents corpus. Scoring joins
    run over the pair-count frame (materialized once), the lexicon is
    broadcast, and the top-k compiles to TakeOrderedAndProject."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import token_pmi

    return token_pmi(
        load_table(spark, sf_dir, "documents"),
        min_pair=PMI_MIN_PAIR,
        k=PMI_TOPK,
    )


def q_runtime_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order rollup for ONE nation's customers, with the
    fact side pre-filtered by an explicit Bloom runtime filter before
    the join: the bitset is built distributed (bit_or) over the selected
    customers' keys and probed map-side, so the orders shuffle carries
    only (near-)matching rows. Bloom FPs are removed by the real join,
    so the result — and the oracle — is exactly the plain join."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.runtime_filter import (
        bloom_semi_reduce,
    )

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey") == 1
    )
    orders = load_table(spark, sf_dir, "orders")
    reduced = bloom_semi_reduce(orders, cust, "o_custkey", "c_custkey")
    return (
        reduced.join(
            cust.select("c_custkey", "c_name"),
            reduced["o_custkey"] == cust["c_custkey"],
        )
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(_cents("o_totalprice")).cast("long").alias("revenue_cents"),
        )
    )


# CDC snapshot derivation, shared with the oracle: OLD lacks keys
# divisible by old_excl (→ inserts), NEW lacks keys divisible by new_excl
# (→ deletes), NEW bumps price by upd_delta_cents on keys divisible by
# upd_mod (→ updates); everything else is unchanged and must NOT appear.
CDC_P = {"old_excl": 97, "new_excl": 89, "upd_mod": 7, "upd_delta_cents": 12345}


def _cdc_snapshots(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The deterministic OLD/NEW snapshot pair both CDC queries derive
    from orders with the shared ``CDC_P`` parameters."""
    from tepsonic_database_sync_spark.io import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", _cents("o_totalprice").alias("cents"), "o_orderstatus"
    )
    old = o.filter(F.col("o_orderkey") % CDC_P["old_excl"] != 0)
    new = o.filter(F.col("o_orderkey") % CDC_P["new_excl"] != 0).withColumn(
        "cents",
        F.when(
            F.col("o_orderkey") % CDC_P["upd_mod"] == 0,
            F.col("cents") + CDC_P["upd_delta_cents"],
        ).otherwise(F.col("cents")),
    )
    return old, new


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changeset between two snapshots of a keyed table — the
    relational form of the reference's existing-vs-fetched split
    (products.js:285-341: `existingProduct ? update : insert`). One
    co-partitioned full-outer join on the key; null-safe codegen'd value
    compare; changes-only output."""
    from tepsonic_database_sync_spark.operators.cdc import snapshot_diff

    old, new = _cdc_snapshots(spark, sf_dir)
    return snapshot_diff(
        old, new, keys=["o_orderkey"], compare_cols=["cents", "o_orderstatus"]
    )


def q_cdc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC round-trip law as a hash-checked query: applying the diff to
    the OLD snapshot must reproduce the NEW snapshot exactly — the
    oracle IS the new-snapshot derivation, so any asymmetry between
    producer (`snapshot_diff`) and consumer (`apply_changeset`) breaks
    the hash. The changeset side is drift-sized and broadcasts; the
    state side never shuffles."""
    from tepsonic_database_sync_spark.operators.cdc import (
        apply_changeset,
        snapshot_diff,
    )

    old, new = _cdc_snapshots(spark, sf_dir)
    diff = snapshot_diff(
        old, new, keys=["o_orderkey"], compare_cols=["cents", "o_orderstatus"]
    )
    return apply_changeset(
        old, diff, keys=["o_orderkey"], value_cols=["cents", "o_orderstatus"]
    )


# exact grouped-quantile grid, shared with the oracle (permille)
QUANTILE_QS = (250, 500, 750)


def q_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles via the distinct-value histogram (the
    scale-exact complement of sketch_percentile's t-digest): the only
    Sort runs over distinct whole-dollar values, never raw orders."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.quantiles import (
        grouped_quantiles_exact,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(_cents("o_totalprice") / 100).cast("long").alias("dollars"),
    )
    return grouped_quantiles_exact(
        o, "o_orderpriority", "dollars", qs_permille=QUANTILE_QS
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix (shingle Jaccard + directional
    containment, integer permille) — the corpus-curation signal before
    mixing sources into a training set. Wide text never shuffles; the
    self-join amplification is bounded by the per-shingle source count."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import source_overlap

    return source_overlap(load_table(spark, sf_dir, "documents"))


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution diagnostic for shuffle planning: the 20 hottest
    events.user_id values with share and heat-vs-uniform in permille.
    One map-side-combined groupBy; top-k via TakeOrderedAndProject."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.skew import skew_profile

    return skew_profile(load_table(spark, sf_dir, "events"), "user_id", top_k=20)


def q_embed_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end: embedding-cosine near-dup pairs
    (label-blocked integer cosine, the `embed_neardup` generator) fed
    into large-star/small-star contraction → (vec_id, cluster_id) with
    cluster_id = min member id. The embedding-space twin of
    `dedup_canonicalize`'s text pipeline; oracle = recursive CTE over
    the same integer-exact pair predicate.

    r17 (guide §2.2): the contraction consumes base-corpus pairs plus
    the always-true (i, i+10M) glue edges instead of the full
    4×-redundant union-corpus pair frame — connectivity (hence every
    min-member cluster label) is provably identical (proof in
    operators/similarity.py::embedding_neardup_base_pairs), and the
    dominant cost (one integer dot product per label-blocked pair)
    drops 4×."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        connected_components_star,
    )
    from tepsonic_database_sync_spark.operators.similarity import (
        NEARDUP_COPY_SHIFT,
        embedding_neardup_base_pairs,
        embedding_neardup_glue_edges,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # base pairs are distinct with a_id < b_id strict; the glue edges
    # (i, i + shift) are distinct, a < b, gated on the generator's own
    # copy-pair predicate (ADVICE r17 — degenerate vectors omit their
    # glue edge exactly as the full generator would), and disjoint from
    # the base pairs (base b_id < shift) — the edges_canonical contract
    # holds for the union
    pairs = embedding_neardup_base_pairs(emb).unionByName(
        embedding_neardup_glue_edges(emb)
    )
    # corpus nodes = original + the id-shifted copy the pair generator
    # unions in (so isolated vectors still get singleton clusters)
    nodes = emb.select(F.col("vec_id").alias("node")).unionByName(
        emb.select((F.col("vec_id") + NEARDUP_COPY_SHIFT).alias("node"))
    )
    comp = connected_components_star(pairs, nodes, edges_canonical=True)
    return comp.select(
        F.col("node").cast("long").alias("vec_id"),
        F.col("comp").cast("long").alias("cluster_id"),
    )


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (ADC over an 8×16 trained codebook) —
    the compressed-domain tier completing the ANN ladder. Training,
    encoding and ADC are exact integer math; the oracle replays all
    three bit-for-bit."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.similarity import pq_topk

    return pq_topk(load_table(spark, sf_dir, "embeddings"))


def q_ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production ANN composition (FAISS IVF..,PQ..): IVF inverted
    lists restrict WHICH vectors each query considers; PQ codes + ADC
    tables decide HOW distances are computed; exact shortlist re-rank
    finishes. Oracle = the two already-oracled CTE chains joined on the
    candidate set."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.similarity import ivf_pq_topk

    return ivf_pq_topk(load_table(spark, sf_dir, "embeddings"))


def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS inner-product join-cardinality estimate (orders ⋈ events on
    the customer key), exact count hash-checked + the hard within_bound
    flag — the shuffle-planning primitive next to skew_profile."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.sketches import (
        join_size_with_cms_check,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("uk")
    )
    e = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("uk"))
    return join_size_with_cms_check(o, e, "uk")


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup with the curation-correct survivor policy:
    the LOW-id copies are repetition-damaged (first token repeated 30× —
    same vocabulary, collapsed lexical diversity), the HIGH-id copies
    are clean, clustering is by the bag-of-words SET fingerprint. Where
    damage dropped a quality flag the clean HIGH-id copy must win — the
    opposite of dedup_exact's min-id policy; ties still break to min."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import keep_best_dedup
    from tepsonic_database_sync_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    damaged = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.repeat(
                F.concat(F.lit(" "), F.element_at(tokens(F.col("text")), 1)), 30
            ),
        ).alias("text"),
    )
    clean = d.select((F.col("doc_id") + 10000000).alias("doc_id"), "text")
    corpus = damaged.unionByName(clean)
    set_fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens(F.col("text")))), " ")
    )
    return keep_best_dedup(corpus, fingerprint=set_fp)


def q_dedup_fuzzy_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper per FUZZY cluster (FineWeb/RefinedWeb
    survivor policy) over the dedup_keep_best injected corpus: LOW-id
    copies are repetition-damaged (first token repeated 30× — near-dup
    under 3-shingle MinHash, degraded quality flags), HIGH-id copies
    are clean. Clusters come from LSH + star contraction, the keeper
    is the quality argmax — where damage dropped a flag the clean
    HIGH-id copy must win, the opposite of the min-id rule; singleton
    clusters keep themselves. Design + 100 TB shape in
    operators/dedup.py::fuzzy_keep_best."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import fuzzy_keep_best
    from tepsonic_database_sync_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    damaged = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.repeat(
                F.concat(F.lit(" "), F.element_at(tokens(F.col("text")), 1)), 30
            ),
        ).alias("text"),
    )
    clean = d.select((F.col("doc_id") + 10000000).alias("doc_id"), "text")
    return fuzzy_keep_best(damaged.unionByName(clean))


def _fuzzy_injected_chain(cols: str = "") -> str:
    """Shared WITH-chain for the injected damaged+clean corpus fuzzy
    oracles: MinHash/banding/recursive-closure clusters (cluster_id =
    min reachable id — the star-contraction label) + the
    dedup_keep_best quality CTE + the keeper ranking ``r``
    (row_number quality DESC, doc_id). ``cols`` threads extra corpus
    columns (e.g. ", lang, source") through the corpus CTE for
    oracles that re-attach wide columns; with the default "" the
    emitted SQL for dedup_fuzzy_keep_best is byte-identical to its
    pre-refactor form (the mixture_rebalance_bpe parameterization
    precedent — one definition of the chain, not a post-hoc string
    replace)."""
    h60 = _D_H60.format(e="s")
    return rf"""
WITH RECURSIVE corpus AS (
  SELECT doc_id{cols},
         text || repeat(' ' || regexp_split_to_array(lower(trim(text)),
                                                     '\s+')[1], 30) AS text
  FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id{cols}, text FROM documents
),
toks AS (
  SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM corpus
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN list_distinct(
           list_transform(range(0, len(t) - 2),
                          i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
         ELSE [] END AS shingles
  FROM toks
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hx AS (SELECT doc_id, ({h60} % {_P31}) AS h FROM ex),
{_D_KS},
sigs AS (
  SELECT doc_id, CAST(ks.i AS INT) AS i,
         CAST(min((ks.a * hx.h + ks.b) % {_P31}) AS BIGINT) AS sig
  FROM hx, ks GROUP BY doc_id, ks.i
),
banded AS (
  SELECT doc_id, i // 4 AS band,
         md5(array_to_string(list_sort(list(CAST(sig AS VARCHAR))), ',')) AS band_key
  FROM sigs GROUP BY doc_id, i // 4
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT c.doc_id,
         CAST(least(c.doc_id, coalesce(m.mn, c.doc_id)) AS BIGINT)
           AS cluster_id
  FROM corpus c
  LEFT JOIN (SELECT src, min(dst) AS mn FROM reach GROUP BY src) m
    ON c.doc_id = m.src
),
s AS (
  SELECT doc_id, length(text) AS n_chars, len(t) AS n_tokens,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
         CASE WHEN len(t) > 0 THEN (len(list_distinct(t)) * 1000) // len(t)
              ELSE 0 END AS uniq_permille,
         CASE WHEN len(t) > 0 THEN ({_sw(_SW["en"])} * 1000) // len(t)
              ELSE 0 END AS stopword_permille
  FROM toks
),
q AS (
  SELECT doc_id, CAST(
      (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 25 ELSE 0 END)
    + (CASE WHEN stopword_permille BETWEEN 20 AND 600 THEN 25 ELSE 0 END)
    + (CASE WHEN n_punct * 1000 < n_chars * 300 THEN 25 ELSE 0 END)
    + (CASE WHEN uniq_permille > 300 THEN 25 ELSE 0 END) AS BIGINT) AS quality
  FROM s
),
j AS (
  SELECT comp.cluster_id, comp.doc_id, q.quality
  FROM comp JOIN q ON comp.doc_id = q.doc_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY cluster_id
                               ORDER BY quality DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS nm
  FROM j
)"""


def _dedup_fuzzy_keep_best_oracle() -> str:
    """DuckDB twin of dedup.fuzzy_keep_best over the injected corpus:
    the shared ``_fuzzy_injected_chain`` + the keeper projection."""
    return _fuzzy_injected_chain() + """
SELECT cluster_id, CAST(doc_id AS BIGINT) AS keeper_doc_id, quality,
       CAST(nm AS BIGINT) AS n_members
FROM r WHERE rn = 1
"""


def q_dedup_fuzzy_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy tier's corpus-out form over the dedup_keep_best
    injected corpus (damaged LOW-id copies vs clean HIGH-id copies,
    lang/source carried through): the surviving documents themselves,
    one per LSH cluster, keeper by quality argmax, wide columns
    re-attached only for survivors. n_chars is recomputed from the
    CORPUS text (the damaged copies are longer than their table row
    says). Design + 100 TB shape in
    operators/dedup.py::fuzzy_canonicalize."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        fuzzy_canonicalize,
    )
    from tepsonic_database_sync_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    damaged = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.repeat(
                F.concat(F.lit(" "), F.element_at(tokens(F.col("text")), 1)), 30
            ),
        ).alias("text"),
        "lang",
        "source",
    )
    clean = d.select(
        (F.col("doc_id") + 10000000).alias("doc_id"), "text", "lang", "source"
    )
    return fuzzy_canonicalize(damaged.unionByName(clean))


def _dedup_fuzzy_canonicalize_oracle() -> str:
    """DuckDB twin: the shared ``_fuzzy_injected_chain`` with
    lang/source threaded through the corpus CTE, keeper rows rejoined
    to the corpus for the wide columns + corpus-text n_chars."""
    return _fuzzy_injected_chain(cols=", lang, source") + """
SELECT CAST(r.doc_id AS BIGINT) AS doc_id, c.lang, c.source,
       CAST(length(c.text) AS BIGINT) AS n_chars, r.quality,
       CAST(nm AS BIGINT) AS cluster_size
FROM r JOIN corpus c ON r.doc_id = c.doc_id
WHERE rn = 1
"""


def q_quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every order binned into its priority-group spend quartile — the
    exact quantile boundaries broadcast back onto the fact side, one
    conditional count per row."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.quantiles import (
        quantile_bucketize,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(_cents("o_totalprice") / 100).cast("long").alias("dollars"),
    )
    return quantile_bucketize(
        o, "o_orderpriority", "dollars", "o_orderkey", qs_permille=QUANTILE_QS
    )


def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: new / retained / resurrected actives
    per week plus the users churned INTO that week — lag/lead windows
    over each user's distinct week series, never over raw events."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.events import growth_accounting

    return growth_accounting(load_table(spark, sf_dir, "events"))


def q_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / rolling 7-day WAU — rolling DISTINCT via contribution
    explode (an array generator, ×7, no join), never a window: a user
    active 3 of 7 days still counts once."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.events import active_users

    return active_users(load_table(spark, sf_dir, "events"))


def q_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-user modal event_type (ties → lexicographically first)
    — the categorical census companion of grouped_quantiles/entropy."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.quantiles import grouped_mode

    return grouped_mode(
        load_table(spark, sf_dir, "events"), "user_id", "event_type"
    )


def q_group_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event_type distribution in exact
    milli-nats (portable integer log) — behavioral-diversity census:
    0 = single-action bots, ln(k)·1000 = uniform over k actions."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.profile import group_entropy

    return group_entropy(
        load_table(spark, sf_dir, "events"), "user_id", "event_type"
    )


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column census of events (nulls / distincts / min-max)
    over an engine-portable projection (longs + strings). Exact distinct
    here for the oracle; profile_table(exact=False) is the HLL++ form
    for 100 TB (same schema, flag flip)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.profile import profile_table

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").cast("long").alias("ts_es"),
    )
    return profile_table(e)


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style partial-overlap pairs: documents sharing ≥ 2 winnowing
    fingerprints, with directional containment — the copied-passage
    detector whole-doc Jaccard misses. Candidates via equi self-join on
    the fingerprint hash (the winnowing analog of an LSH band)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import winnow_overlap_pairs

    return winnow_overlap_pairs(load_table(spark, sf_dir, "documents"))


def q_text_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing embedder (hashing trick): sparse signed
    bag-of-words vectors (doc_id, bucket, weight) — the vocabulary-free
    documents→embedding bridge. Token explode + one map-side-combined
    groupBy; portable h60 hashing both engines reproduce."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import hash_embed

    return hash_embed(load_table(spark, sf_dir, "documents"))


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment by portable content hash
    (80/10/10) — stable across runs, engines, and partitionings."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.sampling import dataset_split

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return dataset_split(d, "doc_id")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exactly-k-per-stratum sample: 5 events per
    event_type, ranked by content hash."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.sampling import stratified_sample

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    return stratified_sample(e, "event_type", "event_id", k=5)


def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality rule evaluation (the quarantine pattern's metric side,
    X2): per rule, how many rows violate it. One pass per table, counts
    via conditional aggregation; the FK check is a broadcast anti-join."""
    from tepsonic_database_sync_spark.io import load_table

    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id")
    )
    orphans = (
        e.join(F.broadcast(c), "user_id", "left_anti")
        .agg(F.count("*").cast("long").alias("n_violations"))
        .select(F.lit("orphan_user").alias("rule"), "n_violations")
    )
    scalar = e.agg(
        F.count_if(F.col("value") < 0).cast("long").alias("neg"),
        F.count_if(F.col("event_type").isNull()).cast("long").alias("nullt"),
    ).select(
        F.explode(
            F.create_map(
                F.lit("negative_value"), F.col("neg"),
                F.lit("null_event_type"), F.col("nullt"),
            )
        ).alias("rule", "n_violations")
    )
    return orphans.unionByName(scalar)


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles of order value per segment (integer cents;
    interpolation on exact ints → engine-portable doubles). At 100 TB the
    same query swaps ``percentile`` for ``approx_percentile`` (t-digest) —
    the exact form is the correctness oracle for that swap."""
    from tepsonic_database_sync_spark.io import load_table

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.percentile(cents, 0.5).alias("p50_cents"),
            F.percentile(cents, 0.95).alias("p95_cents"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )


def q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct-count sketch vs exact: exact counts are oracle-
    hashed; the within_bound flag turns a drifting sketch into a hard
    correctness failure (the 100 TB plan uses the sketch, the oracle
    keeps it honest)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.sketches import (
        distinct_with_sketch_check,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_partkey")
    return distinct_with_sketch_check(li, ["l_returnflag"], "l_partkey")


def q_sketch_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest approx_percentile vs exact interpolating percentile, per
    segment — same pairing contract as sketch_distinct."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.sketches import (
        percentile_with_sketch_check,
    )

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return percentile_with_sketch_check(j, ["c_mktsegment"], cents)


def q_sketch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min heavy hitters vs exact top-k terms — third member of the
    sketch family (HLL distinct, t-digest percentile, CMS frequency),
    same pairing contract: exact counts oracle-hashed, within_bound
    flips on a broken sketch."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.sketches import (
        topk_with_cms_check,
    )
    from tepsonic_database_sync_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.explode(tokens(F.col("text"))).alias("term")).filter(
        F.col("term") != ""
    )
    return topk_with_cms_check(t, "term", k=20)


def q_tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped: distribution of orders-per-customer — left outer
    join (customers with zero orders count at 0) + two-level aggregation."""
    from tepsonic_database_sync_spark.io import load_table

    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("long").alias("custdist")
    )


def q_tpch_q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: large-volume orders — fact aggregation with a
    HAVING filter on the summed quantity."""
    from tepsonic_database_sync_spark.io import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.sum("l_quantity").cast("long").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )


def q_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: daily rollup computed from
    the hourly rollup (re-aggregable counts/sums), oracle-checked against
    a direct daily aggregation of the raw events."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.streaming.windows import multires_rollup

    return multires_rollup(load_table(spark, sf_dir, "events"))


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (skew mitigation): must equal the
    plain one-shuffle groupBy — the oracle IS the unsalted form."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.skew import salted_two_phase_agg

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    return salted_two_phase_agg(li, "l_returnflag", sum_cols=("l_quantity",))


# RANGE-frame horizon shared between the window query and its oracle
RANGE_FRAME_S = 30 * 86400


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (the window mode `window_running_total`'s ROWS
    frame can't express): per-customer 30-day rolling order value. The
    frame is bounded by the ORDER-BY VALUE (epoch seconds), not a row
    count — same-timestamp peers always aggregate together, which is
    exactly what makes a value frame deterministic under parallelism
    where a ROWS frame over ties would not be. One shuffle on o_custkey."""
    from pyspark.sql import Window
    from tepsonic_database_sync_spark.io import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.unix_timestamp("o_orderdate").cast("long").alias("es"),
        _cents("o_totalprice").alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("es")
        .rangeBetween(-RANGE_FRAME_S, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "es",
        F.sum("cents").over(w).cast("long").alias("rolling_cents"),
    )


def _window_range_frame_oracle() -> str:
    return f"""
SELECT o_custkey, o_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS es,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) OVER (
         PARTITION BY o_custkey ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
         RANGE BETWEEN {RANGE_FRAME_S} PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS rolling_cents
FROM orders
"""


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join (skew mitigation for joins AQE can't split): the
    large side salts per ROW, the dim side replicates to all salts, and
    the result must equal the plain join — the oracle IS the unsalted
    form. The salt never reaches the output, so the hash gate holds."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    return salted_join(ev, dim, "user_id", n_salts=8)


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery dedup (batch analog of the watermarked
    ``dropDuplicatesWithinWatermark`` stream — streaming form tested in
    tests/test_streaming_ops.py)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.streaming.ops import dedup_events_batch

    return dedup_events_batch(load_table(spark, sf_dir, "events"))


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension join (batch analog; the streaming form
    broadcast-joins each micro-batch against the static dim)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.streaming.ops import enrich_events_batch

    return enrich_events_batch(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join (batch analog): each purchase joined
    to the same user's views within the attribution window. The streaming
    form (watermarks both sides + event-time range condition → bounded
    state) is proven equal to this analog over deterministic micro-batches
    in tests/test_streaming_ops.py."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.streaming.ops import (
        attribute_purchases_batch,
    )

    return attribute_purchases_batch(load_table(spark, sf_dir, "events"))


def _stream_stream_join_oracle() -> str:
    """Generated from ops.ATTRIBUTION_WINDOW_S so query and oracle share
    the horizon constant."""
    from tepsonic_database_sync_spark.streaming.ops import ATTRIBUTION_WINDOW_S

    return f"""
SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(v.ts)) AS BIGINT)
         AS lag_sec,
       CAST(round(p.value * 100, 0) AS BIGINT) AS purchase_cents
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts
 AND v.ts >= p.ts - INTERVAL {ATTRIBUTION_WINDOW_S} SECOND
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
"""


def q_stream_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream join (batch analog): every view with the
    same user's purchases in the forward window, or NULLs if unconverted.
    The streaming form's null-extension-after-watermark contract is
    proven in tests/test_streaming_ops.py."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.streaming.ops import conversion_batch

    return conversion_batch(load_table(spark, sf_dir, "events"))


def _stream_conversion_oracle() -> str:
    from tepsonic_database_sync_spark.streaming.ops import ATTRIBUTION_WINDOW_S

    return f"""
SELECT v.event_id AS view_id, v.user_id, p.event_id AS purchase_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) - CAST(floor(epoch(v.ts)) AS BIGINT)
         AS lag_sec,
       p.event_id IS NOT NULL AS converted
FROM (SELECT * FROM events WHERE event_type = 'view') v
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL {ATTRIBUTION_WINDOW_S} SECOND
"""


# --- text analysis & dedup extensions (documents table) --------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document statistics (sizes, token/punct counts, permilles)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import text_stats

    return text_stats(load_table(spark, sf_dir, "documents"))


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword/CJK language ID."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import lang_id

    return lang_id(load_table(spark, sf_dir, "documents"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite 0-100 quality score."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import quality_score

    return quality_score(load_table(spark, sf_dir, "documents"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text fingerprints (md5 + 60-bit integer form)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import fingerprint

    return fingerprint(load_table(spark, sf_dir, "documents"))


def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents with deterministically injected
    emails/URLs (every 3rd doc), so the replacement path is exercised,
    not just the no-op: counts + the scrubbed text, hash-compared."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import scrub_pii

    d = load_table(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com via http://site.test/p/"),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = scrub_pii(injected)
    return out.select(
        "doc_id", "n_emails", "n_urls", F.md5("scrubbed").alias("scrubbed_md5")
    )


# fixed scoring query: one rare term (positive idf), two common terms
# (BM25 idf clamps to 0, plain tf-idf stays slightly positive)
BM25_TERMS = ["dup", "vector", "spark"]


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 repetition quality rules: top-bigram share, duplicated-
    trigram share, duplicate-line share (integer permille) per document."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import repetition_stats

    return repetition_stats(load_table(spark, sf_dir, "documents"))


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 + TF-IDF relevance scores for a fixed 3-term query —
    milli-fixed-point integers via the portable iln_milli log, so the
    DuckDB oracle is bit-exact."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import bm25_tfidf

    return bm25_tfidf(load_table(spark, sf_dir, "documents"), BM25_TERMS)


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (64-token windows, 16 overlap) — one row
    per chunk with its token count and text."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import chunk_documents

    return chunk_documents(load_table(spark, sf_dir, "documents"))


def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (k-gram polynomial hash + window minima) —
    the partial-overlap / plagiarism-detector fingerprint set."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import winnow_fingerprints

    return winnow_fingerprints(load_table(spark, sf_dir, "documents"))


def q_text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: top-50 terms (partial-agg + TakeOrdered)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import top_terms

    return top_terms(load_table(spark, sf_dir, "documents"))


def q_prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-preparation pipeline as one lazy plan:
    single-projection row-local gate (quality + lang + PII audit +
    fingerprint) → exact dedup → decontamination screen."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.plans.corpus import prepare_corpus

    return prepare_corpus(load_table(spark, sf_dir, "documents"))


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup through a REAL bucketed fingerprint
    index: the 'historical' corpus slice (doc_id % 5 < 3) seeds the
    store, the increment (the rest) is probed and admitted via
    ``incremental_dedup``. A fresh temp store per call keeps bench
    min-of-N and driver re-runs deterministic (the library op is
    replay-idempotent, but a shared store would survive across scale
    factors)."""
    import tempfile

    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import incremental_dedup
    from tepsonic_database_sync_spark.operators.text import fingerprint
    from tepsonic_database_sync_spark.sources.jdbc import (
        BucketedParquetStateStore,
    )

    docs = load_table(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 5 < 3)
    inc = docs.filter(F.col("doc_id") % 5 >= 3)
    store = BucketedParquetStateStore(
        spark,
        tempfile.mkdtemp(prefix="fp_index_"),
        keys=["fp_md5"],
        n_buckets=8,
    )
    store.write_full(
        fingerprint(hist)
        .groupBy("fp_md5")
        .agg(F.min("doc_id").cast("long").alias("doc_id"))
    )
    return incremental_dedup(inc, store)


def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprise per document (avg negative log-prob,
    milli-nats, Laplace smoothing) — the perplexity-style quality filter
    of a training-data pipeline, in engine-exact integer fixed point."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import lm_score

    return lm_score(load_table(spark, sf_dir, "documents"))


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet per-language perplexity buckets (Wenzek et al. 2020): the
    corpus bigram-LM score bucketed head/middle/tail against each
    document's OWN language mean (five languages in the corpus — the
    per-language grouping is non-vacuous). Design + the
    percentile→mean-relative adaptation in
    operators/text.py::ccnet_buckets."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import ccnet_buckets

    return ccnet_buckets(load_table(spark, sf_dir, "documents"))


def _ccnet_buckets_oracle() -> str:
    """DuckDB twin of text.ccnet_buckets: the verified lm_score oracle
    as a subquery + one per-language integer micro-average + the
    mean-relative bucket CASE."""
    from tepsonic_database_sync_spark.operators.text import (
        STACK_HEAD_PERMILLE,
        STACK_TAIL_PERMILLE,
    )

    lm = _lm_score_oracle()
    return f"""
WITH lm AS (SELECT * FROM ({lm})),
j AS (
  SELECT l.doc_id, d.lang, l.avg_nll_milli, l.n_bigrams, l.sum_nll_milli
  FROM lm l JOIN documents d ON d.doc_id = l.doc_id
),
m AS (
  SELECT lang,
         CAST(CASE WHEN sum(n_bigrams) > 0
              THEN sum(sum_nll_milli) // sum(n_bigrams)
              ELSE 0 END AS BIGINT) AS lang_mean_nll_milli
  FROM j GROUP BY lang
)
SELECT j.doc_id, j.lang, j.avg_nll_milli, m.lang_mean_nll_milli,
  CASE WHEN j.n_bigrams = 0 THEN 'tail'
       WHEN j.avg_nll_milli * 1000
            < m.lang_mean_nll_milli * {STACK_HEAD_PERMILLE} THEN 'head'
       WHEN j.avg_nll_milli * 1000
            > m.lang_mean_nll_milli * {STACK_TAIL_PERMILLE} THEN 'tail'
       ELSE 'middle' END AS ppl_bucket
FROM j JOIN m USING (lang)
"""


def q_lang_mix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-language document audit: language-ID per disjoint 32-token
    chunk, deterministic per-doc majority, minority share as
    mix_permille (the wrong-language-contamination check of Kreutzer
    et al. 2022). Design in operators/text.py::lang_mix_audit."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import lang_mix_audit

    return lang_mix_audit(load_table(spark, sf_dir, "documents"))


def _lang_mix_audit_oracle() -> str:
    """DuckDB twin of text.lang_mix_audit: the text_chunks oracle
    parameterized to 32/0 windows, the text_lang_id CASE per chunk,
    majority via row_number over (c DESC, lang) (== Spark's
    min(−c, lang) struct), doc-list left join for empty docs."""
    from tepsonic_database_sync_spark.operators.text import (
        LANG_MIX_CHUNK_TOKENS as ct,
    )
    return f"""
WITH toked AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\\s+') AS t,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n
  FROM documents
),
sized AS (
  SELECT doc_id, t,
         CASE WHEN trim(array_to_string(t, ' ')) = '' THEN 0
              WHEN n <= {ct} THEN 1
              ELSE CAST(ceil((n - {ct}) / {ct}.0) AS INT) + 1 END
           AS n_chunks
  FROM toked
),
chunks AS (
  SELECT s.doc_id,
         array_to_string(
           t[CAST(r.i AS INT) * {ct} + 1 : CAST(r.i AS INT) * {ct} + {ct}],
           ' ') AS chunk_text
  FROM sized s, unnest(range(0, s.n_chunks)) r(i)
  WHERE s.n_chunks > 0
),
ctoks AS (
  SELECT doc_id, chunk_text,
         regexp_split_to_array(lower(trim(chunk_text)), '\\s+') AS t
  FROM chunks
),
langs AS (
  SELECT doc_id,
    CASE WHEN len(regexp_extract_all(chunk_text,
                  '[\\x{{4e00}}-\\x{{9fff}}]')) > 0 THEN 'zh'
         WHEN {_sw(_SW["en"])} >= {_sw(_SW["es"])}
              AND {_sw(_SW["en"])} >= {_sw(_SW["de"])}
              AND {_sw(_SW["en"])} >= {_sw(_SW["fr"])}
              AND {_sw(_SW["en"])} > 0 THEN 'en'
         WHEN {_sw(_SW["es"])} >= {_sw(_SW["de"])}
              AND {_sw(_SW["es"])} >= {_sw(_SW["fr"])}
              AND {_sw(_SW["es"])} > 0 THEN 'es'
         WHEN {_sw(_SW["de"])} >= {_sw(_SW["fr"])}
              AND {_sw(_SW["de"])} > 0 THEN 'de'
         WHEN {_sw(_SW["fr"])} > 0 THEN 'fr'
         ELSE 'und' END AS lang
  FROM ctoks
),
cnt AS (
  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS c
  FROM langs GROUP BY doc_id, lang
),
rk AS (
  SELECT doc_id, lang, c,
         sum(c) OVER (PARTITION BY doc_id) AS n_chunks,
         count(*) OVER (PARTITION BY doc_id) AS n_langs,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY c DESC, lang) AS rn
  FROM cnt
),
per AS (
  SELECT doc_id, n_chunks, n_langs, lang AS major_lang, c AS n_major
  FROM rk WHERE rn = 1
)
SELECT d.doc_id,
       CAST(coalesce(n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(coalesce(n_langs, 0) AS BIGINT) AS n_langs,
       coalesce(major_lang, 'und') AS major_lang,
       CAST(coalesce(n_major, 0) AS BIGINT) AS n_major,
       CAST(CASE WHEN coalesce(n_chunks, 0) > 0
            THEN (n_chunks - n_major) * 1000 // n_chunks
            ELSE 0 END AS BIGINT) AS mix_permille
FROM (SELECT doc_id FROM documents) d LEFT JOIN per USING (doc_id)
"""


# the synthetic documents corpus has a 31-type vocabulary (measured at
# every SF), so the registry entry runs the curve at cuts that land
# INSIDE it — partial coverage, a cut splitting a count-tie group, and
# the beyond-vocabulary clamp all non-vacuous. The operator's default
# ladder stays the published 1k-16k sizing ladder.
_VOCAB_Q_CUTS = [2, 5, 10, 25, 16000]


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV curve — the tokenizer-sizing audit:
    share of corpus token occurrences covered by the K most frequent
    types, computed WITHOUT any sort over tokens (the curve is a
    function of the histogram-of-counts; the only window runs over
    distinct count values — O(√corpus) rows under Zipf). Cuts sized to
    the corpus's 31-type vocabulary so every branch is exercised.
    Design in operators/text.py::vocab_coverage."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import vocab_coverage

    return vocab_coverage(
        load_table(spark, sf_dir, "documents"), cuts=_VOCAB_Q_CUTS
    )


def _vocab_coverage_oracle() -> str:
    """DuckDB twin of text.vocab_coverage: same unigram counts, same
    histogram-of-counts running sums, same split-group interpolation
    covered = prev_mass + (K − prev_types)·c, same independent integer
    permille divisions."""
    cuts = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS vocab_size" for k in _VOCAB_Q_CUTS
    )
    return f"""
WITH uni AS (
  SELECT w AS tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(list_filter(
          regexp_split_to_array(lower(trim(text)), '\\s+'),
          x -> x <> '')) AS w
        FROM documents)
  GROUP BY w
),
byc AS (
  SELECT c, CAST(count(*) AS BIGINT) AS n_types,
         CAST(c * count(*) AS BIGINT) AS mass
  FROM uni GROUP BY c
),
run AS (
  SELECT c,
         sum(n_types) OVER (ORDER BY c DESC
                            ROWS UNBOUNDED PRECEDING) - n_types
           AS prev_types,
         sum(mass) OVER (ORDER BY c DESC
                         ROWS UNBOUNDED PRECEDING) - mass AS prev_mass,
         sum(n_types) OVER (ORDER BY c DESC
                            ROWS UNBOUNDED PRECEDING) AS cum_types
  FROM byc
),
tot AS (
  SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS tot_mass,
         CAST(count(*) AS BIGINT) AS tot_types
  FROM uni
),
cuts AS ({cuts})
SELECT k.vocab_size,
       CAST(least(k.vocab_size, t.tot_types) AS BIGINT) AS n_types_used,
       CAST(CASE WHEN t.tot_mass > 0
            THEN (CASE WHEN k.vocab_size >= t.tot_types THEN t.tot_mass
                  ELSE r.prev_mass
                       + (k.vocab_size - r.prev_types) * r.c END) * 1000
                 // t.tot_mass
            ELSE 0 END AS BIGINT) AS covered_permille,
       CAST(CASE WHEN t.tot_mass > 0
            THEN (t.tot_mass * 1000
                  - (CASE WHEN k.vocab_size >= t.tot_types THEN t.tot_mass
                     ELSE r.prev_mass
                          + (k.vocab_size - r.prev_types) * r.c END) * 1000)
                 // t.tot_mass
            ELSE 0 END AS BIGINT) AS oov_permille
FROM cuts k CROSS JOIN tot t
LEFT JOIN run r
  ON r.prev_types < k.vocab_size AND r.cum_types >= k.vocab_size
"""


def q_ccnet_buckets_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet buckets at the PUBLISHED per-language percentile cuts
    (Wenzek et al. 2020: head/middle/tail thirds by perplexity
    percentile within each language) — the exact form, via the
    two-pass histogram rank (the model_score_hist pattern: the only
    sort runs over distinct per-language score values, never the
    corpus). The mean-relative ``ccnet_buckets`` stays as the
    documented cheap variant. Design in
    operators/text.py::ccnet_buckets_pct."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import (
        ccnet_buckets_pct,
    )

    return ccnet_buckets_pct(load_table(spark, sf_dir, "documents"))


def _ccnet_buckets_pct_oracle() -> str:
    """DuckDB twin of text.ccnet_buckets_pct: the verified lm_score
    oracle + a per-(lang, avg_nll) histogram, min-rank via running sum
    over the distinct histogram, integer permille percentile, the
    published third cuts, zero-bigram docs forced 'tail'."""
    from tepsonic_database_sync_spark.operators.text import (
        CCNET_HEAD_PERMILLE,
        CCNET_TAIL_PERMILLE,
    )

    lm = _lm_score_oracle()
    return f"""
WITH lm AS (SELECT * FROM ({lm})),
j AS (
  SELECT l.doc_id, d.lang, l.avg_nll_milli, l.n_bigrams
  FROM lm l JOIN documents d ON d.doc_id = l.doc_id
),
hist AS (
  SELECT lang, avg_nll_milli, CAST(count(*) AS BIGINT) AS c
  FROM j WHERE n_bigrams > 0 GROUP BY lang, avg_nll_milli
),
ranked AS (
  SELECT lang, avg_nll_milli,
         sum(c) OVER (PARTITION BY lang ORDER BY avg_nll_milli
                      ROWS UNBOUNDED PRECEDING) - c + 1 AS r,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM hist
),
pct AS (
  SELECT lang, avg_nll_milli,
         CAST(CASE WHEN n > 1 THEN (1000 * (r - 1)) // (n - 1)
              ELSE 0 END AS BIGINT) AS pct_permille
  FROM ranked
)
SELECT j.doc_id, j.lang, j.avg_nll_milli,
       CAST(CASE WHEN j.n_bigrams = 0 THEN 0
            ELSE p.pct_permille END AS BIGINT) AS pct_permille,
       CASE WHEN j.n_bigrams = 0 THEN 'tail'
            WHEN p.pct_permille < {CCNET_HEAD_PERMILLE} THEN 'head'
            WHEN p.pct_permille < {CCNET_TAIL_PERMILLE} THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM j LEFT JOIN pct p
  ON p.lang = j.lang AND p.avg_nll_milli = j.avg_nll_milli
     AND j.n_bigrams > 0
"""


def _corpus_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ an id-shifted copy — a corpus with known exact dups
    (the raw table has none, so dedup demos synthesize them)."""
    from tepsonic_database_sync_spark.io import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copy = d.select((F.col("doc_id") + 10000000).alias("doc_id"), "text")
    return d.unionByName(copy)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: keeper (min id) + copy count."""
    from tepsonic_database_sync_spark.operators.dedup import exact_dedup

    return exact_dedup(_corpus_with_dups(spark, sf_dir))


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-corpus duplicate-line removal over the
    dup-injected corpus (documents ∪ id-shifted copy): every copy doc
    loses ALL its lines to the original (keeper = corpus-first
    occurrence), originals keep everything not already seen — both
    branches of the keep rule certified non-vacuously, plus the
    reconstructed kept-prefix. Design in operators/dedup.py::line_dedup."""
    from tepsonic_database_sync_spark.operators.dedup import line_dedup

    return line_dedup(_corpus_with_dups(spark, sf_dir))


def _line_dedup_oracle() -> str:
    """DuckDB twin of dedup.line_dedup over the dup-injected corpus:
    same normalized lines, the identical h60 key, keeper via
    row_number over (doc_id, line_no) (== Spark's min-struct), ordered
    string_agg head."""
    from tepsonic_database_sync_spark.operators.dedup import (
        LINE_DEDUP_HEAD_CHARS,
    )
    from tepsonic_database_sync_spark.functions.hashing import h60_sql

    k = h60_sql("line")
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents
),
lns AS (
  SELECT doc_id, i AS line_no, l[i] AS line
  FROM (SELECT doc_id,
               list_filter(list_transform(string_split(text, chr(10)),
                           x -> lower(trim(x))), x -> x <> '') AS l
        FROM corpus),
       unnest(range(1, len(l) + 1)) AS r(i)
),
flagged AS (
  SELECT doc_id, line_no, line,
         row_number() OVER (PARTITION BY {k}
                            ORDER BY doc_id, line_no) = 1 AS kept
  FROM lns
),
per AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         substr(string_agg(CASE WHEN kept THEN line END, chr(10)
                           ORDER BY line_no),
                1, {LINE_DEDUP_HEAD_CHARS}) AS kept_head
  FROM flagged GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(coalesce(n_lines, 0) AS BIGINT) AS n_lines,
       CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
       CAST(CASE WHEN coalesce(n_lines, 0) > 0
            THEN (n_lines - coalesce(n_kept, 0)) * 1000 // n_lines
            ELSE 0 END AS BIGINT) AS removed_permille,
       coalesce(kept_head, '') AS kept_head
FROM (SELECT doc_id FROM corpus) c LEFT JOIN per USING (doc_id)
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked pairwise 3-gram Jaccard overlap (integer inter/union)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components (iterative min-label
    propagation) over the MinHash-LSH candidate pairs; every doc gets the
    min doc_id of its cluster as the keeper key."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_sig_array,
    )

    docs = load_table(spark, sf_dir, "documents")
    # checkpoint (not persist): the pair list is re-joined every
    # propagation round, and an eager local checkpoint leaves no cache
    # entry behind to leak into unrelated plans
    pairs = lsh_candidate_pairs(minhash_sig_array(docs)).localCheckpoint(eager=True)
    nodes = docs.select(F.col("doc_id").alias("node"))
    return connected_components(pairs, nodes).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters as ``dedup_clusters``, computed by the
    large-star/small-star contraction body (O(log² component size)
    rounds instead of O(diameter) — the variant that survives deep
    chain-shaped components at web-graph scale); checked against the
    identical recursive-CTE transitive-closure oracle."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        connected_components_star,
        lsh_candidate_pairs,
        minhash_sig_array,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(minhash_sig_array(docs)).localCheckpoint(eager=True)
    nodes = docs.select(F.col("doc_id").alias("node"))
    return connected_components_star(pairs, nodes, edges_canonical=True).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: per-user versioned state rows with
    [valid_from, valid_to) ranges and is_current — change detection +
    validity windows in one user_id shuffle."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.events import scd2_history

    return scd2_history(load_table(spark, sf_dir, "events"))


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer training: 3 rounds of exact-integer
    spherical k-means over the embeddings (milli-unit fixed-point
    centroids, truncation-division means) — long-format codebook."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.similarity import kmeans_train

    return kmeans_train(load_table(spark, sf_dir, "embeddings"))


def q_dedup_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup removal: LSH pairs → star-contraction clusters
    → one canonical survivor (min doc_id) per cluster with its cluster
    size — the step a training-data pipeline actually executes."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import canonicalize

    return canonicalize(load_table(spark, sf_dir, "documents"))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination screen: training docs flagged by word
    3-gram overlap with a deterministic 5% held-out benchmark slice; the
    benchmark gram set is broadcast (eval suites are tiny vs the corpus)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import contamination_flags

    return contamination_flags(load_table(spark, sf_dir, "documents"))


def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY eval decontamination — the near-dup complement of the
    exact gram probe: a deterministic 5% slice becomes the benchmark
    side PERTURBED (one appended token — the lightly-edited leak the
    exact probe misses: one new trailing 3-shingle, so Jaccard =
    S/(S+1)), bench ids shifted +20M. Training side = ALL originals.
    At tau 950/1000 the perturbed twins of shingle-rich docs (S >= 19)
    flag as contaminated while shorter docs surface as candidates
    BELOW the threshold — both verify branches fire at the oracle SF
    (26 contaminated / 7 below at sf0.01, jp spanning 818-989).
    Design + 100 TB shape in
    operators/dedup.py::decontaminate_fuzzy."""
    from tepsonic_database_sync_spark.functions.hashing import h60
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        decontaminate_fuzzy,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(
        h60(F.concat(F.lit("fz:"), F.col("doc_id").cast("string"))) % 100 < 5
    ).select(
        (F.col("doc_id") + 20000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzeval")).alias("text"),
    )
    return decontaminate_fuzzy(d, bench, tau_permille=950)


def _fuzzy_decon_chain() -> str:
    """Shared WITH-chain for the perturbed-5%-bench fuzzy
    decontamination oracles: minhash/banding CTEs built once over the
    tagged union of both sides, cross-side band join, exact
    distinct-shingle Jaccard verify (the dedup_jaccard_banded rule),
    best match per train doc ranked in ``best`` (jaccard DESC,
    bench_id). Emitted SQL for decontaminate_fuzzy is byte-identical
    to its pre-refactor form (the _fuzzy_injected_chain /
    mixture_rebalance_bpe parameterization precedent)."""
    h60 = _D_H60.format(e="s")
    split = _D_H60.format(e="'fz:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH corpus AS (
  SELECT doc_id, text, 0 AS is_bench FROM documents
  UNION ALL
  SELECT doc_id + 20000000 AS doc_id, text || ' zzeval' AS text, 1 AS is_bench
  FROM documents WHERE {split} % 100 < 5
),
toks AS (
  SELECT doc_id, is_bench,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM corpus
),
sh AS (
  SELECT doc_id, is_bench,
         CASE WHEN len(t) >= 3 THEN list_distinct(
           list_transform(range(0, len(t) - 2),
                          i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
         ELSE [] END AS shingles
  FROM toks
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hx AS (SELECT doc_id, ({h60} % {_P31}) AS h FROM ex),
{_D_KS},
sigs AS (
  SELECT doc_id, CAST(ks.i AS INT) AS i,
         CAST(min((ks.a * hx.h + ks.b) % {_P31}) AS BIGINT) AS sig
  FROM hx, ks GROUP BY doc_id, ks.i
),
banded AS (
  SELECT doc_id, i // 4 AS band,
         md5(array_to_string(list_sort(list(CAST(sig AS VARCHAR))), ',')) AS band_key
  FROM sigs GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT t.doc_id AS t_id, b.doc_id AS b_id
  FROM banded t JOIN banded b
    ON t.band = b.band AND t.band_key = b.band_key
  WHERE t.doc_id < 20000000 AND b.doc_id >= 20000000
),
v AS (
  SELECT c.t_id, c.b_id,
         CAST(len(list_intersect(st.shingles, sb.shingles)) AS BIGINT)
           AS inter,
         CAST(len(st.shingles) + len(sb.shingles) AS BIGINT) AS sz
  FROM cand c
  JOIN sh st ON st.doc_id = c.t_id
  JOIN sh sb ON sb.doc_id = c.b_id
),
jp AS (
  SELECT t_id, b_id,
         CAST(CASE WHEN sz - inter > 0
              THEN (1000 * inter) // (sz - inter) ELSE 0 END AS BIGINT)
           AS jp
  FROM v
),
best AS (
  SELECT t_id, b_id, jp,
         row_number() OVER (PARTITION BY t_id
                            ORDER BY jp DESC, b_id) AS rn
  FROM jp
)"""


def _decontaminate_fuzzy_oracle(tau_permille: int = 950) -> str:
    """DuckDB twin of dedup.decontaminate_fuzzy over the perturbed 5%
    bench slice: the shared ``_fuzzy_decon_chain`` + the per-train-doc
    left-join projection."""
    return _fuzzy_decon_chain() + f"""
SELECT d.doc_id,
       CAST(coalesce(b.b_id, -1) AS BIGINT) AS best_bench_id,
       CAST(coalesce(b.jp, 0) AS BIGINT) AS best_jaccard_permille,
       coalesce(b.jp, 0) >= {tau_permille} AS contaminated
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.t_id
"""


def q_contamination_fuzzy_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source FUZZY-contamination rollup over the same perturbed
    5% bench slice as decontaminate_fuzzy (tau 950): which sources
    leak near-duplicate eval data, at what permille, and the single
    worst verified (doc, bench, jaccard) triple per source for triage.
    Non-vacuous at the oracle SF: the 26 contaminated docs spread
    over a strict subset of the 20 sources, so contaminated and
    all-clean rows both appear. Design + 100 TB shape in
    operators/dedup.py::contamination_fuzzy_report."""
    from tepsonic_database_sync_spark.functions.hashing import h60
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        contamination_fuzzy_report,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    bench = d.filter(
        h60(F.concat(F.lit("fz:"), F.col("doc_id").cast("string"))) % 100 < 5
    ).select(
        (F.col("doc_id") + 20000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzeval")).alias("text"),
    )
    return contamination_fuzzy_report(d, bench, tau_permille=950)


def _contamination_fuzzy_report_oracle(tau_permille: int = 950) -> str:
    """DuckDB twin: the shared ``_fuzzy_decon_chain`` + the per-doc
    flags rejoined to the source column, rolled up per source with the
    integer permille and the worst-match argmin replayed as row_number
    (jaccard DESC, doc_id)."""
    return _fuzzy_decon_chain() + f"""
, flags AS (
  SELECT d.doc_id, d.source,
         CAST(coalesce(b.b_id, -1) AS BIGINT) AS best_bench_id,
         CAST(coalesce(b.jp, 0) AS BIGINT) AS jp,
         coalesce(b.jp, 0) >= {tau_permille} AS contaminated
  FROM documents d
  LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.t_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY jp DESC, doc_id) AS srn
  FROM flags
),
rollup AS (
  SELECT source, count(*) AS n_docs,
         sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS n_contaminated
  FROM flags GROUP BY source
)
SELECT r.source,
       CAST(r.n_docs AS BIGINT) AS n_docs,
       CAST(r.n_contaminated AS BIGINT) AS n_contaminated,
       CAST(CASE WHEN r.n_docs > 0
            THEN (r.n_contaminated * 1000) // r.n_docs ELSE 0 END AS BIGINT)
         AS contamination_permille,
       w.jp AS worst_jaccard_permille,
       CAST(w.doc_id AS BIGINT) AS worst_doc_id,
       w.best_bench_id AS worst_bench_id
FROM rollup r JOIN ranked w ON r.source = w.source AND w.srn = 1
"""


def q_dedup_cluster_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution over the raw corpus — the
    decision input for the dedup policy (at the oracle SF: 453
    singletons, 22 pairs, 1 triple — three sizes, all branches live).
    Same certified LSH + star-contraction clusters as
    dedup_clusters_star; census rules in
    operators/dedup.py::dedup_cluster_census."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        dedup_cluster_census,
    )

    return dedup_cluster_census(load_table(spark, sf_dir, "documents"))


def _dedup_cluster_census_oracle() -> str:
    """DuckDB twin: the dedup_clusters recursive-closure labels →
    per-label counts → per-size census with the integer permille and
    min example id."""
    return f"""
WITH RECURSIVE {_D_TOKS}{_D_SHINGLES}{_D_MINHASH_SIGS},
banded AS (
  SELECT doc_id, i // 4 AS band,
         md5(array_to_string(list_sort(list(CAST(sig AS VARCHAR))), ',')) AS band_key
  FROM sigs GROUP BY doc_id, i // 4
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT d.doc_id,
         CAST(least(d.doc_id, coalesce(m.mn, d.doc_id)) AS BIGINT)
           AS cluster_id
  FROM documents d
  LEFT JOIN (SELECT src, min(dst) AS mn FROM reach GROUP BY src) m
    ON d.doc_id = m.src
),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY cluster_id
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
SELECT s.cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(s.cluster_size * count(*) AS BIGINT) AS n_docs,
       CAST(CASE WHEN t.n_total > 0
            THEN (s.cluster_size * count(*) * 1000) // t.n_total
            ELSE 0 END AS BIGINT) AS doc_share_permille,
       CAST(min(s.cluster_id) AS BIGINT) AS example_cluster
FROM sizes s, tot t
GROUP BY s.cluster_size, t.n_total
"""


def q_boilerplate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate-line census: which sources ship template
    lines (≥ 3 distinct docs sharing a normalized line), their top
    line, and the share of the source's docs it covers — the report
    that decides whether a source needs line_dedup or a wholesale
    drop. The raw corpus has no per-source repeated line, so the entry
    runs over a footer-injected corpus (the line_dedup convention): a
    deterministic 40% of docs get a source-specific footer line, but
    ONLY in the sources whose own hash is even — half the sources
    report their footer as top line, the other half stay all-zero, so
    both branches are non-vacuous at the oracle SF. Design + 100 TB
    note in operators/dedup.py::boilerplate_report."""
    from tepsonic_database_sync_spark.functions.hashing import h60
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        boilerplate_report,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    inj = (
        h60(F.concat(F.lit("bp:"), F.col("doc_id").cast("string"))) % 100
        < 40
    ) & (h60(F.concat(F.lit("bps:"), F.col("source"))) % 2 == 0)
    corpus = d.withColumn(
        "text",
        F.when(
            inj,
            F.concat(
                F.col("text"),
                F.lit(chr(10) + "standard footer for "),
                F.col("source"),
            ),
        ).otherwise(F.col("text")),
    )
    return boilerplate_report(corpus)


def _boilerplate_report_oracle(min_docs: int = 3) -> str:
    """DuckDB twin of dedup.boilerplate_report over the footer-injected
    corpus: same normalized lines as the line_dedup oracle, distinct
    (source, line, doc) census, boilerplate cut at min_docs distinct
    docs, top line via row_number (in_docs DESC, line)."""
    from tepsonic_database_sync_spark.functions.hashing import h60_sql

    inj_doc = h60_sql("'bp:' || CAST(doc_id AS VARCHAR)")
    inj_src = h60_sql("'bps:' || source")
    return f"""
WITH corpus AS (
  SELECT doc_id, source,
         CASE WHEN ({inj_doc}) % 100 < 40 AND ({inj_src}) % 2 = 0
              THEN text || chr(10) || 'standard footer for ' || source
              ELSE text END AS text
  FROM documents
),
lns AS (
  SELECT DISTINCT doc_id, source, l[i] AS line
  FROM (SELECT doc_id, source,
               list_filter(list_transform(string_split(text, chr(10)),
                           x -> lower(trim(x))), x -> x <> '') AS l
        FROM corpus),
       unnest(range(1, len(l) + 1)) AS r(i)
),
nd AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM corpus GROUP BY source
),
counts AS (
  SELECT source, line, CAST(count(*) AS BIGINT) AS in_docs
  FROM lns GROUP BY source, line
),
boiler AS (SELECT * FROM counts WHERE in_docs >= {min_docs}),
ranked AS (
  SELECT source, line, in_docs,
         row_number() OVER (PARTITION BY source
                            ORDER BY in_docs DESC, line) AS rn
  FROM boiler
),
nb AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_boiler_lines
  FROM boiler GROUP BY source
),
touched AS (
  SELECT l.source, CAST(count(DISTINCT l.doc_id) AS BIGINT) AS boiler_docs
  FROM lns l JOIN boiler b ON l.source = b.source AND l.line = b.line
  GROUP BY l.source
)
SELECT nd.source, nd.n_docs,
       CAST(coalesce(nb.n_boiler_lines, 0) AS BIGINT) AS n_boiler_lines,
       coalesce(r.line, '') AS top_line,
       CAST(coalesce(r.in_docs, 0) AS BIGINT) AS top_line_docs,
       CAST(CASE WHEN nd.n_docs > 0
            THEN (coalesce(r.in_docs, 0) * 1000) // nd.n_docs
            ELSE 0 END AS BIGINT) AS coverage_permille,
       CAST(CASE WHEN nd.n_docs > 0
            THEN (coalesce(t.boiler_docs, 0) * 1000) // nd.n_docs
            ELSE 0 END AS BIGINT) AS boiler_doc_permille
FROM nd
LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r ON nd.source = r.source
LEFT JOIN nb ON nd.source = nb.source
LEFT JOIN touched t ON nd.source = t.source
"""


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source benchmark-contamination rates — the report that
    localizes WHICH sources leak eval data (the actionable curation
    unit). Design in operators/dedup.py::contamination_report."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        contamination_report,
    )

    return contamination_report(load_table(spark, sf_dir, "documents"))


def _contamination_report_oracle() -> str:
    """DuckDB twin: the decontaminate oracle body + the source attach
    + one per-source rollup with the integer permille."""
    return f"""
WITH {{toks}}{{shingles}},
f AS (
  SELECT doc_id, shingles,
         {_D_H60.format(e="'bench:' || CAST(doc_id AS VARCHAR)")} % 100 < 5
           AS is_bench
  FROM sh
),
bg AS (SELECT DISTINCT unnest(shingles) AS g FROM f WHERE is_bench),
tr AS (SELECT doc_id, unnest(shingles) AS g FROM f WHERE NOT is_bench),
hits AS (
  SELECT tr.doc_id, count(*) AS nh FROM tr JOIN bg USING (g)
  GROUP BY tr.doc_id
),
flags AS (
  SELECT f.doc_id,
         CAST(coalesce(h.nh, 0) AS BIGINT) AS n_hit_grams,
         coalesce(h.nh, 0) >= 1 AS contaminated
  FROM f LEFT JOIN hits h ON f.doc_id = h.doc_id
  WHERE NOT f.is_bench
),
j AS (
  SELECT fl.*, d.source
  FROM flags fl JOIN documents d ON d.doc_id = fl.doc_id
),
a AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated,
         CAST(sum(n_hit_grams) AS BIGINT) AS total_hit_grams,
         CAST(max(n_hit_grams) AS BIGINT) AS max_hit_grams
  FROM j GROUP BY source
)
SELECT source, n_docs, n_contaminated,
       CAST(CASE WHEN n_docs > 0
            THEN n_contaminated * 1000 // n_docs
            ELSE 0 END AS BIGINT) AS contamination_permille,
       total_hit_grams, max_hit_grams
FROM a
""".format(toks=_D_TOKS, shingles=_D_SHINGLES)


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with the benchmark gram set carried as a Bloom
    bitset (the exact-broadcast-outgrown shape: billions of grams = MBs
    as a filter). Exact columns oracle-hashed as in `decontaminate`;
    `bloom_ok` is the hard no-false-negative flag — bloom math guarantees
    it TRUE, so any FALSE fails the hash gate. FP rate bounded in tests."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        contamination_flags_bloom,
    )

    return contamination_flags_bloom(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", "n_hit_grams", "contaminated", "bloom_ok")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing coordinates: per-doc start offset and context-
    window span in the shard's concatenated token stream (512-token
    windows, sharded by source so the cumsum distributes)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.packing import pack_sequences

    return pack_sequences(load_table(spark, sf_dir, "documents"))


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram entropy (milli-nats, portable integer log) +
    normalized efficiency — the information-density quality gate.
    Design + the two exact boundary laws in
    operators/text.py::token_entropy."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import token_entropy

    return token_entropy(load_table(spark, sf_dir, "documents"))


def _token_entropy_oracle() -> str:
    """DuckDB twin: same per-(doc, token) counts, same _d_iln integer
    log with the same per-term greatest(0, ·) clamp (load-bearing —
    see the operator docstring: unclamped, a negative Σ would sit on
    the trunc-vs-floor division divergence), same divisions."""
    iln_c = f"greatest(0, {_d_iln('c * 1000')})"
    iln_n = f"greatest(0, {_d_iln('n_tokens * 1000')})"
    return f"""
WITH t AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)),
                '\\s+'), x -> x <> '')) AS tok
  FROM documents
),
c AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
  FROM t GROUP BY doc_id, tok
),
per AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(c * ({iln_c})) AS BIGINT) AS s
  FROM c GROUP BY doc_id
),
o AS (
  SELECT doc_id, n_tokens, n_types,
         CAST(({iln_n}) - s // n_tokens AS BIGINT) AS h_milli,
         CAST({iln_n} AS BIGINT) AS ln_n
  FROM per
)
SELECT d.doc_id,
       CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(n_types, 0) AS BIGINT) AS n_types,
       CAST(coalesce(h_milli, 0) AS BIGINT) AS h_milli,
       CAST(CASE WHEN coalesce(n_tokens, 0) >= 2
            THEN h_milli * 1000 // ln_n
            ELSE 0 END AS BIGINT) AS eta_permille
FROM (SELECT doc_id FROM documents) d LEFT JOIN o USING (doc_id)
"""


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-layout audit over the pack_sequences coordinates: per
    shard, window fill rate, boundary-straddle rate and oversize-doc
    rate — the report a run reads before committing to a context
    length. Design in operators/packing.py::packing_efficiency."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.packing import (
        pack_sequences,
        packing_efficiency,
    )

    return packing_efficiency(
        pack_sequences(load_table(spark, sf_dir, "documents"))
    )


def _packing_efficiency_oracle() -> str:
    """DuckDB twin: the pack_sequences oracle chain + one per-source
    rollup with the same integer permilles."""
    return r"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT)
           AS n_toks
  FROM documents
),
c AS (
  SELECT *, sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS run_end
  FROM t
),
p AS (
  SELECT source, n_toks,
         CASE WHEN n_toks = 0 THEN -1
              ELSE (run_end - 1) // 512 END AS chunk_last,
         CASE WHEN n_toks = 0 THEN 0
              ELSE (run_end - 1) // 512 - (run_end - n_toks) // 512 + 1
              END AS n_chunks
  FROM c
),
a AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN n_toks > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_packed_docs,
         CAST(sum(n_toks) AS BIGINT) AS total_tokens,
         CAST(greatest(max(chunk_last) + 1, 0) AS BIGINT) AS n_windows,
         CAST(sum(CASE WHEN n_chunks > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_crossing,
         CAST(sum(CASE WHEN n_toks > 512 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oversize
  FROM p GROUP BY source
)
SELECT source, n_docs, n_packed_docs, total_tokens, n_windows,
       CAST(CASE WHEN n_windows > 0
            THEN total_tokens * 1000 // (n_windows * 512)
            ELSE 0 END AS BIGINT) AS fill_permille,
       CAST(CASE WHEN n_packed_docs > 0
            THEN n_crossing * 1000 // n_packed_docs
            ELSE 0 END AS BIGINT) AS crossing_permille,
       CAST(CASE WHEN n_packed_docs > 0
            THEN n_oversize * 1000 // n_packed_docs
            ELSE 0 END AS BIGINT) AS oversize_permille
FROM a
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novel-8-gram rate over the raw corpus (Lee et al.
    2022's memorization audit): an n-gram is novel iff this is its
    corpus-first occurrence by (doc_id, position). The 31-type
    vocabulary makes gram reuse heavy, so the rate is non-vacuously
    inside (0, 1000). Design in operators/dedup.py::ngram_novelty."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import ngram_novelty

    return ngram_novelty(load_table(spark, sf_dir, "documents"))


def _ngram_novelty_oracle() -> str:
    """DuckDB twin of dedup.ngram_novelty: identical positional grams
    (inclusive slice == Spark's slice(t, i, n)), identical h60 key,
    keeper via row_number over (doc_id, i)."""
    from tepsonic_database_sync_spark.operators.dedup import (
        NGRAM_NOVELTY_N as n,
    )
    from tepsonic_database_sync_spark.functions.hashing import h60_sql

    k = h60_sql(f"array_to_string(t[i : i + {n - 1}], ' ')")
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, CAST(r.i AS BIGINT) AS i, {k} AS key
  FROM toks, unnest(range(1, len(t) - {n} + 2)) r(i)
  WHERE len(t) >= {n}
),
flagged AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY key ORDER BY doc_id, i) = 1
           AS novel
  FROM grams
),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN novel THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM flagged GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
       CAST(CASE WHEN coalesce(n_grams, 0) > 0
            THEN n_novel * 1000 // n_grams
            ELSE 0 END AS BIGINT) AS novelty_permille
FROM (SELECT doc_id FROM documents) d LEFT JOIN per USING (doc_id)
"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture resampling: re-weight the corpus to a target
    language mix (en 80 / es 50 / de 30 / fr 10 percent) by content-hash
    membership — stable under repartition and corpus growth."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.sampling import mixture_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return mixture_sample(
        docs, "lang", "doc_id", {"en": 80, "es": 50, "de": 30, "fr": 10}
    )


def q_dedup_jaccard_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Default Jaccard near-dup pipeline: MinHash-LSH banded candidates +
    exact shingle verification — no length-block recall hole."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import ngram_jaccard_pairs_banded

    return ngram_jaccard_pairs_banded(load_table(spark, sf_dir, "documents"))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (4 bands × 4 rows); banding is sliced
    from the array signatures — no second shuffle."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_sig_array,
    )

    sigs = minhash_sig_array(load_table(spark, sf_dir, "documents"))
    return lsh_candidate_pairs(sigs)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signatures."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import simhash

    return simhash(load_table(spark, sf_dir, "documents"))


# DuckDB twins of the text/dedup building blocks
_D_TOKS = r"""
toks AS (
  SELECT doc_id, n_chars, text,
         regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
)"""

_D_SHINGLES = r""",
sh AS (
  SELECT doc_id, n_chars,
         CASE WHEN len(t) >= 3 THEN list_distinct(
           list_transform(range(0, len(t) - 2),
                          i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
         ELSE [] END AS shingles
  FROM toks
)"""

_D_H60 = "CAST(concat('0x', substr(md5({e}), 1, 15)) AS BIGINT)"

from tepsonic_database_sync_spark.functions.hashing import (  # noqa: E402
    MERSENNE31 as _P31,
    affine_coeffs as _affine,
)

_D_KS = "ks(i, a, b) AS (VALUES " + ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(_affine(16))
) + ")"

_D_MINHASH_SIGS = f""",
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hx AS (SELECT doc_id, ({_D_H60.format(e="s")} % {_P31}) AS h FROM ex),
{_D_KS},
sigs AS (
  SELECT doc_id, CAST(ks.i AS INT) AS i,
         CAST(min((ks.a * hx.h + ks.b) % {_P31}) AS BIGINT) AS sig
  FROM hx, ks GROUP BY doc_id, ks.i
)"""


def _sw(lang_words: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in lang_words)
    return f"len(list_filter(t, x -> x IN ({inlist})))"


from tepsonic_database_sync_spark.operators.text import STOPWORDS as _SW  # noqa: E402


def q_x2_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 — quarantine pattern: malformed rows split to a rejects flag
    instead of failing the job (reference per-group try/catch,
    products.js:269-335). Demo corrupts every 7th props JSON."""
    from tepsonic_database_sync_spark.io import load_table

    e = load_table(spark, sf_dir, "events")
    p = F.when(
        F.col("event_id") % 7 == 0, F.concat(F.col("props"), F.lit("}"))
    ).otherwise(F.col("props"))
    c = e.select("event_id", p.alias("p"))
    valid = F.col("p").rlike(r'^\{"k": -?[0-9]+\}$')
    k = F.regexp_extract(F.col("p"), r'"k": (-?[0-9]+)', 1)
    return c.select(
        "event_id",
        valid.alias("is_valid"),
        F.when(valid, k.cast("long")).alias("k"),
    )


def q_a3_merge_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 idempotent mode (SURVEY §7 extension): merging a sync with
    itself is a no-op — stock = distinct unit ids, not double-counted."""
    from tepsonic_database_sync_spark.operators.options import (
        merge_options_idempotent,
    )

    fx = build_fixtures(spark, sf_dir)
    m = sync.cached_matched(spark, sf_dir, fx["vendor_items"], fx["admin_products"])
    # eager localCheckpoint, not persist — see q_sync_merge_resync
    opts = sync.sync_options(
        fx["vendor_items"], fx["admin_products"], matched=m
    ).localCheckpoint(eager=True)
    return merge_options_idempotent(opts, opts)


# Page geometry of the injected REST transport, shared with the oracle SQL
# so the two sides cannot desynchronize (the FEATURE_DIM pattern). The
# transport slices documents.parquet in file order, which the testdata
# writes doc_id-ascending at every SF (asserted in tests), so the fetched
# row set is exactly the first PAGES*PAGE_SIZE doc_ids.
S1_PAGES = 10
S1_PAGE_SIZE = 50


def q_s1_rest_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 — distributed paginated REST ingestion (products.js:233-240) with
    an injected local transport (no network in tests): pages slice the
    documents table. Hash-checked since r6: the transport is deterministic
    (fixed pages over a doc_id-ordered file), so the oracle states the same
    row set relationally over the documents view."""
    from pyspark.sql import types as T
    from tepsonic_database_sync_spark.sources.rest import paginated_source

    path = f"{sf_dir}/documents.parquet"
    page_size = S1_PAGE_SIZE

    def fetch_page(page: int) -> list[dict]:
        import pyarrow.parquet as pq

        tbl = pq.read_table(path, columns=["doc_id", "lang"])
        chunk = tbl.slice(page * page_size, page_size).to_pylist()
        return [
            {"id": r["doc_id"], "status": "Available", "lang": r["lang"]}
            for r in chunk
        ]

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    return paginated_source(spark, S1_PAGES, fetch_page, schema)


def _s1_rest_ingest_oracle() -> str:
    """Oracle for the paginated ingest: the transport reads the first
    PAGES*PAGE_SIZE rows of a doc_id-ordered file, i.e. the PAGES*PAGE_SIZE
    smallest doc_ids; every fetched row gets status='Available' and a NULL
    _error (no failing pages in the deterministic transport)."""
    return f"""
SELECT doc_id AS id, 'Available' AS status, lang,
       CAST(NULL AS VARCHAR) AS _error
FROM (SELECT doc_id, lang FROM documents
      ORDER BY doc_id LIMIT {S1_PAGES * S1_PAGE_SIZE})
"""


def q_s10_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 — the full sync report: one row per vendor; wholecell vendors
    carry the sync summary (every wholecell vendor fetches the same
    payload, products.js:236), others carry the error string
    (products.js:397-406). Timestamp omitted (non-deterministic)."""
    from tepsonic_database_sync_spark.operators.upsert import dispatch_vendors

    fx = build_fixtures(spark, sf_dir)
    backfilled = fx["wholesale_apis"].withColumn(
        "database", F.coalesce(F.col("database"), F.lit("wholecell"))
    )
    dispatch = dispatch_vendors(backfilled)
    summary = sync.sync_summary(fx["vendor_items"], fx["admin_products"]).drop(
        "vendorId", "database"
    )
    ok = dispatch.filter(F.col("error").isNull()).crossJoin(F.broadcast(summary))
    err = dispatch.filter(F.col("error").isNotNull())
    for c in summary.columns:
        err = err.withColumn(c, F.lit(None).cast("long"))
    return ok.unionByName(err)


# Shared-text SQL (parses identically in Spark SQL and DuckDB) — the SQL
# API path: Catalyst gets the same text the oracle runs.
TPCH_Q6_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100, 0) AS BIGINT))
            AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

EXISTS_SQL = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
"""


TPCH_Q17_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS small_qty_cents,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#13' AND p.p_size < 15
  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""

TPCH_Q22_SQL = """
SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
         AS totacctbal_cents
FROM customer c
WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  AND CAST(round(c_acctbal * 100, 0) AS BIGINT) >
      (SELECT avg(CAST(round(c2.c_acctbal * 100, 0) AS BIGINT))
       FROM customer c2
       WHERE c2.c_acctbal > 0.0 AND c2.c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
"""


def q_tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped small-quantity revenue (SQL API, shared text):
    correlated SCALAR AGGREGATE subquery in WHERE — Catalyst rewrites it
    to a per-partkey aggregate + join. Money in integer cents; the
    0.2·avg threshold is deterministic across engines because l_quantity
    is integral (exact integer sum / exact count → correctly-rounded
    double in both)."""
    from tepsonic_database_sync_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(TPCH_Q17_SQL)


def q_tpch_q22_idle_custs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped idle-customer rollup (SQL API, shared text):
    uncorrelated scalar-avg subquery + NOT EXISTS anti-join, grouped by
    country code. The avg threshold is computed over integer cents so
    both engines divide the same exact integers."""
    from tepsonic_database_sync_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(TPCH_Q22_SQL)


def q_tpch_q6_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 via the SQL API — the SAME text DuckDB verifies (shared
    dialect subset), demonstrating spark.sql as a first-class entry."""
    from tepsonic_database_sync_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(TPCH_Q6_SQL)


def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery (SQL API, shared text) — Catalyst
    rewrites to a left-semi join."""
    from tepsonic_database_sync_spark.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(EXISTS_SQL)


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) the pivoted segment×priority counts back to long
    form — DataFrame.unpivot, the stack() twin."""
    piv = q_pivot_segment_priority(spark, sf_dir)
    return piv.unpivot(
        ["c_mktsegment"],
        [f"p{i}" for i in range(1, 6)],
        "priority",
        "n",
    )


# --- classic OLAP (TPC-H-style) + §2 completeness --------------------------


def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100, 0).cast("long")


def q_tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (integer-cent money math)."""
    from tepsonic_database_sync_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
            F.sum(_cents("l_extendedprice")).cast("long").alias("sum_base_cents"),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
                ).cast("long")
            )
            .cast("long")
            .alias("sum_disc_cents"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


def q_tpch_q3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: top-10 open orders by discounted revenue for one
    segment (3-way join + agg + deterministic top-k)."""
    from tepsonic_database_sync_spark.io import load_table

    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-01-01"))
    )
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
        "long"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(F.sum(rev).cast("long").alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: top-20 customers by returned-item revenue."""
    from tepsonic_database_sync_spark.io import load_table

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast(
        "long"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.sum(rev).cast("long").alias("revenue_cents"))
        .orderBy(F.col("revenue_cents").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ---- r8 additions ----------------------------------------------------
# shared parameters read by BOTH the Spark queries and the oracle SQL
R8_P = {
    "bfs_seed_mod": 97,
}


def _psgraph(spark: SparkSession, sf_dir: str):
    """The symmetrized part↔supplier procurement graph (shared by
    pagerank / bfs_hops): string-typed nodes 'p{k}' / 's{k}'."""
    from tepsonic_database_sync_spark.io import load_table

    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
    s = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    return pairs.select(p.alias("src"), s.alias("dst")).unionAll(
        pairs.select(s.alias("src"), p.alias("dst"))
    )


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS over the part↔supplier graph from a deterministic
    seed set (parts with key ≡ 0 mod 97) — supplier-outage blast
    radius in ≤ 4 tiers. Edge frame checkpointed once; each round is
    one frontier equi-join + distinct, min-hop reduction at the end."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.graph import bfs_hops

    seeds = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % R8_P["bfs_seed_mod"] == 0)
        .select(
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias(
                "node"
            )
        )
        .distinct()
    )
    return bfs_hops(_psgraph(spark, sf_dir), seeds)


def q_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample of the event value feed with LINEAR gap
    interpolation (convex-combination integer form) — the
    continuously-varying-signal fill next to time_resample's LOCF.
    Fill windows run over grid rows, never raw events."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.timeseries import (
        resample_linear,
    )

    ev = load_table(spark, sf_dir, "events")
    return resample_linear(
        ev,
        key="event_type",
        ts="ts",
        value_cents=F.round(F.col("value") * 100, 0).cast("long"),
    )


def q_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week composition drift per event type: trailing 7 days
    vs the baseline before, both as exact permille distributions —
    the seasonal shape-change detector next to event_anomaly's level
    spikes. One scalar max(ts) + one groupBy of raw events."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.events import (
        seasonal_profile,
    )

    return seasonal_profile(load_table(spark, sf_dir, "events"))


def q_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority OLS trend of order value (milli-dollars per day)
    over the order date — ONE sufficient-statistics aggregation with
    algebraic re-centering at the group's first day; the 1000× milli
    scaling via the exact quotient/remainder split."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.profile import (
        grouped_regression,
    )

    o = load_table(spark, sf_dir, "orders")
    return grouped_regression(
        o,
        group="o_orderpriority",
        x=F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long"),
        y=F.round(F.col("o_totalprice"), 0).cast("long"),
    )


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² independence census of market segment × order priority: one
    fact-table groupBy to the contingency cells, totals as windows
    over that tiny frame, per-cell expected counts and quantized χ²
    contributions in exact integer milli."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.profile import (
        chi_square_cells,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(
        F.broadcast(c.select("c_custkey", "c_mktsegment")),
        o["o_custkey"] == c["c_custkey"],
    )
    # default quant: for this 5×5 table O_max ≈ N/5, so |d| ≲ N²/5 and
    # the |d| div q ≤ 3·10⁹ bound holds to N ≈ 10⁶ orders (sf ≈ 0.7)
    # with CHI_QUANT=64; pass a larger quant beyond (the operator
    # docstring derives the rule)
    return chi_square_cells(joined, "c_mktsegment", "o_orderpriority")


def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact class-balanced downsample of orders by priority: every
    class cut to the smallest class's size, keeping hash-least rows —
    deterministic, engine-portable (no RNG seeds)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.sampling import (
        class_balance,
    )

    o = load_table(spark, sf_dir, "orders")
    return class_balance(o, label="o_orderpriority", key="o_orderkey")


def q_item_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-purchase similarity: parts bought in the same
    order, lift + confidence in exact milli, top-10 co-items per part.
    Pair generation is an equi-join on the order key with a basket-size
    cap (the quadratic-fan-out guard); counts broadcast back."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.recommend import (
        item_cooccur_topk,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return item_cooccur_topk(li, basket_col="l_orderkey", item_col="l_partkey")


def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic popularity-biased negative sampling over the
    customer×part purchase matrix: 5 hash-ranked non-purchased items
    per customer from the 50 most popular parts — broadcast candidate
    pool, anti-join on positives, never the full user×catalog cross."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.recommend import (
        negative_sample,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pos = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        "o_custkey", "l_partkey"
    )
    return negative_sample(pos, user_col="o_custkey", item_col="l_partkey")


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term→postings index over documents (df ≥ 5, postings sample =
    first 20 sorted doc_ids as the engine's '|'-joined canonical list)
    — the explicit build step behind the BM25 / winnowing / tf-idf
    candidate generators."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import inverted_index

    return inverted_index(load_table(spark, sf_dir, "documents"))


def q_tfidf_doc_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse tf-idf cosine pairs over 2-token shingles (integer idf on
    the shared portable log, exact integer sqrt for the norms) — the
    interpretable lexical-similarity join; candidates blocked by the
    df cap on posting lists, never all-pairs."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import tfidf_doc_sim

    return tfidf_doc_sim(load_table(spark, sf_dir, "documents"))


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup at 32-token-chunk granularity with
    document reassembly (the RefinedWeb exact-substring shape):
    globally-first chunk occurrences win; one fingerprint window + one
    doc-level rollup."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import chunk_dedup

    return chunk_dedup(load_table(spark, sf_dir, "documents"))


def q_layout_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout advisor over orders on (customer, order-day): simulated
    zone-map pruning for zorder vs single-key layouts under mid-range
    band predicates on each dimension — quantifies what zorder_layout
    buys before paying for the rewrite."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.layout import (
        layout_prune_compare,
    )

    o = load_table(spark, sf_dir, "orders")
    day = (F.floor(F.unix_timestamp("o_orderdate") / 86400)).cast("long")
    return layout_prune_compare(o, x=F.col("o_custkey"), y=day)




def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-purchase part graph (parts sharing
    ≥ 2 orders, baskets capped like item_cooccur — both build on the
    SAME capped_basket_items/cooccur_pairs substrate, so the cap
    semantics cannot diverge): the generic graph clustering next to
    PageRank's centrality and the dedup-specific star contraction.
    Returns (node, comp) with comp = the component's minimum part key."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        connected_components_star,
    )
    from tepsonic_database_sync_spark.operators.recommend import (
        capped_basket_items,
        cooccur_pairs,
    )

    capped = capped_basket_items(
        load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey"
    )
    edges = cooccur_pairs(capped, min_support=2, symmetric=False).select(
        "a_id", "b_id"
    )
    nodes = capped.select(F.col("i").alias("node")).distinct()
    return connected_components_star(edges, nodes, edges_canonical=True)


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval-overlap join: per-(type, day) activity windows
    × 2h incident windows around high-value events. Candidates meet on
    hour buckets (bounded explode), exact end-exclusive overlap
    verifies — the oracle is the independent quadratic theta join,
    certifying the blocking's completeness (the dedup_prefix_filter
    pattern applied to time)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.timeseries import (
        INCIDENT_SPAN_S,
        INCIDENT_VALUE_MIN,
        interval_overlap_join,
    )

    ev = load_table(spark, sf_dir, "events")
    es = F.unix_timestamp("ts").cast("long")
    acts = (
        ev.select(
            "event_type",
            F.expr("unix_timestamp(ts) div 86400").alias("day"),
            es.alias("es"),
        )
        .groupBy("event_type", "day")
        .agg(F.min("es").alias("a_start"), (F.max("es") + 1).alias("a_end"))
        .select(
            F.concat_ws(":", "event_type", "day").alias("a_id"),
            "a_start",
            "a_end",
        )
    )
    incid = ev.filter(
        F.round(F.col("value") * 100, 0) >= INCIDENT_VALUE_MIN * 100
    ).select(
        F.col("event_id").alias("b_id"),
        es.alias("b_start"),
        (es + INCIDENT_SPAN_S).alias("b_end"),
    )
    return interval_overlap_join(acts, incid)


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two part rankings — by revenue and by
    order breadth (the calibration-free consensus that search stacks use
    to merge BM25 with embedding ranks). Each ranking is a top-200
    window over the per-part aggregate; fusion is one groupBy + a
    TakeOrderedAndProject top-50."""
    from pyspark.sql import Window

    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.recommend import rrf_fuse

    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("rev_cents"),
        F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
    )
    # each ranking's top-200 via orderBy+limit (TakeOrderedAndProject —
    # distributed per-partition top-k, only 200 rows move), THEN the
    # rank numbers from a window over that bounded 200-row frame. A
    # global row_number window over per_part would single-partition the
    # whole part catalog (the WindowExec warning) — the limit makes the
    # unpartitioned window constant-size instead.
    def _ranked(order_cols, name):
        top = per_part.orderBy(*order_cols).limit(200)
        w = Window.orderBy(*order_cols)
        return top.select(
            F.col("l_partkey").alias("key"),
            F.lit(name).alias("ranker"),
            F.row_number().over(w).alias("rank"),
        )

    rankings = _ranked(
        [F.col("rev_cents").desc(), F.col("l_partkey").asc()], "revenue"
    ).unionAll(
        _ranked(
            [F.col("n_orders").desc(), F.col("l_partkey").asc()], "breadth"
        )
    )
    return rrf_fuse(rankings)


def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored-window funnel (the ClickHouse windowFunnel semantics):
    per user, the longest signup→view→purchase prefix completed within
    72h of some signup anchor — k−1 user-keyed equi-joins with range
    residuals, never a window over raw events."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.events import window_funnel

    return window_funnel(load_table(spark, sf_dir, "events"))


def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers: integer centroids via a
    posexplode + (label, pos) aggregate, exact squared-L2 distances,
    top-5 farthest per label — the label-QA sweep that surfaces
    mislabeled or off-distribution vectors before training."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.similarity import (
        embed_outliers,
    )

    return embed_outliers(load_table(spark, sf_dir, "embeddings"))




DOMAIN_CAP_N = 10


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap with quality-ranked survivors (keep the
    best 10 per source): the pretraining curation step that bounds
    over-represented domains. One window per source over (key, quality)
    projections; hash tiebreak makes the coarse-quality tie region a
    fair lottery."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.sampling import domain_cap
    from tepsonic_database_sync_spark.operators.text import quality_expr

    docs = load_table(spark, sf_dir, "documents")
    return domain_cap(
        docs,
        group="source",
        key="doc_id",
        priority=quality_expr(F.col("text")),
        n=DOMAIN_CAP_N,
    )


def q_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocking audit, run on the engine's own dedup tiers: recall
    and precision of the MinHash-LSH candidate generator against the
    prefix-filter EXACT Jaccard ground truth at tau=0.6 — one full-outer
    join + one aggregate, distributed and hash-checkable. The number a
    dedup deployment should publish next to its throughput.

    SCALE NOTE: inline full-corpus exact truth is the small-SF checkable
    form ONLY — at production scale the audit is
    ``q_blocking_quality_sampled`` (hash-sampled truth, binomial CI);
    copy THAT pattern, not this one.

    r18 (guide §2.4): the truth side (prefix filter) and the candidate
    side (MinHash) consume the SAME word-shingle substrate; it is
    materialized once and shared, so the corpus tokenizes+shingles one
    time per audit instead of once per tier. Values unchanged — both
    tiers read identical shingle arrays."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        _with_shingles,
        blocking_quality,
        jaccard_pairs_prefix,
        lsh_candidate_pairs,
        minhash_sig_array,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = (
        _with_shingles(docs)
        .select("doc_id", "shingles")
        .localCheckpoint(eager=True)
    )
    truth = jaccard_pairs_prefix(
        docs, tau_permille=PREFIX_TAU_PERMILLE, shingled=sh
    ).select("a_id", "b_id")
    cand = lsh_candidate_pairs(minhash_sig_array(docs, shingled=sh))
    return blocking_quality(truth, cand)


def q_blocking_quality_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The blocking audit in its production form (VERDICT r8 item 2):
    exact prefix-filter ground truth computed only on a deterministic
    25% hash sample of the corpus, LSH candidates on the same sample —
    the recall estimate a 100 TB deployment publishes, where inline
    full-corpus truth (q_lsh_quality, the small-SF form) is exactly the
    job blocking exists to avoid."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        blocking_quality_sampled,
        jaccard_pairs_prefix,
        lsh_candidate_pairs,
        minhash_sig_array,
    )

    return blocking_quality_sampled(
        load_table(spark, sf_dir, "documents"),
        lambda d: jaccard_pairs_prefix(
            d, tau_permille=PREFIX_TAU_PERMILLE
        ),
        lambda d: lsh_candidate_pairs(minhash_sig_array(d)),
    )




def q_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-epoch training shuffle over documents: each
    epoch is a different hash-keyed permutation, reproducible with no
    RNG state (restart-safe mid-epoch) — the between-epoch shuffle pass
    a dataloader schedules, as an operator."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.sampling import epoch_order

    return epoch_order(
        load_table(spark, sf_dir, "documents"), key="doc_id"
    )




def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order user-path census: top-50 (prev2, prev1, next)
    trigrams with within-context permille — the path signal first-order
    event_transitions can't see. One user_id window shuffle (two lags,
    one ordering); normalization over the ≤|types|³ frame; top-k via
    TakeOrderedAndProject."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.events import event_paths

    return event_paths(load_table(spark, sf_dir, "events"))


def _disc_cents() -> F.Column:
    """Discounted revenue in integer cents — the shared money convention."""
    return F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")


# Shared query parameters — read by BOTH the DataFrame implementations and
# the generated oracle SQL below, so the two sides of the correctness gate
# cannot silently desynchronize (the FEATURE_DIM/FEATURE_MOD pattern,
# applied to every parameterized TPC-H completion).
TPCH_P = {
    "q2_type": "STANDARD",
    "q2_max_size": 10,
    "q2_region": "EUROPE",
    "q4_lo": "1996-01-01",
    "q4_hi": "1996-04-01",
    "q4_late_days": 30,
    "q7_nation_a": "NATION_1",
    "q7_nation_b": "NATION_2",
    "q7_lo": "1996-01-01",
    "q7_hi": "1998-01-01",
    "q8_region": "ASIA",
    "q8_type": "ECONOMY",
    "q8_nation": "NATION_5",
    "q9_pattern": "red",
    # unit cost proxy = 10% of retail, in cents: round(p_retailprice * 10)
    "q9_cost_decicents": 10,
    "q14_lo": "1997-09-01",
    "q14_hi": "1997-10-01",
    "q14_type": "PROMO",
    "q16_excl_brand": "Brand#9",
    "q16_sizes": (1, 14, 23, 45, 19, 3, 36, 9),
    # (brand, size_lo, size_hi, qty_lo, qty_hi) conjunctions, OR-ed
    "q19_arms": (
        ("Brand#12", 1, 5, 1, 11),
        ("Brand#23", 1, 10, 10, 20),
        ("Brand#3", 1, 15, 20, 30),
    ),
    "q20_pattern": "red",
    "q20_share_div": 8,  # excess = supplier holds > 1/8 of a part's qty
    "q21_late_days": 60,
    "q15_lo": "1996-01-01",
    "q15_hi": "1996-04-01",
    "session_gap_s": 86400,
}


def q_tpch_q2_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped minimum-cost supplier: for each STANDARD small part,
    the European supplier(s) offering the lowest observed price. The
    testdata has no partsupp table, so supply cost is derived from
    lineitem history (min observed extendedprice per part+supplier — one
    fact shuffle). The correlated-min is a window over the already-small
    filtered candidate set, not a second fact pass."""
    from tepsonic_database_sync_spark.io import load_table
    from pyspark.sql import Window

    supply = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", _cents("l_extendedprice").alias("c"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("c").alias("cost_cents"))
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == TPCH_P["q2_type"])
        & (F.col("p_size") <= TPCH_P["q2_max_size"])
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == TPCH_P["q2_region"]
    )
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    w = Window.partitionBy("p_partkey")
    return (
        supply.join(F.broadcast(p), supply.l_partkey == p.p_partkey)
        .join(F.broadcast(eu), supply.l_suppkey == eu.s_suppkey)
        .select("p_partkey", "p_name", "s_name", "n_name", "cost_cents")
        .withColumn("min_cost", F.min("cost_cents").over(w))
        .filter(F.col("cost_cents") == F.col("min_cost"))
        .drop("min_cost")
    )


def q_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped order-priority checking: orders in a quarter with at
    least one line shipped >30 days after the order date (EXISTS → left-semi
    join with a non-equi residual; no l_commitdate in the testdata, so
    lateness is relative to o_orderdate)."""
    from tepsonic_database_sync_spark.io import load_table

    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit(TPCH_P["q4_lo"])))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit(TPCH_P["q4_hi"])))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate")
        + F.expr(f"INTERVAL {TPCH_P['q4_late_days']} DAYS")
    )
    return (
        o.join(li, late, "leftsemi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("order_count"))
    )


def q_tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped volume shipping: bilateral revenue between two
    nations per ship year. Both nation lookups ride the broadcast dims;
    the fact side shuffles once per join key, with the date filter pushed
    to the scan."""
    from tepsonic_database_sync_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit(TPCH_P["q7_lo"])))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit(TPCH_P["q7_hi"])))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")
    )
    na, nb = TPCH_P["q7_nation_a"], TPCH_P["q7_nation_b"]
    pair = (
        (F.col("supp_nation") == na) & (F.col("cust_nation") == nb)
    ) | ((F.col("supp_nation") == nb) & (F.col("cust_nation") == na))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(_disc_cents()).cast("long").alias("revenue_cents"))
    )


def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share: NATION_5 suppliers' permille share of
    ECONOMY-part revenue sold to ASIA customers, per order year. The ratio
    is exact integer permille (1000*x div total) so both engines divide
    identical integers."""
    from tepsonic_database_sync_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == TPCH_P["q8_type"]
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == TPCH_P["q8_region"]
    )
    asia_cust = (
        c.join(
            F.broadcast(
                n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
                    "n_nationkey"
                )
            ),
            c.c_nationkey == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    supp_nation = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    rev = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(asia_cust, o.o_custkey == F.col("c_custkey"), "leftsemi")
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            _disc_cents().alias("cents"),
            "supp_nation",
        )
    )
    return (
        rev.groupBy("o_year")
        .agg(
            F.sum(
                F.when(
                    F.col("supp_nation") == TPCH_P["q8_nation"], F.col("cents")
                ).otherwise(F.lit(0))
            ).alias("nation_cents"),
            F.sum("cents").alias("total_cents"),
        )
        .select(
            "o_year",
            F.expr("CAST((1000 * nation_cents) div total_cents AS LONG)").alias(
                "share_permille"
            ),
        )
    )


def q_tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product-type profit: per supplier nation and ship
    year over red parts. No partsupp in the testdata, so unit cost is
    proxied at 10% of p_retailprice (in cents); profit stays exact
    integer arithmetic. DEVIATION: because of the cost proxy, this
    query's results are NOT comparable to published TPC-H q9 numbers —
    the plan shape (broadcast dims + one fact rollup) is the comparable
    part."""
    from tepsonic_database_sync_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like(f"%{TPCH_P['q9_pattern']}%")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("nation")
    )
    profit = _disc_cents() - F.round(
        F.col("p_retailprice") * TPCH_P["q9_cost_decicents"], 0
    ).cast("long") * F.round(F.col("l_quantity"), 0).cast("long")
    return (
        li.join(
            F.broadcast(p.select("p_partkey", "p_retailprice")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(sn), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("nation", F.year("l_shipdate").cast("int").alias("o_year"))
        .agg(F.sum(profit).cast("long").alias("profit_cents"))
    )


def q_tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promotion effect: permille of one month's revenue
    from PROMO parts (conditional aggregation over a broadcast join; date
    filter pushed to the fact scan)."""
    from tepsonic_database_sync_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit(TPCH_P["q14_lo"])))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit(TPCH_P["q14_hi"])))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(
                F.when(
                    F.col("p_type") == TPCH_P["q14_type"], _disc_cents()
                ).otherwise(F.lit(0))
            ).alias("promo_cents"),
            F.sum(_disc_cents()).alias("total_cents"),
        )
        .select(
            F.expr("CAST((1000 * promo_cents) div total_cents AS LONG)").alias(
                "promo_permille"
            )
        )
    )


def q_tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped supplier counting: distinct suppliers per
    brand/type/size over observed supply pairs, excluding one brand and
    suppliers in arrears (NOT IN → broadcast anti-join on a 6-row set).
    Supply pairs come from lineitem (no partsupp table)."""
    from tepsonic_database_sync_spark.io import load_table

    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != TPCH_P["q16_excl_brand"])
        & F.col("p_size").isin(*TPCH_P["q16_sizes"])
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        pairs.join(F.broadcast(bad), pairs.l_suppkey == bad.s_suppkey, "leftanti")
        .join(
            F.broadcast(p.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", F.col("p_size").cast("int").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


def q_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive predicate revenue: OR-of-ANDs across
    both join sides. The union of the part-side bounds (brand ∈ {12,23,3},
    size ≤ 15) pre-filters the broadcast side so the fact join only sees
    candidate parts; the exact disjunction applies as the join residual."""
    from tepsonic_database_sync_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    arms = TPCH_P["q19_arms"]
    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            F.col("p_brand").isin(*[a[0] for a in arms])
            & (F.col("p_size") >= min(a[1] for a in arms))
            & (F.col("p_size") <= max(a[2] for a in arms))
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    qty = F.col("l_quantity")
    cond = None
    for brand, slo, shi, qlo, qhi in arms:
        arm = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(slo, shi)
            & qty.between(qlo, qhi)
        )
        cond = arm if cond is None else (cond | arm)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(_disc_cents()).cast("long").alias("revenue_cents"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


def q_tpch_q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped excess-share suppliers: suppliers holding an
    outsized (>1/8) share of any red part's total shipped quantity. One
    fact shuffle builds per-(part, supplier) quantities; the per-part
    total is a window over that small aggregate, never a second fact
    pass."""
    from tepsonic_database_sync_spark.io import load_table
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    red = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like(f"%{TPCH_P['q20_pattern']}%"))
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "s_name", "n_name"
    )
    shipped = (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.round("l_quantity", 0).cast("long")).alias("qty"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        shipped.withColumn("total_qty", F.sum("qty").over(w))
        .filter(
            F.lit(TPCH_P["q20_share_div"]) * F.col("qty") > F.col("total_qty")
        )
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "n_name")
        .distinct()
    )


def q_tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped suppliers-who-kept-orders-waiting: for finished
    orders with multiple suppliers, blame the supplier who was the ONLY
    late one (shipped >60 days after order date). The classic
    EXISTS/NOT-EXISTS pair collapses into one per-order aggregate
    (distinct suppliers vs distinct late suppliers), so the fact table
    shuffles once on orderkey instead of three self-joins."""
    from tepsonic_database_sync_spark.io import load_table

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lo = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate")
            + F.expr(f"INTERVAL {TPCH_P['q21_late_days']} DAYS")
        ).alias("late"),
    )
    # ONE pass over the fact join: collapse to per-(order, supplier) rows
    # first (late = any late line), then both the per-order stats and the
    # blame set derive from this small eager-checkpointed aggregate —
    # without it the li⋈o join would compute twice (once per consumer).
    pair = (
        lo.groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("late"))
        .localCheckpoint(eager=True)
    )
    per_order = pair.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.count_if(F.col("late")).alias("n_late"),
    )
    blame = pair.filter("late").select("l_orderkey", "l_suppkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blame.join(
            per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1)),
            "l_orderkey",
        )
        .join(F.broadcast(s), blame.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped top supplier: the revenue view (per-supplier
    discounted revenue over one quarter) and the supplier(s) achieving its
    maximum. The classic formulation creates a view and correlates against
    its MAX; here the view is one partial-agged fact rollup and the max is
    a single-row aggregate broadcast back onto it — no global sort and no
    single-partition window, so the plan survives any supplier count.
    Completes the classic-TPC-H surface (VERDICT r5 gap #1); only q11
    remains inexpressible (needs the absent partsupp table)."""
    from tepsonic_database_sync_spark.io import load_table

    revenue = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit(TPCH_P["q15_lo"])))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit(TPCH_P["q15_hi"])))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_disc_cents()).cast("long").alias("total_revenue_cents"))
    )
    mx = revenue.agg(F.max("total_revenue_cents").alias("mx"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(
            F.broadcast(mx), revenue.total_revenue_cents == mx.mx
        )
        .join(F.broadcast(s), revenue.l_suppkey == s.s_suppkey)
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            "total_revenue_cents",
        )
    )


def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization (the batch twin of stream_sessions):
    a new session starts after >1 day of inactivity. One shuffle on
    user_id serves both windows (lag then running sum share the same
    partitioning); ties are broken by event_id so the session assignment
    is deterministic in any engine."""
    from tepsonic_database_sync_spark.io import load_table
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").cast("long").alias("es"),
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = e.withColumn("prev_es", F.lag("es").over(w)).withColumn(
        "is_new",
        F.when(
            F.col("prev_es").isNull()
            | (F.col("es") - F.col("prev_es") > TPCH_P["session_gap_s"]),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return (
        marked.withColumn("session_idx", F.sum("is_new").over(run))
        .groupBy("user_id", F.col("session_idx").cast("long").alias("session_idx"))
        .agg(
            F.min("es").cast("long").alias("session_start"),
            F.count("*").cast("long").alias("n_events"),
            (F.max("es") - F.min("es")).cast("long").alias("duration_sec"),
        )
    )


def q_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference + per-domain score calibration — the two
    Pandas-UDF stages of a real scoring deployment: Arrow-batched
    mapInPandas forward pass (stub linear model, deterministic integer
    milli-weights) then groupBy(source).applyInPandas permille rank.
    The oracle is generated from the SAME weight constants
    (operators/scoring.py) so model and oracle cannot desynchronize."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.scoring import (
        rank_normalize,
        score_documents,
    )

    return rank_normalize(
        score_documents(load_table(spark, sf_dir, "documents"))
    )


def q_model_score_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The billions-per-domain calibration path: same scorer, but the
    permille rank computed via the exact two-pass histogram (pure
    Catalyst — no per-domain sort of raw rows, no Python rank stage).
    Shares q_model_score's oracle: the two modes are bit-identical.
    Inference is eager-checkpointed first — the histogram AND the join
    back both consume `scored`, and without materialization the forward
    pass (the expensive model call at scale) would run twice."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.scoring import (
        rank_normalize,
        score_documents,
    )

    scored = score_documents(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint(eager=True)
    return rank_normalize(scored, method="histogram")


def q_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(returnflag, linestatus) with subtotal rows (SURVEY §2.5
    noted grouping sets absent in the reference — free in Spark)."""
    from tepsonic_database_sync_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(_cents("l_extendedprice")).cast("long").alias("sum_cents"),
        F.count("*").cast("long").alias("n"),
    )


def q_cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(returnflag, linestatus) with an explicit grouping_id column —
    all four grouping sets in one shuffle (Spark expands the cube
    map-side; partial aggregation still applies per grouping set)."""
    from tepsonic_database_sync_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(_cents("l_extendedprice")).cast("long").alias("sum_cents"),
        F.count("*").cast("long").alias("n"),
        F.grouping_id().cast("long").alias("gid"),
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def q_pivot_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per market segment × order priority."""
    from tepsonic_database_sync_spark.io import load_table

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)).cast("long"))
    )
    renames = {p: f"p{i + 1}" for i, p in enumerate(_PRIORITIES)}
    cols = [F.col("c_mktsegment")] + [
        F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(renames[p])
        for p in _PRIORITIES
    ]
    return piv.select(*cols)


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (absent in reference, SURVEY §2.5)."""
    from tepsonic_database_sync_spark.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").cast("long").alias("n_parts"),
        F.countDistinct("l_suppkey").cast("long").alias("n_supps"),
        F.count("*").cast("long").alias("n_rows"),
    )


def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer (window frame + lag)."""
    from pyspark.sql import Window
    from tepsonic_database_sync_spark.io import load_table

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(cents).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("running_cents"),
        F.coalesce(F.lag(cents).over(w), F.lit(0)).cast("long").alias("prev_cents"),
    )


def q_a4_stock_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — per-product stock totals over aggregated options
    (products.js:329-332)."""
    from tepsonic_database_sync_spark.operators.options import stock_totals

    fx = build_fixtures(spark, sf_dir)
    return stock_totals(sync.sync_options(fx["vendor_items"], fx["admin_products"]))


def q_s2_full_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — full control-table scan (find({}), products.js:363-367)."""
    fx = build_fixtures(spark, sf_dir)
    return fx["wholesale_apis"]


def q_j3_item_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — the hand-rolled $in-prefetch broadcast lookup as an explicit
    per-item left join (products.js:113-132,148): exact case-sensitive
    name probe, last-wins on duplicate names."""
    fx = build_fixtures(spark, sf_dir)
    keyed = options.with_group_keys(fx["vendor_items"])
    admin = fx["admin_products"]
    from tepsonic_database_sync_spark.operators.matching import _pick_first

    va = _pick_first(
        admin.select("name", "_id"), "name", ["_id"], descending=True
    )
    j = keyed.join(F.broadcast(va), keyed.gname == va.name, "left")
    return j.select(
        "id", F.col("_id").alias("admin_id"), F.col("_id").isNotNull().alias("matched")
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event ← latest view/click by that user
    at-or-before it (union-sort single-shuffle implementation)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.asof import as_of_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    views = e.filter(F.col("event_type").isin("view", "click"))
    return as_of_join(purchases, views)


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: (error, click) pairs within the preceding 10 minutes
    per user (interval-bucketed equi-join, not a theta join)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.asof import range_join_pairs

    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error")
    clicks = e.filter(F.col("event_type") == "click")
    return range_join_pairs(errors, clicks)


# --- similarity search (embeddings table) ----------------------------------


def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the first 10 query vectors (quantized
    integer dot products — engine-exact)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.similarity import brute_force_topk

    return brute_force_topk(load_table(spark, sf_dir, "embeddings"))


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via deterministic random-hyperplane LSH buckets."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.similarity import lsh_topk

    return lsh_topk(load_table(spark, sf_dir, "embeddings"))


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via IVF cell probing (deterministic seed
    centroids, nearest-cell inverted lists, n_probe=4)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.similarity import ivf_topk

    return ivf_topk(load_table(spark, sf_dir, "embeddings"))


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, label-blocked, over a corpus with
    an id-shifted copy (known true dups)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    return embedding_neardup_pairs(load_table(spark, sf_dir, "embeddings"))


# --- multimodal columns (binary + typed metadata) --------------------------


def _assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.multimodal import synth_assets

    return synth_assets(load_table(spark, sf_dir, "documents"))


def q_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only rollup over binary assets (payload column pruned)."""
    from tepsonic_database_sync_spark.operators.multimodal import asset_stats

    return asset_stats(_assets(spark, sf_dir))


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling fan-out (1 row per sampled frame index)."""
    from tepsonic_database_sync_spark.operators.multimodal import frame_sample

    return frame_sample(_assets(spark, sf_dir))


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode/feature plumbing via mapInPandas (stubbed
    codec). The feature vector is projected to scalar f0..f7 columns so
    the driver can canonicalize rows; the stub decode is deterministic
    byte math, so the oracle reproduces it exactly in SQL."""
    from tepsonic_database_sync_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
    )

    out = extract_features(_assets(spark, sf_dir))
    return out.select(
        "asset_id",
        "kind",
        "n_bytes",
        *[
            F.col("feature")[i].cast("long").alias(f"f{i}")
            for i in range(FEATURE_DIM)
        ],
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing size contract: every image payload becomes exactly
    width×height bytes (empty sources stay empty), meta rewritten. The
    oracle checks the byte/dim contract; the bytes themselves are the
    stubbed codec's output (see operators.multimodal)."""
    from tepsonic_database_sync_spark.operators.multimodal import resize_images

    out = resize_images(_assets(spark, sf_dir), width=16, height=8)
    return out.select(
        "asset_id",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.col("meta.width").cast("int").alias("width"),
        F.col("meta.height").cast("int").alias("height"),
    )


_D_IDOT = (
    "CAST(list_aggregate(list_transform(range(1, len({a}) + 1),"
    " i -> {a}[i] * {b}[i]), 'sum') AS BIGINT)"
)
_D_SIM = (
    "CAST(ROUND(CAST({dot} AS DOUBLE) / sqrt(CAST({na2} * {nb2} AS DOUBLE))"
    " * 1000000, 0) AS BIGINT)"
)
_D_QUANT = """
iv0 AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS iv
  FROM embeddings
),
v AS (
  SELECT vec_id, label, iv, {n2} AS n2 FROM iv0
)""".format(n2=_D_IDOT.format(a="iv", b="iv"))

# separate-norm cosine (milli-unit centroids: na2*nb2 would pass 2^63)
_D_SIM_SEP = (
    "CAST(ROUND(CAST({dot} AS DOUBLE) / sqrt(CAST({na2} AS DOUBLE))"
    " / sqrt(CAST({nb2} AS DOUBLE)) * 1000000, 0) AS BIGINT)"
)


def _kmeans_oracle(n_cells: int = 16, iters: int = 3) -> str:
    """DuckDB twin of ``similarity.kmeans_train``: the same fixed number
    of Lloyd rounds unrolled as a CTE chain — init c0, then per round
    (norms → argmax assignment → fixed-point component means)."""
    parts = [
        f"""c0 AS (
  SELECT vec_id AS cent_id, list_transform(iv, x -> x * 1000) AS c_mil,
         CAST(1 AS BIGINT) AS n_members
  FROM v WHERE vec_id < {n_cells}
)"""
    ]
    prev = "c0"
    for t in range(1, iters + 1):
        sim = _D_SIM_SEP.format(
            dot=_D_IDOT.format(a="v.iv", b="c.c_mil"), na2="v.n2", nb2="c.c_n2"
        )
        parts += [
            f"""cn{t} AS (
  SELECT cent_id, c_mil, {_D_IDOT.format(a="c_mil", b="c_mil")} AS c_n2
  FROM {prev}
)""",
            f"""a{t} AS (
  SELECT vec_id, iv, cent_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cent_id) AS rn
  FROM (SELECT v.vec_id, v.iv, c.cent_id, {sim} AS sim
        FROM v CROSS JOIN cn{t} c)
)""",
            f"""g{t} AS (
  SELECT cent_id, t.i - 1 AS dim, sum(iv[t.i]) AS s, count(*) AS n
  FROM a{t}, unnest(range(1, len(iv) + 1)) AS t(i)
  WHERE rn = 1 GROUP BY cent_id, t.i
)""",
            f"""c{t} AS (
  SELECT cent_id, list((1000 * s) // n ORDER BY dim) AS c_mil,
         CAST(any_value(n) AS BIGINT) AS n_members
  FROM g{t} GROUP BY cent_id
)""",
        ]
        prev = f"c{t}"
    body = ",\n".join([_D_QUANT] + parts)
    return f"""WITH {body}
SELECT CAST(cent_id AS BIGINT) AS cent_id, CAST(t.i - 1 AS BIGINT) AS dim,
       CAST(c_mil[t.i] AS BIGINT) AS c_mil, n_members
FROM {prev}, unnest(range(1, len(c_mil) + 1)) AS t(i)
"""

# IVF candidate CTEs for the composed index: seed-quantizer cells
# (mirrors the ann_ivf_topk oracle) restricted to the probed inverted
# lists. Formatted into _pq_oracle when ivf=True.
_IVF_FRAGMENT = """ivf_cents AS (
  SELECT vec_id AS cent_id, iv AS c_iv, n2 AS c_n2 FROM v WHERE vec_id < {nc}
),
cscore AS (
  SELECT v.vec_id, c.cent_id,
         {sim} AS c_sim
  FROM v, ivf_cents c
),
cranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY c_sim DESC, cent_id) AS crn
  FROM cscore
),
cells AS (
  SELECT vec_id, cent_id AS cell FROM cranked WHERE crn = 1
),
probes AS (
  SELECT vec_id AS q_id, cent_id AS cell FROM cranked
  WHERE vec_id < {nq} AND crn <= {np}
),
candidates AS (
  SELECT p.q_id, c.vec_id FROM cells c JOIN probes p ON c.cell = p.cell
),
"""


def _pq_oracle(
    n_queries: int = 10,
    k: int = 10,
    m_sub: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    shortlist: int = 50,
    ivf: bool = False,
    n_cells: int = 16,
    n_probe: int = 4,
) -> str:
    """DuckDB twin of ``similarity.pq_topk``: subvector split, seed
    codebook, ONE exact-integer Lloyd round, encoding, and ADC — all as
    one CTE chain with subspace as a data dimension (mirrors the Spark
    plan, so no per-subspace unrolling)."""
    dsub = dim // m_sub
    ivf_sql = (
        _IVF_FRAGMENT.format(
            sim=_D_SIM.format(
                dot=_D_IDOT.format(a="v.iv", b="c.c_iv"),
                na2="v.n2",
                nb2="c.c_n2",
            ),
            nq=n_queries,
            np=n_probe,
            nc=n_cells,
        )
        if ivf
        else ""
    )
    cand_join = (
        "JOIN candidates x ON x.q_id = t.q_id AND x.vec_id = d.vec_id"
        if ivf
        else ""
    )
    l2 = (
        "list_sum(list_transform(range(1, len({s}) + 1), "
        "i -> ({s}[CAST(i AS INT)] * 1000 - {c}[CAST(i AS INT)])"
        " * ({s}[CAST(i AS INT)] * 1000 - {c}[CAST(i AS INT)])))"
    )
    return f"""WITH {_D_QUANT},
sub AS (
  SELECT vec_id, CAST(t.m AS BIGINT) AS m,
         list_transform(range(CAST(t.m * {dsub} + 1 AS INT),
                              CAST(t.m * {dsub} + {dsub} + 1 AS INT)),
                        i -> iv[CAST(i AS INT)]) AS siv
  FROM v, unnest(range(0, {m_sub})) AS t(m)
),
c0 AS (
  SELECT m, vec_id AS cent_id, list_transform(siv, x -> x * 1000) AS c
  FROM sub WHERE vec_id < {k_codes}
),
a1 AS (
  SELECT vec_id, m, siv, cent_id,
         row_number() OVER (PARTITION BY vec_id, m
                            ORDER BY d2, cent_id) AS rn
  FROM (SELECT s.vec_id, s.m, s.siv, c.cent_id,
               {l2.format(s="s.siv", c="c.c")} AS d2
        FROM sub s JOIN c0 c ON s.m = c.m)
),
g1 AS (
  SELECT m, cent_id, t.i - 1 AS dim, sum(siv[t.i]) AS sm, count(*) AS n
  FROM a1, unnest(range(1, len(siv) + 1)) AS t(i)
  WHERE rn = 1 GROUP BY m, cent_id, t.i
),
c1 AS (
  SELECT m, cent_id, list((1000 * sm) // n ORDER BY dim) AS c
  FROM g1 GROUP BY m, cent_id
),
codes AS (
  SELECT vec_id, m, cent_id AS code
  FROM (SELECT s.vec_id, s.m, c.cent_id,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                                  ORDER BY {l2.format(s="s.siv", c="c.c")},
                                           c.cent_id) AS rn
        FROM sub s JOIN c1 c ON s.m = c.m)
  WHERE rn = 1
),
qtab AS (
  SELECT s.vec_id AS q_id, s.m, c.cent_id,
         {l2.format(s="s.siv", c="c.c")} AS qd2
  FROM sub s JOIN c1 c ON s.m = c.m
  WHERE s.vec_id < {n_queries}
),
{ivf_sql}adc AS (
  SELECT t.q_id, d.vec_id, CAST(sum(t.qd2) AS BIGINT) AS adc_d2
  FROM codes d JOIN qtab t ON d.m = t.m AND d.code = t.cent_id
  {cand_join}
  WHERE d.vec_id != t.q_id
  GROUP BY 1, 2
),
short AS (
  SELECT q_id, vec_id
  FROM (SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc_d2, vec_id) AS arn
        FROM adc)
  WHERE arn <= {shortlist}
),
exact AS (
  SELECT s.q_id, s.vec_id,
         CAST(list_sum(list_transform(range(1, len(qv.iv) + 1),
                i -> (qv.iv[CAST(i AS INT)] - dv.iv[CAST(i AS INT)])
                   * (qv.iv[CAST(i AS INT)] - dv.iv[CAST(i AS INT)])))
              AS BIGINT) AS l2_d2
  FROM short s
  JOIN v dv ON s.vec_id = dv.vec_id
  JOIN v qv ON s.q_id = qv.vec_id
)
SELECT CAST(q_id AS BIGINT) AS q_id, CAST(rank AS BIGINT) AS rank,
       CAST(vec_id AS BIGINT) AS neighbor_id, l2_d2
FROM (SELECT q_id, vec_id, l2_d2,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY l2_d2, vec_id) AS rank
      FROM exact)
WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Oracle SQL (DuckDB) — composed from oracle.py CTEs
# ---------------------------------------------------------------------------

def _winnow_cte_prefix() -> str:
    """The shared winnowing CTE chain (norm → coded → h → m) — DuckDB
    mirror of operators.text.winnow_fingerprints' hashing: the k-gram
    polynomial (per-term powers pre-reduced mod M, products cast BIGINT
    so nothing overflows) and the w-window minima, generated from the
    same constants. Used by BOTH the per-doc fingerprint oracle and the
    overlap-pairs oracle."""
    from tepsonic_database_sync_spark.operators.text import (
        WINNOW_B,
        WINNOW_K,
        WINNOW_M,
        WINNOW_W,
    )

    powers = [pow(WINNOW_B, WINNOW_K - 1 - j, WINNOW_M) for j in range(WINNOW_K)]
    gram = " + ".join(
        f"codes[CAST(i AS INT) + {j}] * CAST({p} AS BIGINT)"
        for j, p in enumerate(powers)
    )
    k, w, m = WINNOW_K, WINNOW_W, WINNOW_M
    return f"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
  FROM documents
),
coded AS (
  SELECT doc_id, length(nt) AS n,
         list_transform(range(1, length(nt) + 1),
                        i -> CAST(ascii(substr(nt, CAST(i AS INT), 1)) AS BIGINT))
           AS codes
  FROM norm
),
h AS (
  SELECT doc_id, n - {k} + 1 AS npos,
         CASE WHEN n >= {k} THEN
           list_transform(range(1, n - {k} + 2),
                          i -> ({gram}) % {m})
         ELSE [] END AS hashes
  FROM coded
),
m AS (
  SELECT doc_id, greatest(npos, 0) AS n_grams,
         CASE WHEN len(hashes) >= {w} THEN
           list_transform(range(1, len(hashes) - {w} + 2),
                          i -> list_aggregate(hashes[CAST(i AS INT):CAST(i AS INT) + {w - 1}], 'min'))
         ELSE [] END AS minima
  FROM h
)"""


def _text_winnow_sql() -> str:
    return (
        _winnow_cte_prefix()
        + """
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       array_to_string(list_sort(list_distinct(minima)), '|') AS fps
FROM m
"""
    )


def _winnow_overlap_sql() -> str:
    from tepsonic_database_sync_spark.operators.text import (
        WINNOW_MAX_FANOUT,
        WINNOW_MIN_CONTAIN,
        WINNOW_MIN_SHARED,
    )

    return (
        _winnow_cte_prefix()
        + f""",
fps0 AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(minima)) AS fp FROM m
),
fan AS (
  SELECT fp, count(*) AS c FROM fps0 GROUP BY 1
),
fps AS (
  SELECT f.doc_id, f.fp
  FROM fps0 f JOIN fan ON f.fp = fan.fp AND fan.c <= {WINNOW_MAX_FANOUT}
),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps FROM fps GROUP BY 1
),
shared AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.a_id, s.b_id, s.n_shared, pa.n_fps AS n_a, pb.n_fps AS n_b,
       CAST((1000 * s.n_shared) // pa.n_fps AS BIGINT) AS contain_a_permille,
       CAST((1000 * s.n_shared) // pb.n_fps AS BIGINT) AS contain_b_permille
FROM shared s
JOIN per pa ON s.a_id = pa.doc_id
JOIN per pb ON s.b_id = pb.doc_id
WHERE s.n_shared >= {WINNOW_MIN_SHARED}
  AND greatest((1000 * s.n_shared) // pa.n_fps,
               (1000 * s.n_shared) // pb.n_fps) >= {WINNOW_MIN_CONTAIN}
"""
    )


def _d_iln(x: str) -> str:
    """DuckDB twin of operators.text.iln_milli: ln(X/1000)·1000 for a
    fixed-point milli BIGINT expr ``x`` — floor(log2) + in-octave linear
    interpolation, all integer ops (// is BIGINT division)."""
    k = f"CAST(floor(log2({x})) AS BIGINT)"
    p = f"CAST(power(2, floor(log2({x}))) AS BIGINT)"
    return f"((({k} * 1000 + (({x} - {p}) * 1000) // {p}) * 693147) // 1000000 - 6908)"


def _bm25_oracle(terms: list[str], k1_milli: int = 1200, b_milli: int = 750) -> str:
    """DuckDB twin of operators.text.bm25_tfidf for the fixed query."""
    tf_cols = ",\n  ".join(
        f"CAST(len(list_filter(t, x -> x = '{q}')) AS BIGINT) AS tf_{i}"
        for i, q in enumerate(terms)
    )
    df_cols = ",\n  ".join(
        f"CAST(count(*) FILTER (tf_{i} > 0) AS BIGINT) AS df_{i}"
        for i in range(len(terms))
    )
    bm25_terms, tfidf_terms = [], []
    for i in range(len(terms)):
        x_b = f"greatest(((2 * (n_docs - df_{i}) + 1) * 1000) // (2 * df_{i} + 1), 1)"
        idf_b = f"greatest(0, {_d_iln(x_b)})"
        denom = (
            f"(tf_{i} * 1000 + ({k1_milli} * ({1000 - b_milli} "
            f"+ ({b_milli} * dl * 1000) // avgdl_milli)) // 1000)"
        )
        tf_norm = f"((tf_{i} * {k1_milli + 1000} * 1000) // {denom})"
        bm25_terms.append(f"(({idf_b}) * {tf_norm}) // 1000")
        x_t = f"greatest((n_docs * 1000) // greatest(df_{i}, 1), 1)"
        idf_t = f"greatest(0, {_d_iln(x_t)})"
        tfidf_terms.append(f"CASE WHEN df_{i} > 0 THEN tf_{i} * ({idf_t}) ELSE 0 END")
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
base AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
  {tf_cols}
  FROM toks
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         (CAST(sum(dl) AS BIGINT) * 1000) // CAST(count(*) AS BIGINT) AS avgdl_milli,
  {df_cols}
  FROM base
)
SELECT doc_id, dl AS n_tokens,
       CAST({" + ".join(bm25_terms)} AS BIGINT) AS bm25_milli,
       CAST({" + ".join(tfidf_terms)} AS BIGINT) AS tfidf_milli
FROM base, stats
"""


_DEDUP_INCREMENTAL_ORACLE = """
WITH norm AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_md5,
         doc_id % 5 < 3 AS is_hist
  FROM documents
),
hist AS (SELECT DISTINCT fp_md5 FROM norm WHERE is_hist),
inc AS (
  SELECT fp_md5, CAST(min(doc_id) AS BIGINT) AS doc_id
  FROM norm WHERE NOT is_hist GROUP BY fp_md5
)
SELECT i.doc_id, i.fp_md5
FROM inc i LEFT JOIN hist h ON i.fp_md5 = h.fp_md5
WHERE h.fp_md5 IS NULL
"""


def _prepare_corpus_oracle() -> str:
    """DuckDB twin of plans.corpus.prepare_corpus: one signal CTE
    (quality/lang/audit/fingerprint formulas identical to the text-family
    oracles), gate, min-doc_id dedup, then the decontaminate oracle's
    bench-split gram probe over the deduped survivors. Thresholds come
    from plans/corpus.py so the two sides move together."""
    from tepsonic_database_sync_spark.plans.corpus import (
        PREP_LANGS,
        PREP_MIN_QUALITY,
    )

    langs = ", ".join(f"'{lg}'" for lg in PREP_LANGS)
    swp = f"CASE WHEN len(t) > 0 THEN ({_sw(_SW['en'])} * 1000) // len(t) ELSE 0 END"
    uniqp = (
        "CASE WHEN len(t) > 0 THEN (len(list_distinct(t)) * 1000) // len(t)"
        " ELSE 0 END"
    )
    quality = f"""CAST(
    (CASE WHEN len(t) BETWEEN 10 AND 1000 THEN 25 ELSE 0 END)
  + (CASE WHEN ({swp}) BETWEEN 20 AND 600 THEN 25 ELSE 0 END)
  + (CASE WHEN len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1000
               < length(text) * 300 THEN 25 ELSE 0 END)
  + (CASE WHEN ({uniqp}) > 300 THEN 25 ELSE 0 END) AS BIGINT)"""
    lang = f"""CASE WHEN len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) > 0 THEN 'zh'
       WHEN {_sw(_SW["en"])} >= {_sw(_SW["es"])} AND {_sw(_SW["en"])} >= {_sw(_SW["de"])}
            AND {_sw(_SW["en"])} >= {_sw(_SW["fr"])} AND {_sw(_SW["en"])} > 0 THEN 'en'
       WHEN {_sw(_SW["es"])} >= {_sw(_SW["de"])} AND {_sw(_SW["es"])} >= {_sw(_SW["fr"])}
            AND {_sw(_SW["es"])} > 0 THEN 'es'
       WHEN {_sw(_SW["de"])} >= {_sw(_SW["fr"])} AND {_sw(_SW["de"])} > 0 THEN 'de'
       WHEN {_sw(_SW["fr"])} > 0 THEN 'fr'
       ELSE 'und' END"""
    is_bench = (
        _D_H60.format(e="'bench:' || CAST(doc_id AS VARCHAR)") + " % 100 < 5"
    )
    return f"""
WITH {_D_TOKS},
sig AS (
  SELECT doc_id, text, t,
         {quality} AS quality,
         {lang} AS lang,
         CAST(len(regexp_extract_all(text,
              '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}')) AS BIGINT)
           AS n_emails,
         CAST(len(regexp_extract_all(text, 'https?://[a-zA-Z0-9./_-]+')) AS BIGINT)
           AS n_urls,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_md5
  FROM toks
),
gated AS (
  SELECT * FROM sig WHERE quality >= {PREP_MIN_QUALITY} AND lang IN ({langs})
),
ded AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fp_md5 ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
),
f AS (
  SELECT doc_id, lang, quality, n_emails, n_urls, fp_md5,
         CASE WHEN len(t) >= 3 THEN list_distinct(
           list_transform(range(0, len(t) - 2),
                          i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
         ELSE [] END AS shingles,
         {is_bench} AS is_bench
  FROM ded
),
bg AS (SELECT DISTINCT unnest(shingles) AS g FROM f WHERE is_bench),
tr AS (SELECT doc_id, unnest(shingles) AS g FROM f WHERE NOT is_bench),
hits AS (
  SELECT tr.doc_id, count(*) AS nh FROM tr JOIN bg USING (g) GROUP BY tr.doc_id
)
SELECT f.doc_id, f.lang, f.quality, f.n_emails, f.n_urls, f.fp_md5
FROM f LEFT JOIN hits h ON f.doc_id = h.doc_id
WHERE NOT f.is_bench AND h.doc_id IS NULL
"""


def _lm_score_oracle(docs_rel: str = "documents") -> str:
    """DuckDB twin of operators.text.lm_score: Laplace bigram LM over
    whitespace tokens, micro fixed-point probability through the shared
    integer log (``_d_iln(x) - ...`` convention identical to Spark's
    ``6908 - iln_milli``). DuckDB lists are 1-indexed and ``range(a, b)``
    is empty when b ≤ a, so the pair walk needs no length guard beyond
    the WHERE. ``docs_rel`` lets quality_stack score its injected
    corpus CTE instead of raw documents."""
    x = "greatest(((b.c_uv + 1) * 1000000) // (n.c_u + vc.v_types), 1)"
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS t
  FROM {docs_rel}
),
grams AS (
  SELECT doc_id, t[i] AS u, t[i + 1] AS v
  FROM toks, unnest(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
),
uni AS (
  SELECT u, CAST(count(*) AS BIGINT) AS c_u
  FROM (SELECT doc_id, unnest(t) AS u FROM toks)
  GROUP BY u
),
vc AS (SELECT CAST(count(*) AS BIGINT) AS v_types FROM uni),
big AS (
  SELECT u, v, CAST(count(*) AS BIGINT) AS c_uv FROM grams GROUP BY u, v
),
scored AS (
  SELECT g.doc_id, 6908 - ({_d_iln(x)}) AS nll
  FROM grams g
  JOIN big b ON g.u = b.u AND g.v = b.v
  JOIN uni n ON g.u = n.u, vc
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(nll) AS BIGINT) AS sum_nll_milli
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_bigrams, 0) AS n_bigrams,
       coalesce(p.sum_nll_milli, 0) AS sum_nll_milli,
       CAST(coalesce(p.sum_nll_milli // p.n_bigrams, 0) AS BIGINT)
         AS avg_nll_milli
FROM {docs_rel} d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


def q_dup_substring_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. (ACL 2022) substring-duplication rate per document:
    fraction of token positions covered by a corpus-duplicated 8-gram,
    exact integer permille — the corpus-health metric that motivates
    the dedup family. Grams compared as exact strings (no hash, no
    collision caveat); full design + 100 TB sampling note in
    operators/dedup.py::substring_dup_rate."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        substring_dup_rate,
    )

    return substring_dup_rate(load_table(spark, sf_dir, "documents"), n=8)


def _dup_substring_rate_oracle(n: int = 8) -> str:
    """DuckDB twin of dedup.substring_dup_rate: same tokenization,
    1-based gram starts, inclusive list_slice, distinct covered
    positions, integer permille."""
    return f"""
WITH toked AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, i, array_to_string(list_slice(t, i, i + {n - 1}), ' ') AS g
  FROM toked, unnest(range(1, len(t) - {n} + 2)) AS r(i)
  WHERE len(t) >= {n}
),
dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
cov AS (
  SELECT DISTINCT gm.doc_id, p.pos
  FROM grams gm JOIN dup d ON gm.g = d.g,
       unnest(range(gm.i, gm.i + {n})) AS p(pos)
),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_covered
  FROM cov GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.dup_covered, 0) AS BIGINT) AS dup_covered,
       CAST(CASE WHEN len(t.t) > 0
                 THEN (1000 * coalesce(p.dup_covered, 0)) // len(t.t)
                 ELSE 0 END AS BIGINT) AS dup_rate_permille
FROM toked t LEFT JOIN per p ON t.doc_id = p.doc_id
"""


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. (ACL 2022) ExactSubstr REMOVAL — the treatment whose
    magnitude `dup_substring_rate` measures: every non-canonical
    occurrence of a corpus-duplicated 8-gram is deleted (canonical =
    first by (doc_id, position)), and the surviving tokens are
    reconstructed per document. Exact string grams, distinct-position
    span union, deterministic canonical choice — full hash oracle incl.
    the reconstructed text. Design + 100 TB note in
    operators/dedup.py::substring_dedup."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import substring_dedup

    return substring_dedup(load_table(spark, sf_dir, "documents"), n=8)


def _substring_dedup_oracle(n: int = 8) -> str:
    """DuckDB twin of dedup.substring_dedup: same tokenization and
    1-based grams as the dup-rate oracle; canonical occurrence via
    row_number over (doc_id, i) per gram; kept_text re-assembled with
    an ordered string_agg over surviving positions."""
    return f"""
WITH toked AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, i, array_to_string(list_slice(t, i, i + {n - 1}), ' ') AS g
  FROM toked, unnest(range(1, len(t) - {n} + 2)) AS r(i)
  WHERE len(t) >= {n}
),
occ AS (
  SELECT doc_id, i,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn,
         count(*) OVER (PARTITION BY g) AS cnt
  FROM grams
),
rem_pos AS (
  SELECT DISTINCT o.doc_id, p.pos
  FROM occ o, unnest(range(o.i, o.i + {n})) AS p(pos)
  WHERE o.cnt > 1 AND o.rn > 1
),
tok_pos AS (
  SELECT doc_id, pos, t[pos] AS tok
  FROM toked, unnest(range(1, len(t) + 1)) AS p(pos)
),
kept AS (
  SELECT tp.doc_id,
         CAST(count(r.pos) AS BIGINT) AS removed_tokens,
         coalesce(
           string_agg(tok, ' ' ORDER BY tp.pos)
             FILTER (WHERE r.pos IS NULL),
           '') AS kept_text
  FROM tok_pos tp
  LEFT JOIN rem_pos r ON tp.doc_id = r.doc_id AND tp.pos = r.pos
  GROUP BY tp.doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(k.removed_tokens, 0) AS BIGINT) AS removed_tokens,
       CAST(len(t.t) - coalesce(k.removed_tokens, 0) AS BIGINT)
         AS kept_tokens,
       coalesce(k.kept_text, '') AS kept_text
FROM toked t LEFT JOIN kept k ON t.doc_id = k.doc_id
"""


def q_substring_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. (ACL 2022) ExactSubstr with the PUBLISHED removal
    rule: maximal duplicated spans of ≥ 50 tokens are removed whole,
    shorter incidental overlaps survive (the paper's §3.1 threshold —
    `substring_dedup` is the gram-granular treatment, this is the
    published one). Gaps-and-islands coalescing is row-local over the
    per-doc sorted removal positions; non-vacuous at the oracle SF
    (island lengths there span 11–93 tokens around the 50 cut, so both
    the removed and the kept-short-island branches fire). Design +
    100 TB note in operators/dedup.py::substring_dedup_spans."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        substring_dedup_spans,
    )

    return substring_dedup_spans(
        load_table(spark, sf_dir, "documents"), n=8, min_span=50
    )


def _substring_dedup_spans_oracle(n: int = 8, min_span: int = 50) -> str:
    """DuckDB twin of dedup.substring_dedup_spans: the substring_dedup
    oracle's removal positions, coalesced gaps-and-islands style
    (pos − row_number per doc), spans < min_span dropped, removal and
    reconstruction from the qualifying spans only."""
    return f"""
WITH toked AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, i, array_to_string(list_slice(t, i, i + {n - 1}), ' ') AS g
  FROM toked, unnest(range(1, len(t) - {n} + 2)) AS r(i)
  WHERE len(t) >= {n}
),
occ AS (
  SELECT doc_id, i,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn,
         count(*) OVER (PARTITION BY g) AS cnt
  FROM grams
),
dup_pos AS (
  SELECT DISTINCT o.doc_id, p.pos
  FROM occ o, unnest(range(o.i, o.i + {n})) AS p(pos)
  WHERE o.cnt > 1 AND o.rn > 1
),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup_pos
),
spans AS (
  SELECT doc_id, min(pos) AS lo, max(pos) AS hi
  FROM isl GROUP BY doc_id, grp
),
qual AS (
  SELECT doc_id, lo, hi, hi - lo + 1 AS slen
  FROM spans WHERE hi - lo + 1 >= {min_span}
),
stats AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(max(slen) AS BIGINT) AS max_span_tokens
  FROM qual GROUP BY doc_id
),
rem_pos AS (
  SELECT DISTINCT q.doc_id, p.pos
  FROM qual q, unnest(range(q.lo, q.hi + 1)) AS p(pos)
),
tok_pos AS (
  SELECT doc_id, pos, t[pos] AS tok
  FROM toked, unnest(range(1, len(t) + 1)) AS p(pos)
),
kept AS (
  SELECT tp.doc_id,
         CAST(count(r.pos) AS BIGINT) AS removed_tokens,
         coalesce(
           string_agg(tok, ' ' ORDER BY tp.pos)
             FILTER (WHERE r.pos IS NULL),
           '') AS kept_text
  FROM tok_pos tp
  LEFT JOIN rem_pos r ON tp.doc_id = r.doc_id AND tp.pos = r.pos
  GROUP BY tp.doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(k.removed_tokens, 0) AS BIGINT) AS removed_tokens,
       CAST(len(t.t) - coalesce(k.removed_tokens, 0) AS BIGINT)
         AS kept_tokens,
       coalesce(k.kept_text, '') AS kept_text,
       CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(s.max_span_tokens, 0) AS BIGINT) AS max_span_tokens
FROM toked t
LEFT JOIN kept k ON t.doc_id = k.doc_id
LEFT JOIN stats s ON t.doc_id = s.doc_id
"""


def q_source_neardup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate matrix over the RAW corpus — the
    doc-level complement of source_overlap: per unordered source pair,
    the verified (exact Jaccard ≥ 600‰) near-dup document pairs, the
    strongest match, and an example pair. Non-vacuous at every SF
    without injection (sf0.01: 23 cells from 25 verified pairs,
    including one same-source cell; sf0.001: 26 cells / 2 same-source).
    Design + 100 TB shape in
    operators/dedup.py::source_neardup_matrix."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        source_neardup_matrix,
    )

    return source_neardup_matrix(
        load_table(spark, sf_dir, "documents"), tau_permille=600, n=3
    )


def _source_neardup_matrix_oracle(tau_permille: int = 600) -> str:
    """DuckDB twin: the shared minhash/banding macros → candidate
    pairs → exact distinct-shingle Jaccard verify (min_inter 2, the
    banded-pairs rule) → source attach with lexicographic pair
    normalization (doc ids swapped in step) → per-cell count/max and
    the strongest-match argmax replayed as row_number (jp DESC, ea,
    eb)."""
    return f"""
WITH {_D_TOKS}{_D_SHINGLES}{_D_MINHASH_SIGS},
banded AS (
  SELECT doc_id, i // 4 AS band,
         md5(array_to_string(list_sort(list(CAST(sig AS VARCHAR))), ',')) AS band_key
  FROM sigs GROUP BY doc_id, i // 4
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
v AS (
  SELECT p.a_id, p.b_id,
         CAST((1000 * len(list_intersect(sa.shingles, sb.shingles)))
              // (len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles)))
           AS BIGINT) AS jp
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.a_id
  JOIN sh sb ON sb.doc_id = p.b_id
  WHERE len(list_intersect(sa.shingles, sb.shingles)) >= 2
),
norm AS (
  SELECT CASE WHEN da.source <= db.source THEN da.source ELSE db.source END
           AS source_a,
         CASE WHEN da.source <= db.source THEN db.source ELSE da.source END
           AS source_b,
         CASE WHEN da.source <= db.source THEN v.a_id ELSE v.b_id END AS ea,
         CASE WHEN da.source <= db.source THEN v.b_id ELSE v.a_id END AS eb,
         v.jp
  FROM v
  JOIN documents da ON v.a_id = da.doc_id
  JOIN documents db ON v.b_id = db.doc_id
  WHERE v.jp >= {tau_permille}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source_a, source_b
                               ORDER BY jp DESC, ea, eb) AS rn
  FROM norm
),
g AS (
  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(max(jp) AS BIGINT) AS max_jaccard_permille
  FROM norm GROUP BY source_a, source_b
)
SELECT g.source_a, g.source_b, g.n_pairs, g.max_jaccard_permille,
       CAST(r.ea AS BIGINT) AS example_a_id,
       CAST(r.eb AS BIGINT) AS example_b_id
FROM g JOIN ranked r
  ON g.source_a = r.source_a AND g.source_b = r.source_b AND r.rn = 1
"""


# Shared injected blocks for the VERIFIED spans entry: one 60-token
# verbatim-duplicated block (the verified-removal branch) and a 30+30
# splice whose halves are duplicated against DIFFERENT docs (the
# false-removal branch the verification exists to reject). Synthetic
# q-prefixed tokens never collide with the natural corpus.
_VSPAN_A = " ".join(f"qa{i}" for i in range(1, 61))
_VSPAN_C = " ".join(f"qc{i}" for i in range(1, 31))
_VSPAN_D = " ".join(f"qd{i}" for i in range(1, 31))


def q_substring_dedup_spans_verified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lee et al. ExactSubstr with PER-SPAN VERBATIM VERIFICATION —
    the paper-exact upgrade of substring_dedup_spans (VERDICT r16
    item 3, second option): a qualifying island is removed only where
    a single contiguous verbatim source covers ≥ min_span of it.
    Corpus = raw documents + five injected docs exercising both
    branches at every SF: a 60-token block duplicated verbatim across
    two docs (removed, verified) and a 30+30 splice whose halves are
    duplicated against different docs (the plain spans operator
    removes all 60; verification rejects it — no single source spans
    the junction). Design + 100 TB shape in
    operators/dedup.py::substring_dedup_spans_verified."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        substring_dedup_spans_verified,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    inj = spark.createDataFrame(
        [
            (30000001, _VSPAN_A + " uniq1a uniq1b"),
            (30000002, _VSPAN_A + " uniq2a uniq2b"),
            (30000003, _VSPAN_C + " uniq3a uniq3b"),
            (30000004, "uniq4a uniq4b " + _VSPAN_D),
            (30000005, _VSPAN_C + " " + _VSPAN_D),
        ],
        "doc_id long, text string",
    )
    return substring_dedup_spans_verified(
        d.unionByName(inj), n=8, min_span=50
    )


def _substring_dedup_spans_verified_oracle(
    n: int = 8, min_span: int = 50
) -> str:
    """DuckDB twin of dedup.substring_dedup_spans_verified over the
    injected corpus: the spans oracle's island chain + island gram
    starts rejoined to ALL duplicated-gram occurrences, per
    (island, e, delta) contiguous runs (pos − row_number), runs
    shorter than min_span tokens dropped, removal/stats/reconstruction
    from the verified positions only."""
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT 30000001 AS doc_id, '{_VSPAN_A} uniq1a uniq1b' AS text
  UNION ALL SELECT 30000002, '{_VSPAN_A} uniq2a uniq2b'
  UNION ALL SELECT 30000003, '{_VSPAN_C} uniq3a uniq3b'
  UNION ALL SELECT 30000004, 'uniq4a uniq4b {_VSPAN_D}'
  UNION ALL SELECT 30000005, '{_VSPAN_C} {_VSPAN_D}'
),
toked AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS t
  FROM corpus
),
grams AS (
  SELECT doc_id, i, array_to_string(list_slice(t, i, i + {n - 1}), ' ') AS g
  FROM toked, unnest(range(1, len(t) - {n} + 2)) AS r(i)
  WHERE len(t) >= {n}
),
occ AS (
  SELECT doc_id, i, g,
         row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn,
         count(*) OVER (PARTITION BY g) AS cnt
  FROM grams
),
dup_pos AS (
  SELECT DISTINCT o.doc_id, p.pos
  FROM occ o, unnest(range(o.i, o.i + {n})) AS p(pos)
  WHERE o.cnt > 1 AND o.rn > 1
),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup_pos
),
spans AS (
  SELECT doc_id, min(pos) AS lo, max(pos) AS hi
  FROM isl GROUP BY doc_id, grp
),
qual AS (
  SELECT doc_id, lo, hi FROM spans WHERE hi - lo + 1 >= {min_span}
),
ig AS (
  SELECT q.doc_id, q.lo, gp.p,
         array_to_string(list_slice(t.t, gp.p, gp.p + {n - 1}), ' ') AS g
  FROM qual q JOIN toked t ON q.doc_id = t.doc_id,
       unnest(range(q.lo, q.hi - {n} + 2)) AS gp(p)
),
docc AS (SELECT doc_id AS e, i AS qq, g FROM occ WHERE cnt > 1),
m AS (
  SELECT ig.doc_id, ig.lo, ig.p, d.e, d.qq - ig.p AS delta
  FROM ig JOIN docc d ON ig.g = d.g
  WHERE NOT (d.e = ig.doc_id AND d.qq = ig.p)
),
rg AS (
  SELECT doc_id, lo, e, delta, p,
         p - row_number() OVER (PARTITION BY doc_id, lo, e, delta
                                ORDER BY p) AS r
  FROM m
),
runs AS (
  SELECT doc_id, min(p) AS a, max(p) AS b
  FROM rg GROUP BY doc_id, lo, e, delta, r
),
vruns AS (SELECT doc_id, a, b FROM runs WHERE b - a + {n} >= {min_span}),
v_pos AS (
  SELECT DISTINCT v.doc_id, p.pos
  FROM vruns v, unnest(range(v.a, v.b + {n})) AS p(pos)
),
visl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM v_pos
),
vspans AS (
  SELECT doc_id, min(pos) AS lo, max(pos) AS hi
  FROM visl GROUP BY doc_id, grp
),
stats AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(max(hi - lo + 1) AS BIGINT) AS max_span_tokens
  FROM vspans GROUP BY doc_id
),
tok_pos AS (
  SELECT doc_id, pos, t[pos] AS tok
  FROM toked, unnest(range(1, len(t) + 1)) AS p(pos)
),
kept AS (
  SELECT tp.doc_id,
         CAST(count(r.pos) AS BIGINT) AS removed_tokens,
         coalesce(
           string_agg(tok, ' ' ORDER BY tp.pos)
             FILTER (WHERE r.pos IS NULL),
           '') AS kept_text
  FROM tok_pos tp
  LEFT JOIN v_pos r ON tp.doc_id = r.doc_id AND tp.pos = r.pos
  GROUP BY tp.doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(coalesce(k.removed_tokens, 0) AS BIGINT) AS removed_tokens,
       CAST(len(t.t) - coalesce(k.removed_tokens, 0) AS BIGINT)
         AS kept_tokens,
       coalesce(k.kept_text, '') AS kept_text,
       CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(s.max_span_tokens, 0) AS BIGINT) AS max_span_tokens
FROM toked t
LEFT JOIN kept k ON t.doc_id = k.doc_id
LEFT JOIN stats s ON t.doc_id = s.doc_id
"""


def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary perceptual-hash near-dup: byte-gram SimHash signatures over
    asset payloads, banded hamming candidate pairs, exact bit_count
    verify — over the asset corpus plus one-byte-perturbed copies
    (known true near-dups, the embed_neardup convention). Design +
    recall trade in operators/multimodal.py::phash_neardup_pairs."""
    from tepsonic_database_sync_spark.operators.multimodal import (
        phash_neardup_pairs,
    )

    assets = _assets(spark, sf_dir)
    copies = assets.select(
        (F.col("asset_id") + 10000000).alias("asset_id"),
        "kind",
        F.concat(F.col("payload"), F.encode(F.lit("?"), "utf-8")).alias(
            "payload"
        ),
        "meta",
    )
    return phash_neardup_pairs(assets.unionByName(copies))


def _multimodal_phash_oracle() -> str:
    """DuckDB twin of phash_signatures + phash_neardup_pairs over the
    perturbed-copy asset corpus: hex-string byte grams → h60 votes →
    packed 48-bit signature → 4×12-bit band join → bit_count verify.
    Constants imported from the operator module."""
    from tepsonic_database_sync_spark.operators.multimodal import (
        PHASH_BANDS,
        PHASH_BITS,
        PHASH_GRAM_BYTES,
        PHASH_TAU,
    )

    width = PHASH_BITS // PHASH_BANDS
    mask = (1 << width) - 1
    gb = PHASH_GRAM_BYTES
    return f"""
WITH assets AS (
  SELECT doc_id AS asset_id, hex(encode(text)) AS hx FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS asset_id,
         hex(encode(text) || encode('?')) AS hx
  FROM documents
),
gl AS (
  SELECT asset_id,
         list_distinct(list_transform(
           range(0, CAST(len(hx) / 2 AS INT) - {gb} + 1),
           i -> substr(hx, CAST(i * 2 + 1 AS INT), {gb * 2}))) AS gs
  FROM assets WHERE len(hx) >= {gb * 2}
),
g AS (SELECT asset_id, unnest(gs) AS g FROM gl),
h AS (SELECT asset_id, {_D_H60.format(e="g")} AS h FROM g),
bits AS (SELECT unnest(range(0, {PHASH_BITS})) AS b),
v AS (
  SELECT asset_id, b, (CAST(1 AS BIGINT) << CAST(b AS INT)) AS mask,
         CASE WHEN (h & (CAST(1 AS BIGINT) << CAST(b AS INT))) <> 0
              THEN 1 ELSE -1 END AS vote
  FROM h, bits
),
s AS (SELECT asset_id, b, mask, sum(vote) AS sv FROM v GROUP BY 1, 2, 3),
sig AS (
  SELECT asset_id,
         CAST(sum(CASE WHEN sv > 0 THEN mask ELSE 0 END) AS BIGINT) AS sig
  FROM s GROUP BY asset_id
),
banded AS (
  SELECT asset_id, sig, t.b AS band,
         (sig >> CAST(t.b * {width} AS INT)) & {mask} AS key
  FROM sig, range(0, {PHASH_BANDS}) t(b)
),
cand AS (
  SELECT DISTINCT a.asset_id AS a_id, b.asset_id AS b_id,
         a.sig AS a_sig, b.sig AS b_sig
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.asset_id < b.asset_id
)
SELECT a_id, b_id,
       CAST(bit_count(xor(a_sig, b_sig)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(a_sig, b_sig)) <= {PHASH_TAU}
"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment self-join over documents: directed pairs
    where >= 70% of a's 3-gram shingles appear in b — the subset/quote
    detector symmetric Jaccard misses. One-sided prefix-filter
    blocking, provably complete at tau; design + the uncapped-posting
    trade in operators/dedup.py::containment_pairs."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import containment_pairs

    return containment_pairs(load_table(spark, sf_dir, "documents"))


def _containment_oracle() -> str:
    """Ground-truth all-pairs containment at the shared tau —
    deliberately NOT a replay of the prefix-filter mechanics (the
    _prefix_filter_oracle convention), so the hash certifies the
    one-sided blocking's completeness."""
    from tepsonic_database_sync_spark.operators.dedup import (
        CONTAIN_TAU_PERMILLE,
    )

    return f"""
WITH {_D_TOKS}{_D_SHINGLES}
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
         AS inter_size,
       CAST(len(a.shingles) AS BIGINT) AS a_size,
       CAST((1000 * len(list_intersect(a.shingles, b.shingles)))
            // len(a.shingles) AS BIGINT) AS cont_permille
FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
  AND len(list_intersect(a.shingles, b.shingles)) * 1000
      >= len(a.shingles) * {CONTAIN_TAU_PERMILLE}
"""


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity + t-closeness census over customer: quasi identifiers
    (nation, market segment), sensitive attribute = account-balance
    band — the two k-anonymity refinements (class-size alone does not
    stop a homogeneity or skew attack). Exact-integer TVD via the
    closed-form absent-value correction; design + overflow contract in
    operators/profile.py::l_diversity."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.profile import l_diversity

    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            "(CAST(round(c_acctbal * 100, 0) AS BIGINT) + 1000000)"
            " div 100000"
        ).alias("bal_band"),
    )
    return l_diversity(c, ["c_nationkey", "c_mktsegment"], "bal_band")


def _l_diversity_oracle() -> str:
    """DuckDB twin of profile.l_diversity over the customer census:
    (class, value) counts, class sizes, global distribution, the
    closed-form absent-value TVD correction, floored permille."""
    from tepsonic_database_sync_spark.operators.profile import (
        LDIV_L,
        LDIV_T_PERMILLE,
    )

    return f"""
WITH c AS (
  SELECT c_nationkey, c_mktsegment,
         (CAST(round(c_acctbal * 100, 0) AS BIGINT) + 1000000) // 100000
           AS bal_band
  FROM customer
),
cs AS (
  SELECT c_nationkey, c_mktsegment, bal_band,
         CAST(count(*) AS BIGINT) AS c_v
  FROM c GROUP BY 1, 2, 3
),
g AS (SELECT bal_band, CAST(count(*) AS BIGINT) AS g_v FROM c GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM c),
terms AS (
  SELECT cs.c_nationkey, cs.c_mktsegment,
         CAST(sum(cs.c_v) AS BIGINT) AS k_c,
         CAST(count(*) AS BIGINT) AS l_distinct,
         CAST(sum(abs(cs.c_v * n.n_total
                      - g.g_v * (SELECT sum(c_v) FROM cs cs2
                                 WHERE cs2.c_nationkey = cs.c_nationkey
                                   AND cs2.c_mktsegment = cs.c_mktsegment)))
              AS BIGINT) AS present_num,
         CAST(sum(g.g_v) AS BIGINT) AS g_present,
         CAST(max(n.n_total) AS BIGINT) AS n_total
  FROM cs JOIN g USING (bal_band) CROSS JOIN n
  GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment, k_c AS class_size, l_distinct,
       CAST((500 * (present_num + (n_total - g_present) * k_c))
            // (k_c * n_total) AS BIGINT) AS tvd_permille,
       l_distinct < {LDIV_L} AS l_at_risk,
       (500 * (present_num + (n_total - g_present) * k_c))
         // (k_c * n_total) > {LDIV_T_PERMILLE} AS t_at_risk
FROM terms
"""


def q_rm3_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 pseudo-relevance feedback over documents: BM25 first pass on
    the shared BM25_TERMS query, top-10 feedback docs, relevance-model
    expansion terms (top-5, permille-normalized), posting-form second
    pass, lambda=0.7 interpolation, final top-20. The retrieval stack's
    feedback stage next to bm25/rrf/mmr. Design + scale shape in
    operators/text.py::rm3_feedback."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import rm3_feedback

    return rm3_feedback(load_table(spark, sf_dir, "documents"), BM25_TERMS)


def _rm3_oracle(
    terms: list[str] | None = None,
    k1_milli: int = 1200,
    b_milli: int = 750,
) -> str:
    """DuckDB twin of operators.text.rm3_feedback: the bm25 oracle's
    CTEs as pass 1, then feedback top-k, relevance-model expansion,
    posting-form pass 2 and the interpolated top-n — constants imported
    from the operator module so the two sides cannot desynchronize."""
    from tepsonic_database_sync_spark.operators.text import (
        RM3_EXP_TERMS,
        RM3_FB_DOCS,
        RM3_LAMBDA_MILLI,
        RM3_TOPN,
    )

    q = BM25_TERMS if terms is None else terms
    lam = RM3_LAMBDA_MILLI
    tf_cols = ",\n  ".join(
        f"CAST(len(list_filter(t, x -> x = '{w}')) AS BIGINT) AS tf_{i}"
        for i, w in enumerate(q)
    )
    df_cols = ",\n  ".join(
        f"CAST(count(*) FILTER (tf_{i} > 0) AS BIGINT) AS df_{i}"
        for i in range(len(q))
    )
    bm25_terms = []
    for i in range(len(q)):
        x_b = f"greatest(((2 * (n_docs - df_{i}) + 1) * 1000) // (2 * df_{i} + 1), 1)"
        idf_b = f"greatest(0, {_d_iln(x_b)})"
        denom = (
            f"(tf_{i} * 1000 + ({k1_milli} * ({1000 - b_milli} "
            f"+ ({b_milli} * dl * 1000) // avgdl_milli)) // 1000)"
        )
        tf_norm = f"((tf_{i} * {k1_milli + 1000} * 1000) // {denom})"
        bm25_terms.append(f"(({idf_b}) * {tf_norm}) // 1000")
    not_q = " AND ".join(f"term <> '{w}'" for w in q) or "TRUE"
    # pass-2 per-(doc, term) BM25 with data-dependent df
    x_b2 = "greatest(((2 * (st.n_docs - d.df) + 1) * 1000) // (2 * d.df + 1), 1)"
    idf_b2 = f"greatest(0, {_d_iln(x_b2)})"
    denom2 = (
        f"(f.tf * 1000 + ({k1_milli} * ({1000 - b_milli} "
        f"+ ({b_milli} * s.dl * 1000) // st.avgdl_milli)) // 1000)"
    )
    tf_norm2 = f"((f.tf * {k1_milli + 1000} * 1000) // {denom2})"
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
),
base AS (
  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl,
  {tf_cols}
  FROM toks
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         (CAST(sum(dl) AS BIGINT) * 1000) // CAST(count(*) AS BIGINT)
           AS avgdl_milli,
  {df_cols}
  FROM base
),
s1 AS (
  SELECT doc_id, t, dl,
         CAST({" + ".join(bm25_terms)} AS BIGINT) AS bm25_milli
  FROM base, stats
),
fb AS (
  SELECT doc_id, t, dl AS fb_dl, bm25_milli AS fb_score
  FROM s1 ORDER BY bm25_milli DESC, doc_id LIMIT {RM3_FB_DOCS}
),
fbt AS (
  SELECT doc_id, fb_dl, fb_score, unnest(t) AS term FROM fb
),
fbtf AS (
  SELECT doc_id, fb_dl, fb_score, term, CAST(count(*) AS BIGINT) AS tf
  FROM fbt WHERE term <> '' AND {not_q}
  GROUP BY 1, 2, 3, 4
),
wraw AS (
  SELECT term, CAST(sum(((tf * 1000) // fb_dl) * fb_score) AS BIGINT) AS w_raw
  FROM fbtf GROUP BY term
  HAVING sum(((tf * 1000) // fb_dl) * fb_score) > 0
  ORDER BY w_raw DESC, term LIMIT {RM3_EXP_TERMS}
),
wtot AS (SELECT CAST(sum(w_raw) AS BIGINT) AS w_tot FROM wraw),
exp AS (
  SELECT term, CAST((1000 * w_raw) // w_tot AS BIGINT) AS w_norm
  FROM wraw, wtot
),
tok2 AS (
  SELECT s.doc_id, e.term, e.w_norm
  FROM (SELECT doc_id, unnest(t) AS term FROM toks) s
  JOIN exp e ON s.term = e.term
),
tf2 AS (
  SELECT doc_id, term, w_norm, CAST(count(*) AS BIGINT) AS tf
  FROM tok2 GROUP BY 1, 2, 3
),
df2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf2 GROUP BY term),
expsc AS (
  SELECT f.doc_id,
         CAST(sum((f.w_norm * ((({idf_b2}) * {tf_norm2}) // 1000)) // 1000)
              AS BIGINT) AS exp_milli
  FROM tf2 f
  JOIN df2 d ON f.term = d.term
  JOIN s1 s ON f.doc_id = s.doc_id
  CROSS JOIN stats st
  GROUP BY f.doc_id
),
final AS (
  SELECT s.doc_id, s.bm25_milli,
         CAST(coalesce(e.exp_milli, 0) AS BIGINT) AS exp_milli,
         CAST(({lam} * s.bm25_milli
               + {1000 - lam} * coalesce(e.exp_milli, 0)) // 1000
              AS BIGINT) AS rm3_milli
  FROM s1 s LEFT JOIN expsc e ON s.doc_id = e.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY rm3_milli DESC, doc_id) AS BIGINT)
         AS rank,
       doc_id, bm25_milli, exp_milli, rm3_milli
FROM final ORDER BY rm3_milli DESC, doc_id LIMIT {RM3_TOPN}
"""


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation over the co-purchase
    part graph (the SAME capped_basket_items/cooccur_pairs substrate as
    q_graph_components, so the cap semantics cannot diverge):
    community detection, the graph family's third semantic next to
    components and PageRank. 4 fixed rounds, mode-of-neighbors with
    ties to the smallest label. Design + determinism rationale in
    operators/graph.py::label_propagation."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.graph import label_propagation
    from tepsonic_database_sync_spark.operators.recommend import (
        capped_basket_items,
        cooccur_pairs,
    )

    capped = capped_basket_items(
        load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey"
    )
    edges = cooccur_pairs(capped, min_support=2, symmetric=True).select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    )
    return label_propagation(edges)


def _label_propagation_oracle() -> str:
    """DuckDB twin of graph.label_propagation over the co-purchase
    graph: the graph_components oracle's edge CTEs, then the same
    fixed synchronous rounds unrolled (mode via row_number ordered
    (count DESC, label ASC))."""
    from tepsonic_database_sync_spark.operators.graph import LPA_ROUNDS
    from tepsonic_database_sync_spark.operators.recommend import MAX_BASKET

    parts = [
        "bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem)",
        f"ok AS (SELECT b FROM bi GROUP BY b HAVING count(*) <= {MAX_BASKET})",
        "cap AS (SELECT bi.b, bi.i FROM bi JOIN ok USING (b))",
        """pairs AS (
  SELECT a.i AS a_id, c.i AS b_id
  FROM cap a JOIN cap c ON a.b = c.b AND a.i < c.i
  GROUP BY 1, 2 HAVING count(*) >= 2
)""",
        """edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION ALL
  SELECT b_id, a_id FROM pairs
)""",
        """nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
)""",
        "l0 AS (SELECT node, node AS label FROM nodes)",
    ]
    for i in range(1, LPA_ROUNDS + 1):
        parts += [
            f"""c{i} AS (
  SELECT e.src AS node, l.label, count(*) AS c
  FROM edges e JOIN l{i - 1} l ON e.dst = l.node
  GROUP BY 1, 2)""",
            f"""l{i} AS (
  SELECT node, label FROM (
    SELECT *, row_number() OVER (PARTITION BY node
                                 ORDER BY c DESC, label ASC) AS rn
    FROM c{i}) WHERE rn = 1)""",
        ]
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT CAST(node AS BIGINT) AS node,"
        f" CAST(label AS BIGINT) AS label FROM l{LPA_ROUNDS}"
    )


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-ranking (Carbonell & Goldstein, SIGIR 1998):
    greedy λ·rel − (1−λ)·max-sim-to-selected selection of 5 from each
    query's exact-cosine top-20 candidates, all in engine-exact integer
    micro/milli units. Design + scale shape in
    operators/similarity.py::mmr_rerank."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.similarity import mmr_rerank

    return mmr_rerank(load_table(spark, sf_dir, "embeddings"))


def _mmr_rerank_oracle(
    n_queries: int | None = None,
    n_cand: int | None = None,
    k: int | None = None,
    lambda_milli: int | None = None,
) -> str:
    """DuckDB twin of ``similarity.mmr_rerank``: the same greedy
    trajectory unrolled as a CTE chain — candidates + pairwise sims
    once, then per step (max-sim-to-selected → integer mmr → argmax
    pick → shrink remaining). Constants imported from the operator
    module so the two sides cannot desynchronize."""
    from tepsonic_database_sync_spark.operators.similarity import (
        MMR_CANDIDATES,
        MMR_K,
        MMR_LAMBDA_MILLI,
        MMR_QUERIES,
    )

    nq = MMR_QUERIES if n_queries is None else n_queries
    nc = MMR_CANDIDATES if n_cand is None else n_cand
    kk = MMR_K if k is None else k
    lam = MMR_LAMBDA_MILLI if lambda_milli is None else lambda_milli
    mu = 1000 - lam
    sim_ab = _D_SIM.format(
        dot=_D_IDOT.format(a="a.iv", b="b.iv"), na2="a.n2", nb2="b.n2"
    )
    sim_vq = _D_SIM.format(
        dot=_D_IDOT.format(a="v.iv", b="q.q_iv"), na2="v.n2", nb2="q.q_n2"
    )
    parts = [
        f"""q AS (SELECT vec_id AS q_id, iv AS q_iv, n2 AS q_n2
     FROM v WHERE vec_id < {nq})""",
        f"""sc AS (
  SELECT q.q_id, v.vec_id AS c_id, v.iv, v.n2, {sim_vq} AS rel
  FROM v, q WHERE v.vec_id <> q.q_id
)""",
        f"""cand AS (
  SELECT q_id, c_id, iv, n2, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
                                 ORDER BY rel DESC, c_id) AS rn
    FROM sc) WHERE rn <= {nc}
)""",
        f"""psim AS (
  SELECT a.q_id, a.c_id AS a_id, b.c_id AS b_id, {sim_ab} AS s
  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.c_id <> b.c_id
)""",
        f"g1 AS (SELECT q_id, c_id, rel, CAST({lam} * rel AS BIGINT) AS mmr"
        " FROM cand)",
        """s1 AS (SELECT q_id, c_id, rel, mmr FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY mmr DESC, c_id) AS rn
  FROM g1) WHERE rn = 1)""",
        "sel1 AS (SELECT q_id, c_id FROM s1)",
        """rem1 AS (
  SELECT c.q_id, c.c_id, c.rel FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM sel1 s
                    WHERE s.q_id = c.q_id AND s.c_id = c.c_id))""",
    ]
    for i in range(2, kk + 1):
        parts += [
            f"""m{i} AS (
  SELECT p.q_id, p.a_id AS c_id, max(p.s) AS ms
  FROM psim p JOIN sel{i - 1} s ON p.q_id = s.q_id AND p.b_id = s.c_id
  GROUP BY 1, 2)""",
            f"""g{i} AS (
  SELECT r.q_id, r.c_id, r.rel,
         CAST({lam} * r.rel - {mu} * coalesce(m.ms, 0) AS BIGINT) AS mmr
  FROM rem{i - 1} r LEFT JOIN m{i} m
    ON r.q_id = m.q_id AND r.c_id = m.c_id)""",
            f"""s{i} AS (SELECT q_id, c_id, rel, mmr FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY mmr DESC, c_id) AS rn
  FROM g{i}) WHERE rn = 1)""",
        ]
        if i < kk:
            parts += [
                f"""sel{i} AS (SELECT q_id, c_id FROM sel{i - 1}
  UNION ALL SELECT q_id, c_id FROM s{i})""",
                f"""rem{i} AS (
  SELECT r.* FROM rem{i - 1} r
  WHERE NOT EXISTS (SELECT 1 FROM s{i} s
                    WHERE s.q_id = r.q_id AND s.c_id = r.c_id))""",
            ]
    finals = "\nUNION ALL\n".join(
        f"SELECT q_id, CAST({i} AS BIGINT) AS step, c_id AS neighbor_id,"
        f" rel AS rel_e6, mmr AS mmr_score FROM s{i}"
        for i in range(1, kk + 1)
    )
    return f"WITH {_D_QUANT},\n" + ",\n".join(parts) + "\n" + finals


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k distinct-count sketch with multiset estimators
    (Bar-Yossef et al. 2002; Beyer et al. SIGMOD 2007): bottom-64
    summaries of the distinct-term sets of the even- and odd-doc_id
    corpus halves, merged for a union estimate and intersected via the
    ρ/k rule — the deterministic-given-h60 cardinality sketch next to
    HLL's register table, so summary CONTENT and estimates are both
    hash-oracle-checked. Tournament build + 100 TB note in
    operators/sketches.py::kmv_summary."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.sketches import (
        kmv_set_ops,
        kmv_summary,
    )
    from tepsonic_database_sync_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    # distinct TRIGRAMS (the corpus vocabulary is only ~31 words, which
    # is below k — unigrams would leave the estimator path dead; the
    # trigram space is thousands of values, so both the (k-1)/h_(k)
    # estimator and a non-trivial intersection actually execute)
    toked = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.filter(tokens(F.col("text")), lambda x: x != F.lit("")).alias("t"),
    )
    terms = toked.filter(F.size("t") >= 3).select(
        "half",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 2),"
                " i -> concat_ws(' ', slice(t, i, 3)))"
            )
        ).alias("term"),
    )
    km = kmv_summary(terms, "half", "term", k=64)
    return kmv_set_ops(
        km.filter(F.col("half") == 0), km.filter(F.col("half") == 1), k=64
    )


def _kmv_distinct_oracle(k: int = 64) -> str:
    """DuckDB twin of sketches.kmv_summary + kmv_set_ops over the two
    corpus halves: bottom-k of the distinct h60 term hashes, the same
    (k-1)/h_(k)·2^60 double pipeline, union-merge and the ρ/k
    intersection rule."""
    from tepsonic_database_sync_spark.functions.hashing import h60_sql

    def est(kmv: str) -> str:
        return (
            f"CASE WHEN len({kmv}) < {k} THEN CAST(len({kmv}) AS BIGINT) "
            f"ELSE CAST(ROUND(CAST({k - 1} AS DOUBLE)"
            f" / CAST({kmv}[{k}] AS DOUBLE)"
            f" * 1152921504606846976.0, 0) AS BIGINT) END"
        )

    return f"""
WITH toked AS (
  SELECT doc_id % 2 AS half,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS t
  FROM documents
),
occ AS (
  SELECT DISTINCT half, {h60_sql("term")} AS h
  FROM (SELECT half,
               array_to_string(list_slice(t, i, i + 2), ' ') AS term
        FROM toked, unnest(range(1, len(t) - 1)) AS r(i)
        WHERE len(t) >= 3)
),
km AS (
  SELECT half, list_slice(list(h ORDER BY h), 1, {k}) AS kmv
  FROM occ GROUP BY half
),
j AS (
  SELECT a.kmv AS kmv_a, b.kmv AS kmv_b,
         list_slice(list_sort(list_distinct(list_concat(a.kmv, b.kmv))),
                    1, {k}) AS kmv_u
  FROM (SELECT kmv FROM km WHERE half = 0) a,
       (SELECT kmv FROM km WHERE half = 1) b
),
j2 AS (
  SELECT *,
         len(list_filter(kmv_u,
             x -> list_contains(kmv_a, x) AND list_contains(kmv_b, x)))
           AS rho,
         {est("kmv_u")} AS est_u
  FROM j
)
SELECT 'a' AS set_key, CAST(len(kmv_a) AS BIGINT) AS n_kept,
       CAST(kmv_a[len(kmv_a)] AS BIGINT) AS kth_hash,
       {est("kmv_a")} AS est FROM j2
UNION ALL
SELECT 'b', CAST(len(kmv_b) AS BIGINT),
       CAST(kmv_b[len(kmv_b)] AS BIGINT), {est("kmv_b")} FROM j2
UNION ALL
SELECT 'union', CAST(len(kmv_u) AS BIGINT),
       CAST(kmv_u[len(kmv_u)] AS BIGINT), est_u FROM j2
UNION ALL
SELECT 'intersect', CAST(rho AS BIGINT),
       CAST(kmv_u[len(kmv_u)] AS BIGINT),
       CASE WHEN len(kmv_u) < {k} THEN CAST(rho AS BIGINT)
            ELSE CAST((rho * est_u) // {k} AS BIGINT) END
FROM j2
"""


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-blocked embedding-cosine
    dedup — cluster, compare only within a cluster, keep each near-dup
    group's farthest-from-centroid member. Runs over the corpus with an
    id-shifted copy (known true dups, the embed_neardup convention), so
    every original survives and every copy is flagged unless a natural
    near-dup outranks it. Integer Lloyd rounds + micro-unit cosines →
    full hash oracle. Design + skew note in
    operators/similarity.py::semdedup."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    copy = emb.select(
        (F.col("vec_id") + 10000000).alias("vec_id"), "label", "embedding"
    )
    return semdedup(emb.unionByName(copy), n_cells=16, iters=2)


def _semdedup_oracle(
    n_cells: int = 16, iters: int = 2, eps_e6: int = 990000
) -> str:
    """DuckDB twin of similarity.semdedup over the copy-augmented
    corpus: the same fixed Lloyd rounds unrolled (kmeans-oracle
    pattern over the union corpus), final broadcast assignment, within-
    cluster pair filter and the keep-lowest-(cent_sim, id) rule."""
    union = """u AS (
  SELECT vec_id, label, iv, n2 FROM v
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id, label, iv, n2 FROM v
)"""
    parts = [
        union,
        f"""c0 AS (
  SELECT vec_id AS cent_id, list_transform(iv, x -> x * 1000) AS c_mil
  FROM u WHERE vec_id < {n_cells}
)""",
    ]
    prev = "c0"
    for t in range(1, iters + 1):
        sim = _D_SIM_SEP.format(
            dot=_D_IDOT.format(a="u.iv", b="c.c_mil"), na2="u.n2", nb2="c.c_n2"
        )
        parts += [
            f"""cn{t} AS (
  SELECT cent_id, c_mil, {_D_IDOT.format(a="c_mil", b="c_mil")} AS c_n2
  FROM {prev}
)""",
            f"""a{t} AS (
  SELECT vec_id, iv, cent_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cent_id) AS rn
  FROM (SELECT u.vec_id, u.iv, c.cent_id, {sim} AS sim
        FROM u CROSS JOIN cn{t} c)
)""",
            f"""g{t} AS (
  SELECT cent_id, t.i - 1 AS dim, sum(iv[t.i]) AS s, count(*) AS n
  FROM a{t}, unnest(range(1, len(iv) + 1)) AS t(i)
  WHERE rn = 1 GROUP BY cent_id, t.i
)""",
            f"""c{t} AS (
  SELECT cent_id, list((1000 * s) // n ORDER BY dim) AS c_mil
  FROM g{t} GROUP BY cent_id
)""",
        ]
        prev = f"c{t}"
    fsim = _D_SIM_SEP.format(
        dot=_D_IDOT.format(a="u.iv", b="c.c_mil"), na2="u.n2", nb2="c.c_n2"
    )
    psim = _D_SIM.format(
        dot=_D_IDOT.format(a="a.iv", b="b.iv"), na2="a.n2", nb2="b.n2"
    )
    parts += [
        f"""cnf AS (
  SELECT cent_id, c_mil, {_D_IDOT.format(a="c_mil", b="c_mil")} AS c_n2
  FROM {prev}
)""",
        f"""asg AS (
  SELECT vec_id, iv, n2, cent_id, sim AS cent_sim_e6,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cent_id) AS rn
  FROM (SELECT u.vec_id, u.iv, u.n2, c.cent_id, {fsim} AS sim
        FROM u CROSS JOIN cnf c)
)""",
        """af AS (SELECT * FROM asg WHERE rn = 1)""",
        f"""rem AS (
  SELECT DISTINCT a.vec_id
  FROM af a JOIN af b
    ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
  WHERE (b.cent_sim_e6 < a.cent_sim_e6
         OR (b.cent_sim_e6 = a.cent_sim_e6 AND b.vec_id < a.vec_id))
    AND {psim} >= {eps_e6}
)""",
    ]
    body = ",\n".join([_D_QUANT] + parts)
    return f"""WITH {body}
SELECT CAST(a.vec_id AS BIGINT) AS vec_id,
       CAST(a.cent_id AS BIGINT) AS cent_id,
       CAST(a.cent_sim_e6 AS BIGINT) AS cent_sim_e6,
       CAST(CASE WHEN r.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
         AS is_dup
FROM af a LEFT JOIN rem r ON a.vec_id = r.vec_id
"""


def q_semdedup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup behind a two-level coarse→fine quantizer (r12 — the
    k ≳ 10⁴ escalation the single-level entry documents): 4 coarse ×
    4 fine = the same 16 effective cells as q_semdedup, at
    N·(4+4) assignment compares instead of N·16, over the same
    copy-augmented corpus. Grouped-Lloyd fine training (all cells in
    one job per round), combined-cell-blocked removal, fine codebook
    attaches UNHINTED (k·d grows with the corpus under the k∝N rule —
    the r12 broadcast-audit class). Full design in
    operators/similarity.py::semdedup_two_level."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.similarity import (
        semdedup_two_level,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    copy = emb.select(
        (F.col("vec_id") + 10000000).alias("vec_id"), "label", "embedding"
    )
    return semdedup_two_level(
        emb.unionByName(copy), n_coarse=4, n_fine=4, iters=2
    )


def _semdedup_two_level_oracle(
    n_coarse: int = 4, n_fine: int = 4, iters: int = 2, eps_e6: int = 990000
) -> str:
    """DuckDB twin of similarity.semdedup_two_level over the
    copy-augmented corpus: coarse Lloyd unrolled (the kmeans-oracle
    pattern), coarse argmax assignment, per-coarse-cell fine seeds
    (n_fine lowest vec_ids, fine_id = seed vec_id), the SAME Lloyd
    rounds unrolled GROUPED on coarse_id, final fine assignment, and
    the keep-lowest-(cent_sim, id) removal blocked on the combined
    (coarse, fine) cell."""
    union = """u AS (
  SELECT vec_id, label, iv, n2 FROM v
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id, label, iv, n2 FROM v
)"""
    parts = [
        union,
        f"""c0 AS (
  SELECT vec_id AS cent_id, list_transform(iv, x -> x * 1000) AS c_mil
  FROM u WHERE vec_id < {n_coarse}
)""",
    ]
    prev = "c0"
    for t in range(1, iters + 1):
        sim = _D_SIM_SEP.format(
            dot=_D_IDOT.format(a="u.iv", b="c.c_mil"), na2="u.n2", nb2="c.c_n2"
        )
        parts += [
            f"""cn{t} AS (
  SELECT cent_id, c_mil, {_D_IDOT.format(a="c_mil", b="c_mil")} AS c_n2
  FROM {prev}
)""",
            f"""a{t} AS (
  SELECT vec_id, iv, cent_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cent_id) AS rn
  FROM (SELECT u.vec_id, u.iv, c.cent_id, {sim} AS sim
        FROM u CROSS JOIN cn{t} c)
)""",
            f"""g{t} AS (
  SELECT cent_id, t.i - 1 AS dim, sum(iv[t.i]) AS s, count(*) AS n
  FROM a{t}, unnest(range(1, len(iv) + 1)) AS t(i)
  WHERE rn = 1 GROUP BY cent_id, t.i
)""",
            f"""c{t} AS (
  SELECT cent_id, list((1000 * s) // n ORDER BY dim) AS c_mil
  FROM g{t} GROUP BY cent_id
)""",
        ]
        prev = f"c{t}"
    csim = _D_SIM_SEP.format(
        dot=_D_IDOT.format(a="u.iv", b="c.c_mil"), na2="u.n2", nb2="c.c_n2"
    )
    parts += [
        f"""cnf AS (
  SELECT cent_id, c_mil, {_D_IDOT.format(a="c_mil", b="c_mil")} AS c_n2
  FROM {prev}
)""",
        f"""caf AS (
  SELECT vec_id, iv, n2, cent_id AS coarse_id FROM (
    SELECT u.vec_id, u.iv, u.n2, c.cent_id, {csim} AS sim,
           row_number() OVER (PARTITION BY u.vec_id
                              ORDER BY {csim} DESC, c.cent_id) AS rn
    FROM u CROSS JOIN cnf c) WHERE rn = 1
)""",
        f"""f0 AS (
  SELECT coarse_id, fine_id, list_transform(iv, x -> x * 1000) AS f_mil
  FROM (SELECT coarse_id, vec_id AS fine_id, iv,
               row_number() OVER (PARTITION BY coarse_id
                                  ORDER BY vec_id) AS rn
        FROM caf) WHERE rn <= {n_fine}
)""",
    ]
    prev = "f0"
    for t in range(1, iters + 1):
        fsim = _D_SIM_SEP.format(
            dot=_D_IDOT.format(a="caf.iv", b="c.f_mil"),
            na2="caf.n2",
            nb2="c.f_n2",
        )
        parts += [
            f"""fn{t} AS (
  SELECT coarse_id, fine_id, f_mil,
         {_D_IDOT.format(a="f_mil", b="f_mil")} AS f_n2
  FROM {prev}
)""",
            f"""fa{t} AS (
  SELECT coarse_id, fine_id, vec_id, iv,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, fine_id) AS rn
  FROM (SELECT caf.vec_id, caf.iv, c.coarse_id, c.fine_id, {fsim} AS sim
        FROM caf JOIN fn{t} c ON caf.coarse_id = c.coarse_id)
)""",
            f"""fg{t} AS (
  SELECT coarse_id, fine_id, t.i - 1 AS dim, sum(iv[t.i]) AS s,
         count(*) AS n
  FROM fa{t}, unnest(range(1, len(iv) + 1)) AS t(i)
  WHERE rn = 1 GROUP BY coarse_id, fine_id, t.i
)""",
            f"""f{t} AS (
  SELECT coarse_id, fine_id, list((1000 * s) // n ORDER BY dim) AS f_mil
  FROM fg{t} GROUP BY coarse_id, fine_id
)""",
        ]
        prev = f"f{t}"
    ffsim = _D_SIM_SEP.format(
        dot=_D_IDOT.format(a="caf.iv", b="c.f_mil"), na2="caf.n2", nb2="c.f_n2"
    )
    psim = _D_SIM.format(
        dot=_D_IDOT.format(a="a.iv", b="b.iv"), na2="a.n2", nb2="b.n2"
    )
    parts += [
        f"""fnf AS (
  SELECT coarse_id, fine_id, f_mil,
         {_D_IDOT.format(a="f_mil", b="f_mil")} AS f_n2
  FROM {prev}
)""",
        f"""faf AS (
  SELECT vec_id, coarse_id, fine_id, iv, n2, sim AS cent_sim_e6 FROM (
    SELECT caf.vec_id, caf.iv, caf.n2, c.coarse_id, c.fine_id,
           {ffsim} AS sim,
           row_number() OVER (PARTITION BY caf.vec_id
                              ORDER BY {ffsim} DESC, c.fine_id) AS rn
    FROM caf JOIN fnf c ON caf.coarse_id = c.coarse_id) WHERE rn = 1
)""",
        f"""rem AS (
  SELECT DISTINCT a.vec_id
  FROM faf a JOIN faf b
    ON a.coarse_id = b.coarse_id AND a.fine_id = b.fine_id
   AND a.vec_id <> b.vec_id
  WHERE (b.cent_sim_e6 < a.cent_sim_e6
         OR (b.cent_sim_e6 = a.cent_sim_e6 AND b.vec_id < a.vec_id))
    AND {psim} >= {eps_e6}
)""",
    ]
    body = ",\n".join([_D_QUANT] + parts)
    return f"""WITH {body}
SELECT CAST(a.vec_id AS BIGINT) AS vec_id,
       CAST(a.coarse_id AS BIGINT) AS coarse_id,
       CAST(a.fine_id AS BIGINT) AS fine_id,
       CAST(a.cent_sim_e6 AS BIGINT) AS cent_sim_e6,
       CAST(CASE WHEN r.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
         AS is_dup
FROM faf a LEFT JOIN rem r ON a.vec_id = r.vec_id
"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher quality filter (Rae et al. 2021, Table A1)
    over the documents corpus: per-doc integer-permille signals,
    per-rule flags, and the final keep bit — word count, mean word
    length, symbol ratio, bullet/ellipsis line shares, alpha-word
    share, required-stop-word hits, and the repetition trio reused
    from repetition_stats. Design + thresholds in
    operators/text.py::gopher_rules.

    The synthetic corpus is single-line prose with no bullets,
    ellipses, or hashes (checked at every SF), so those rule branches
    would never execute cross-engine — every doc_id % 5 == 0 doc gets
    a deterministic multi-line pathological suffix injected
    IDENTICALLY here and in the oracle (the text_scrub pattern), so
    the hash actually certifies starts_with/ends_with/regexp parity
    for the line-level rules."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(
                    "\n- bullet item one\n- second item trails..."
                    "\nunicode trail …\ntail ## line"
                ),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return gopher_rules(docs)


def _gopher_oracle(docs_rel: str = "documents", inject: bool = True) -> str:
    """DuckDB twin of operators.text.gopher_rules: identical permille
    arithmetic, identical thresholds (imported, not copied), and the
    text_repetition oracle's gram CTEs verbatim for the repetition
    trio. ``docs_rel``/``inject=False`` let quality_stack run the rules
    over its own injected corpus CTE (which carries its OWN pathology
    mix) instead of this entry's % 5 suffix."""
    from tepsonic_database_sync_spark.operators.text import (
        GOPHER_MAX_BULLET_PERMILLE,
        GOPHER_MAX_DUP3_PERMILLE,
        GOPHER_MAX_DUPLINE_PERMILLE,
        GOPHER_MAX_ELLIPSIS_PERMILLE,
        GOPHER_MAX_MWL_PERMILLE,
        GOPHER_MAX_SYMBOL_PERMILLE,
        GOPHER_MAX_TOP2_PERMILLE,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_PERMILLE,
        GOPHER_MIN_MWL_PERMILLE,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_WORDS,
        GOPHER_STOP_WORDS,
    )

    stop_sum = " + ".join(
        f"(CASE WHEN list_contains(tw, '{w}') THEN 1 ELSE 0 END)"
        for w in GOPHER_STOP_WORDS
    )
    pm = (
        lambda num, den: f"CAST(CASE WHEN {den} > 0"
        f" THEN ({num} * 1000) // {den} ELSE 0 END AS BIGINT)"
    )
    injected = (
        f"""SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || chr(10) || '- bullet item one' || chr(10)
                   || '- second item trails...' || chr(10)
                   || 'unicode trail …' || chr(10) || 'tail ## line'
              ELSE text END AS text
  FROM {docs_rel}"""
        if inject
        else f"SELECT doc_id, text FROM {docs_rel}"
    )
    return rf"""
WITH injected AS (
  {injected}
),
toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t, text
  FROM injected
),
base AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 2 THEN list_transform(range(1, len(t)),
         i -> t[i] || ' ' || t[i+1]) ELSE [] END AS g2,
    CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [] END AS g3,
    list_filter(list_transform(string_split(text, chr(10)),
                l -> lower(trim(l))), l -> l <> '') AS gl
  FROM toks
),
longf AS (
  SELECT doc_id, '2' AS kind, unnest(g2) AS gram FROM base
  UNION ALL SELECT doc_id, '3' AS kind, unnest(g3) AS gram FROM base
  UNION ALL SELECT doc_id, 'L' AS kind, unnest(gl) AS gram FROM base
),
counts AS (
  SELECT doc_id, kind, gram, count(*) AS c FROM longf GROUP BY doc_id, kind, gram
),
per_doc AS (
  SELECT doc_id,
    max(CASE WHEN kind = '2' THEN c END) AS top2,
    sum(CASE WHEN kind = '2' THEN c END) AS n2,
    sum(CASE WHEN kind = '3' AND c > 1 THEN c END) AS dup3,
    sum(CASE WHEN kind = '3' THEN c END) AS n3,
    sum(CASE WHEN kind = 'L' AND c > 1 THEN c END) AS dupl,
    sum(CASE WHEN kind = 'L' THEN c END) AS nl
  FROM counts GROUP BY doc_id
),
direct AS (
  SELECT doc_id,
    CAST(len(tw) AS BIGINT) AS n_words,
    CAST(coalesce(list_aggregate(list_transform(tw, x -> length(x)),
                                 'sum'), 0) AS BIGINT) AS char_sum,
    CAST(len(regexp_extract_all(text, '#')) AS BIGINT) AS n_hash,
    CAST(len(regexp_extract_all(text, '\.\.\.|…')) AS BIGINT) AS n_ell,
    CAST(len(gl) AS BIGINT) AS n_lines,
    CAST(len(list_filter(gl, l -> starts_with(l, '- ')
             OR starts_with(l, '* ') OR starts_with(l, '• ')))
         AS BIGINT) AS n_bullet,
    CAST(len(list_filter(gl, l -> ends_with(l, '...')
             OR ends_with(l, '…'))) AS BIGINT) AS n_ellend,
    CAST(len(list_filter(tw, x -> regexp_matches(x, '[a-z]')))
         AS BIGINT) AS n_alpha,
    CAST({stop_sum} AS BIGINT) AS n_stop_hits
  FROM (
    SELECT doc_id, text, gl,
           list_filter(t, x -> x <> '') AS tw
    FROM toks JOIN base USING (doc_id)
  )
),
sig AS (
  SELECT d.doc_id,
    d.n_words,
    {pm("d.char_sum", "d.n_words")} AS mean_word_len_permille,
    {pm("(d.n_hash + d.n_ell)", "d.n_words")} AS symbol_ratio_permille,
    {pm("d.n_bullet", "d.n_lines")} AS bullet_line_permille,
    {pm("d.n_ellend", "d.n_lines")} AS ellipsis_line_permille,
    {pm("d.n_alpha", "d.n_words")} AS alpha_word_permille,
    d.n_stop_hits,
    {pm("coalesce(p.top2, 0)", "coalesce(p.n2, 0)")} AS top_bigram_permille,
    {pm("coalesce(p.dup3, 0)", "coalesce(p.n3, 0)")} AS dup_trigram_permille,
    {pm("coalesce(p.dupl, 0)", "coalesce(p.nl, 0)")} AS dup_line_permille
  FROM direct d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
),
flags AS (
  SELECT *,
    CAST(CASE WHEN n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
         THEN 1 ELSE 0 END AS BIGINT) AS r_words,
    CAST(CASE WHEN mean_word_len_permille BETWEEN {GOPHER_MIN_MWL_PERMILLE}
         AND {GOPHER_MAX_MWL_PERMILLE} THEN 1 ELSE 0 END AS BIGINT) AS r_mwl,
    CAST(CASE WHEN symbol_ratio_permille <= {GOPHER_MAX_SYMBOL_PERMILLE}
         THEN 1 ELSE 0 END AS BIGINT) AS r_symbol,
    CAST(CASE WHEN bullet_line_permille <= {GOPHER_MAX_BULLET_PERMILLE}
         THEN 1 ELSE 0 END AS BIGINT) AS r_bullet,
    CAST(CASE WHEN ellipsis_line_permille <= {GOPHER_MAX_ELLIPSIS_PERMILLE}
         THEN 1 ELSE 0 END AS BIGINT) AS r_ellipsis,
    CAST(CASE WHEN alpha_word_permille >= {GOPHER_MIN_ALPHA_PERMILLE}
         THEN 1 ELSE 0 END AS BIGINT) AS r_alpha,
    CAST(CASE WHEN n_stop_hits >= {GOPHER_MIN_STOP_HITS}
         THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
    CAST(CASE WHEN top_bigram_permille <= {GOPHER_MAX_TOP2_PERMILLE}
          AND dup_trigram_permille <= {GOPHER_MAX_DUP3_PERMILLE}
          AND dup_line_permille <= {GOPHER_MAX_DUPLINE_PERMILLE}
         THEN 1 ELSE 0 END AS BIGINT) AS r_rep
  FROM sig
)
SELECT *,
  CAST(CASE WHEN r_words = 1 AND r_mwl = 1 AND r_symbol = 1
        AND r_bullet = 1 AND r_ellipsis = 1 AND r_alpha = 1
        AND r_stop = 1 AND r_rep = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM flags
"""


# fineweb_filters pathology injections — the synthetic corpus is
# single-line prose with NO terminal punctuation, so without injection
# every doc fails r_punct/r_sent and every other rule is vacuous.
# Deterministic per-doc_id suffixes (the gopher_rules pattern) make
# each rule fire on some docs and pass on others, so the hash
# certifies every branch cross-engine. No single quotes or unicode in
# the strings (they embed into the SQL literal builder below).
_FW_INJ_SENT = (
    "\na proper sentence ends here. another follows! does a third?"
    "\ngood ending."
)
_FW_INJ_SHORT = "\nnav\nmenu\nhome\nlogin\ncart"
_FW_INJ_DUP = (
    "\nbanner line repeated for emphasis across the page."
    "\nbanner line repeated for emphasis across the page."
)
_FW_INJ_CODE = (
    "\nfunction f() { return 1; } // javascript helper"
    "\nlorem ipsum dolor sit amet."
)


def _sql_str(s: str) -> str:
    """SQL string-literal expression for a Python string that may hold
    newlines (chr(10)-concatenated so the oracle text stays one line).
    The input must contain no single quotes."""
    if "'" in s:
        raise ValueError("single quote in SQL literal")
    return "'" + s.replace("\n", "' || chr(10) || '") + "'"


def _fw_injection_sql(docs_rel: str = "documents") -> str:
    """The fineweb pathology injection as a SELECT over ``docs_rel`` —
    shared by the fineweb_filters oracle and the quality_stack oracle
    (the stack runs ALL its gates over this same injected corpus)."""
    sent, short = _sql_str(_FW_INJ_SENT), _sql_str(_FW_INJ_SHORT)
    dup, code = _sql_str(_FW_INJ_DUP), _sql_str(_FW_INJ_CODE)
    return f"""SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0 THEN {sent} ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN {short} ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN {dup} ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN {code} ELSE '' END AS text
  FROM {docs_rel}"""


def _fw_inject(docs: DataFrame) -> DataFrame:
    """Spark twin of _fw_injection_sql — byte-identical injected text."""
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_FW_INJ_SENT)).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 5 == 0, F.lit(_FW_INJ_SHORT)).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 7 == 0, F.lit(_FW_INJ_DUP)).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 11 == 0, F.lit(_FW_INJ_CODE)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def q_fineweb_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FineWeb line-quality gate (Penedo et al. 2024) + the C4
    document heuristics (Raffel et al. 2020) over the documents corpus:
    terminal-punctuation / short-line / duplicated-line-CHAR shares,
    sentence-count proxy, brace / lorem-ipsum / javascript flags, and
    the final keep. Design + thresholds in
    operators/text.py::fineweb_filters. Injection classes (doc_id %
    3/5/7/11) exercise every rule both ways."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import fineweb_filters

    return fineweb_filters(
        _fw_inject(load_table(spark, sf_dir, "documents"))
    )


def _fineweb_oracle(docs_rel: str = "documents", inject: bool = True) -> str:
    """DuckDB twin of operators.text.fineweb_filters: identical permille
    arithmetic, thresholds imported (not copied), the injection strings
    shared via module constants, and the lateral-alias trap dodged by
    qualifying every prior-round column. ``docs_rel``/``inject=False``
    let quality_stack reuse the rule chain over its own injected CTE."""
    from tepsonic_database_sync_spark.operators.text import (
        C4_MIN_SENTENCES,
        FW_MAX_DUPLINE_CHAR_PERMILLE,
        FW_MAX_SHORT_LINE_PERMILLE,
        FW_MIN_PUNCT_LINE_PERMILLE,
        FW_SHORT_LINE_CHARS,
    )

    pm = (
        lambda num, den: f"CAST(CASE WHEN {den} > 0"
        f" THEN ({num} * 1000) // {den} ELSE 0 END AS BIGINT)"
    )
    injected = (
        _fw_injection_sql(docs_rel)
        if inject
        else f"SELECT doc_id, text FROM {docs_rel}"
    )
    return f"""
WITH injected AS (
  {injected}
),
lined AS (
  SELECT doc_id, text,
         list_filter(list_transform(string_split(text, chr(10)),
                     l -> lower(trim(l))), l -> l <> '') AS gl
  FROM injected
),
perline AS (
  SELECT doc_id, line, count(*) AS c
  FROM (SELECT doc_id, unnest(gl) AS line FROM lined)
  GROUP BY doc_id, line
),
dupc AS (
  SELECT doc_id,
         CAST(sum(length(line) * c) AS BIGINT) AS line_chars,
         CAST(sum(CASE WHEN c > 1 THEN length(line) * c ELSE 0 END)
              AS BIGINT) AS dup_chars
  FROM perline GROUP BY doc_id
),
direct AS (
  SELECT doc_id,
    CAST(len(gl) AS BIGINT) AS n_lines,
    CAST(len(list_filter(gl, l -> ends_with(l, '.') OR ends_with(l, '!')
             OR ends_with(l, '?') OR ends_with(l, '"')))
         AS BIGINT) AS n_punct,
    CAST(len(list_filter(gl, l -> length(l) < {FW_SHORT_LINE_CHARS}))
         AS BIGINT) AS n_short,
    CAST(len(regexp_extract_all(text, '[.!?"]')) AS BIGINT) AS n_sentences,
    CASE WHEN contains(text, '{{') THEN 1 ELSE 0 END AS has_brace,
    CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0
         END AS has_lorem,
    CASE WHEN len(list_filter(gl, l -> contains(l, 'javascript'))) > 0
         THEN 1 ELSE 0 END AS has_js
  FROM lined
),
sig AS (
  SELECT d.doc_id, d.n_lines,
    {pm("d.n_punct", "d.n_lines")} AS punct_line_permille,
    {pm("d.n_short", "d.n_lines")} AS short_line_permille,
    {pm("coalesce(c.dup_chars, 0)", "coalesce(c.line_chars, 0)")}
      AS dup_line_char_permille,
    d.n_sentences, d.has_brace, d.has_lorem, d.has_js
  FROM direct d LEFT JOIN dupc c ON d.doc_id = c.doc_id
),
flags AS (
  SELECT doc_id, n_lines, punct_line_permille, short_line_permille,
    dup_line_char_permille, n_sentences,
    CAST(CASE WHEN punct_line_permille >= {FW_MIN_PUNCT_LINE_PERMILLE}
         THEN 1 ELSE 0 END AS BIGINT) AS r_punct,
    CAST(CASE WHEN short_line_permille <= {FW_MAX_SHORT_LINE_PERMILLE}
         THEN 1 ELSE 0 END AS BIGINT) AS r_short,
    CAST(CASE WHEN dup_line_char_permille <= {FW_MAX_DUPLINE_CHAR_PERMILLE}
         THEN 1 ELSE 0 END AS BIGINT) AS r_dupchar,
    CAST(CASE WHEN n_sentences >= {C4_MIN_SENTENCES}
         THEN 1 ELSE 0 END AS BIGINT) AS r_sent,
    CAST(1 - has_brace AS BIGINT) AS r_brace,
    CAST(1 - has_lorem AS BIGINT) AS r_lorem,
    CAST(1 - has_js AS BIGINT) AS r_js
  FROM sig
)
SELECT *,
  CAST(CASE WHEN r_punct = 1 AND r_short = 1 AND r_dupchar = 1
        AND r_sent = 1 AND r_brace = 1 AND r_lorem = 1 AND r_js = 1
       THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM flags
"""


# the stack's extra injection: a stop-word-rich, sentence-punctuated
# prose block on EVEN doc_ids. Without it the composed keep is
# all-zero BY CONSTRUCTION — the synthetic corpus's 31-word vocabulary
# contains at most one Gopher stop word, so gopher's r_stop (>= 2
# distinct of 8) never passes and the stack's keep=1 branch would be
# vacuous. With it, even docs outside the fineweb pathology classes
# pass every gate (measured non-zero at all three SFs).
_STACK_PROSE = (
    "\nthe table holds rows of data and the scan reads them in order."
    "\nwe have to merge the parts that belong together with care."
    "\nbe sure that the output of the sort is stable and correct."
)


def _stack_injection_sql(docs_rel: str = "documents") -> str:
    prose = _sql_str(_STACK_PROSE)
    return f"""SELECT doc_id,
         text || CASE WHEN doc_id % 2 = 0 THEN {prose} ELSE '' END AS text
  FROM ({_fw_injection_sql(docs_rel)})"""


def _stack_inject(docs: DataFrame) -> DataFrame:
    """Spark twin of _stack_injection_sql."""
    return _fw_inject(docs).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(_STACK_PROSE)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def q_quality_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published pre-training quality stack end-to-end (C4/FineWeb
    line rules + Gopher token rules + CCNet perplexity buckets) over
    the stack-injected corpus (fineweb pathologies + the stop-word
    prose enricher) — the SAME injected text feeds all three gates, so
    the hash certifies the composition on one corpus, with keep firing
    BOTH ways. Design + bucketing adaptation in
    operators/text.py::quality_stack."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import quality_stack

    return quality_stack(
        _stack_inject(load_table(spark, sf_dir, "documents"))
    )


def _quality_stack_oracle() -> str:
    """DuckDB twin of operators.text.quality_stack: the three verified
    sub-oracles embedded as subqueries over ONE shared injected-corpus
    CTE (their WITH-chains nest inside parenthesized subqueries), plus
    the integer micro-average mean and the mean-relative buckets."""
    from tepsonic_database_sync_spark.operators.text import (
        STACK_HEAD_PERMILLE,
        STACK_TAIL_PERMILLE,
    )

    fw = _fineweb_oracle(docs_rel="stack_docs", inject=False)
    gp = _gopher_oracle(docs_rel="stack_docs", inject=False)
    lm = _lm_score_oracle(docs_rel="stack_docs")
    return f"""
WITH stack_docs AS (
  {_stack_injection_sql("documents")}
),
fw AS (SELECT doc_id, keep AS fw_keep FROM ({fw})),
gp AS (SELECT doc_id, keep AS gopher_keep FROM ({gp})),
lm AS (SELECT doc_id, n_bigrams, avg_nll_milli, sum_nll_milli
       FROM ({lm})),
m AS (
  SELECT CAST(CASE WHEN sum(n_bigrams) > 0
              THEN sum(sum_nll_milli) // sum(n_bigrams)
              ELSE 0 END AS BIGINT) AS mean_nll_milli
  FROM lm
)
SELECT f.doc_id, f.fw_keep, g.gopher_keep, l.avg_nll_milli,
  CASE WHEN l.n_bigrams = 0 THEN 'tail'
       WHEN l.avg_nll_milli * 1000
            < m.mean_nll_milli * {STACK_HEAD_PERMILLE} THEN 'head'
       WHEN l.avg_nll_milli * 1000
            > m.mean_nll_milli * {STACK_TAIL_PERMILLE} THEN 'tail'
       ELSE 'middle' END AS ppl_bucket,
  CAST(CASE WHEN f.fw_keep = 1 AND g.gopher_keep = 1
        AND NOT (l.n_bigrams = 0
                 OR l.avg_nll_milli * 1000
                    > m.mean_nll_milli * {STACK_TAIL_PERMILLE})
       THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM fw f
JOIN gp g ON f.doc_id = g.doc_id
JOIN lm l ON f.doc_id = l.doc_id, m
"""


def q_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot URL dedup (most-frequent version wins; recency
    then fingerprint tie-breaks) over THREE synthesized crawl snapshots
    of the documents corpus: snap 1 revises every 4th URL, snap 2
    additionally revises every 8th — so the support-win path
    (stable-content majority), the recency tie-break (three versions at
    support 1 → latest wins), and single-version URLs all occur.
    Design in operators/dedup.py::snapshot_dedup."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import snapshot_dedup

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rev1 = F.when(
        F.col("doc_id") % 4 == 0, F.concat(F.col("text"), F.lit(" rev one"))
    ).otherwise(F.col("text"))
    rev2 = (
        F.when(
            F.col("doc_id") % 8 == 0,
            F.concat(F.col("text"), F.lit(" rev two")),
        )
        .when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(" rev one")),
        )
        .otherwise(F.col("text"))
    )
    caps = (
        d.select(
            F.col("doc_id").alias("url"),
            F.lit(0).cast("long").alias("snapshot_id"),
            "text",
        )
        .unionByName(
            d.select(
                F.col("doc_id").alias("url"),
                F.lit(1).cast("long").alias("snapshot_id"),
                rev1.alias("text"),
            )
        )
        .unionByName(
            d.select(
                F.col("doc_id").alias("url"),
                F.lit(2).cast("long").alias("snapshot_id"),
                rev2.alias("text"),
            )
        )
    )
    return snapshot_dedup(caps)


def _snapshot_dedup_oracle() -> str:
    """DuckDB twin of dedup.snapshot_dedup over the same synthesized
    snapshots: identical normalization + h60 fingerprint, the argmax as
    a row_number window ordered (support DESC, last_seen DESC, fp ASC)
    — the same total order the Spark max(struct) encodes."""
    from tepsonic_database_sync_spark.functions.hashing import h60_sql

    fp = h60_sql("trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")
    return f"""
WITH caps AS (
  SELECT doc_id AS url, 0 AS snap, text FROM documents
  UNION ALL
  SELECT doc_id, 1,
         CASE WHEN doc_id % 4 = 0 THEN text || ' rev one' ELSE text END
  FROM documents
  UNION ALL
  SELECT doc_id, 2,
         CASE WHEN doc_id % 8 = 0 THEN text || ' rev two'
              WHEN doc_id % 4 = 0 THEN text || ' rev one'
              ELSE text END
  FROM documents
),
v AS (SELECT url, snap, {fp} AS fp FROM caps),
versions AS (
  SELECT url, fp,
         CAST(count(*) AS BIGINT) AS support,
         CAST(min(snap) AS BIGINT) AS first_seen,
         CAST(max(snap) AS BIGINT) AS last_seen
  FROM v GROUP BY url, fp
),
r AS (
  SELECT *,
    row_number() OVER (PARTITION BY url
                       ORDER BY support DESC, last_seen DESC, fp ASC) AS rn,
    CAST(count(*) OVER (PARTITION BY url) AS BIGINT) AS n_versions,
    CAST(sum(support) OVER (PARTITION BY url) AS BIGINT) AS n_captures
  FROM versions
)
SELECT url, n_captures, n_versions,
       support AS win_support,
       first_seen AS win_first_seen,
       last_seen AS win_last_seen,
       fp AS win_fp
FROM r WHERE rn = 1
"""


def q_snapshot_dedup_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The INCREMENTAL form of cross-snapshot URL dedup — how the
    pipeline actually runs when crawls arrive monthly: snapshots 0+1
    build the persisted version store, snapshot 2 merges in through
    ``snapshot_store_merge`` (one co-keyed full-outer MERGE — nobody
    recomputes all dumps), then the shared keep-policy reduction. The
    ORACLE IS THE BATCH FORM's (the same SQL as `snapshot_dedup`):
    the hash match certifies the algebraic law incremental == batch on
    real data, beyond the property test's small generated graphs."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        snapshot_store_merge,
        snapshot_versions,
        snapshot_winners,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rev1 = F.when(
        F.col("doc_id") % 4 == 0, F.concat(F.col("text"), F.lit(" rev one"))
    ).otherwise(F.col("text"))
    rev2 = (
        F.when(
            F.col("doc_id") % 8 == 0,
            F.concat(F.col("text"), F.lit(" rev two")),
        )
        .when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(" rev one")),
        )
        .otherwise(F.col("text"))
    )

    def snap(n: int, txt) -> DataFrame:
        return d.select(
            F.col("doc_id").alias("url"),
            F.lit(n).cast("long").alias("snapshot_id"),
            txt.alias("text") if txt is not None else F.col("text"),
        )

    store = snapshot_versions(
        snap(0, None).unionByName(snap(1, rev1))
    ).localCheckpoint(eager=True)  # the "persisted" store a real
    # deployment reads back from parquet — materialized so the merge
    # genuinely consumes state, not a re-derivable lineage
    merged = snapshot_store_merge(store, snapshot_versions(snap(2, rev2)))
    return snapshot_winners(merged)


# tail splice for the edit-verifier's REJECT branch: a copy keeping the
# first 2/3 of each doc's tokens and replacing the rest with junk
# still collides in MinHash bands often (shingle sim ~ 2/3 → ~58% of
# copies land a band) but its edit distance far exceeds the 20% bound —
# without these, the corpus's real near-dups are ALL within tolerance
# and the verifier's reject path is vacuous (measured: candidates ==
# verified at every SF on the raw corpus). The junk tokens embed the
# doc_id (qz0x17 qz1x17 …): a CONSTANT tail would give every spliced
# doc ten shared shingles and fuse all of them into one quadratic
# band bucket (measured 119k candidate pairs at sf0.1 — the smoke
# would measure the synthetic pathology, not the operator).
_EDIT_JUNK_N = 6


def q_dedup_edit_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-verified near-dup pairs over the corpus's real
    within-corpus near-dup structure (the lsh_quality substrate) PLUS
    tail-spliced copies (doc_id + 20M) that band-collide yet fail the
    edit bound — so the hash certifies accept AND reject branches.
    MinHash-LSH banded candidates confirmed by Levenshtein ≤ 20% of
    the longer normalized text (bounded-prefix DP). Design + the
    honest O(n·m)-per-pair scale note in
    operators/dedup.py::edit_verified_pairs."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.dedup import (
        edit_verified_pairs,
    )

    # n_chars rides as NULL on both branches (the shingle helper selects
    # it; the minhash path never reads its value) — mirrored in the
    # oracle's corpus CTE
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.lit(None).cast("long").alias("n_chars")
    )
    spliced = d.select(
        (F.col("doc_id") + 20000000).alias("doc_id"),
        F.concat(
            F.concat_ws(
                " ",
                F.expr(
                    r"slice(split(text, '\\s+'), 1,"
                    r" greatest(1, (2 * size(split(text, '\\s+'))) div 3))"
                ),
            ),
            F.expr(
                "concat(' ', concat_ws(' ',"
                f" transform(sequence(0, {_EDIT_JUNK_N - 1}),"
                " i -> concat('qz', cast(i as string), 'x',"
                " cast(doc_id as string)))))"
            ),
        ).alias("text"),
        F.lit(None).cast("long").alias("n_chars"),
    )
    return edit_verified_pairs(d.unionByName(spliced))


def _dedup_edit_verified_oracle() -> str:
    """DuckDB twin of dedup.edit_verified_pairs: the proven
    minhash-band candidate CTEs (shared fragments) + the same
    normalized-prefix Levenshtein (both engines ship unit-cost
    Wagner-Fischer) with the identical full-length + prefix length-gap
    guards and integer permille."""
    from tepsonic_database_sync_spark.operators.dedup import (
        EDIT_MAX_CHARS,
        EDIT_TAU_PERMILLE,
    )

    toks_corpus = _D_TOKS.replace("FROM documents", "FROM corpus")
    return f"""
WITH corpus AS (
  SELECT doc_id, text, NULL AS n_chars FROM documents
  UNION ALL
  SELECT doc_id + 20000000,
         array_to_string(
           list_slice(regexp_split_to_array(text, '\\s+'), 1,
                      greatest(1,
                        (2 * len(regexp_split_to_array(text, '\\s+'))) // 3)),
           ' ')
         || ' ' || array_to_string(
              list_transform(range(0, {_EDIT_JUNK_N}),
                i -> 'qz' || CAST(i AS VARCHAR) || 'x'
                     || CAST(doc_id AS VARCHAR)),
              ' '),
         NULL
  FROM documents
),
{toks_corpus}{_D_SHINGLES}{_D_MINHASH_SIGS},
banded AS (
  SELECT doc_id, i // 4 AS band,
         md5(array_to_string(list_sort(list(CAST(sig AS VARCHAR))), ',')) AS band_key
  FROM sigs GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
nt AS (
  SELECT doc_id,
         substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                1, {EDIT_MAX_CHARS}) AS nt,
         CAST(length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
              AS BIGINT) AS fl
  FROM corpus
),
sized AS (
  SELECT c.a_id, c.b_id, na.nt AS na, nb.nt AS nb,
         na.fl AS fla, nb.fl AS flb,
         CAST(length(na.nt) AS BIGINT) AS la,
         CAST(length(nb.nt) AS BIGINT) AS lb,
         CAST(greatest(length(na.nt), length(nb.nt))
              * {EDIT_TAU_PERMILLE} // 1000 AS BIGINT) AS tau_abs,
         CAST(greatest(na.fl, nb.fl)
              * {EDIT_TAU_PERMILLE} // 1000 AS BIGINT) AS tau_full
  FROM cand c
  JOIN nt na ON na.doc_id = c.a_id
  JOIN nt nb ON nb.doc_id = c.b_id
),
verified AS (
  SELECT a_id, b_id, la, lb, tau_abs,
         CAST(levenshtein(na, nb) AS BIGINT) AS dist
  FROM sized
  WHERE abs(fla - flb) <= tau_full AND abs(la - lb) <= tau_abs
)
SELECT a_id, b_id, dist,
       CAST(CASE WHEN greatest(la, lb) > 0
            THEN dist * 1000 // greatest(la, lb) ELSE 0 END AS BIGINT)
         AS dist_permille
FROM verified
WHERE dist <= tau_abs
"""


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016) over the documents
    corpus: 8 deterministic merge rounds — pair counts weighted by word
    frequency, argmax with (count DESC, p1, p2) ties, greedy
    left-to-right merge as an engine-shared fold. Design + the
    vocabulary-state scale argument in operators/text.py::bpe_train."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import bpe_train

    return bpe_train(load_table(spark, sf_dir, "documents"))


def _bpe_chain_parts(toks_name: str = "toks") -> list[str]:
    """The shared BPE CTE chain (toks → vocab0 → pairs/best/vocab 1..N)
    used by BOTH the train and encode oracles — vocab{N} is the final
    per-word symbol table, best{k} the round-k merge rule.
    ``toks_name`` renames the word-array CTE for callers whose outer
    query reserves ``toks`` (the waterfill contract) — a parameter, not
    a post-hoc string replace, so a chain reformat can never silently
    skip the rename and emit a duplicate-CTE query (ADVICE r14)."""
    from tepsonic_database_sync_spark.operators.text import (
        BPE_EOW,
        BPE_MERGES,
    )

    parts = [
        rf"""{toks_name} AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
)""",
        f"""vocab0 AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS freq,
         list_append(regexp_extract_all(w, '(?s).'), '{BPE_EOW}') AS s
  FROM (SELECT unnest(t) AS w FROM {toks_name})
  WHERE w <> '' GROUP BY w
)""",
    ]
    for k in range(1, BPE_MERGES + 1):
        parts.append(
            f"""pairs{k} AS (
  SELECT s[i] AS p1, s[i + 1] AS p2,
         CAST(sum(freq) AS BIGINT) AS pair_count
  FROM vocab{k - 1}, unnest(range(1, len(s))) AS r(i)
  GROUP BY 1, 2
),
best{k} AS (
  SELECT p1, p2, pair_count FROM pairs{k}
  ORDER BY pair_count DESC, p1, p2 LIMIT 1
),
vocab{k} AS MATERIALIZED (
  SELECT v.w, v.freq,
         list_reduce(list_transform(v.s, x -> [x]),
           (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.p1
                             AND x[1] = b.p2
                THEN list_append(list_slice(acc, 1, len(acc) - 1),
                                 b.p1 || b.p2)
                ELSE list_append(acc, x[1]) END) AS s
  FROM vocab{k - 1} v, best{k} b
)"""
        )
    return parts


def _bpe_train_oracle() -> str:
    """DuckDB twin of text.bpe_train: the same rounds unrolled as a CTE
    chain (the kmeans shape); the greedy merge is ``list_reduce`` over
    singleton-wrapped symbols with the winner's (p1, p2) captured from
    the cross-joined best row — verified to fold identically to
    Spark's ``aggregate`` form."""
    from tepsonic_database_sync_spark.operators.text import BPE_MERGES

    body = ",\n".join(_bpe_chain_parts())
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS round, p1, p2, pair_count"
        f" FROM best{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return f"WITH {body}\n{union}\n"


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE application over the documents corpus: train the
    8-round merge table, then encode every document with it — the
    per-word ordered-rule fold on the distinct-word vocabulary joined
    back to positional occurrences (one corpus scan, no Python).
    Design + the fold-equals-round-by-round-vocabulary law in
    operators/text.py::bpe_encode."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import (
        bpe_encode,
        bpe_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode(docs, bpe_train(docs))


def _bpe_encode_chain() -> str:
    """The encode tail shared by the bpe_encode and mixture-BPE
    oracles: positional word occurrences joined to the chain's FINAL
    vocab (every corpus word is in it by construction), reassembled
    per doc with an ordered list aggregate."""
    from tepsonic_database_sync_spark.operators.text import (
        BPE_ENC_HEAD,
        BPE_MERGES,
    )

    return f"""docw AS (
  SELECT doc_id, i, t[i] AS w
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS t
        FROM documents),
       unnest(range(1, len(t) + 1)) AS r(i)
),
per AS MATERIALIZED (
  SELECT d.doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(len(e.s)) AS BIGINT) AS n_bpe_tokens,
         array_to_string(
           list_slice(flatten(list(e.s ORDER BY d.i)), 1, {BPE_ENC_HEAD}),
           ' ') AS enc_head
  FROM docw d JOIN vocab{BPE_MERGES} e ON e.w = d.w
  GROUP BY d.doc_id
)"""


def _bpe_encode_oracle() -> str:
    """DuckDB twin of text.bpe_encode: the train chain's final vocab IS
    the encoded word table (the fold law), so encoding is a positional
    join + ordered reassembly; wordless docs come back zeroed through
    the left join exactly as Spark's."""
    body = ",\n".join(_bpe_chain_parts())
    return f"""
WITH {body},
{_bpe_encode_chain()}
SELECT doc.doc_id,
       CAST(coalesce(n_words, 0) AS BIGINT) AS n_words,
       CAST(coalesce(n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
       coalesce(enc_head, '') AS enc_head
FROM (SELECT doc_id FROM documents) doc LEFT JOIN per USING (doc_id)
"""


def q_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing with TRUE tokenizer-token budgets: per-doc BPE
    counts from ``bpe_encode`` feed the extracted
    ``packing.pack_from_counts`` core — the coordinates a training run
    actually packs by (context windows are tokenizer tokens, not
    whitespace tokens). Zero-BPE-token docs take the documented
    (-1, -1, 0) sentinel."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.packing import (
        pack_from_counts,
    )
    from tepsonic_database_sync_spark.operators.text import (
        bpe_encode,
        bpe_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    enc = bpe_encode(docs, bpe_train(docs))
    toked = docs.select("doc_id", "source").join(
        enc.select("doc_id", F.col("n_bpe_tokens").alias("n_toks")),
        "doc_id",
    )
    return pack_from_counts(toked)


def _pack_sequences_bpe_oracle() -> str:
    """DuckDB twin: the BPE train+encode chain's per-doc counts under
    the same per-source cumulative window as pack_sequences, with the
    zero-token (-1, -1, 0) sentinel."""
    body = ",\n".join(_bpe_chain_parts())
    return f"""
WITH {body},
{_bpe_encode_chain()},
t AS (
  SELECT d.doc_id, d.source,
         CAST(coalesce(p.n_bpe_tokens, 0) AS BIGINT) AS n_toks
  FROM documents d LEFT JOIN per p USING (doc_id)
),
c AS (
  SELECT *, sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS run_end
  FROM t
)
SELECT doc_id, source, n_toks,
       CAST(run_end - n_toks AS BIGINT) AS start_tok,
       CAST(CASE WHEN n_toks = 0 THEN -1
            ELSE (run_end - n_toks) // 512 END AS BIGINT) AS chunk_first,
       CAST(CASE WHEN n_toks = 0 THEN -1
            ELSE (run_end - 1) // 512 END AS BIGINT) AS chunk_last,
       CAST(CASE WHEN n_toks = 0 THEN 0
            ELSE (run_end - 1) // 512 - (run_end - n_toks) // 512 + 1
            END AS BIGINT) AS n_chunks
FROM c
"""


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility of the corpus-trained BPE
    vocabulary (subword tokens per word, chars per subword — the
    multilingual tokenizer audit): five languages, the dominant one
    the least fragmented. Design in operators/text.py::bpe_fertility."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import (
        bpe_fertility,
        bpe_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bpe_fertility(docs, bpe_train(docs))


def _bpe_fertility_oracle() -> str:
    """DuckDB twin: the encode chain's per-doc counts + a per-doc
    filtered-word char sum, rolled up per language with integer
    permille ratios."""
    body = ",\n".join(_bpe_chain_parts())
    return f"""
WITH {body},
{_bpe_encode_chain()},
chars AS (
  SELECT doc_id, lang,
         CAST(coalesce(list_sum(list_transform(
                list_filter(regexp_split_to_array(lower(trim(text)),
                            '\\s+'), x -> x <> ''),
                x -> length(x))), 0) AS BIGINT) AS word_chars
  FROM documents
),
j AS (
  SELECT c.lang,
         CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
         CAST(coalesce(p.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens,
         c.word_chars
  FROM chars c LEFT JOIN per p USING (doc_id)
),
g AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_words) AS BIGINT) AS n_words,
         CAST(sum(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
         CAST(sum(word_chars) AS BIGINT) AS word_chars
  FROM j GROUP BY lang
)
SELECT lang, n_docs, n_words, n_bpe_tokens,
       CAST(CASE WHEN n_words > 0
            THEN n_bpe_tokens * 1000 // n_words ELSE 0 END AS BIGINT)
         AS fertility_permille,
       CAST(CASE WHEN n_bpe_tokens > 0
            THEN word_chars * 1000 // n_bpe_tokens ELSE 0 END AS BIGINT)
         AS chars_per_token_permille
FROM g
"""


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the symmetrized part↔supplier procurement graph
    (pagerank's exact substrate) with deterministic pendant PATHS
    (p→c1→c2→c3→c4) grafted onto every 20th part: the real graph's
    minimum degree is 8+ at every SF (nothing would ever peel — the
    rounds would be vacuous), while a pendant path unravels exactly
    ONE link per simultaneous peel, so the hash certifies four real
    peel rounds plus the untouched dense core. Eight peels (plan-depth
    constant, unrolled identically in the oracle) — converged.
    Design + the convergence contract in operators/graph.py::kcore."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.graph import kcore

    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
    s = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    base = pairs.select(p.alias("src"), s.alias("dst"))
    anchors = pairs.select("l_partkey").distinct().filter(
        F.col("l_partkey") % 20 == 0
    )
    pk = F.col("l_partkey").cast("string")
    c = lambda i: F.concat(F.lit(f"c{i}_"), pk)  # noqa: E731
    chain = anchors.select(
        F.explode(
            F.array(
                F.struct(
                    F.concat(F.lit("p"), pk).alias("src"), c(1).alias("dst")
                ),
                F.struct(c(1).alias("src"), c(2).alias("dst")),
                F.struct(c(2).alias("src"), c(3).alias("dst")),
                F.struct(c(3).alias("src"), c(4).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    fwd = base.unionAll(chain)
    edges = fwd.unionAll(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return kcore(edges)


def _kcore_oracle() -> str:
    """DuckDB twin of graph.kcore on the same substrate: the identical
    peel rounds unrolled (degree count → survivor filter → two semi
    joins), final per-node degree."""
    from tepsonic_database_sync_spark.operators.graph import (
        KCORE_K,
        KCORE_ROUNDS,
    )

    parts = [
        """pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
),
anchors AS (
  SELECT DISTINCT l_partkey FROM pairs WHERE l_partkey % 20 = 0
),
fwd AS (
  SELECT 'p' || CAST(l_partkey AS VARCHAR) AS src,
         's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM pairs
  UNION ALL
  SELECT 'p' || CAST(l_partkey AS VARCHAR),
         'c1_' || CAST(l_partkey AS VARCHAR) FROM anchors
  UNION ALL
  SELECT 'c1_' || CAST(l_partkey AS VARCHAR),
         'c2_' || CAST(l_partkey AS VARCHAR) FROM anchors
  UNION ALL
  SELECT 'c2_' || CAST(l_partkey AS VARCHAR),
         'c3_' || CAST(l_partkey AS VARCHAR) FROM anchors
  UNION ALL
  SELECT 'c3_' || CAST(l_partkey AS VARCHAR),
         'c4_' || CAST(l_partkey AS VARCHAR) FROM anchors
),
e0 AS (
  SELECT src, dst FROM fwd
  UNION ALL
  SELECT dst, src FROM fwd
)"""
    ]
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        # AS MATERIALIZED: each round references its predecessor three
        # times (degree count + both semi probes) — DuckDB inlines CTEs
        # by default, so the uncut 8-round chain inlines e0 ~3^8 times
        # and never finishes planning (measured hang); materialization
        # makes the chain linear, exactly like the Spark side's
        # per-round localCheckpoint
        parts.append(
            f"""keep{r} AS MATERIALIZED (
  SELECT src AS node FROM {prev} GROUP BY src
  HAVING count(*) >= {KCORE_K}
),
e{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM {prev} e
  WHERE e.src IN (SELECT node FROM keep{r})
    AND e.dst IN (SELECT node FROM keep{r})
)"""
        )
        prev = f"e{r}"
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
FROM {prev} GROUP BY src
"""


# the registry query's budget: 90% of corpus tokens (vs the operator's
# 50% default) so the two injected tiny domains' sqrt-temperature
# shares exceed their 2-epoch caps at EVERY test SF — at 50% they land
# just under (measured: alloc 128 vs cap 120 at sf0.01) and the cap
# branch would be vacuous. Shared by query and oracle.
_MIX_Q_BUDGET_PERMILLE = 900


def q_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-resampled domain mixture under repetition caps
    (α-sampling, Arivazhagan et al. 2019, + max-epochs caps, Muennighoff
    et al. 2023), solved by iterative water-filling — design in
    operators/sampling.py::mixture_rebalance. Two TINY injected domains
    (doc_id < 2 / < 5 carved out of their sources) certify the CAP
    branch non-vacuously at the 90% query budget: their sqrt-temperature
    shares exceed 2 epochs of their own data, so they cap and the freed
    budget redistributes — the fixed point differs from round 1, which
    the hash certifies."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.sampling import (
        mixture_rebalance,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") < 2, F.lit("tiny_a"))
        .when(F.col("doc_id") < 5, F.lit("tiny_b"))
        .otherwise(F.col("source"))
        .alias("source"),
        "text",
    )
    return mixture_rebalance(docs, budget_permille=_MIX_Q_BUDGET_PERMILLE)


def _mixture_rebalance_oracle(toks_cte: str | None = None) -> str:
    """DuckDB twin of sampling.mixture_rebalance: same token counts,
    the double-corrected exact integer sqrt, and the SAME number of
    water-filling rounds unrolled as a CTE chain (the kmeans/LPA
    iterative-oracle shape). Every prior-round column is qualified
    (p.capped) — DuckDB resolves same-SELECT lateral aliases, which
    would otherwise silently feed the NEW capped flag into prov.
    ``toks_cte`` swaps the per-doc count CTE chain (must end in a CTE
    named ``toks`` with (domain, n)) — the BPE-token variant passes
    the train+encode chain; default is whitespace counts."""
    from tepsonic_database_sync_spark.operators.sampling import (
        MIX_CAP_EPOCHS_PERMILLE,
        MIX_ROUNDS,
    )

    parts = [
        toks_cte
        if toks_cte is not None
        else r"""toks AS (
  SELECT CASE WHEN doc_id < 2 THEN 'tiny_a'
              WHEN doc_id < 5 THEN 'tiny_b'
              ELSE source END AS domain,
         CAST(len(list_filter(regexp_split_to_array(lower(trim(text)),
              '\s+'), x -> x <> '')) AS BIGINT) AS n
  FROM documents
)""",
        f"""dom AS (
  SELECT domain, CAST(sum(n) AS BIGINT) AS n_tokens FROM toks GROUP BY domain
),
base0 AS (
  SELECT domain, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS s0
  FROM dom
),
base1 AS (
  SELECT domain, n_tokens,
         CASE WHEN s0 * s0 > n_tokens THEN s0 - 1 ELSE s0 END AS s1
  FROM base0
),
base AS (
  SELECT domain, n_tokens,
         CAST(CASE WHEN (s1 + 1) * (s1 + 1) <= n_tokens
              THEN s1 + 1 ELSE s1 END AS BIGINT) AS weight,
         CAST(n_tokens * {MIX_CAP_EPOCHS_PERMILLE} // 1000 AS BIGINT)
           AS cap_tokens
  FROM base1
),
tot AS (
  SELECT CAST(sum(n_tokens) * {_MIX_Q_BUDGET_PERMILLE} // 1000 AS BIGINT)
    AS t_budget
  FROM base
),
s0r AS (
  SELECT domain, n_tokens, weight, cap_tokens,
         CAST(0 AS BIGINT) AS capped, CAST(0 AS BIGINT) AS prov
  FROM base
)""",
    ]
    prev = "s0r"
    for k in range(1, MIX_ROUNDS + 1):
        share = (
            "(greatest(t_budget - cap_sum, 0) * p.weight) // w_sum"
        )
        parts.append(
            f"""a{k} AS (
  SELECT CAST(coalesce(sum(CASE WHEN capped = 1 THEN cap_tokens END), 0)
              AS BIGINT) AS cap_sum,
         CAST(coalesce(sum(CASE WHEN capped = 0 THEN weight END), 0)
              AS BIGINT) AS w_sum
  FROM {prev}
),
s{k} AS (
  SELECT p.domain, p.n_tokens, p.weight, p.cap_tokens,
    CAST(CASE WHEN p.capped = 1 OR (w_sum > 0 AND {share} > p.cap_tokens)
         THEN 1 ELSE 0 END AS BIGINT) AS capped,
    CAST(CASE WHEN p.capped = 1 THEN p.cap_tokens
              WHEN w_sum > 0 THEN {share}
              ELSE 0 END AS BIGINT) AS prov
  FROM {prev} p, a{k}, tot
)"""
        )
        prev = f"s{k}"
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT domain, n_tokens, weight, cap_tokens,
  CAST(CASE WHEN capped = 1 THEN cap_tokens ELSE prov END AS BIGINT)
    AS alloc_tokens,
  CAST(CASE WHEN n_tokens > 0
       THEN (CASE WHEN capped = 1 THEN cap_tokens ELSE prov END) * 1000
            // n_tokens
       ELSE 0 END AS BIGINT) AS epochs_permille,
  capped
FROM {prev}
"""


def q_mixture_rebalance_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling domain rebalance with TRUE tokenizer-token budgets
    (VERDICT r13 next-round 4): per-doc BPE token counts from
    ``bpe_encode`` (trained on the same corpus) summed per domain feed
    ``mixture_waterfill`` — the published data-mixture unit instead of
    whitespace tokens. Same tiny-domain injection as
    ``mixture_rebalance`` so the CAP branch fires non-vacuously at the
    90% budget; the whole composition (train → encode → count →
    water-fill) is one hash."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.sampling import (
        mixture_waterfill,
    )
    from tepsonic_database_sync_spark.operators.text import (
        bpe_encode,
        bpe_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    enc = bpe_encode(docs, bpe_train(docs))
    counts = (
        docs.select(
            "doc_id",
            F.when(F.col("doc_id") < 2, F.lit("tiny_a"))
            .when(F.col("doc_id") < 5, F.lit("tiny_b"))
            .otherwise(F.col("source"))
            .alias("domain"),
        )
        .join(enc.select("doc_id", "n_bpe_tokens"), "doc_id")
        .groupBy("domain")
        .agg(F.sum("n_bpe_tokens").cast("long").alias("n_tokens"))
    )
    return mixture_waterfill(
        counts, budget_permille=_MIX_Q_BUDGET_PERMILLE
    )


def _mixture_rebalance_bpe_oracle() -> str:
    """The mixture oracle with its count CTE swapped for the BPE
    train+encode chain: per-doc n_bpe_tokens (wordless docs zeroed via
    the left join, as in Spark) under the same tiny-domain injection.
    The chain's word-array CTE is renamed wtoks here — the waterfill
    contract reserves the name ``toks`` for the (domain, n) frame
    (rename via the ``toks_name`` parameter, ADVICE r14)."""
    chain = ",\n".join(_bpe_chain_parts(toks_name="wtoks"))
    toks = f"""{chain},
{_bpe_encode_chain()},
toks AS MATERIALIZED (
  SELECT CASE WHEN d.doc_id < 2 THEN 'tiny_a'
              WHEN d.doc_id < 5 THEN 'tiny_b'
              ELSE d.source END AS domain,
         CAST(coalesce(p.n_bpe_tokens, 0) AS BIGINT) AS n
  FROM documents d LEFT JOIN per p USING (doc_id)
)"""
    return _mixture_rebalance_oracle(toks_cte=toks)


def q_mg_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy-hitters summary over document terms (capacity
    32) — the DETERMINISTIC member of the sketch family next to the
    randomized CMS (`sketch_topk`): under-estimates only, no collisions,
    content reproducible, hence a full hash oracle instead of a
    within_bound flag. Streaming twin: streaming/ops.mg_topk_stream
    (exactly-once sum-merge; crash/replay property-tested)."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.sketches import mg_summary
    from tepsonic_database_sync_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.explode(tokens(F.col("text"))).alias("term")).filter(
        F.col("term") != ""
    )
    return mg_summary(t, "term", capacity=32)


def _mg_summary_oracle(capacity: int = 32) -> str:
    """DuckDB twin of sketches.mg_summary over document terms: exact
    counts, offset = min of the top capacity+1 counts (0 when the key
    set fits), strictly-positive survivors."""
    return f"""
WITH occ AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
),
counts AS (
  SELECT term, CAST(count(*) AS BIGINT) AS cnt
  FROM occ WHERE term <> '' GROUP BY term
),
off AS (
  SELECT CAST(CASE WHEN count(*) > {capacity} THEN min(cnt) ELSE 0 END
              AS BIGINT) AS off
  FROM (SELECT cnt FROM counts ORDER BY cnt DESC LIMIT {capacity + 1})
)
SELECT term, CAST(cnt - off AS BIGINT) AS est_cnt
FROM counts, off
WHERE cnt - off > 0
"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance selection (Xie et al. 2023): hashed-n-gram bucket
    LMs over target (lang='en') vs pool docs, Laplace-smoothed log-ratio
    importance weight per pool doc in exact integer milli-nats, top-100.
    The deterministic top-k variant of the paper's resampler — full
    formula and 100 TB shape in operators/text.py::dsir_select. Oracle
    recomputes the identical integer pipeline (same h60 buckets, same
    iln_milli log) in DuckDB."""
    from tepsonic_database_sync_spark.io import load_table
    from tepsonic_database_sync_spark.operators.text import dsir_select

    return dsir_select(load_table(spark, sf_dir, "documents"))


def _dsir_oracle(n_buckets: int = 512, k: int = 100) -> str:
    """DuckDB twin of operators.text.dsir_select: same tokenization as
    the lm_score oracle, same h60 bucket hash, same iln_milli log."""
    from tepsonic_database_sync_spark.functions.hashing import h60_sql

    b_expr = f"({h60_sql('g')}) % {n_buckets}"
    lam_t = _d_iln("(t_b + 1) * 1000")
    lam_r = _d_iln("(r_b + 1) * 1000")
    c_r = _d_iln(f"(sr + {n_buckets}) * 1000")
    c_t = _d_iln(f"(st + {n_buckets}) * 1000")
    return f"""
WITH toked AS (
  SELECT doc_id, (lang = 'en') AS is_t,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS t
  FROM documents
),
uni AS (SELECT doc_id, is_t, unnest(t) AS g FROM toked),
big AS (
  SELECT doc_id, is_t, t[i] || ' ' || t[i + 1] AS g
  FROM toked, unnest(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
),
grams AS (
  SELECT doc_id, is_t, {b_expr} AS b
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
),
counts AS (
  SELECT b,
         CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS t_b,
         CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS r_b
  FROM grams GROUP BY b
),
lam AS (SELECT b, ({lam_t}) - ({lam_r}) AS lam_milli FROM counts),
tots AS (
  SELECT CAST(sum(t_b) AS BIGINT) AS st, CAST(sum(r_b) AS BIGINT) AS sr
  FROM counts
),
tot AS (SELECT ({c_r}) - ({c_t}) AS c_milli FROM tots),
scored AS (
  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(l.lam_milli) AS BIGINT) AS s_milli
  FROM grams g JOIN lam l ON g.b = l.b
  WHERE NOT g.is_t
  GROUP BY g.doc_id
)
SELECT s.doc_id, d.lang, d.source, s.n_grams,
       CAST(s.s_milli + s.n_grams * t.c_milli AS BIGINT) AS weight_milli
FROM scored s CROSS JOIN tot t JOIN documents d ON s.doc_id = d.doc_id
ORDER BY weight_milli DESC, s.doc_id ASC
LIMIT {k}
"""


_INTERVAL_CONCURRENCY_ORACLE = """
WITH iv AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT)
           + (CAST(round(value * 100, 0) AS BIGINT) % 1800) + 60 AS e
  FROM events
),
d AS (
  SELECT key, s AS t, 1 AS d FROM iv
  UNION ALL
  SELECT key, e AS t, -1 AS d FROM iv
),
n AS (SELECT key, t, CAST(sum(d) AS BIGINT) AS net FROM d GROUP BY 1, 2)
SELECT key, t AS t_es, net,
       CAST(sum(net) OVER (PARTITION BY key ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS BIGINT)
         AS concurrency
FROM n
"""


def _ewma_oracle() -> str:
    """DuckDB twin of operators.timeseries.ewma_dyadic over the hourly
    type counts: identical contribution explode and dyadic weights."""
    from tepsonic_database_sync_spark.operators.events import (
        ANOMALY_BUCKET_S,
    )
    from tepsonic_database_sync_spark.operators.timeseries import EWMA_SPAN

    return f"""
WITH bkt AS (
  SELECT event_type AS key,
         CAST((CAST(floor(epoch(ts)) AS BIGINT) // {ANOMALY_BUCKET_S})
              * {ANOMALY_BUCKET_S} AS BIGINT) AS b,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
con AS (
  SELECT key, b + k * {ANOMALY_BUCKET_S} AS tb,
         (CAST(1 AS BIGINT) << ({EWMA_SPAN - 1} - k)) AS w,
         x * (CAST(1 AS BIGINT) << ({EWMA_SPAN - 1} - k)) AS wx
  FROM bkt, unnest(range(0, {EWMA_SPAN})) AS t(k)
),
s AS (
  SELECT key, tb, CAST(sum(w) AS BIGINT) AS sw,
         CAST(sum(wx) AS BIGINT) AS swx
  FROM con GROUP BY 1, 2
)
SELECT r.key, r.b AS bucket_es, r.x AS value,
       CAST((1000 * s.swx) // s.sw AS BIGINT) AS ewma_milli
FROM bkt r JOIN s ON r.key = s.key AND r.b = s.tb
"""


def _triangle_oracle() -> str:
    """DuckDB twin of operators.graph.triangle_stats over the
    support-thresholded co-purchase graph: identical (degree, node)
    orientation, wedge + closure joins, and permille clustering."""
    return f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
edges AS (
  SELECT x.p AS a, y.p AS b
  FROM items x JOIN items y ON x.o = y.o AND x.p < y.p
  GROUP BY 1, 2 HAVING count(*) >= {TRIANGLE_MIN_SUPPORT}
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
  GROUP BY 1
),
ori AS (
  SELECT CASE WHEN da.degree < db.degree
               OR (da.degree = db.degree AND e.a < e.b)
              THEN e.a ELSE e.b END AS u,
         CASE WHEN da.degree < db.degree
               OR (da.degree = db.degree AND e.a < e.b)
              THEN e.b ELSE e.a END AS v
  FROM edges e
  JOIN deg da ON e.a = da.node
  JOIN deg db ON e.b = db.node
),
tris AS (
  SELECT w1.u AS x, w1.v AS y, w2.v AS z
  FROM ori w1
  JOIN ori w2 ON w1.v = w2.u
  JOIN ori c ON c.u = w1.u AND c.v = w2.v
),
pn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (SELECT x AS node FROM tris
        UNION ALL SELECT y FROM tris
        UNION ALL SELECT z FROM tris)
  GROUP BY 1
)
SELECT d.node, d.degree,
       CAST(coalesce(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN d.degree >= 2
                 THEN (2000 * coalesce(pn.n_triangles, 0))
                      // (d.degree * (d.degree - 1))
                 ELSE 0 END AS BIGINT) AS clustering_permille
FROM deg d LEFT JOIN pn ON d.node = pn.node
"""


_OUTLIERS_MAD_ORACLE = """
WITH rows_ AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
),
vh AS (SELECT g, v, CAST(count(*) AS BIGINT) AS cnt FROM rows_ GROUP BY 1, 2),
vc AS (SELECT g, v, cnt, sum(cnt) OVER (PARTITION BY g ORDER BY v) AS cum
       FROM vh),
vt AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM vh GROUP BY 1),
med AS (
  SELECT c.g, CAST(min(c.v) AS BIGINT) AS med
  FROM vc c JOIN vt t USING (g)
  WHERE 1000 * c.cum >= 500 * t.n GROUP BY 1
),
dev AS (
  SELECT r.g, m.med, abs(r.v - m.med) AS d
  FROM rows_ r JOIN med m ON r.g = m.g
),
dh AS (SELECT g, d, CAST(count(*) AS BIGINT) AS cnt FROM dev GROUP BY 1, 2),
dc AS (SELECT g, d, cnt, sum(cnt) OVER (PARTITION BY g ORDER BY d) AS cum
       FROM dh),
dt AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM dh GROUP BY 1),
mad AS (
  SELECT c.g, CAST(min(c.d) AS BIGINT) AS mad
  FROM dc c JOIN dt t USING (g)
  WHERE 1000 * c.cum >= 500 * t.n GROUP BY 1
)
SELECT d.g AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(d.med) AS BIGINT) AS median,
       CAST(min(m.mad) AS BIGINT) AS mad,
       CAST(sum(CASE WHEN d.d * 1000 > 3000 * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.g = m.g
GROUP BY 1
"""


_LEADERBOARD_ORACLE = f"""
SELECT user_id AS key,
       CAST(max(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS best_cents
FROM events WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY best_cents DESC, key LIMIT {LEADERBOARD_K}
"""


_KANON_ORACLE = f"""
SELECT c_nationkey, c_mktsegment,
       CAST((CAST(round(c_acctbal * 100, 0) AS BIGINT) + 1000000) // 100000
            AS BIGINT) AS bal_band,
       CAST(count(*) AS BIGINT) AS class_size,
       count(*) < {KANON_K} AS at_risk
FROM customer GROUP BY 1, 2, 3
"""


_TVD_DRIFT_ORACLE = f"""
WITH old AS (
  SELECT o_orderstatus FROM orders
  WHERE o_orderkey % {CDC_P["old_excl"]} != 0
),
new AS (
  SELECT o_orderstatus FROM orders
  WHERE o_orderkey % {CDC_P["new_excl"]} != 0
),
r AS (SELECT o_orderstatus AS category, CAST(count(*) AS BIGINT) AS n_ref
      FROM old GROUP BY 1),
c AS (SELECT o_orderstatus AS category, CAST(count(*) AS BIGINT) AS n_cur
      FROM new GROUP BY 1),
j AS (
  SELECT coalesce(r.category, c.category) AS category,
         coalesce(r.n_ref, 0) AS n_ref, coalesce(c.n_cur, 0) AS n_cur
  FROM r FULL OUTER JOIN c ON r.category IS NOT DISTINCT FROM c.category
),
t AS (
  SELECT *, sum(n_ref) OVER () AS tr, sum(n_cur) OVER () AS tc FROM j
)
SELECT category, n_ref, n_cur,
       CAST((1000 * n_ref) // greatest(tr, 1) AS BIGINT) AS ref_permille,
       CAST((1000 * n_cur) // greatest(tc, 1) AS BIGINT) AS cur_permille,
       CAST(abs((1000 * n_ref) // greatest(tr, 1)
                - (1000 * n_cur) // greatest(tc, 1)) AS BIGINT)
         AS abs_diff_permille
FROM t
"""


def _attribution_models_oracle() -> str:
    """DuckDB twin of operators.events.attribution_models over the
    purchase→view window join with props.k-mod-5 channels."""
    from tepsonic_database_sync_spark.streaming.ops import (
        ATTRIBUTION_WINDOW_S,
    )

    return f"""
WITH pairs AS (
  SELECT p.event_id AS purchase_id, v.event_id AS view_id,
         CAST(floor(epoch(p.ts)) AS BIGINT)
           - CAST(floor(epoch(v.ts)) AS BIGINT) AS lag_sec,
         CAST(round(p.value * 100, 0) AS BIGINT) AS purchase_cents,
         CAST(json_extract_string(v.props, '$.k') AS BIGINT) % 5 AS channel
  FROM events p JOIN events v
    ON p.user_id = v.user_id
   AND v.ts <= p.ts
   AND v.ts >= p.ts - INTERVAL {ATTRIBUTION_WINDOW_S} SECOND
  WHERE p.event_type = 'purchase' AND v.event_type = 'view'
),
fl AS (
  SELECT *,
         row_number() OVER (PARTITION BY purchase_id
                            ORDER BY lag_sec DESC, view_id) AS rn,
         count(*) OVER (PARTITION BY purchase_id) AS n
  FROM pairs
)
SELECT channel,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
       CAST(coalesce(sum(CASE WHEN rn = 1 THEN purchase_cents END), 0)
            AS BIGINT) AS first_cents,
       CAST(sum(CASE WHEN rn = n THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
       CAST(coalesce(sum(CASE WHEN rn = n THEN purchase_cents END), 0)
            AS BIGINT) AS last_cents,
       CAST(sum(purchase_cents // n
                + CASE WHEN rn = 1 THEN purchase_cents % n ELSE 0 END)
            AS BIGINT) AS linear_cents
FROM fl GROUP BY 1
"""


def _hll_registers_oracle() -> str:
    """DuckDB twin of sketches.hll_register_table on events.user_id:
    same h31 reduction, bucket split, and 21-bit-field rho."""
    from tepsonic_database_sync_spark.operators.sketches import (
        HLL_FIELD_BITS,
        HLL_M,
    )

    h60 = _D_H60.format(e="'hll:' || CAST(user_id AS VARCHAR)")
    return f"""
WITH h AS (SELECT ({h60}) % {_P31} AS h FROM events),
b AS (SELECT h % {HLL_M} AS bucket, h // {HLL_M} AS w FROM h),
r AS (
  SELECT bucket,
         CASE WHEN w = 0 THEN {HLL_FIELD_BITS + 1}
              ELSE {HLL_FIELD_BITS} - CAST(floor(log2(w)) AS BIGINT)
         END AS rho
  FROM b
)
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(max(rho) AS BIGINT) AS max_rho
FROM r GROUP BY 1
"""


_OHLC_ORACLE = """
WITH e AS (
  SELECT event_type AS key,
         CAST((epoch_us(ts) // CAST(3600000000 AS BIGINT)) * 3600 AS BIGINT)
           AS bucket_es,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 12, '0')
           || lpad(CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR),
                   12, '0') AS enc,
         CAST(round(value * 100, 0) AS BIGINT) AS v
  FROM events
)
SELECT key, bucket_es,
       CAST(count(*) AS BIGINT) AS n,
       CAST(substr(min(enc), 33, 12) AS BIGINT) AS open_cents,
       CAST(max(v) AS BIGINT) AS high_cents,
       CAST(min(v) AS BIGINT) AS low_cents,
       CAST(substr(max(enc), 33, 12) AS BIGINT) AS close_cents,
       CAST(sum(v) AS BIGINT) AS volume_cents
FROM e GROUP BY 1, 2
"""


_GROUP_MOMENTS_ORACLE = """
WITH v AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) // 100 AS x,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS y
  FROM orders
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(x) AS BIGINT) AS sum_x,
       CAST(sum(x * x) AS BIGINT) AS sum_xx,
       CAST(min(x) AS BIGINT) AS min_x,
       CAST(max(x) AS BIGINT) AS max_x,
       CAST(sum(y) AS BIGINT) AS sum_y,
       CAST(sum(y * y) AS BIGINT) AS sum_yy,
       CAST(sum(x * y) AS BIGINT) AS sum_xy
FROM v GROUP BY 1
"""


_COMPACTION_ORACLE = f"""
WITH f AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM documents
),
c AS (
  SELECT source, doc_id, n_chars,
         sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum
  FROM f
),
b AS (
  SELECT *, (cum - n_chars) AS bef,
         ((cum - n_chars) // {COMPACT_TARGET}) AS bin
  FROM c
),
g AS (
  SELECT *, min(bef) OVER (PARTITION BY source, bin) AS bin_start,
            count(*) OVER (PARTITION BY source, bin) AS bin_n
  FROM b
)
SELECT source, doc_id, n_chars, CAST(bin AS BIGINT) AS bin,
       CAST(cum - bin_start AS BIGINT) AS bin_bytes,
       NOT (bin_n = 1 AND n_chars >= {COMPACT_TARGET}) AS needs_compaction
FROM g
"""


def _psi_drift_oracle() -> str:
    """DuckDB twin of operators.drift.psi_drift over the CDC snapshots:
    same decile boundaries, clamped permille, and integer-log ratio."""
    from tepsonic_database_sync_spark.operators.drift import PSI_QS

    qs_values = ", ".join(f"({q})" for q in PSI_QS)
    return f"""
WITH base AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
old AS (SELECT * FROM base WHERE o_orderkey % {CDC_P["old_excl"]} != 0),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {CDC_P["upd_mod"]} = 0
              THEN cents + {CDC_P["upd_delta_cents"]} ELSE cents END AS cents
  FROM base WHERE o_orderkey % {CDC_P["new_excl"]} != 0
),
hist AS (
  SELECT cents AS v, CAST(count(*) AS BIGINT) AS cnt
  FROM old WHERE cents IS NOT NULL GROUP BY 1
),
cum AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum FROM hist),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
qs AS (SELECT CAST(q AS BIGINT) AS q FROM (VALUES {qs_values}) t(q)),
bounds AS (
  SELECT q.q, CAST(min(c.v) AS BIGINT) AS value
  FROM cum c, tot t, qs q
  WHERE 1000 * c.cum >= q.q * t.n GROUP BY 1
),
bs AS (SELECT list(DISTINCT value ORDER BY value) AS bs FROM bounds),
br AS (
  SELECT CAST(len(list_filter(bs.bs, b -> b < o.cents)) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_ref
  FROM old o, bs WHERE o.cents IS NOT NULL GROUP BY 1
),
bc AS (
  SELECT CAST(len(list_filter(bs.bs, b -> b < o.cents)) AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n_cur
  FROM new o, bs WHERE o.cents IS NOT NULL GROUP BY 1
),
j AS (
  SELECT coalesce(br.bucket, bc.bucket) AS bucket,
         coalesce(br.n_ref, 0) AS n_ref, coalesce(bc.n_cur, 0) AS n_cur
  FROM br FULL OUTER JOIN bc ON br.bucket = bc.bucket
),
tr AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t FROM j),
tc AS (SELECT CAST(sum(n_cur) AS BIGINT) AS t FROM j),
p AS (
  SELECT bucket, n_ref, n_cur,
         greatest((1000 * n_ref) // greatest(tr.t, 1), 1) AS pm,
         greatest((1000 * n_cur) // greatest(tc.t, 1), 1) AS qm
  FROM j, tr, tc
)
SELECT bucket, n_ref, n_cur,
       CAST(pm AS BIGINT) AS ref_permille,
       CAST(qm AS BIGINT) AS cur_permille,
       CAST(((pm - qm) * (({_d_iln("(pm * 1000)")})
                          - ({_d_iln("(qm * 1000)")}))) // 1000 AS BIGINT)
         AS psi_contrib_milli
FROM p
"""


def _prefix_filter_oracle() -> str:
    """Ground-truth all-pairs Jaccard at the shared τ — deliberately NOT
    a replay of the prefix-filter mechanics, so the hash certifies the
    blocking's completeness."""
    return f"""
WITH {_D_TOKS}{_D_SHINGLES}
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
         AS inter_size,
       CAST(len(a.shingles) + len(b.shingles)
            - len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
         AS union_size
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
  AND len(list_intersect(a.shingles, b.shingles)) * 1000
      >= (len(a.shingles) + len(b.shingles)
          - len(list_intersect(a.shingles, b.shingles))) * {PREFIX_TAU_PERMILLE}
"""


_MATCH_FUZZY_ORACLE = """
WITH probes AS (
  SELECT c_custkey AS probe_id,
         substr(c_name, 1, CAST(c_custkey % length(c_name) AS INT))
           || substr(c_name, CAST(c_custkey % length(c_name) AS INT) + 2)
           AS probe
  FROM customer
)
SELECT p.probe_id, p.probe, c.c_custkey AS cat_id, c.c_name AS matched,
       CAST(levenshtein(p.probe, c.c_name) AS BIGINT) AS dist
FROM probes p JOIN customer c ON levenshtein(p.probe, c.c_name) <= 1
"""


def _weighted_sample_oracle() -> str:
    """DuckDB twin of operators.sampling.weighted_sample on documents:
    identical hash-uniform, integer -ln, and truncating weight division."""
    u = _D_H60.format(e="'wsample:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH w AS (
  SELECT doc_id, text, lang, source, n_chars,
         (({u}) % 1000000) + 1 AS u
  FROM documents WHERE n_chars >= 1
),
a AS (
  SELECT doc_id, text, lang, source, n_chars,
         ((6908 - ({_d_iln("u")})) * 1000000) // n_chars AS arr
  FROM w
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY arr, doc_id) AS rn
  FROM a
)
SELECT doc_id, text, lang, source, n_chars FROM r WHERE rn <= {WSAMPLE_K}
"""


def _cdc_incr_agg_oracle() -> str:
    """The maintenance law as SQL: a FULL recompute of the rollup from
    the NEW snapshot (same CDC_P derivation as _cdc_snapshots)."""
    return f"""
WITH base AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderstatus
  FROM orders
),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {CDC_P["upd_mod"]} = 0
              THEN cents + {CDC_P["upd_delta_cents"]} ELSE cents END AS cents,
         o_orderstatus
  FROM base WHERE o_orderkey % {CDC_P["new_excl"]} != 0
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(coalesce(cents, 0)) AS BIGINT) AS sum_cents
FROM new GROUP BY 1
"""


def _pagerank_oracle() -> str:
    """DuckDB twin of operators.graph.pagerank over the part↔supplier
    graph: one CTE per round, identical truncating integer division at
    both the contribution and damping steps."""
    from tepsonic_database_sync_spark.operators.graph import (
        PR_BASE_MILLI,
        PR_DAMPING_PERMILLE,
        PR_ITERS,
    )

    ctes = [
        """pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
edges AS (
  SELECT 'p' || CAST(l_partkey AS VARCHAR) AS src,
         's' || CAST(l_suppkey AS VARCHAR) AS dst FROM pairs
  UNION ALL
  SELECT 's' || CAST(l_suppkey AS VARCHAR),
         'p' || CAST(l_partkey AS VARCHAR) FROM pairs
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
nodes AS (SELECT src AS node FROM edges
          UNION SELECT dst AS node FROM edges),
r0 AS (SELECT node, CAST(1000 AS BIGINT) AS rank_milli FROM nodes)"""
    ]
    for t in range(1, PR_ITERS + 1):
        ctes.append(
            f"""r{t} AS (
  SELECT node,
         CAST({PR_BASE_MILLI}
              + ({PR_DAMPING_PERMILLE} * sum(c)) // 1000
              AS BIGINT) AS rank_milli
  FROM (
    SELECT e.dst AS node, r.rank_milli // d.d AS c
    FROM edges e
    JOIN r{t - 1} r ON e.src = r.node
    JOIN deg d ON e.src = d.src
    UNION ALL SELECT node, 0 FROM nodes
  )
  GROUP BY node)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, rank_milli FROM r{PR_ITERS}"
    )


def _zorder_oracle() -> str:
    """DuckDB twin of operators.layout.zorder_stats on orders
    (customer × epoch-day), same spread-bits ladder."""
    from tepsonic_database_sync_spark.operators.layout import (
        ZORDER_BUCKET_BITS,
        ZORDER_DIM_BITS,
        morton32_sql,
    )

    shift = 2 * ZORDER_DIM_BITS - ZORDER_BUCKET_BITS
    grid_max = (1 << ZORDER_DIM_BITS) - 1
    return f"""
WITH pts AS (
  SELECT o_custkey AS x,
         CAST(CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400
              AS BIGINT) AS y
  FROM orders
),
rng AS (SELECT min(x) AS x0, max(x) AS x1, min(y) AS y0, max(y) AS y1
        FROM pts),
norm AS (
  SELECT x, y,
         ((x - x0) * {grid_max}) // greatest(x1 - x0, 1) AS x16,
         ((y - y0) * {grid_max}) // greatest(y1 - y0, 1) AS y16
  FROM pts, rng
)
SELECT CAST({morton32_sql("x16", "y16")} >> {shift} AS BIGINT) AS zbucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
       CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max
FROM norm GROUP BY 1
"""


def _pmi_oracle() -> str:
    """DuckDB twin of operators.text.token_pmi: identical tokenization,
    pair walk, and milli-nat PMI through the shared integer log."""
    pmi = (
        f"{_d_iln('(p.n_ab * 1000)')} - {_d_iln('(n.n_bi * 1000)')}"
        f" - {_d_iln('(ua.c * 1000)')} - {_d_iln('(ub.c * 1000)')}"
        f" + 2 * ({_d_iln('(t.n_tok * 1000)')})"
    )
    return f"""
WITH toks AS (
  SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT t[i] AS a, t[i + 1] AS b
  FROM toks, unnest(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
),
uni AS (
  SELECT u, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS u FROM toks) GROUP BY u
),
ntok AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uni),
pairs_all AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab FROM grams GROUP BY a, b
),
nbi AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_bi FROM pairs_all)
SELECT p.a, p.b, p.n_ab, CAST({pmi} AS BIGINT) AS pmi_milli
FROM pairs_all p
JOIN uni ua ON p.a = ua.u
JOIN uni ub ON p.b = ub.u, ntok t, nbi n
WHERE p.n_ab >= {PMI_MIN_PAIR}
ORDER BY pmi_milli DESC, p.a, p.b LIMIT {PMI_TOPK}
"""


def _multimodal_features_oracle() -> str:
    """Byte-based oracle for the stubbed multimodal feature decode.

    DuckDB 1.0 has no direct blob byte indexing, so bytes are recovered
    from hex(encode(text)) two characters at a time. Stride and modulus
    come from operators/multimodal.py's FEATURE_DIM / FEATURE_MOD — the
    same constants ``_fake_decode`` uses — so editing either constant
    updates both sides of the correctness gate together.
    """
    from tepsonic_database_sync_spark.operators.multimodal import (
        FEATURE_DIM,
        FEATURE_MOD,
    )

    byte_at = (
        "16*(strpos('0123456789ABCDEF', substr(h, 2*p-1, 1))-1)"
        " + (strpos('0123456789ABCDEF', substr(h, 2*p, 1))-1)"
    )
    cols = ",\n".join(
        "       CAST(coalesce(list_aggregate(list_transform("
        f"range({i + 1}, n + 1, {FEATURE_DIM}),"
        f" p -> {byte_at}), 'sum'), 0)"
        f" % {FEATURE_MOD} AS BIGINT) AS f{i}"
        for i in range(FEATURE_DIM)
    )
    return (
        """
WITH assets AS (
  SELECT doc_id AS asset_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         hex(encode(text)) AS h, octet_length(encode(text)) AS n
  FROM documents
)
SELECT asset_id, kind, CAST(n AS BIGINT) AS n_bytes,
"""
        + cols
        + "\nFROM assets\n"
    )


def _model_score_oracle() -> str:
    """Oracle for the stub linear scorer + per-domain permille rank,
    generated from operators/scoring.py's weight constants so the two
    sides cannot silently desynchronize."""
    from tepsonic_database_sync_spark.operators.scoring import (
        DIGIT_RUN_RE,
        MODEL_BIAS_MILLI,
        PUNCT_RE,
        W_CHARS_MILLI,
        W_DIGIT_RUNS_MILLI,
        W_EN_MILLI,
        W_PUNCT_MILLI,
    )

    # coalesce(text,'') mirrors the pandas scorer's fillna('') so NULL text
    # scores like empty text instead of producing a NULL score; the regexes
    # are the module's explicit-ASCII classes, identical under Python re
    # and DuckDB RE2 (ADVICE r5).
    return f"""
WITH scored AS (
  SELECT doc_id, source,
         CAST({MODEL_BIAS_MILLI}
              + {W_CHARS_MILLI} * length(coalesce(text, ''))
              + ({W_PUNCT_MILLI})
                * len(regexp_extract_all(coalesce(text, ''), '{PUNCT_RE}'))
              + ({W_DIGIT_RUNS_MILLI})
                * len(regexp_extract_all(coalesce(text, ''), '{DIGIT_RUN_RE}'))
              + CASE WHEN lang = 'en' THEN {W_EN_MILLI} ELSE 0 END AS BIGINT)
           AS score_milli
  FROM documents
),
ranked AS (
  SELECT doc_id, source, score_milli,
         rank() OVER (PARTITION BY source ORDER BY score_milli) AS r,
         count(*) OVER (PARTITION BY source) AS n
  FROM scored
)
SELECT doc_id, source, CAST(score_milli AS BIGINT) AS score_milli,
       CAST(CASE WHEN n > 1 THEN (1000 * (r - 1)) // (n - 1) ELSE 0 END
            AS BIGINT) AS rank_permille
FROM ranked
"""


_O = {
    "text_bm25": _bm25_oracle(BM25_TERMS),
    "sync_pipeline": oracle.prefix("options") + "\nSELECT * FROM options",
    "sync_summary": oracle.prefix("matched")
    + """,
valid_groups AS (
  SELECT g.* FROM groups g
  WHERE EXISTS (SELECT 1 FROM matched m WHERE m.gname = g.gname)
),
avail AS (
  SELECT trim(coalesce(manufacturer, '') || ' ' || coalesce(model, '')) AS gname,
         coalesce(nullif(grade, ''), 'Unknown') AS grade_c,
         count(*) AS n_avail
  FROM vendor_items WHERE status = 'Available'
  GROUP BY 1, 2
),
written AS (
  SELECT v.gname, v.grade_c, a.n_avail
  FROM valid_groups v JOIN avail a ON v.gname = a.gname AND v.grade_c = a.grade_c
)
SELECT
  'vendor-1' AS "vendorId",
  'wholecell' AS "database",
  (SELECT CAST(count(*) AS BIGINT) FROM vendor_items) AS "totalFetched",
  (SELECT CAST(count(*) AS BIGINT) FROM valid_groups) AS "validProducts",
  CAST((SELECT count(*) FROM groups) - (SELECT count(*) FROM valid_groups) AS BIGINT)
    AS "skippedProducts",
  (SELECT CAST(count(*) AS BIGINT) FROM written) AS "newVendorProducts",
  CAST(0 AS BIGINT) AS "updatedVendorProducts",
  (SELECT CAST(coalesce(sum(n_avail), 0) AS BIGINT) FROM written) AS "totalStockProcessed",
  (SELECT CAST(count(*) AS BIGINT) FROM written) AS "totalOperations"
""",
    "sync_merge_resync": oracle.prefix("options")
    + """
SELECT product_id, grade, color, variant,
       CAST(sum(stock) AS BIGINT) AS stock,
       CAST(min(price) AS BIGINT) AS price,
       CAST(min(price) AS BIGINT) AS discount,
       array_to_string(list_sort(flatten(list(str_split(uids, '|')))), '|') AS uids
FROM (SELECT * FROM options UNION ALL SELECT * FROM options)
GROUP BY product_id, grade, color, variant
""",
    "p1_norm_name": oracle.prefix("vendor_items")
    + """
SELECT trim(coalesce(manufacturer, '') || ' ' || coalesce(model, '')) AS gname,
       coalesce(nullif(grade, ''), 'Unknown') AS grade_c,
       CAST(count(*) AS BIGINT) AS n_items
FROM vendor_items GROUP BY 1, 2
""",
    "p3_uid_coalesce": oracle.prefix("vendor_items")
    + """
SELECT id,
       coalesce(nullif(esn, ''), nullif(hex_id, ''), nullif(sku, ''),
                'item_' || CAST(id AS VARCHAR)) AS uid
FROM vendor_items
""",
    "p4_cents_to_dollars": oracle.prefix("vendor_items")
    + """
SELECT id,
       CAST(ROUND(coalesce(total_price_paid, 0) / 100.0, 0) AS BIGINT) AS dollars
FROM vendor_items
""",
    "p6_resolve_variant": oracle.prefix("variant_admin")
    + """
SELECT i.id,
  CASE WHEN i.capacity IS NULL OR i.capacity = '' THEN 'Unknown'
       WHEN a.storage IS NOT NULL AND a.storage <> '' THEN coalesce(
         list_filter(str_split(a.storage, ', '),
                     o -> contains(o, replace(i.capacity, ' ', '')))[1],
         list_filter(str_split(a.storage, ', '), o -> contains(o, i.capacity))[1],
         'Unknown')
       ELSE i.capacity || 'GB 4GB RAM' END AS variant
FROM (
  SELECT v.*, trim(coalesce(manufacturer, '') || ' ' || coalesce(model, '')) AS gname
  FROM vendor_items v
) i
LEFT JOIN variant_admin a ON a.name = i.gname
""",
    "f1_status_filter": oracle.prefix("vendor_items")
    + """
SELECT status, CAST(count(*) AS BIGINT) AS n FROM vendor_items GROUP BY status
""",
    "j1_match_exact": oracle.prefix("match_exact") + "\nSELECT * FROM match_exact",
    "j2_match_partial": oracle.prefix("match_partial")
    + "\nSELECT * FROM match_partial",
    "j5_valid_skip_split": oracle.prefix("matched")
    + """
SELECT g.gname, g.grade_c,
       EXISTS (SELECT 1 FROM matched m WHERE m.gname = g.gname) AS is_valid
FROM groups g
""",
    "s3_filtered_scan": oracle.prefix("wholesale_apis")
    + """
SELECT * FROM wholesale_apis WHERE "database" = 'wholecell'
""",
    "s9_backfill": oracle.prefix("wholesale_apis")
    + """
SELECT _id, "vendorId", "appId", "appSecret",
       coalesce("database", 'wholecell') AS "database"
FROM wholesale_apis
""",
    "s8_upsert": f"""
WITH state_options AS (
  {oracle.prefix("options", items_where="id % 2 = 0")}
  SELECT * FROM options
),
new_options AS (
  {oracle.prefix("options", items_where="id % 2 = 1")}
  SELECT * FROM options
)
SELECT
  coalesce(n.product_id, s.product_id) AS product_id,
  coalesce(n.grade, s.grade) AS grade,
  coalesce(n.color, s.color) AS color,
  coalesce(n.variant, s.variant) AS variant,
  CASE WHEN s.product_id IS NOT NULL AND n.product_id IS NOT NULL THEN 'update'
       WHEN n.product_id IS NOT NULL THEN 'insert' ELSE 'keep' END AS op,
  CAST(coalesce(s.stock, 0) + coalesce(n.stock, 0) AS BIGINT) AS stock,
  CAST(CASE WHEN s.price IS NULL THEN n.price
            WHEN n.price IS NULL THEN s.price
            ELSE least(s.price, n.price) END AS BIGINT) AS price,
  array_to_string(list_sort(str_split(concat_ws('|', s.uids, n.uids), '|')), '|') AS uids
FROM state_options s
FULL OUTER JOIN new_options n
  ON s.product_id = n.product_id AND s.grade = n.grade
 AND s.color = n.color AND s.variant = n.variant
""",
    "x1_dispatch": oracle.prefix("wholesale_apis")
    + """,
b AS (SELECT "vendorId", coalesce("database", 'wholecell') AS "database"
      FROM wholesale_apis)
SELECT "vendorId", "database",
       CASE WHEN "database" = 'wholecell' THEN NULL
            ELSE 'No sync function available for this database type' END AS error
FROM b
""",
    "topk_orders": """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
""",
    "window_topk_per_cust": """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
    "set_union": """
SELECT c_mktsegment AS v FROM customer
UNION
SELECT o_orderpriority AS v FROM orders
""",
    "set_except": """
SELECT c_custkey AS k FROM customer
EXCEPT
SELECT o_custkey AS k FROM orders
""",
    "set_intersect": """
SELECT c_custkey AS k FROM customer
INTERSECT
SELECT o_custkey AS k FROM orders
""",
    "events_json": """
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events
""",
    "stream_tumbling": """
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS ws,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1, 2
""",
    "tpch_q5_region_revenue": """
SELECT n.n_name,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                 AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
    "tpch_q12_priority_counts": """
SELECT l.l_linestatus,
       CAST(count(*) FILTER (o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
            AS BIGINT) AS high_line_count,
       CAST(count(*) FILTER (o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
            AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY l.l_linestatus
""",
    "p_nested_project": oracle.prefix("vendor_items")
    + """
SELECT id, status, manufacturer, model, grade, sku,
       (manufacturer IS NULL AND model IS NULL
        AND grade IS NULL AND sku IS NULL) AS no_variation
FROM vendor_items
""",
    "outliers_p99": """
WITH t AS (
  SELECT event_type,
         quantile_cont(CAST(round(value * 100, 0) AS BIGINT), 0.99) AS p99_cents
  FROM events GROUP BY event_type
)
SELECT e.event_type, min(t.p99_cents) AS p99_cents,
       CAST(count(*) FILTER (CAST(round(e.value * 100, 0) AS BIGINT) > t.p99_cents)
            AS BIGINT) AS n_outliers
FROM events e JOIN t ON e.event_type = t.event_type
GROUP BY e.event_type
""",
    "mom_growth": """
WITH m AS (
  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS VARCHAR) AS month,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
)
SELECT month, n_orders,
       CAST(n_orders - coalesce(lag(n_orders) OVER (ORDER BY month), 0) AS BIGINT)
         AS delta
FROM m
""",
    "funnel": """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup'
                  THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS t0,
         min(CASE WHEN event_type = 'view'
                  THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS t1,
         min(CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS t2
  FROM events GROUP BY user_id
),
f AS (
  SELECT t0 IS NOT NULL AS f0,
         (t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0) AS f1,
         (t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
          AND t2 IS NOT NULL AND t2 >= t1) AS f2
  FROM per_user
)
SELECT CAST(0 AS INT) AS stage_idx, 'signup' AS stage,
       CAST(count(*) FILTER (f0) AS BIGINT) AS n_users FROM f
UNION ALL
SELECT 1, 'view', CAST(count(*) FILTER (f1) AS BIGINT) FROM f
UNION ALL
SELECT 2, 'purchase', CAST(count(*) FILTER (f2) AS BIGINT) FROM f
""",
    "cohort_retention": """
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 604800) * 604800
              AS BIGINT) AS ws
  FROM events
),
first AS (SELECT user_id, min(ws) AS cohort_ws FROM uw GROUP BY user_id)
SELECT f.cohort_ws,
       CAST((uw.ws - f.cohort_ws) / 604800 AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM uw JOIN first f ON uw.user_id = f.user_id
GROUP BY 1, 2
""",
    "event_transitions": """
WITH seq AS (
  SELECT user_id, event_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id
           ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev_type
  FROM events
),
counts AS (
  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, event_type, n,
       CAST((1000 * n) // sum(n) OVER (PARTITION BY prev_type) AS BIGINT)
         AS p_permille
FROM counts
""",
    "event_anomaly": f"""
WITH buckets AS (
  SELECT event_type,
         CAST((CAST(floor(epoch(ts)) AS BIGINT) // {ANOMALY_BUCKET_S})
              * {ANOMALY_BUCKET_S} AS BIGINT) AS bucket_es,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
trail AS (
  SELECT event_type, bucket_es, cnt,
         CAST(coalesce(sum(cnt) OVER w, 0) AS BIGINT) AS trailing_sum,
         CAST(count(cnt) OVER w AS BIGINT) AS trailing_n
  FROM buckets
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_es
               RANGE BETWEEN {ANOMALY_TRAIL_BUCKETS * ANOMALY_BUCKET_S} PRECEDING
                         AND {ANOMALY_BUCKET_S} PRECEDING)
)
SELECT event_type, bucket_es, cnt, trailing_sum, trailing_n,
       (trailing_n > 0 AND cnt * trailing_n
          > {ANOMALY_SPIKE_FACTOR} * trailing_sum) AS is_spike
FROM trail
""",
    "time_resample": """
WITH obs AS (
  SELECT event_type AS key,
         CAST((CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600
              AS BIGINT) AS bucket_es,
         CAST(count(*) AS BIGINT) AS n_events,
         max(CAST(round(value * 100, 0) AS BIGINT)) AS v_max
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT key,
         CAST(unnest(generate_series(b0, b1, 3600)) AS BIGINT) AS bucket_es
  FROM (SELECT key, min(bucket_es) AS b0, max(bucket_es) AS b1
        FROM obs GROUP BY key)
)
SELECT g.key, g.bucket_es,
       CAST(coalesce(o.n_events, 0) AS BIGINT) AS n_events,
       CAST(last_value(o.v_max IGNORE NULLS)
            OVER (PARTITION BY g.key ORDER BY g.bucket_es
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS value_cents,
       o.n_events IS NULL AS is_gap
FROM grid g LEFT JOIN obs o ON g.key = o.key AND g.bucket_es = o.bucket_es
""",
    "runtime_filter_join": """
SELECT c.c_custkey, c.c_name,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_nationkey = 1
GROUP BY 1, 2
""",
    "snapshot_diff": f"""
WITH base AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderstatus
  FROM orders
),
old AS (
  SELECT * FROM base WHERE o_orderkey % {CDC_P["old_excl"]} != 0
),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % {CDC_P["upd_mod"]} = 0
              THEN cents + {CDC_P["upd_delta_cents"]} ELSE cents END AS cents,
         o_orderstatus
  FROM base WHERE o_orderkey % {CDC_P["new_excl"]} != 0
)
SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
            WHEN n.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       o.cents AS old_cents, n.cents AS new_cents,
       o.o_orderstatus AS old_o_orderstatus,
       n.o_orderstatus AS new_o_orderstatus
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR NOT (o.cents IS NOT DISTINCT FROM n.cents
           AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus)
""",
    "text_hash_embed": rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
  FROM documents
),
h AS (
  SELECT doc_id,
         ({_D_H60.format(e="'b:' || t")} % 16) AS bucket,
         CASE WHEN {_D_H60.format(e="'s:' || t")} % 2 = 0 THEN 1 ELSE -1 END
           AS sgn
  FROM toks
)
SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
       CAST(sum(sgn) AS BIGINT) AS weight
FROM h GROUP BY 1, 2 HAVING sum(sgn) != 0
""",
    "cdc_roundtrip": f"""
WITH base AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
         o_orderstatus
  FROM orders
)
SELECT o_orderkey,
       CASE WHEN o_orderkey % {CDC_P["upd_mod"]} = 0
            THEN cents + {CDC_P["upd_delta_cents"]} ELSE cents END AS cents,
       o_orderstatus
FROM base WHERE o_orderkey % {CDC_P["new_excl"]} != 0
""",
    "grouped_quantiles": f"""
WITH vals AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) // 100 AS dollars
  FROM orders
),
hist AS (
  SELECT o_orderpriority, dollars, CAST(count(*) AS BIGINT) AS cnt
  FROM vals GROUP BY 1, 2
),
cum AS (
  SELECT o_orderpriority, dollars, cnt,
         sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY dollars) AS cum
  FROM hist
),
tot AS (
  SELECT o_orderpriority, CAST(sum(cnt) AS BIGINT) AS n
  FROM hist GROUP BY 1
),
qs AS (
  SELECT CAST(q AS BIGINT) AS q_permille
  FROM (VALUES {", ".join(f"({q})" for q in QUANTILE_QS)}) t(q)
)
SELECT c.o_orderpriority, q.q_permille, t.n,
       CAST(min(c.dollars) AS BIGINT) AS value
FROM cum c
JOIN tot t USING (o_orderpriority)
CROSS JOIN qs q
WHERE 1000 * c.cum >= q.q_permille * t.n
GROUP BY 1, 2, 3
""",
    "source_overlap": r"""
WITH t AS (
  SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
),
sh AS (
  SELECT source,
         CASE WHEN len(t) >= 3 THEN list_distinct(
           list_transform(range(0, len(t) - 2),
                          i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
         ELSE [] END AS shingles
  FROM t
),
g AS (
  SELECT DISTINCT source, g
  FROM (SELECT source, unnest(shingles) AS g FROM sh)
),
per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY 1
),
common AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT c.source_a, c.source_b,
       pa.n_grams AS n_a, pb.n_grams AS n_b, c.n_common,
       CAST((1000 * c.n_common)
            // (pa.n_grams + pb.n_grams - c.n_common) AS BIGINT)
         AS jaccard_permille,
       CAST((1000 * c.n_common) // pa.n_grams AS BIGINT)
         AS containment_a_permille,
       CAST((1000 * c.n_common) // pb.n_grams AS BIGINT)
         AS containment_b_permille
FROM common c
JOIN per_src pa ON c.source_a = pa.source
JOIN per_src pb ON c.source_b = pb.source
""",
    "join_size_estimate": """
WITH ca AS (
  SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1
),
cb AS (
  SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1
)
SELECT CAST((SELECT coalesce(sum(a.c * b.c), 0)
             FROM ca a JOIN cb b ON a.k = b.k) AS BIGINT) AS exact_n,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_a,
       (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_b,
       TRUE AS within_bound
""",
    "dedup_keep_best": rf"""
WITH corpus AS (
  SELECT doc_id,
         text || repeat(' ' || regexp_split_to_array(lower(trim(text)),
                                                     '\s+')[1], 30) AS text
  FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents
),
toks AS (
  SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM corpus
),
s AS (
  SELECT doc_id, length(text) AS n_chars, len(t) AS n_tokens,
         len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
         CASE WHEN len(t) > 0 THEN (len(list_distinct(t)) * 1000) // len(t)
              ELSE 0 END AS uniq_permille,
         CASE WHEN len(t) > 0 THEN ({_sw(_SW["en"])} * 1000) // len(t)
              ELSE 0 END AS stopword_permille
  FROM toks
),
q AS (
  SELECT doc_id, CAST(
      (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 25 ELSE 0 END)
    + (CASE WHEN stopword_permille BETWEEN 20 AND 600 THEN 25 ELSE 0 END)
    + (CASE WHEN n_punct * 1000 < n_chars * 300 THEN 25 ELSE 0 END)
    + (CASE WHEN uniq_permille > 300 THEN 25 ELSE 0 END) AS BIGINT) AS quality
  FROM s
),
fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fp
  FROM toks
),
j AS (
  SELECT f.fp, f.doc_id, q.quality FROM fp f JOIN q ON f.doc_id = q.doc_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY fp
                               ORDER BY quality DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY fp) AS n_copies
  FROM j
)
SELECT fp, CAST(doc_id AS BIGINT) AS keeper_doc_id, quality,
       CAST(n_copies AS BIGINT) AS n_copies
FROM r WHERE rn = 1
""",
    "quantile_bucketize": f"""
WITH vals AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) // 100 AS dollars
  FROM orders
),
hist AS (
  SELECT o_orderpriority, dollars, CAST(count(*) AS BIGINT) AS cnt
  FROM vals GROUP BY 1, 2
),
cum AS (
  SELECT o_orderpriority, dollars, cnt,
         sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY dollars) AS cum
  FROM hist
),
tot AS (
  SELECT o_orderpriority, CAST(sum(cnt) AS BIGINT) AS n
  FROM hist GROUP BY 1
),
qs AS (
  SELECT CAST(q AS BIGINT) AS q_permille
  FROM (VALUES {", ".join(f"({q})" for q in QUANTILE_QS)}) t(q)
),
bounds AS (
  SELECT c.o_orderpriority, q.q_permille, min(c.dollars) AS b
  FROM cum c JOIN tot t USING (o_orderpriority) CROSS JOIN qs q
  WHERE 1000 * c.cum >= q.q_permille * t.n
  GROUP BY 1, 2
)
SELECT v.o_orderkey, v.o_orderpriority, v.dollars,
       CAST(count(DISTINCT CASE WHEN b.b < v.dollars THEN b.b END) AS BIGINT)
         AS bucket
FROM vals v JOIN bounds b ON v.o_orderpriority = b.o_orderpriority
GROUP BY 1, 2, 3
""",
    "growth_accounting": f"""
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST((CAST(floor(epoch(ts)) AS BIGINT) // {604800}) * {604800}
              AS BIGINT) AS ws
  FROM events
),
seq AS (
  SELECT user_id, ws,
         lag(ws) OVER (PARTITION BY user_id ORDER BY ws) AS prev_ws,
         lead(ws) OVER (PARTITION BY user_id ORDER BY ws) AS next_ws
  FROM uw
),
per_week AS (
  SELECT ws,
         CAST(count(*) FILTER (prev_ws IS NULL) AS BIGINT) AS n_new,
         CAST(count(*) FILTER (prev_ws = ws - {604800}) AS BIGINT)
           AS n_retained,
         CAST(count(*) FILTER (prev_ws IS NOT NULL
                               AND prev_ws < ws - {604800}) AS BIGINT)
           AS n_resurrected
  FROM seq GROUP BY 1
),
mx AS (SELECT max(ws) AS max_ws FROM uw),
churn AS (
  SELECT s.ws + {604800} AS ws, CAST(count(*) AS BIGINT) AS n_churned
  FROM seq s CROSS JOIN mx
  WHERE s.ws < mx.max_ws
    AND (s.next_ws IS NULL OR s.next_ws > s.ws + {604800})
  GROUP BY 1
)
SELECT coalesce(p.ws, c.ws) AS ws,
       CAST(coalesce(p.n_new, 0) AS BIGINT) AS n_new,
       CAST(coalesce(p.n_retained, 0) AS BIGINT) AS n_retained,
       CAST(coalesce(p.n_resurrected, 0) AS BIGINT) AS n_resurrected,
       CAST(coalesce(c.n_churned, 0) AS BIGINT) AS n_churned
FROM per_week p FULL OUTER JOIN churn c ON p.ws = c.ws
""",
    "active_users": """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events
),
dau AS (
  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM ud GROUP BY 1
),
contrib AS (
  SELECT user_id, day + t.i AS day FROM ud, unnest(range(0, 7)) AS t(i)
),
wau AS (
  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau_7d
  FROM contrib GROUP BY 1
)
SELECT CAST(d.day * 86400 AS BIGINT) AS day_es, d.dau, w.wau_7d
FROM dau d JOIN wau w ON d.day = w.day
""",
    "grouped_mode": """
WITH hist AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n FROM hist GROUP BY 1),
top AS (
  SELECT user_id, event_type AS mode_value, cnt AS mode_cnt
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY cnt DESC, event_type) AS rn
        FROM hist)
  WHERE rn = 1
)
SELECT t.user_id, o.n, t.mode_value, t.mode_cnt
FROM top t JOIN tot o ON t.user_id = o.user_id
""",
    "group_entropy": f"""
WITH hist AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
per AS (
  SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(cnt * ({_d_iln("1000 * cnt")})) AS BIGINT) AS s
  FROM hist GROUP BY 1
)
SELECT user_id, n, n_distinct,
       CAST(({_d_iln("1000 * n")}) - (s // n) AS BIGINT) AS entropy_milli
FROM per
""",
    "profile_table": """
WITH e AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_es
  FROM events
)
SELECT 'event_id' AS col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (event_id IS NULL) AS BIGINT) AS n_null,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(min(event_id) AS VARCHAR) AS min_value,
       CAST(max(event_id) AS VARCHAR) AS max_value
FROM e
UNION ALL
SELECT 'user_id', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (user_id IS NULL) AS BIGINT),
       CAST(count(DISTINCT user_id) AS BIGINT),
       CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
FROM e
UNION ALL
SELECT 'event_type', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (event_type IS NULL) AS BIGINT),
       CAST(count(DISTINCT event_type) AS BIGINT),
       CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR)
FROM e
UNION ALL
SELECT 'ts_es', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (ts_es IS NULL) AS BIGINT),
       CAST(count(DISTINCT ts_es) AS BIGINT),
       CAST(min(ts_es) AS VARCHAR), CAST(max(ts_es) AS VARCHAR)
FROM e
""",
    "skew_profile": """
WITH counts AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1
),
stats AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total_rows,
         CAST(count(*) AS BIGINT) AS n_keys
  FROM counts
)
SELECT coalesce(CAST(user_id AS VARCHAR), 'NULL') AS key_value, cnt,
       s.total_rows, s.n_keys,
       CAST((1000 * cnt) // s.total_rows AS BIGINT) AS share_permille,
       CAST((1000 * cnt * s.n_keys) // s.total_rows AS BIGINT) AS skew_permille
FROM counts CROSS JOIN stats s
ORDER BY cnt DESC, key_value
LIMIT 20
""",
    "dataset_split": f"""
SELECT doc_id,
       CASE WHEN {_D_H60.format(e="'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 80
              THEN 'train'
            WHEN {_D_H60.format(e="'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 90
              THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
    "stratified_sample": f"""
WITH ranked AS (
  SELECT event_id, event_type,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY {_D_H60.format(e="'sample:' || CAST(event_id AS VARCHAR)")},
                    event_id) AS r
  FROM events
)
SELECT event_id, event_type FROM ranked WHERE r <= 5
""",
    "dq_checks": """
SELECT 'orphan_user' AS rule,
       CAST((SELECT count(*) FROM events e
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = e.user_id)) AS BIGINT)
         AS n_violations
UNION ALL
SELECT 'negative_value',
       CAST((SELECT count(*) FROM events WHERE value < 0) AS BIGINT)
UNION ALL
SELECT 'null_event_type',
       CAST((SELECT count(*) FROM events WHERE event_type IS NULL) AS BIGINT)
""",
    "percentiles": """
SELECT c.c_mktsegment,
       quantile_cont(CAST(round(o.o_totalprice * 100, 0) AS BIGINT), 0.5)
         AS p50_cents,
       quantile_cont(CAST(round(o.o_totalprice * 100, 0) AS BIGINT), 0.95)
         AS p95_cents,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
    "sketch_distinct": """
SELECT l_returnflag,
  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct,
  CAST(count(*) AS BIGINT) AS n_rows,
  TRUE AS within_bound
FROM lineitem GROUP BY l_returnflag
""",
    "sketch_percentile": """
SELECT c.c_mktsegment,
  CAST(count(*) AS BIGINT) AS n_rows,
  quantile_cont(o.cents, 0.5) AS p50_exact,
  TRUE AS p50_within,
  quantile_cont(o.cents, 0.95) AS p95_exact,
  TRUE AS p95_within
FROM (SELECT o_custkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders) o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
    "tpch_q13_custdist": """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
) GROUP BY c_count
""",
    "tpch_q18_big_orders": """
SELECT o.o_orderkey, o.o_custkey,
       CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey, o.o_custkey
HAVING CAST(sum(l.l_quantity) AS BIGINT) > 150
""",
    "rollup_multires": """
SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS ds,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1, 2
""",
    "skew_salted_agg": """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(l_quantity) AS BIGINT) AS sum_l_quantity
FROM lineitem GROUP BY 1
""",
    "skew_salted_join": """
SELECT e.user_id, e.event_id,
       CAST(round(e.value * 100, 0) AS BIGINT) AS value_cents,
       c.c_mktsegment AS segment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""",
    "stream_dedup": """
SELECT DISTINCT event_id, user_id, event_type,
       CAST(round(value * 100, 0) AS BIGINT) AS value_cents
FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
""",
    "stream_enrich": """
SELECT e.event_id, e.user_id,
       COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
       e.event_type,
       CAST(round(e.value * 100, 0) AS BIGINT) AS value_cents
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
""",
    "stream_sliding": """
SELECT ws, event_type, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 1800 - k.k) * 1800 AS ws, event_type
  FROM events, (VALUES (0), (1)) k(k)
) GROUP BY ws, event_type
""",
    "text_stats": f"""
WITH {_D_TOKS}
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(t) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
    AS n_bpe_tokens,
  CAST(len(list_distinct(t)) AS BIGINT) AS n_uniq_tokens,
  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT) AS n_punct,
  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_digit_runs,
  CAST(CASE WHEN len(t) > 0
       THEN (length(regexp_replace(text, '\\s', '', 'g')) * 1000) // len(t)
       ELSE 0 END AS BIGINT) AS avg_token_len_permille,
  CAST(CASE WHEN len(t) > 0
       THEN (len(list_distinct(t)) * 1000) // len(t) ELSE 0 END AS BIGINT)
    AS uniq_permille,
  CAST(CASE WHEN len(t) > 0
       THEN ({_sw(_SW["en"])} * 1000) // len(t) ELSE 0 END AS BIGINT)
    AS stopword_permille
FROM toks
""",
    "text_lang_id": f"""
WITH {_D_TOKS}
SELECT doc_id,
  CASE WHEN len(regexp_extract_all(text, '[\\x{{4e00}}-\\x{{9fff}}]')) > 0 THEN 'zh'
       WHEN {_sw(_SW["en"])} >= {_sw(_SW["es"])} AND {_sw(_SW["en"])} >= {_sw(_SW["de"])}
            AND {_sw(_SW["en"])} >= {_sw(_SW["fr"])} AND {_sw(_SW["en"])} > 0 THEN 'en'
       WHEN {_sw(_SW["es"])} >= {_sw(_SW["de"])} AND {_sw(_SW["es"])} >= {_sw(_SW["fr"])}
            AND {_sw(_SW["es"])} > 0 THEN 'es'
       WHEN {_sw(_SW["de"])} >= {_sw(_SW["fr"])} AND {_sw(_SW["de"])} > 0 THEN 'de'
       WHEN {_sw(_SW["fr"])} > 0 THEN 'fr'
       ELSE 'und' END AS lang_guess,
  CAST({_sw(_SW["en"])} AS BIGINT) AS sw_en,
  CAST({_sw(_SW["es"])} AS BIGINT) AS sw_es,
  CAST({_sw(_SW["de"])} AS BIGINT) AS sw_de,
  CAST({_sw(_SW["fr"])} AS BIGINT) AS sw_fr
FROM toks
""",
    "text_quality": f"""
WITH {_D_TOKS},
s AS (
  SELECT doc_id, length(text) AS n_chars, len(t) AS n_tokens,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         CASE WHEN len(t) > 0 THEN (len(list_distinct(t)) * 1000) // len(t)
              ELSE 0 END AS uniq_permille,
         CASE WHEN len(t) > 0 THEN ({_sw(_SW["en"])} * 1000) // len(t)
              ELSE 0 END AS stopword_permille
  FROM toks
)
SELECT doc_id, CAST(
    (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 25 ELSE 0 END)
  + (CASE WHEN stopword_permille BETWEEN 20 AND 600 THEN 25 ELSE 0 END)
  + (CASE WHEN n_punct * 1000 < n_chars * 300 THEN 25 ELSE 0 END)
  + (CASE WHEN uniq_permille > 300 THEN 25 ELSE 0 END) AS BIGINT) AS quality
FROM s
""",
    "text_repetition": r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t, text
  FROM documents
),
base AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 2 THEN list_transform(range(1, len(t)),
         i -> t[i] || ' ' || t[i+1]) ELSE [] END AS g2,
    CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1),
         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE [] END AS g3,
    list_filter(list_transform(string_split(text, chr(10)),
                l -> lower(trim(l))), l -> l <> '') AS gl
  FROM toks
),
longf AS (
  SELECT doc_id, '2' AS kind, unnest(g2) AS gram FROM base
  UNION ALL SELECT doc_id, '3' AS kind, unnest(g3) AS gram FROM base
  UNION ALL SELECT doc_id, 'L' AS kind, unnest(gl) AS gram FROM base
),
counts AS (
  SELECT doc_id, kind, gram, count(*) AS c FROM longf GROUP BY doc_id, kind, gram
),
per_doc AS (
  SELECT doc_id,
    max(CASE WHEN kind = '2' THEN c END) AS top2,
    sum(CASE WHEN kind = '2' THEN c END) AS n2,
    sum(CASE WHEN kind = '3' AND c > 1 THEN c END) AS dup3,
    sum(CASE WHEN kind = '3' THEN c END) AS n3,
    sum(CASE WHEN kind = 'L' AND c > 1 THEN c END) AS dupl,
    sum(CASE WHEN kind = 'L' THEN c END) AS nl
  FROM counts GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(CASE WHEN coalesce(n2, 0) > 0
       THEN (coalesce(top2, 0) * 1000) // n2 ELSE 0 END AS BIGINT)
    AS top_bigram_permille,
  CAST(CASE WHEN coalesce(n3, 0) > 0
       THEN (coalesce(dup3, 0) * 1000) // n3 ELSE 0 END AS BIGINT)
    AS dup_trigram_permille,
  CAST(CASE WHEN coalesce(nl, 0) > 0
       THEN (coalesce(dupl, 0) * 1000) // nl ELSE 0 END AS BIGINT)
    AS dup_line_permille
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
""",
    "text_scrub": r"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com via http://site.test/p/'
                   || CAST(doc_id AS VARCHAR)
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(text, 'https?://[a-zA-Z0-9./_-]+')) AS BIGINT)
         AS n_urls,
       md5(regexp_replace(
             regexp_replace(text,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             'https?://[a-zA-Z0-9./_-]+', '<URL>', 'g')) AS scrubbed_md5
FROM injected
""",
    "text_chunks": """
WITH toked AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\\s+') AS t,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n
  FROM documents
),
sized AS (
  SELECT doc_id, t,
         CASE WHEN trim(array_to_string(t, ' ')) = '' THEN 0
              WHEN n <= 64 THEN 1
              ELSE CAST(ceil((n - 64) / 48.0) AS INT) + 1 END AS n_chunks
  FROM toked
)
SELECT s.doc_id,
       CAST(r.i AS INT) AS chunk_idx,
       CAST(len(t[CAST(r.i AS INT) * 48 + 1 : CAST(r.i AS INT) * 48 + 64])
            AS BIGINT) AS n_tokens,
       array_to_string(t[CAST(r.i AS INT) * 48 + 1 : CAST(r.i AS INT) * 48 + 64], ' ')
         AS chunk_text
FROM sized s, unnest(range(0, s.n_chunks)) r(i)
WHERE s.n_chunks > 0
""",
    "text_winnow": _text_winnow_sql(),
    "text_top_terms": """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents
)
SELECT term, CAST(count(*) AS BIGINT) AS n
FROM toks WHERE term <> ''
GROUP BY term
ORDER BY n DESC, term
LIMIT 50
""",
    "text_fingerprint": f"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
  FROM documents
)
SELECT doc_id, md5(nt) AS fp_md5, {_D_H60.format(e="nt")} AS fp_h60
FROM norm
""",
    "dedup_exact": """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents
),
fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM corpus
)
SELECT fp, CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM fp GROUP BY fp
""",
    "dedup_ngram_jaccard": f"""
WITH {_D_TOKS}{_D_SHINGLES},
blocked AS (
  SELECT doc_id, shingles, n_chars // 100 AS blk FROM sh
)
SELECT CAST(a.blk AS BIGINT) AS blk,
       a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS inter_size,
       CAST(len(a.shingles) + len(b.shingles)
            - len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS union_size
FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE len(list_intersect(a.shingles, b.shingles)) >= 2
""",
    "kmeans_train": _kmeans_oracle(),
    "scd2_history": """
WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
c AS (
  SELECT *, lag(event_type) OVER (PARTITION BY user_id
                                  ORDER BY es, event_id) AS prev
  FROM e
),
ch AS (
  SELECT user_id, event_id, event_type, es
  FROM c WHERE prev IS NULL OR prev <> event_type
),
v AS (
  SELECT *, lead(es) OVER (PARTITION BY user_id
                           ORDER BY es, event_id) AS valid_to
  FROM ch
)
SELECT user_id, event_type AS state, CAST(es AS BIGINT) AS valid_from,
       CAST(valid_to AS BIGINT) AS valid_to, valid_to IS NULL AS is_current
FROM v
""",
    "dedup_canonicalize": f"""
WITH RECURSIVE {_D_TOKS}{_D_SHINGLES}{_D_MINHASH_SIGS},
banded AS (
  SELECT doc_id, i // 4 AS band,
         md5(array_to_string(list_sort(list(CAST(sig AS VARCHAR))), ',')) AS band_key
  FROM sigs GROUP BY doc_id, i // 4
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT d.doc_id,
         least(d.doc_id, coalesce(m.mn, d.doc_id)) AS cluster_id
  FROM documents d
  LEFT JOIN (SELECT src, min(dst) AS mn FROM reach GROUP BY src) m
    ON d.doc_id = m.src
),
sizes AS (SELECT cluster_id, count(*) AS n FROM comp GROUP BY cluster_id)
SELECT c.doc_id, d.lang, d.source, d.n_chars,
       CAST(s.n AS BIGINT) AS cluster_size
FROM comp c
JOIN sizes s ON c.cluster_id = s.cluster_id
JOIN documents d ON c.doc_id = d.doc_id
WHERE c.doc_id = c.cluster_id
""",
    "decontaminate": f"""
WITH {_D_TOKS}{_D_SHINGLES},
f AS (
  SELECT doc_id, shingles,
         {_D_H60.format(e="'bench:' || CAST(doc_id AS VARCHAR)")} % 100 < 5
           AS is_bench
  FROM sh
),
bg AS (SELECT DISTINCT unnest(shingles) AS g FROM f WHERE is_bench),
tr AS (SELECT doc_id, unnest(shingles) AS g FROM f WHERE NOT is_bench),
hits AS (
  SELECT tr.doc_id, count(*) AS nh FROM tr JOIN bg USING (g) GROUP BY tr.doc_id
)
SELECT f.doc_id,
       CAST(coalesce(h.nh, 0) AS BIGINT) AS n_hit_grams,
       coalesce(h.nh, 0) >= 1 AS contaminated
FROM f LEFT JOIN hits h ON f.doc_id = h.doc_id
WHERE NOT f.is_bench
""",
    # exact columns identical to decontaminate; bloom_ok is the hard
    # no-false-negative flag (bloom math guarantees TRUE — a FALSE is an
    # implementation bug and hash-mismatches here)
    "decontaminate_bloom": f"""
WITH {_D_TOKS}{_D_SHINGLES},
f AS (
  SELECT doc_id, shingles,
         {_D_H60.format(e="'bench:' || CAST(doc_id AS VARCHAR)")} % 100 < 5
           AS is_bench
  FROM sh
),
bg AS (SELECT DISTINCT unnest(shingles) AS g FROM f WHERE is_bench),
tr AS (SELECT doc_id, unnest(shingles) AS g FROM f WHERE NOT is_bench),
hits AS (
  SELECT tr.doc_id, count(*) AS nh FROM tr JOIN bg USING (g) GROUP BY tr.doc_id
)
SELECT f.doc_id,
       CAST(coalesce(h.nh, 0) AS BIGINT) AS n_hit_grams,
       coalesce(h.nh, 0) >= 1 AS contaminated,
       TRUE AS bloom_ok
FROM f LEFT JOIN hits h ON f.doc_id = h.doc_id
WHERE NOT f.is_bench
""",
    "pack_sequences": r"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT)
           AS n_toks
  FROM documents
),
c AS (
  SELECT *, sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS run_end
  FROM t
)
SELECT doc_id, source, n_toks,
       CAST(run_end - n_toks AS BIGINT) AS start_tok,
       CAST((run_end - n_toks) // 512 AS BIGINT) AS chunk_first,
       CAST((run_end - 1) // 512 AS BIGINT) AS chunk_last,
       CAST((run_end - 1) // 512 - (run_end - n_toks) // 512 + 1 AS BIGINT)
         AS n_chunks
FROM c
""",
    "mixture_sample": f"""
SELECT doc_id, lang, source
FROM documents
WHERE {_D_H60.format(e="'mix:' || CAST(doc_id AS VARCHAR)")} % 100 <
      CASE lang WHEN 'en' THEN 80 WHEN 'es' THEN 50
                WHEN 'de' THEN 30 WHEN 'fr' THEN 10 ELSE 0 END
""",
    "dedup_clusters": f"""
WITH RECURSIVE {_D_TOKS}{_D_SHINGLES}{_D_MINHASH_SIGS},
banded AS (
  SELECT doc_id, i // 4 AS band,
         md5(array_to_string(list_sort(list(CAST(sig AS VARCHAR))), ',')) AS band_key
  FROM sigs GROUP BY doc_id, i // 4
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT d.doc_id,
       CAST(least(d.doc_id, coalesce(m.mn, d.doc_id)) AS BIGINT) AS cluster_id
FROM documents d
LEFT JOIN (SELECT src, min(dst) AS mn FROM reach GROUP BY src) m
  ON d.doc_id = m.src
""",
    "dedup_minhash_lsh": f"""
WITH {_D_TOKS}{_D_SHINGLES}{_D_MINHASH_SIGS},
banded AS (
  SELECT doc_id, i // 4 AS band,
         md5(array_to_string(list_sort(list(CAST(sig AS VARCHAR))), ',')) AS band_key
  FROM sigs GROUP BY doc_id, i // 4
)
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
""",
    "dedup_jaccard_banded": f"""
WITH {_D_TOKS}{_D_SHINGLES}{_D_MINHASH_SIGS},
banded AS (
  SELECT doc_id, i // 4 AS band,
         md5(array_to_string(list_sort(list(CAST(sig AS VARCHAR))), ',')) AS band_key
  FROM sigs GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.a_id, c.b_id,
       CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS inter_size,
       CAST(len(sa.shingles) + len(sb.shingles)
            - len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS union_size
FROM cand c
JOIN sh sa ON sa.doc_id = c.a_id
JOIN sh sb ON sb.doc_id = c.b_id
WHERE len(list_intersect(sa.shingles, sb.shingles)) >= 2
""",
    "dedup_simhash": f"""
WITH {_D_TOKS},
ex AS (SELECT doc_id, unnest(t) AS tk FROM toks),
h AS (SELECT doc_id, {_D_H60.format(e="tk")} AS h FROM ex),
bits AS (SELECT unnest(range(0, 32)) AS b),
v AS (
  SELECT doc_id, b, (CAST(1 AS BIGINT) << CAST(b AS INT)) AS mask,
         CASE WHEN (h & (CAST(1 AS BIGINT) << CAST(b AS INT))) <> 0
              THEN 1 ELSE -1 END AS vote
  FROM h, bits
),
s AS (SELECT doc_id, b, mask, sum(vote) AS sv FROM v GROUP BY 1, 2, 3)
SELECT doc_id,
       CAST(sum(CASE WHEN sv > 0 THEN mask ELSE 0 END) AS BIGINT) AS simhash
FROM s GROUP BY doc_id
""",
    "s10_report": oracle.prefix("matched")
    + """,
backfilled AS (
  SELECT "vendorId", coalesce("database", 'wholecell') AS "database"
  FROM wholesale_apis
),
g AS (
  SELECT groups.gname, groups.grade_c,
         (SELECT count(*) FROM vendor_items v
          WHERE trim(coalesce(v.manufacturer, '') || ' ' || coalesce(v.model, '')) = groups.gname
            AND coalesce(nullif(v.grade, ''), 'Unknown') = groups.grade_c) AS n_items,
         (SELECT count(*) FROM vendor_items v
          WHERE trim(coalesce(v.manufacturer, '') || ' ' || coalesce(v.model, '')) = groups.gname
            AND coalesce(nullif(v.grade, ''), 'Unknown') = groups.grade_c
            AND v.status = 'Available') AS n_avail,
         EXISTS (SELECT 1 FROM matched m WHERE m.gname = groups.gname) AS is_valid
  FROM groups
),
summary AS (
  SELECT
    CAST(sum(n_items) AS BIGINT) AS "totalFetched",
    CAST(count(CASE WHEN is_valid THEN 1 END) AS BIGINT) AS "validProducts",
    CAST(count(CASE WHEN NOT is_valid THEN 1 END) AS BIGINT) AS "skippedProducts",
    CAST(count(CASE WHEN is_valid AND n_avail > 0 THEN 1 END) AS BIGINT)
      AS "newVendorProducts",
    CAST(0 AS BIGINT) AS "updatedVendorProducts",
    CAST(coalesce(sum(CASE WHEN is_valid AND n_avail > 0 THEN n_avail END), 0) AS BIGINT)
      AS "totalStockProcessed",
    CAST(count(CASE WHEN is_valid AND n_avail > 0 THEN 1 END) AS BIGINT)
      AS "totalOperations"
  FROM g
)
SELECT b."vendorId", b."database",
       CAST(NULL AS VARCHAR) AS error,
       s."totalFetched", s."validProducts", s."skippedProducts",
       s."newVendorProducts", s."updatedVendorProducts",
       s."totalStockProcessed", s."totalOperations"
FROM backfilled b, summary s WHERE b."database" = 'wholecell'
UNION ALL
SELECT b."vendorId", b."database",
       'No sync function available for this database type' AS error,
       NULL, NULL, NULL, NULL, NULL, NULL, NULL
FROM backfilled b WHERE b."database" <> 'wholecell'
""",
    "tpch_q6_sql": TPCH_Q6_SQL,
    "tpch_q17_small_qty": TPCH_Q17_SQL,
    "tpch_q22_idle_custs": TPCH_Q22_SQL,
    "exists_subquery": EXISTS_SQL,
    "unpivot": """
SELECT c_mktsegment, 'p' || CAST(i AS VARCHAR) AS priority,
  CAST(CASE i
    WHEN 1 THEN count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
    WHEN 2 THEN count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END)
    WHEN 3 THEN count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END)
    WHEN 4 THEN count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END)
    WHEN 5 THEN count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END)
  END AS BIGINT) AS n
FROM orders JOIN customer ON o_custkey = c_custkey, unnest(range(1, 6)) t(i)
GROUP BY c_mktsegment, i
""",
    "x2_quarantine": r"""
WITH c AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0 THEN props || '}' ELSE props END AS p
  FROM events
)
SELECT event_id,
       regexp_matches(p, '^\{"k": -?[0-9]+\}$') AS is_valid,
       CASE WHEN regexp_matches(p, '^\{"k": -?[0-9]+\}$')
            THEN CAST(regexp_extract(p, '"k": (-?[0-9]+)', 1) AS BIGINT) END AS k
FROM c
""",
    "a3_merge_idempotent": oracle.prefix("options")
    + """
SELECT product_id, grade, color, variant,
       CAST(len(list_distinct(str_split(uids, '|'))) AS BIGINT) AS stock,
       CAST(price AS BIGINT) AS price,
       CAST(price AS BIGINT) AS discount,
       array_to_string(list_sort(list_distinct(str_split(uids, '|'))), '|') AS uids
FROM options
""",
    "tpch_q1_pricing": """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
  CAST(sum(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
  CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT)
    AS sum_disc_cents,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    "tpch_q3_topk": """
SELECT l_orderkey,
  CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT)
    AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey
ORDER BY revenue_cents DESC, l_orderkey LIMIT 10
""",
    "tpch_q10_returns": """
SELECT c_custkey, c_name,
  CAST(sum(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT)
    AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name
ORDER BY revenue_cents DESC, c_custkey LIMIT 20
""",
    "rollup_sales": """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
  CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
""",
    "cube_sales": """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
  CAST(count(*) AS BIGINT) AS n,
  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
""",
    "pivot_segment_priority": """
SELECT c_mktsegment,
  CAST(count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT) AS p1,
  CAST(count(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS BIGINT) AS p2,
  CAST(count(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS BIGINT) AS p3,
  CAST(count(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS BIGINT) AS p4,
  CAST(count(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS BIGINT) AS p5
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    "count_distinct": """
SELECT l_returnflag,
  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
  CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
    "window_running_total": """
SELECT o_custkey, o_orderkey,
  CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents,
  CAST(coalesce(lag(cents) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey), 0) AS BIGINT)
    AS prev_cents
FROM (SELECT *, CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders)
""",
    "a4_stock_totals": oracle.prefix("options")
    + """
SELECT product_id, grade,
       CAST(sum(stock) AS BIGINT) AS total_stock,
       CAST(count(*) AS BIGINT) AS n_options
FROM options GROUP BY product_id, grade
""",
    "s2_full_scan": oracle.prefix("wholesale_apis")
    + "\nSELECT * FROM wholesale_apis",
    "j3_item_lookup": oracle.prefix("admin_products")
    + """,
va AS (
  SELECT name, _id FROM (
    SELECT name, _id, row_number() OVER (PARTITION BY name ORDER BY _id DESC) AS rn
    FROM admin_products
  ) WHERE rn = 1
),
i AS (
  SELECT id, trim(coalesce(manufacturer, '') || ' ' || coalesce(model, '')) AS gname
  FROM vendor_items
)
SELECT i.id, va._id AS admin_id, va._id IS NOT NULL AS matched
FROM i LEFT JOIN va ON va.name = i.gname
""",
    "asof_join": """
WITH r AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         event_id AS rid, CAST(NULL AS BIGINT) AS lid
  FROM events WHERE event_type IN ('view', 'click')
),
l AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         CAST(NULL AS BIGINT) AS rid, event_id AS lid
  FROM events WHERE event_type = 'purchase'
),
u AS (SELECT * FROM r UNION ALL SELECT * FROM l),
m AS (
  SELECT *, last_value(rid IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY es, coalesce(rid, 4611686018427387904)
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_rid
  FROM u
)
SELECT user_id, lid AS event_id, es AS epoch_s, asof_rid
FROM m WHERE lid IS NOT NULL
""",
    "range_join": """
WITH a AS (
  SELECT user_id, event_id AS a_id, CAST(floor(epoch(ts)) AS BIGINT) AS ea
  FROM events WHERE event_type = 'error'
),
b AS (
  SELECT user_id, event_id AS b_id, CAST(floor(epoch(ts)) AS BIGINT) AS eb
  FROM events WHERE event_type = 'click'
)
SELECT a.user_id, a.a_id, b.b_id
FROM a JOIN b ON a.user_id = b.user_id
 AND b.eb >= a.ea - 600 AND b.eb < a.ea
""",
    "multimodal_stats": """
WITH assets AS (
  SELECT doc_id AS asset_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         encode(text) AS payload,
         CAST(n_chars % 640 AS INT) AS width,
         CAST(n_chars % 24 AS INT) AS n_frames
  FROM documents
)
SELECT kind, CAST(count(*) AS BIGINT) AS n_assets,
       CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
       CAST(max(width) AS INT) AS max_width
FROM assets GROUP BY kind
""",
    # the stub decode is f_i = sum(payload[i::FEATURE_DIM]) % FEATURE_MOD over
    # utf-8 bytes. The oracle is byte-based (hex(encode(text)) pairs), not
    # char-based, so multi-byte text cannot silently diverge from the Spark
    # side; the stride/modulus are derived from the SAME constants the stub
    # decode uses (operators/multimodal.py) so they cannot desynchronize.
    "multimodal_features": _multimodal_features_oracle(),
    "model_score": _model_score_oracle(),
    "sketch_topk": """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
  FROM documents
)
SELECT term, CAST(count(*) AS BIGINT) AS exact_count, TRUE AS within_bound
FROM toks WHERE term <> ''
GROUP BY term
ORDER BY exact_count DESC, term
LIMIT 20
""",
    "multimodal_resize": """
SELECT doc_id AS asset_id,
       CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0 ELSE 16 * 8 END
            AS BIGINT) AS n_bytes,
       CAST(16 AS INT) AS width,
       CAST(8 AS INT) AS height
FROM documents WHERE doc_id % 3 = 0
""",
    "multimodal_frames": """
WITH assets AS (
  SELECT doc_id AS asset_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         CAST(n_chars % 24 AS INT) AS n_frames
  FROM documents
)
SELECT asset_id, CAST(f.i AS INT) AS frame_idx
FROM assets, unnest(range(0, n_frames)) f(i)
WHERE kind = 'video' AND f.i % 4 = 0
""",
    "ann_bruteforce_topk": f"""
WITH {_D_QUANT},
q AS (SELECT vec_id AS q_id, iv AS q_iv, n2 AS q_n2 FROM v WHERE vec_id < 10),
scored AS (
  SELECT q.q_id, v.vec_id AS neighbor_id,
         {_D_SIM.format(dot=_D_IDOT.format(a="v.iv", b="q.q_iv"), na2="v.n2", nb2="q.q_n2")} AS sim_e6
  FROM v, q WHERE v.vec_id <> q.q_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY sim_e6 DESC, neighbor_id) AS rn
  FROM scored
)
SELECT q_id, CAST(rn AS BIGINT) AS rank, neighbor_id, sim_e6
FROM ranked WHERE rn <= 10
""",
    "ann_lsh_topk": f"""
WITH {_D_QUANT},
planes AS (
  SELECT t1.p, t2.d,
         ({_D_H60.format(e="'plane' || CAST(t1.p AS VARCHAR) || '_' || CAST(t2.d AS VARCHAR)")}
          % 2001) - 1000 AS c
  FROM range(0, 8) t1(p), range(0, 64) t2(d)
),
bdots AS (
  SELECT v.vec_id, pl.p, CAST(sum(v.iv[pl.d + 1] * pl.c) AS BIGINT) AS pdot
  FROM v, planes pl GROUP BY 1, 2
),
buckets AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN pdot > 0
                       THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM bdots GROUP BY vec_id
),
vb AS (SELECT v.*, b.bucket FROM v JOIN buckets b USING (vec_id)),
q AS (SELECT vec_id AS q_id, iv AS q_iv, n2 AS q_n2, bucket
      FROM vb WHERE vec_id < 10),
scored AS (
  SELECT q.q_id, vb.vec_id AS neighbor_id,
         {_D_SIM.format(dot=_D_IDOT.format(a="vb.iv", b="q.q_iv"), na2="vb.n2", nb2="q.q_n2")} AS sim_e6
  FROM vb JOIN q ON vb.bucket = q.bucket AND vb.vec_id <> q.q_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY sim_e6 DESC, neighbor_id) AS rn
  FROM scored
)
SELECT q_id, CAST(rn AS BIGINT) AS rank, neighbor_id, sim_e6
FROM ranked WHERE rn <= 10
""",
    "ann_ivf_topk": f"""
WITH {_D_QUANT},
cents AS (
  SELECT vec_id AS cent_id, iv AS c_iv, n2 AS c_n2 FROM v WHERE vec_id < 16
),
cscore AS (
  SELECT v.vec_id, c.cent_id,
         {_D_SIM.format(dot=_D_IDOT.format(a="v.iv", b="c.c_iv"), na2="v.n2", nb2="c.c_n2")} AS c_sim
  FROM v, cents c
),
cranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY c_sim DESC, cent_id) AS crn
  FROM cscore
),
inverted AS (
  SELECT v.*, r.cent_id AS cell FROM v
  JOIN cranked r ON v.vec_id = r.vec_id AND r.crn = 1
),
probes AS (
  SELECT vec_id AS q_id, cent_id AS cell FROM cranked
  WHERE vec_id < 10 AND crn <= 4
),
q AS (SELECT vec_id AS q_id, iv AS q_iv, n2 AS q_n2 FROM v WHERE vec_id < 10),
scored AS (
  SELECT q.q_id, i.vec_id AS neighbor_id,
         {_D_SIM.format(dot=_D_IDOT.format(a="i.iv", b="q.q_iv"), na2="i.n2", nb2="q.q_n2")} AS sim_e6
  FROM inverted i
  JOIN probes p ON i.cell = p.cell
  JOIN q ON q.q_id = p.q_id
  WHERE i.vec_id <> q.q_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY sim_e6 DESC, neighbor_id) AS rn
  FROM scored
)
SELECT q_id, CAST(rn AS BIGINT) AS rank, neighbor_id, sim_e6
FROM ranked WHERE rn <= 10
""",
    "embed_neardup": f"""
WITH {_D_QUANT},
corpus AS (
  SELECT vec_id, label, iv, n2 FROM v
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id, label, iv, n2 FROM v
)
SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
       {_D_SIM.format(dot=_D_IDOT.format(a="a.iv", b="b.iv"), na2="a.n2", nb2="b.n2")} AS sim_e6
FROM corpus a JOIN corpus b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_D_SIM.format(dot=_D_IDOT.format(a="a.iv", b="b.iv"), na2="a.n2", nb2="b.n2")} >= 990000
""",
    "embed_dedup_clusters": f"""
WITH RECURSIVE {_D_QUANT},
corpus AS (
  SELECT vec_id, label, iv, n2 FROM v
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id, label, iv, n2 FROM v
),
pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM corpus a JOIN corpus b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {_D_SIM.format(dot=_D_IDOT.format(a="a.iv", b="b.iv"),
                       na2="a.n2", nb2="b.n2")} >= 990000
),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT c.vec_id,
       CAST(least(c.vec_id, coalesce(m.mn, c.vec_id)) AS BIGINT) AS cluster_id
FROM corpus c
LEFT JOIN (SELECT src, min(dst) AS mn FROM reach GROUP BY src) m
  ON c.vec_id = m.src
""",
    "stream_sessions": """
WITH e AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
),
f AS (
  SELECT *, CASE WHEN lag(es) OVER w IS NULL OR es - lag(es) OVER w > 1800
                 THEN 1 ELSE 0 END AS new_session
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
),
n AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY es, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM f
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(min(es) AS BIGINT) AS session_start,
       CAST(max(es) AS BIGINT) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(es) - min(es) AS BIGINT) AS duration_secs
FROM n GROUP BY user_id, session_seq
""",
    "tpch_q2_min_cost": f"""
WITH supply AS (
  SELECT l_partkey, l_suppkey,
         min(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS cost_cents
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eu AS (
  SELECT s.s_suppkey, s.s_name, n.n_name
  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = '{TPCH_P["q2_region"]}'
),
ranked AS (
  SELECT p.p_partkey, p.p_name, eu.s_name, eu.n_name, sp.cost_cents,
         min(sp.cost_cents) OVER (PARTITION BY p.p_partkey) AS min_cost
  FROM supply sp
  JOIN part p ON sp.l_partkey = p.p_partkey
  JOIN eu ON sp.l_suppkey = eu.s_suppkey
  WHERE p.p_type = '{TPCH_P["q2_type"]}'
    AND p.p_size <= {TPCH_P["q2_max_size"]}
)
SELECT p_partkey, p_name, s_name, n_name,
       CAST(cost_cents AS BIGINT) AS cost_cents
FROM ranked WHERE cost_cents = min_cost
""",
    "tpch_q4_order_priority": f"""
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '{TPCH_P["q4_lo"]}'
  AND o.o_orderdate < TIMESTAMP '{TPCH_P["q4_hi"]}'
  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate
                                 + INTERVAL {TPCH_P["q4_late_days"]} DAY)
GROUP BY o.o_orderpriority
""",
    "tpch_q7_volume_shipping": f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = '{TPCH_P["q7_nation_a"]}'
         AND n2.n_name = '{TPCH_P["q7_nation_b"]}')
    OR (n1.n_name = '{TPCH_P["q7_nation_b"]}'
         AND n2.n_name = '{TPCH_P["q7_nation_a"]}'))
  AND l.l_shipdate >= TIMESTAMP '{TPCH_P["q7_lo"]}'
  AND l.l_shipdate < TIMESTAMP '{TPCH_P["q7_hi"]}'
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
""",
    "tpch_q8_market_share": f"""
WITH all_rev AS (
  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
         CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0) AS BIGINT)
           AS cents,
         n1.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  JOIN region r ON n2.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE r.r_name = '{TPCH_P["q8_region"]}'
    AND p.p_type = '{TPCH_P["q8_type"]}'
)
SELECT o_year,
       CAST((1000 * sum(CASE WHEN supp_nation = '{TPCH_P["q8_nation"]}'
                             THEN cents ELSE 0 END))
            // sum(cents) AS BIGINT) AS share_permille
FROM all_rev GROUP BY o_year
""",
    "tpch_q9_profit": f"""
SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS INT) AS o_year,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                     AS BIGINT)
              - CAST(round(p.p_retailprice
                           * {TPCH_P["q9_cost_decicents"]}, 0) AS BIGINT)
                * CAST(round(l.l_quantity, 0) AS BIGINT)) AS BIGINT)
         AS profit_cents
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%{TPCH_P["q9_pattern"]}%'
GROUP BY n.n_name, year(l.l_shipdate)
""",
    "tpch_q14_promo_share": f"""
SELECT CAST((1000 * sum(CASE WHEN p.p_type = '{TPCH_P["q14_type"]}'
            THEN CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                 AS BIGINT) ELSE 0 END))
         // sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
              AS BIGINT))
         AS BIGINT) AS promo_permille
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '{TPCH_P["q14_lo"]}'
  AND l.l_shipdate < TIMESTAMP '{TPCH_P["q14_hi"]}'
""",
    "tpch_q16_supplier_cnt": f"""
WITH pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
)
SELECT p.p_brand, p.p_type, CAST(p.p_size AS INT) AS p_size,
       CAST(count(DISTINCT pr.l_suppkey) AS BIGINT) AS supplier_cnt
FROM pairs pr JOIN part p ON pr.l_partkey = p.p_partkey
WHERE p.p_brand <> '{TPCH_P["q16_excl_brand"]}'
  AND p.p_size IN ({", ".join(map(str, TPCH_P["q16_sizes"]))})
  AND pr.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
""",
    "tpch_q19_disjunctive": """
SELECT CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
            AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE """
    + "\n   OR ".join(
        f"(p.p_brand = '{b}' AND p.p_size BETWEEN {slo} AND {shi}\n"
        f"       AND l.l_quantity BETWEEN {qlo} AND {qhi})"
        for b, slo, shi, qlo, qhi in TPCH_P["q19_arms"]
    )
    + "\n",
    "tpch_q20_excess_suppliers": f"""
WITH shipped AS (
  SELECT l.l_partkey, l.l_suppkey,
         CAST(sum(CAST(round(l.l_quantity, 0) AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_name LIKE '%{TPCH_P["q20_pattern"]}%'
  GROUP BY l.l_partkey, l.l_suppkey
),
tot AS (
  SELECT l_partkey, sum(qty) AS total_qty FROM shipped GROUP BY l_partkey
)
SELECT DISTINCT s.s_name, n.n_name
FROM shipped sh
JOIN tot ON sh.l_partkey = tot.l_partkey
JOIN supplier s ON sh.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE {TPCH_P["q20_share_div"]} * sh.qty > tot.total_qty
""",
    "tpch_q21_waiting": f"""
WITH o_late AS (
  SELECT l.l_orderkey,
         count(DISTINCT l.l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l.l_shipdate > o.o_orderdate
                                  + INTERVAL {TPCH_P["q21_late_days"]} DAY
                             THEN l.l_suppkey END) AS n_late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY l.l_orderkey
),
blame AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l.l_shipdate > o.o_orderdate
                       + INTERVAL {TPCH_P["q21_late_days"]} DAY
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM blame b
JOIN o_late ol ON b.l_orderkey = ol.l_orderkey
JOIN supplier s ON b.l_suppkey = s.s_suppkey
WHERE ol.n_supp > 1 AND ol.n_late = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
""",
    "tpch_q15_top_supplier": f"""
WITH revenue AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                  AS BIGINT)) AS BIGINT) AS total_revenue_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{TPCH_P["q15_lo"]}'
    AND l_shipdate < TIMESTAMP '{TPCH_P["q15_hi"]}'
  GROUP BY l_suppkey
)
SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name,
       r.total_revenue_cents
FROM revenue r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_revenue_cents = (SELECT max(total_revenue_cents) FROM revenue)
""",
    "sessionize_batch": f"""
WITH seq AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         lag(CAST(floor(epoch(ts)) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY floor(epoch(ts)), event_id)
           AS prev_es
  FROM events
),
marked AS (
  SELECT user_id, event_id, es,
         CASE WHEN prev_es IS NULL
                OR es - prev_es > {TPCH_P["session_gap_s"]}
              THEN 1 ELSE 0 END AS is_new
  FROM seq
),
sess AS (
  SELECT user_id, es,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY es, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM marked
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(min(es) AS BIGINT) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(es) - min(es) AS BIGINT) AS duration_sec
FROM sess GROUP BY user_id, session_idx
""",
}

# ---- r8 oracle twins (batch 6) ----------------------------------------

def _event_paths_oracle() -> str:
    from tepsonic_database_sync_spark.operators.events import PATHS_TOPK

    return f"""
WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
tri AS (
  SELECT event_type,
         lag(event_type, 1) OVER w AS prev1_type,
         lag(event_type, 2) OVER w AS prev2_type
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
),
counts AS (
  SELECT prev2_type, prev1_type, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM tri WHERE prev2_type IS NOT NULL
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT *,
         CAST((n * 1000)
              // sum(n) OVER (PARTITION BY prev2_type, prev1_type)
              AS BIGINT) AS p_permille
  FROM counts
)
SELECT prev2_type, prev1_type, event_type, n, p_permille
FROM scored
ORDER BY n DESC, prev2_type ASC, prev1_type ASC, event_type ASC
LIMIT {PATHS_TOPK}
"""


# ---- r8 oracle twins (batch 5) ----------------------------------------

def _epoch_order_oracle() -> str:
    from tepsonic_database_sync_spark.operators.sampling import (
        EPOCHS_DEFAULT,
    )

    h = _D_H60.format(
        e="'epoch:' || CAST(e.epoch AS VARCHAR) || ':'"
          " || CAST(d.doc_id AS VARCHAR)"
    )
    return f"""
WITH e AS (SELECT unnest(range(0, {EPOCHS_DEFAULT})) AS epoch),
x AS (
  SELECT d.doc_id, CAST(e.epoch AS BIGINT) AS epoch, {h} AS h
  FROM documents d CROSS JOIN e
)
SELECT doc_id, epoch,
       CAST(row_number() OVER (PARTITION BY epoch
                               ORDER BY h, doc_id) AS BIGINT) AS position
FROM x
"""


# ---- r8 oracle twins (batch 3) ----------------------------------------

def _domain_cap_oracle() -> str:
    h = _D_H60.format(e="'cap:' || CAST(q.doc_id AS VARCHAR)")
    return f"""
WITH tq AS (SELECT * FROM ({_O["text_quality"]})),
q AS (
  SELECT d.doc_id, d.source, tq.quality
  FROM documents d JOIN tq ON d.doc_id = tq.doc_id
),
r AS (
  SELECT q.doc_id, q.source, q.quality,
         row_number() OVER (PARTITION BY q.source
                            ORDER BY q.quality DESC, {h}, q.doc_id) AS rn
  FROM q
)
SELECT doc_id, source, CAST(quality AS BIGINT) AS priority
FROM r WHERE rn <= {DOMAIN_CAP_N}
"""


def _lsh_quality_oracle() -> str:
    return f"""
WITH {_D_TOKS}{_D_SHINGLES}{_D_MINHASH_SIGS},
banded AS (
  SELECT doc_id, i // 4 AS band,
         md5(array_to_string(list_sort(list(CAST(sig AS VARCHAR))), ','))
           AS band_key
  FROM sigs GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
truth AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
    AND len(list_intersect(a.shingles, b.shingles)) * 1000
        >= (len(a.shingles) + len(b.shingles)
            - len(list_intersect(a.shingles, b.shingles)))
           * {PREFIX_TAU_PERMILLE}
),
s AS (
  SELECT (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM cand) AS n_cand,
         (SELECT count(*) FROM truth t JOIN cand c
            ON t.a_id = c.a_id AND t.b_id = c.b_id) AS n_hit
)
SELECT CAST(n_true AS BIGINT) AS n_true, CAST(n_cand AS BIGINT) AS n_cand,
       CAST(n_hit AS BIGINT) AS n_hit,
       CAST(CASE WHEN n_true > 0 THEN (1000 * n_hit) // n_true
                 ELSE -1 END AS BIGINT) AS recall_permille,
       CAST(CASE WHEN n_cand > 0 THEN (1000 * n_hit) // n_cand
                 ELSE -1 END AS BIGINT) AS precision_permille
FROM s
"""


def _blocking_quality_sampled_oracle() -> str:
    from tepsonic_database_sync_spark.operators.dedup import (
        BQ_SAMPLE_PERMILLE,
    )

    # same pipeline as _lsh_quality_oracle, but every stage reads the
    # h60-hash-sampled sub-corpus (the Spark side's salt='bq' filter)
    toks_sampled = _D_TOKS.replace(
        "FROM documents",
        "FROM documents WHERE ("
        + _D_H60.format(e="'bq#' || CAST(doc_id AS VARCHAR)")
        + f" % 1000) < {BQ_SAMPLE_PERMILLE}",
    )
    return f"""
WITH {toks_sampled}{_D_SHINGLES}{_D_MINHASH_SIGS},
banded AS (
  SELECT doc_id, i // 4 AS band,
         md5(array_to_string(list_sort(list(CAST(sig AS VARCHAR))), ','))
           AS band_key
  FROM sigs GROUP BY doc_id, i // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
truth AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
    AND len(list_intersect(a.shingles, b.shingles)) * 1000
        >= (len(a.shingles) + len(b.shingles)
            - len(list_intersect(a.shingles, b.shingles)))
           * {PREFIX_TAU_PERMILLE}
),
s AS (
  SELECT (SELECT count(*) FROM toks) AS n_docs_sampled,
         (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM cand) AS n_cand,
         (SELECT count(*) FROM truth t JOIN cand c
            ON t.a_id = c.a_id AND t.b_id = c.b_id) AS n_hit
)
SELECT CAST({BQ_SAMPLE_PERMILLE} AS BIGINT) AS sample_permille,
       CAST(n_docs_sampled AS BIGINT) AS n_docs_sampled,
       CAST(n_true AS BIGINT) AS n_true, CAST(n_cand AS BIGINT) AS n_cand,
       CAST(n_hit AS BIGINT) AS n_hit,
       CAST(CASE WHEN n_true > 0 THEN (1000 * n_hit) // n_true
                 ELSE -1 END AS BIGINT) AS recall_permille,
       CAST(CASE WHEN n_cand > 0 THEN (1000 * n_hit) // n_cand
                 ELSE -1 END AS BIGINT) AS precision_permille
FROM s
"""


# ---- r8 oracle twins (batch 2) ----------------------------------------

def _graph_components_oracle() -> str:
    from tepsonic_database_sync_spark.operators.recommend import MAX_BASKET

    return f"""
WITH RECURSIVE
bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
ok AS (SELECT b FROM bi GROUP BY b HAVING count(*) <= {MAX_BASKET}),
cap AS (SELECT bi.b, bi.i FROM bi JOIN ok USING (b)),
pairs AS (
  SELECT a.i AS a_id, c.i AS b_id
  FROM cap a JOIN cap c ON a.b = c.b AND a.i < c.i
  GROUP BY 1, 2 HAVING count(*) >= 2
),
edges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
nodes AS (SELECT DISTINCT i AS node FROM cap)
SELECT n.node,
       CAST(least(n.node, coalesce(m.mn, n.node)) AS BIGINT) AS comp
FROM nodes n
LEFT JOIN (SELECT src, min(dst) AS mn FROM reach GROUP BY src) m
  ON n.node = m.src
"""


def _interval_join_oracle() -> str:
    from tepsonic_database_sync_spark.operators.timeseries import (
        INCIDENT_SPAN_S,
        INCIDENT_VALUE_MIN,
    )

    return f"""
WITH ev AS (
  SELECT event_id, event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
acts AS (
  SELECT event_type || ':' || CAST(es // 86400 AS VARCHAR) AS a_id,
         min(es) AS a_start, max(es) + 1 AS a_end
  FROM ev GROUP BY event_type, es // 86400
),
incid AS (
  SELECT event_id AS b_id, es AS b_start,
         es + {INCIDENT_SPAN_S} AS b_end
  FROM ev WHERE CAST(round(value * 100, 0) AS BIGINT) >= {INCIDENT_VALUE_MIN * 100}
)
SELECT a.a_id, i.b_id,
       CAST(least(a.a_end, i.b_end) - greatest(a.a_start, i.b_start)
            AS BIGINT) AS overlap_sec
FROM acts a JOIN incid i
  ON a.a_start < i.b_end AND i.b_start < a.a_end
"""


def _rrf_fusion_oracle() -> str:
    from tepsonic_database_sync_spark.operators.recommend import (
        RRF_K,
        RRF_SCALE,
    )

    return f"""
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS rev_cents,
         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
  FROM lineitem GROUP BY 1
),
rankings AS (
  SELECT l_partkey AS key, 'revenue' AS ranker,
         row_number() OVER (ORDER BY rev_cents DESC, l_partkey ASC) AS rank
  FROM per_part
  UNION ALL
  SELECT l_partkey, 'breadth',
         row_number() OVER (ORDER BY n_orders DESC, l_partkey ASC)
  FROM per_part
),
scored AS (
  SELECT key, CAST(count(DISTINCT ranker) AS BIGINT) AS n_rankers,
         CAST(sum({RRF_SCALE} // ({RRF_K} + rank)) AS BIGINT) AS rrf_micro
  FROM rankings WHERE rank <= 200 GROUP BY key
)
SELECT key, n_rankers, rrf_micro FROM scored
ORDER BY rrf_micro DESC, key ASC LIMIT 50
"""


def _window_funnel_oracle() -> str:
    from tepsonic_database_sync_spark.operators.events import (
        WFUNNEL_HORIZON_S,
    )

    h = WFUNNEL_HORIZON_S
    return f"""
WITH ev AS (
  SELECT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events
),
s0 AS (SELECT DISTINCT user_id, es AS t0 FROM ev WHERE event_type = 'signup'),
s1 AS (SELECT DISTINCT user_id, es AS t FROM ev WHERE event_type = 'view'),
s2 AS (SELECT DISTINCT user_id, es AS t FROM ev WHERE event_type = 'purchase'),
a1 AS (
  SELECT s0.user_id, s0.t0, min(s1.t) AS t1
  FROM s0 JOIN s1 ON s0.user_id = s1.user_id
   AND s1.t > s0.t0 AND s1.t <= s0.t0 + {h}
  GROUP BY 1, 2
),
c1 AS (SELECT s0.user_id, s0.t0, a1.t1
       FROM s0 LEFT JOIN a1 ON s0.user_id = a1.user_id AND s0.t0 = a1.t0),
a2 AS (
  SELECT c1.user_id, c1.t0, min(s2.t) AS t2
  FROM c1 JOIN s2 ON c1.user_id = s2.user_id
   AND s2.t > c1.t1 AND s2.t <= c1.t0 + {h}
  GROUP BY 1, 2
),
c2 AS (SELECT c1.user_id, c1.t0, c1.t1, a2.t2
       FROM c1 LEFT JOIN a2 ON c1.user_id = a2.user_id AND c1.t0 = a2.t0)
SELECT user_id,
       CAST(max(CASE WHEN t2 IS NOT NULL THEN 3
                     WHEN t1 IS NOT NULL THEN 2 ELSE 1 END)
            AS BIGINT) AS steps
FROM c2 GROUP BY user_id
"""


def _embed_outliers_oracle() -> str:
    from tepsonic_database_sync_spark.operators.similarity import (
        EMBOUT_TOPK,
        QUANT_SCALE,
    )

    return f"""
WITH iv0 AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT_SCALE}, 0)
                                  AS BIGINT)) AS iv
  FROM embeddings
),
coords AS (
  SELECT label, vec_id, CAST(r.pos - 1 AS BIGINT) AS pos,
         iv[CAST(r.pos AS INT)] AS x
  FROM iv0, unnest(range(1, len(iv) + 1)) r(pos)
),
cent AS (
  SELECT label, pos, CAST(sum(x) // count(*) AS BIGINT) AS c
  FROM coords GROUP BY 1, 2
),
d2 AS (
  SELECT coords.label, coords.vec_id,
         CAST(sum((x - c) * (x - c)) AS BIGINT) AS d2
  FROM coords JOIN cent
    ON coords.label = cent.label AND coords.pos = cent.pos
  GROUP BY 1, 2
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY label
             ORDER BY d2 DESC, vec_id ASC) AS out_rank
  FROM d2
)
SELECT label, vec_id, d2, CAST(out_rank AS BIGINT) AS out_rank
FROM r WHERE out_rank <= {EMBOUT_TOPK}
"""


# ---- r8 oracle twins ---------------------------------------------------

_D_ISQRT = (
    "CASE WHEN (CAST(floor(sqrt(CAST(({x}) AS DOUBLE))) AS BIGINT) + 1)"
    "          * (CAST(floor(sqrt(CAST(({x}) AS DOUBLE))) AS BIGINT) + 1)"
    "          <= ({x})"
    "     THEN CAST(floor(sqrt(CAST(({x}) AS DOUBLE))) AS BIGINT) + 1 "
    "     WHEN CAST(floor(sqrt(CAST(({x}) AS DOUBLE))) AS BIGINT)"
    "          * CAST(floor(sqrt(CAST(({x}) AS DOUBLE))) AS BIGINT) > ({x})"
    "     THEN CAST(floor(sqrt(CAST(({x}) AS DOUBLE))) AS BIGINT) - 1 "
    "     ELSE CAST(floor(sqrt(CAST(({x}) AS DOUBLE))) AS BIGINT) END"
)

_PS_EDGES_SQL = """pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
edges AS (
  SELECT 'p' || CAST(l_partkey AS VARCHAR) AS src,
         's' || CAST(l_suppkey AS VARCHAR) AS dst FROM pairs
  UNION ALL
  SELECT 's' || CAST(l_suppkey AS VARCHAR),
         'p' || CAST(l_partkey AS VARCHAR) FROM pairs
)"""


def _bfs_oracle() -> str:
    """DuckDB twin of operators.graph.bfs_hops on the part↔supplier
    graph: one frontier CTE per hop, min-hop reduction at the end."""
    from tepsonic_database_sync_spark.operators.graph import BFS_MAX_HOPS

    ctes = [
        _PS_EDGES_SQL,
        f"""f0 AS (SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS node
      FROM lineitem WHERE l_partkey % {R8_P["bfs_seed_mod"]} = 0)""",
    ]
    levels = ["SELECT node, 0 AS hops FROM f0"]
    for h in range(1, BFS_MAX_HOPS + 1):
        ctes.append(
            f"""f{h} AS (SELECT DISTINCT e.dst AS node
      FROM edges e JOIN f{h - 1} ON e.src = f{h - 1}.node)"""
        )
        levels.append(f"SELECT node, {h} AS hops FROM f{h}")
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT node, CAST(min(hops) AS BIGINT) AS hops FROM (\n  "
        + "\n  UNION ALL ".join(levels)
        + "\n) GROUP BY node"
    )


_LINEAR_INTERP_ORACLE = """
WITH obs AS (
  SELECT event_type AS key,
         CAST((CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600
              AS BIGINT) AS bucket_es,
         CAST(count(*) AS BIGINT) AS n_events,
         max(CAST(round(value * 100, 0) AS BIGINT)) AS v_max
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT key,
         CAST(unnest(generate_series(b0, b1, 3600)) AS BIGINT) AS bucket_es
  FROM (SELECT key, min(bucket_es) AS b0, max(bucket_es) AS b1
        FROM obs GROUP BY key)
),
j AS (
  SELECT g.key, g.bucket_es,
         CAST(coalesce(o.n_events, 0) AS BIGINT) AS n_events,
         o.n_events IS NULL AS is_gap,
         last_value(o.v_max IGNORE NULLS) OVER wb AS vp,
         last_value(CASE WHEN o.v_max IS NOT NULL THEN g.bucket_es END
                    IGNORE NULLS) OVER wb AS tp,
         first_value(o.v_max IGNORE NULLS) OVER wf AS vn,
         first_value(CASE WHEN o.v_max IS NOT NULL THEN g.bucket_es END
                     IGNORE NULLS) OVER wf AS tn
  FROM grid g LEFT JOIN obs o
    ON g.key = o.key AND g.bucket_es = o.bucket_es
  WINDOW wb AS (PARTITION BY g.key ORDER BY g.bucket_es
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY g.key ORDER BY g.bucket_es
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT key, bucket_es, n_events,
       CAST(CASE WHEN NOT is_gap THEN vp
                 ELSE (vp * (tn - bucket_es) + vn * (bucket_es - tp))
                      // (tn - tp) END AS BIGINT) AS value_cents,
       is_gap
FROM j
"""

_SEASONAL_ORACLE = """
WITH m AS (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS max_es
           FROM events),
s AS (
  SELECT event_type,
         CAST((((CAST(floor(epoch(ts)) AS BIGINT) // 86400) + 4) % 7) * 24
              + (CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600
              AS BIGINT) AS how,
         CAST(floor(epoch(ts)) AS BIGINT) >= max_es - 604800 AS cur
  FROM events, m
),
cells AS (
  SELECT event_type, how,
         CAST(sum(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS BIGINT) AS base_n,
         CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
  FROM s GROUP BY 1, 2
),
tot AS (
  SELECT *,
         sum(base_n) OVER (PARTITION BY event_type) AS bt,
         sum(cur_n) OVER (PARTITION BY event_type) AS ct
  FROM cells
)
SELECT event_type, how, base_n, cur_n,
       CAST(CASE WHEN bt > 0 THEN (base_n * 1000) // bt ELSE 0 END
            AS BIGINT) AS base_permille,
       CAST(CASE WHEN ct > 0 THEN (cur_n * 1000) // ct ELSE 0 END
            AS BIGINT) AS cur_permille,
       CAST((CASE WHEN ct > 0 THEN (cur_n * 1000) // ct ELSE 0 END)
            - (CASE WHEN bt > 0 THEN (base_n * 1000) // bt ELSE 0 END)
            AS BIGINT) AS delta_permille
FROM tot
"""

_GROUPED_REGRESSION_ORACLE = """
WITH o AS (
  SELECT o_orderpriority,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS x,
         CAST(round(o_totalprice, 0) AS BIGINT) AS y
  FROM orders
),
a AS (
  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(min(x) AS BIGINT) AS x0
  FROM o GROUP BY 1
),
c AS (
  SELECT *, sx - n * x0 AS sxc,
         sxx - 2 * x0 * sx + n * x0 * x0 AS sxxc,
         sxy - x0 * sy AS sxyc
  FROM a
),
d AS (
  SELECT *, n * sxyc - sxc * sy AS num, n * sxxc - sxc * sxc AS den
  FROM c
),
e AS (
  SELECT *,
         CASE WHEN den > 0
              THEN (num // den) * 1000 + ((num % den) * 1000) // den
              ELSE 0 END AS slope_milli
  FROM d
)
SELECT o_orderpriority, n, x0,
       CAST(slope_milli AS BIGINT) AS slope_milli,
       CAST((1000 * sy - slope_milli * sxc) // n AS BIGINT)
         AS intercept_milli
FROM e
"""


def _chi_square_oracle() -> str:
    """DuckDB twin of operators.profile.chi_square_cells on
    segment × priority, same quantized deviation and milli split."""
    from tepsonic_database_sync_spark.operators.profile import CHI_QUANT

    q = CHI_QUANT
    return f"""
WITH j AS (
  SELECT c.c_mktsegment, o.o_orderpriority
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
cells AS (
  SELECT c_mktsegment, o_orderpriority,
         CAST(count(*) AS BIGINT) AS observed
  FROM j GROUP BY 1, 2
),
rv AS (SELECT c_mktsegment, CAST(sum(observed) AS BIGINT) AS rt
       FROM cells GROUP BY 1),
cv AS (SELECT o_orderpriority, CAST(sum(observed) AS BIGINT) AS ct
       FROM cells GROUP BY 1),
tot AS (SELECT CAST(sum(rt) AS BIGINT) AS nn FROM rv),
dense AS (
  SELECT rv.c_mktsegment, cv.o_orderpriority, rv.rt, cv.ct, tot.nn,
         CAST(coalesce(c.observed, 0) AS BIGINT) AS observed
  FROM rv CROSS JOIN cv CROSS JOIN tot
  LEFT JOIN cells c
    ON rv.c_mktsegment = c.c_mktsegment
   AND cv.o_orderpriority = c.o_orderpriority
),
d AS (SELECT *, nn * observed - rt * ct AS dd FROM dense)
SELECT c_mktsegment, o_orderpriority, observed,
       CAST((1000 * rt * ct) // nn AS BIGINT) AS expected_milli,
       CAST(((dd // {q}) * (dd // {q})
             // greatest((nn * rt * ct) // {q * q}, 1)) * 1000
            + (((dd // {q}) * (dd // {q})
                % greatest((nn * rt * ct) // {q * q}, 1))
               * 1000) // greatest((nn * rt * ct) // {q * q}, 1)
            AS BIGINT) AS contrib_milli
FROM d
"""


def _class_balance_oracle() -> str:
    h = _D_H60.format(e="'bal:' || CAST(o_orderkey AS VARCHAR)")
    return f"""
WITH m AS (
  SELECT min(cnt) AS m
  FROM (SELECT count(*) AS cnt FROM orders GROUP BY o_orderpriority)
),
r AS (
  SELECT o_orderkey, o_orderpriority,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY {h}, o_orderkey) AS rn
  FROM orders
)
SELECT o_orderkey, o_orderpriority FROM r, m WHERE rn <= m.m
"""


def _item_cooccur_oracle() -> str:
    from tepsonic_database_sync_spark.operators.recommend import (
        MAX_BASKET,
        MIN_SUPPORT,
        TOPK_PER_ITEM,
    )

    return f"""
WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
ok AS (SELECT b FROM bi GROUP BY b HAVING count(*) <= {MAX_BASKET}),
cap AS (SELECT bi.b, bi.i FROM bi JOIN ok USING (b)),
nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS nb FROM cap),
cnt AS (SELECT i, CAST(count(*) AS BIGINT) AS cnt FROM cap GROUP BY i),
pr AS (
  SELECT a.i AS ia, c.i AS ib, CAST(count(*) AS BIGINT) AS support
  FROM cap a JOIN cap c ON a.b = c.b AND a.i != c.i
  GROUP BY 1, 2 HAVING count(*) >= {MIN_SUPPORT}
),
sc AS (
  SELECT pr.ia AS item_a, pr.ib AS item_b, pr.support,
         CAST((1000 * pr.support * nb.nb) // (ca.cnt * cb.cnt) AS BIGINT)
           AS lift_milli,
         CAST((1000 * pr.support) // ca.cnt AS BIGINT) AS conf_milli
  FROM pr CROSS JOIN nb
  JOIN cnt ca ON pr.ia = ca.i
  JOIN cnt cb ON pr.ib = cb.i
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY item_a
             ORDER BY lift_milli DESC, support DESC, item_b ASC) AS rn
  FROM sc
)
SELECT item_a, item_b, support, lift_milli, conf_milli
FROM r WHERE rn <= {TOPK_PER_ITEM}
"""


def _negative_sample_oracle() -> str:
    from tepsonic_database_sync_spark.operators.recommend import (
        NEG_CANDIDATES,
        NEG_PER_USER,
    )

    h = _D_H60.format(
        e="'neg:' || CAST(u AS VARCHAR) || ':' || CAST(i AS VARCHAR)"
    )
    return f"""
WITH pos AS (
  SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS i
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
top_items AS (
  SELECT i FROM (SELECT i, count(*) AS pop FROM pos GROUP BY i
                 ORDER BY pop DESC, i ASC LIMIT {NEG_CANDIDATES})
),
users AS (SELECT DISTINCT u FROM pos),
cand AS (SELECT u, i FROM users CROSS JOIN top_items),
neg AS (
  SELECT u, i FROM cand
  WHERE NOT EXISTS (SELECT 1 FROM pos
                    WHERE pos.u = cand.u AND pos.i = cand.i)
),
r AS (
  SELECT u, i,
         row_number() OVER (PARTITION BY u ORDER BY {h}, i) AS neg_rank
  FROM neg
)
SELECT u AS o_custkey, i AS l_partkey,
       CAST(neg_rank AS BIGINT) AS neg_rank
FROM r WHERE neg_rank <= {NEG_PER_USER}
"""


def _inverted_index_oracle() -> str:
    from tepsonic_database_sync_spark.operators.text import (
        INVIDX_MAX_POSTINGS,
        INVIDX_MIN_DF,
    )

    return rf"""
WITH toks AS (
  SELECT DISTINCT doc_id, t AS term
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        FROM documents)
  WHERE t != ''
)
SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       array_to_string(
         (list_sort(list(DISTINCT doc_id)))[1:{INVIDX_MAX_POSTINGS}], '|')
         AS postings
FROM toks GROUP BY term HAVING count(DISTINCT doc_id) >= {INVIDX_MIN_DF}
"""


def _tfidf_doc_sim_oracle() -> str:
    from tepsonic_database_sync_spark.operators.text import (
        TFIDF_DF_CAP,
        TFIDF_MIN_COS_PERMILLE,
        TFIDF_MIN_DF,
        TFIDF_TF_CAP,
    )

    iln = _d_iln("(1000 * nd.nd) // dfq.df")
    sa = _D_ISQRT.format(x="na2")
    sb = _D_ISQRT.format(x="nb2")
    return rf"""
WITH toked AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
),
sh0 AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS s
  FROM toked, unnest(range(1, len(t))) r(i)
),
sh AS (
  SELECT doc_id, s, CAST(least(count(*), {TFIDF_TF_CAP}) AS BIGINT) AS tf
  FROM sh0 GROUP BY 1, 2
),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM documents),
dfq AS (
  SELECT s, CAST(count(*) AS BIGINT) AS df
  FROM sh GROUP BY s
  HAVING count(*) BETWEEN {TFIDF_MIN_DF} AND {TFIDF_DF_CAP}
),
w AS (
  SELECT sh.doc_id, sh.s, CAST(sh.tf * ({iln}) AS BIGINT) AS w
  FROM sh JOIN dfq ON sh.s = dfq.s CROSS JOIN nd
),
norms AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS norm2
          FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(sum(a.w * b.w) AS BIGINT) AS dot
  FROM w a JOIN w b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT d.a_id, d.b_id, d.dot, na.norm2 AS na2, nb.norm2 AS nb2
  FROM dots d
  JOIN norms na ON d.a_id = na.doc_id
  JOIN norms nb ON d.b_id = nb.doc_id
),
q AS (SELECT *, {sa} AS sa, {sb} AS sb FROM j)
SELECT a_id, b_id, dot,
       CAST((1000 * dot) // (sa * sb) AS BIGINT) AS cos_permille
FROM q WHERE (1000 * dot) // (sa * sb) >= {TFIDF_MIN_COS_PERMILLE}
"""


def _chunk_dedup_oracle() -> str:
    from tepsonic_database_sync_spark.operators.dedup import (
        CHUNK_DEDUP_TOKENS,
    )

    c = CHUNK_DEDUP_TOKENS
    h = _D_H60.format(e="lower(chunk_text)")
    return rf"""
WITH toked AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents
),
sized AS (
  SELECT doc_id, t,
         CASE WHEN trim(array_to_string(t, ' ')) = '' THEN 0
              WHEN len(t) <= {c} THEN 1
              ELSE CAST(ceil((len(t) - {c}) / {c}.0) AS INT) + 1
         END AS n_chunks
  FROM toked
),
ch AS (
  SELECT s.doc_id, CAST(r.i AS BIGINT) AS idx,
         array_to_string(
           t[CAST(r.i AS INT) * {c} + 1 : CAST(r.i AS INT) * {c} + {c}],
           ' ') AS chunk_text
  FROM sized s, unnest(range(0, s.n_chunks)) r(i)
  WHERE s.n_chunks > 0
),
fp AS (SELECT *, {h} AS f FROM ch),
rn AS (
  SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id, idx) AS rn
  FROM fp
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END,
                           ' ' ORDER BY idx), '') AS kept_text
FROM rn GROUP BY doc_id
"""


def _layout_prune_oracle() -> str:
    from tepsonic_database_sync_spark.operators.layout import (
        LAYOUT_N_FILES,
        LAYOUT_PRED_PERMILLE,
        ZORDER_DIM_BITS,
        morton32_sql,
    )

    nf = LAYOUT_N_FILES
    z_shift = 2 * ZORDER_DIM_BITS - (nf.bit_length() - 1)
    grid_max = (1 << ZORDER_DIM_BITS) - 1
    lo = 500 - LAYOUT_PRED_PERMILLE // 2
    hi = 500 + LAYOUT_PRED_PERMILLE // 2
    return f"""
WITH pts AS (
  SELECT o_custkey AS x,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS y
  FROM orders
),
rng AS (SELECT min(x) AS x0, max(x) AS x1, min(y) AS y0, max(y) AS y1
        FROM pts),
norm AS (
  SELECT x, y,
         ((x - x0) * {grid_max}) // greatest(x1 - x0, 1) AS x16,
         ((y - y0) * {grid_max}) // greatest(y1 - y0, 1) AS y16
  FROM pts, rng
),
z AS (SELECT x, y, {morton32_sql("x16", "y16")} AS z FROM norm),
asg AS (
  SELECT x, y, 'zorder' AS layout, CAST(z >> {z_shift} AS BIGINT) AS file_id
  FROM z
  UNION ALL
  SELECT x, y, 'by_x',
         CAST(((x - x0) * {nf}) // greatest(x1 - x0 + 1, 1) AS BIGINT)
  FROM pts, rng
  UNION ALL
  SELECT x, y, 'by_y',
         CAST(((y - y0) * {nf}) // greatest(y1 - y0 + 1, 1) AS BIGINT)
  FROM pts, rng
),
zones AS (
  SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
         min(x) AS fx0, max(x) AS fx1, min(y) AS fy0, max(y) AS fy1
  FROM asg GROUP BY 1, 2
),
p AS (
  SELECT x0 + ((x1 - x0) * {lo}) // 1000 AS px_lo,
         x0 + ((x1 - x0) * {hi}) // 1000 AS px_hi,
         y0 + ((y1 - y0) * {lo}) // 1000 AS py_lo,
         y0 + ((y1 - y0) * {hi}) // 1000 AS py_hi
  FROM rng
),
pred AS (
  SELECT layout, n_rows, 'x_band' AS predicate,
         (fx0 <= px_hi AND fx1 >= px_lo) AS keep
  FROM zones, p
  UNION ALL
  SELECT layout, n_rows, 'y_band',
         (fy0 <= py_hi AND fy1 >= py_lo)
  FROM zones, p
)
SELECT layout, predicate, CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         AS files_scanned,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN keep THEN n_rows ELSE 0 END) AS BIGINT)
         AS rows_scanned
FROM pred GROUP BY 1, 2
"""


# name → (spark callable, oracle sql | None), in definition order.
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    "bfs_hops": (q_bfs_hops, _bfs_oracle()),
    "linear_interp": (q_linear_interp, _LINEAR_INTERP_ORACLE),
    "seasonal_profile": (q_seasonal_profile, _SEASONAL_ORACLE),
    "grouped_regression": (q_grouped_regression, _GROUPED_REGRESSION_ORACLE),
    "chi_square": (q_chi_square, _chi_square_oracle()),
    "class_balance": (q_class_balance, _class_balance_oracle()),
    "item_cooccur": (q_item_cooccur, _item_cooccur_oracle()),
    "negative_sample": (q_negative_sample, _negative_sample_oracle()),
    "inverted_index": (q_inverted_index, _inverted_index_oracle()),
    "tfidf_doc_sim": (q_tfidf_doc_sim, _tfidf_doc_sim_oracle()),
    "chunk_dedup": (q_chunk_dedup, _chunk_dedup_oracle()),
    "layout_prune": (q_layout_prune, _layout_prune_oracle()),
    "graph_components": (q_graph_components, _graph_components_oracle()),
    "dsir_select": (q_dsir_select, _dsir_oracle()),
    "mg_summary": (q_mg_summary, _mg_summary_oracle()),
    "dup_substring_rate": (q_dup_substring_rate, _dup_substring_rate_oracle()),
    "substring_dedup": (q_substring_dedup, _substring_dedup_oracle()),
    "substring_dedup_spans": (
        q_substring_dedup_spans,
        _substring_dedup_spans_oracle(),
    ),
    "substring_dedup_spans_verified": (
        q_substring_dedup_spans_verified,
        _substring_dedup_spans_verified_oracle(),
    ),
    "source_neardup_matrix": (
        q_source_neardup_matrix,
        _source_neardup_matrix_oracle(),
    ),
    "semdedup": (q_semdedup, _semdedup_oracle()),
    "semdedup_two_level": (
        q_semdedup_two_level,
        _semdedup_two_level_oracle(),
    ),
    "gopher_rules": (q_gopher_rules, _gopher_oracle()),
    "fineweb_filters": (q_fineweb_filters, _fineweb_oracle()),
    "mixture_rebalance": (q_mixture_rebalance, _mixture_rebalance_oracle()),
    "quality_stack": (q_quality_stack, _quality_stack_oracle()),
    "snapshot_dedup": (q_snapshot_dedup, _snapshot_dedup_oracle()),
    "snapshot_dedup_incremental":
        (q_snapshot_dedup_incremental, _snapshot_dedup_oracle()),
    "dedup_edit_verified":
        (q_dedup_edit_verified, _dedup_edit_verified_oracle()),
    "bpe_train": (q_bpe_train, _bpe_train_oracle()),
    "bpe_encode": (q_bpe_encode, _bpe_encode_oracle()),
    "ccnet_buckets": (q_ccnet_buckets, _ccnet_buckets_oracle()),
    "ccnet_buckets_pct": (q_ccnet_buckets_pct, _ccnet_buckets_pct_oracle()),
    "pack_sequences_bpe":
        (q_pack_sequences_bpe, _pack_sequences_bpe_oracle()),
    "bpe_fertility": (q_bpe_fertility, _bpe_fertility_oracle()),
    "mixture_rebalance_bpe":
        (q_mixture_rebalance_bpe, _mixture_rebalance_bpe_oracle()),
    "kcore": (q_kcore, _kcore_oracle()),
    "kmv_distinct": (q_kmv_distinct, _kmv_distinct_oracle()),
    "mmr_rerank": (q_mmr_rerank, _mmr_rerank_oracle()),
    "multimodal_phash_dedup": (q_multimodal_phash_dedup, _multimodal_phash_oracle()),
    "label_propagation": (q_label_propagation, _label_propagation_oracle()),
    "containment_pairs": (q_containment_pairs, _containment_oracle()),
    "rm3_feedback": (q_rm3_feedback, _rm3_oracle()),
    "l_diversity": (q_l_diversity, _l_diversity_oracle()),
    "interval_join": (q_interval_join, _interval_join_oracle()),
    "rrf_fusion": (q_rrf_fusion, _rrf_fusion_oracle()),
    "window_funnel": (q_window_funnel, _window_funnel_oracle()),
    "embed_outliers": (q_embed_outliers, _embed_outliers_oracle()),
    "domain_cap": (q_domain_cap, _domain_cap_oracle()),
    "lsh_quality": (q_lsh_quality, _lsh_quality_oracle()),
    "blocking_quality_sampled": (
        q_blocking_quality_sampled,
        _blocking_quality_sampled_oracle(),
    ),
    "epoch_order": (q_epoch_order, _epoch_order_oracle()),
    "event_paths": (q_event_paths, _event_paths_oracle()),
    "pagerank": (q_pagerank, _pagerank_oracle()),
    "ohlc_bars": (q_ohlc_bars, _OHLC_ORACLE),
    "dedup_prefix_filter": (q_dedup_prefix_filter, _prefix_filter_oracle()),
    "cube_sales": (q_cube_sales, _O["cube_sales"]),
    "exists_subquery": (q_exists_subquery, _O["exists_subquery"]),
    "tpch_q1_pricing": (q_tpch_q1_pricing, _O["tpch_q1_pricing"]),
    "tpch_q3_topk": (q_tpch_q3_topk, _O["tpch_q3_topk"]),
    "tpch_q10_returns": (q_tpch_q10_returns, _O["tpch_q10_returns"]),
    "tpch_q6_sql": (q_tpch_q6_sql, _O["tpch_q6_sql"]),
    "tpch_q17_small_qty": (q_tpch_q17_small_qty, _O["tpch_q17_small_qty"]),
    "tpch_q22_idle_custs": (q_tpch_q22_idle_custs, _O["tpch_q22_idle_custs"]),
    "rollup_sales": (q_rollup_sales, _O["rollup_sales"]),
    "pivot_segment_priority": (q_pivot_segment_priority, _O["pivot_segment_priority"]),
    "unpivot": (q_unpivot, _O["unpivot"]),
    "count_distinct": (q_count_distinct, _O["count_distinct"]),
    "window_running_total": (q_window_running_total, _O["window_running_total"]),
    "multimodal_stats": (q_multimodal_stats, _O["multimodal_stats"]),
    "multimodal_frames": (q_multimodal_frames, _O["multimodal_frames"]),
    "multimodal_features": (q_multimodal_features, _O["multimodal_features"]),
    "multimodal_resize": (q_multimodal_resize, _O["multimodal_resize"]),
    "text_bm25": (q_text_bm25, _O["text_bm25"]),
    "text_repetition": (q_text_repetition, _O["text_repetition"]),
    "sketch_distinct": (q_sketch_distinct, _O["sketch_distinct"]),
    "sketch_percentile": (q_sketch_percentile, _O["sketch_percentile"]),
    "sketch_topk": (q_sketch_topk, _O["sketch_topk"]),
    "asof_join": (q_asof_join, _O["asof_join"]),
    "range_join": (q_range_join, _O["range_join"]),
    "sessionize_batch": (q_sessionize_batch, _O["sessionize_batch"]),
    "set_intersect": (q_set_intersect, _O["set_intersect"]),
    "tpch_q2_min_cost": (q_tpch_q2_min_cost, _O["tpch_q2_min_cost"]),
    "tpch_q4_order_priority": (q_tpch_q4_order_priority, _O["tpch_q4_order_priority"],),
    "tpch_q7_volume_shipping": (
        q_tpch_q7_volume_shipping,
        _O["tpch_q7_volume_shipping"],
    ),
    "tpch_q8_market_share": (q_tpch_q8_market_share, _O["tpch_q8_market_share"]),
    "tpch_q9_profit": (q_tpch_q9_profit, _O["tpch_q9_profit"]),
    "tpch_q14_promo_share": (q_tpch_q14_promo_share, _O["tpch_q14_promo_share"]),
    "tpch_q16_supplier_cnt": (q_tpch_q16_supplier_cnt, _O["tpch_q16_supplier_cnt"]),
    "tpch_q19_disjunctive": (q_tpch_q19_disjunctive, _O["tpch_q19_disjunctive"]),
    "tpch_q20_excess_suppliers": (q_tpch_q20_excess_suppliers, _O["tpch_q20_excess_suppliers"]),
    "tpch_q21_waiting": (q_tpch_q21_waiting, _O["tpch_q21_waiting"]),
    "a3_merge_idempotent": (q_a3_merge_idempotent, _O["a3_merge_idempotent"]),
    "a4_stock_totals": (q_a4_stock_totals, _O["a4_stock_totals"]),
    "ann_bruteforce_topk": (q_ann_bruteforce_topk, _O["ann_bruteforce_topk"]),
    "ann_ivf_topk": (q_ann_ivf_topk, _O["ann_ivf_topk"]),
    "decontaminate": (q_decontaminate, _O["decontaminate"]),
    "decontaminate_fuzzy": (
        q_decontaminate_fuzzy,
        _decontaminate_fuzzy_oracle(),
    ),
    "boilerplate_report": (
        q_boilerplate_report,
        _boilerplate_report_oracle(),
    ),
    "dedup_cluster_census": (
        q_dedup_cluster_census,
        _dedup_cluster_census_oracle(),
    ),
    "contamination_report": (q_contamination_report, _contamination_report_oracle()),
    "token_entropy": (q_token_entropy, _token_entropy_oracle()),
    "dedup_canonicalize": (q_dedup_canonicalize, _O["dedup_canonicalize"]),
    "dedup_clusters": (q_dedup_clusters, _O["dedup_clusters"]),
    "dedup_clusters_star": (q_dedup_clusters_star, _O["dedup_clusters"]),
    "dedup_jaccard_banded": (q_dedup_jaccard_banded, _O["dedup_jaccard_banded"]),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, _O["dedup_minhash_lsh"]),
    "dedup_simhash": (q_dedup_simhash, _O["dedup_simhash"]),
    "embed_neardup": (q_embed_neardup, _O["embed_neardup"]),
    "j2_match_partial": (q_j2_match_partial, _O["j2_match_partial"]),
    "j3_item_lookup": (q_j3_item_lookup, _O["j3_item_lookup"]),
    "kmeans_train": (q_kmeans_train, _O["kmeans_train"]),
    "mixture_sample": (q_mixture_sample, _O["mixture_sample"]),
    "pack_sequences": (q_pack_sequences, _O["pack_sequences"]),
    "packing_efficiency": (q_packing_efficiency, _packing_efficiency_oracle()),
    "s10_report": (q_s10_report, _O["s10_report"]),
    "s2_full_scan": (q_s2_full_scan, _O["s2_full_scan"]),
    "s8_upsert": (q_s8_upsert, _O["s8_upsert"]),
    "scd2_history": (q_scd2_history, _O["scd2_history"]),
    "sync_merge_resync": (q_sync_merge_resync, _O["sync_merge_resync"]),
    "sync_pipeline": (q_sync_pipeline, _O["sync_pipeline"]),
    "sync_summary": (q_sync_summary, _O["sync_summary"]),
    "x2_quarantine": (q_x2_quarantine, _O["x2_quarantine"]),
    "s1_rest_ingest": (q_s1_rest_ingest, _s1_rest_ingest_oracle()),
    "model_score": (q_model_score, _O["model_score"]),
    "model_score_hist": (q_model_score_hist, _O["model_score"]),
    "tpch_q15_top_supplier": (q_tpch_q15_top_supplier, _O["tpch_q15_top_supplier"],),
    "stream_stream_join": (q_stream_stream_join, _stream_stream_join_oracle()),
    "stream_conversion": (q_stream_conversion, _stream_conversion_oracle()),
    "j5_valid_skip_split": (q_j5_valid_skip_split, _O["j5_valid_skip_split"]),
    "stream_tumbling": (q_stream_tumbling, _O["stream_tumbling"]),
    "p1_norm_name": (q_p1_norm_name, _O["p1_norm_name"]),
    "f1_status_filter": (q_f1_status_filter, _O["f1_status_filter"]),
    "j1_match_exact": (q_j1_match_exact, _O["j1_match_exact"]),
    "s3_filtered_scan": (q_s3_filtered_scan, _O["s3_filtered_scan"]),
    "s9_backfill": (q_s9_backfill, _O["s9_backfill"]),
    "x1_dispatch": (q_x1_dispatch, _O["x1_dispatch"]),
    "dedup_exact": (q_dedup_exact, _O["dedup_exact"]),
    "line_dedup": (q_line_dedup, _line_dedup_oracle()),
    "ngram_novelty": (q_ngram_novelty, _ngram_novelty_oracle()),
    "text_stats": (q_text_stats, _O["text_stats"]),
    "funnel": (q_funnel, _O["funnel"]),
    "p3_uid_coalesce": (q_p3_uid_coalesce, _O["p3_uid_coalesce"]),
    "p4_cents_to_dollars": (q_p4_cents_to_dollars, _O["p4_cents_to_dollars"]),
    "p6_resolve_variant": (q_p6_resolve_variant, _O["p6_resolve_variant"]),
    "window_topk_per_cust": (q_window_topk_per_cust, _O["window_topk_per_cust"]),
    "window_range_frame": (q_window_range_frame, _window_range_frame_oracle()),
    "set_except": (q_set_except, _O["set_except"]),
    "events_json": (q_events_json, _O["events_json"]),
    "stream_sliding": (q_stream_sliding, _O["stream_sliding"]),
    "stream_sessions": (q_stream_sessions, _O["stream_sessions"]),
    "stream_dedup": (q_stream_dedup, _O["stream_dedup"]),
    "stream_enrich": (q_stream_enrich, _O["stream_enrich"]),
    "rollup_multires": (q_rollup_multires, _O["rollup_multires"]),
    "tpch_q5_region_revenue": (q_tpch_q5_region_revenue, _O["tpch_q5_region_revenue"]),
    "tpch_q12_priority_counts": (q_tpch_q12_priority_counts, _O["tpch_q12_priority_counts"],),
    "tpch_q13_custdist": (q_tpch_q13_custdist, _O["tpch_q13_custdist"]),
    "tpch_q18_big_orders": (q_tpch_q18_big_orders, _O["tpch_q18_big_orders"]),
    "skew_salted_agg": (q_skew_salted_agg, _O["skew_salted_agg"]),
    "skew_salted_join": (q_skew_salted_join, _O["skew_salted_join"]),
    "dq_checks": (q_dq_checks, _O["dq_checks"]),
    "dataset_split": (q_dataset_split, _O["dataset_split"]),
    "outliers_p99": (q_outliers_p99, _O["outliers_p99"]),
    "mom_growth": (q_mom_growth, _O["mom_growth"]),
    "cohort_retention": (q_cohort_retention, _O["cohort_retention"]),
    "stratified_sample": (q_stratified_sample, _O["stratified_sample"]),
    "percentiles": (q_percentiles, _O["percentiles"]),
    "text_lang_id": (q_text_lang_id, _O["text_lang_id"]),
    "text_quality": (q_text_quality, _O["text_quality"]),
    "text_fingerprint": (q_text_fingerprint, _O["text_fingerprint"]),
    "text_top_terms": (q_text_top_terms, _O["text_top_terms"]),
    "text_winnow": (q_text_winnow, _O["text_winnow"]),
    "text_chunks": (q_text_chunks, _O["text_chunks"]),
    "text_scrub": (q_text_scrub, _O["text_scrub"]),
    "decontaminate_bloom": (q_decontaminate_bloom, _O["decontaminate_bloom"]),
    "time_resample": (q_time_resample, _O["time_resample"]),
    "runtime_filter_join": (q_runtime_filter_join, _O["runtime_filter_join"]),
    "token_pmi": (q_token_pmi, _pmi_oracle()),
    "zorder_stats": (q_zorder_stats, _zorder_oracle()),
    "weighted_sample": (q_weighted_sample, _weighted_sample_oracle()),
    "cdc_incremental_agg": (q_cdc_incremental_agg, _cdc_incr_agg_oracle()),
    "match_fuzzy": (q_match_fuzzy, _MATCH_FUZZY_ORACLE),
    "psi_drift": (q_psi_drift, _psi_drift_oracle()),
    "compaction_plan": (q_compaction_plan, _COMPACTION_ORACLE),
    "interval_concurrency": (q_interval_concurrency, _INTERVAL_CONCURRENCY_ORACLE,),
    "ewma": (q_ewma, _ewma_oracle()),
    "group_moments": (q_group_moments, _GROUP_MOMENTS_ORACLE),
    "hll_registers": (q_hll_registers, _hll_registers_oracle()),
    "tvd_drift": (q_tvd_drift, _TVD_DRIFT_ORACLE),
    "k_anonymity": (q_k_anonymity, _KANON_ORACLE),
    "leaderboard": (q_leaderboard, _LEADERBOARD_ORACLE),
    "outliers_mad": (q_outliers_mad, _OUTLIERS_MAD_ORACLE),
    "triangle_stats": (q_triangle_stats, _triangle_oracle()),
    "attribution_models": (q_attribution_models, _attribution_models_oracle()),
    "text_lm_score": (q_text_lm_score, _lm_score_oracle()),
    "vocab_coverage": (q_vocab_coverage, _vocab_coverage_oracle()),
    "lang_mix_audit": (q_lang_mix_audit, _lang_mix_audit_oracle()),
    "dedup_incremental": (q_dedup_incremental, _DEDUP_INCREMENTAL_ORACLE),
    "prepare_corpus": (q_prepare_corpus, _prepare_corpus_oracle()),
    "snapshot_diff": (q_snapshot_diff, _O["snapshot_diff"]),
    "event_transitions": (q_event_transitions, _O["event_transitions"]),
    "event_anomaly": (q_event_anomaly, _O["event_anomaly"]),
    "grouped_quantiles": (q_grouped_quantiles, _O["grouped_quantiles"]),
    "source_overlap": (q_source_overlap, _O["source_overlap"]),
    "skew_profile": (q_skew_profile, _O["skew_profile"]),
    "embed_dedup_clusters": (q_embed_dedup_clusters, _O["embed_dedup_clusters"]),
    "cdc_roundtrip": (q_cdc_roundtrip, _O["cdc_roundtrip"]),
    "text_hash_embed": (q_text_hash_embed, _O["text_hash_embed"]),
    "winnow_overlap": (q_winnow_overlap, _winnow_overlap_sql()),
    "profile_table": (q_profile_table, _O["profile_table"]),
    "join_size_estimate": (q_join_size_estimate, _O["join_size_estimate"]),
    "ann_pq_topk": (q_ann_pq_topk, _pq_oracle()),
    "ann_ivf_pq_topk": (q_ann_ivf_pq_topk, _pq_oracle(ivf=True)),
    "group_entropy": (q_group_entropy, _O["group_entropy"]),
    "grouped_mode": (q_grouped_mode, _O["grouped_mode"]),
    "active_users": (q_active_users, _O["active_users"]),
    "quantile_bucketize": (q_quantile_bucketize, _O["quantile_bucketize"]),
    "dedup_keep_best": (q_dedup_keep_best, _O["dedup_keep_best"]),
    "dedup_fuzzy_keep_best": (
        q_dedup_fuzzy_keep_best,
        _dedup_fuzzy_keep_best_oracle(),
    ),
    "dedup_fuzzy_canonicalize": (
        q_dedup_fuzzy_canonicalize,
        _dedup_fuzzy_canonicalize_oracle(),
    ),
    "contamination_fuzzy_report": (
        q_contamination_fuzzy_report,
        _contamination_fuzzy_report_oracle(),
    ),
    "growth_accounting": (q_growth_accounting, _O["growth_accounting"]),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, _O["dedup_ngram_jaccard"]),
    "p_nested_project": (q_p_nested_project, _O["p_nested_project"]),
    "topk_orders": (q_topk_orders, _O["topk_orders"]),
    "set_union": (q_set_union, _O["set_union"]),
    "ann_lsh_topk": (q_ann_lsh_topk, _O["ann_lsh_topk"]),
}


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}
