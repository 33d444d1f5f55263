"""SparkSession factory.

The reference bootstraps one Node process + lazily-connected Mongo client
(reference: src/routes/products.js:10-18, src/index.js:18-33). The engine
equivalent is a single SparkSession with settings chosen for correctness
against the DuckDB oracle (UTC timestamps) and for scale (AQE handles
skew/coalescing at runtime; shuffle partitions sized to cores locally —
on a real cluster leave it to AQE's coalescing with a higher initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Size of Spark's generated-code cache; see build_session.
CODEGEN_CACHE_ENTRIES = 1000


def session_size() -> tuple[int, str]:
    """(local cores, driver heap) for the session.

    ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` set them for a
    deployment; unset, the session takes the cores this process may run on
    and a quarter of the machine's memory for the driver heap.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not mem:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        mem = f"{total // 4 // 2**20}m"
    return int(cpus) if cpus else len(os.sched_getaffinity(0)), mem


def build_session(
    app_name: str = "tepsonic_database_sync_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the engine's SparkSession.

    Local mode is a single JVM; on a cluster the same settings apply except
    ``master`` comes from the environment. AQE is enabled so that at 100 TB
    scale the runtime re-plans: shuffle-partition coalescing, skew-join
    splitting, and dynamic broadcast conversion all depend on it.
    """
    default_cpus, driver_mem = session_size()
    cpus = cpus or default_cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate synthesizes `size(arr) > 0 AND
        # isnotnull(arr)` from every explode(), and predicate pushdown
        # then substitutes the array ALIAS through the projections below
        # — duplicating the entire array-building expression chain
        # (tokenize → shingle zip_with; gram transforms) into a Filter
        # at the scan, where it re-evaluates per row with the common
        # subexpressions re-expanded (measured r18 at sf0.1: the MinHash
        # signature pass 4.9 s → 0.65 s once excluded; the guide §4.4
        # filter-duplication trap, hit by expressions instead of UDFs).
        # The filter's only benefit is pruning empty-array rows BEFORE
        # the Generate — explode already skips them — and enabling scan
        # pushdown for STORED array columns, which no table in this
        # engine has. Scale-honest: the duplicated chain doubles
        # scan-stage CPU at any corpus size.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # The generated-code cache (Janino classes keyed by source text)
        # holds 100 entries by default, but one warm vendor_sync re-sync
        # cycle needs about 124 distinct classes and one corpus_dedup
        # shard about 230. An LRU cache smaller than a loop's working set
        # evicts every class before its next use, so each cycle
        # recompiled its code from scratch (93–126 compiles, 0.4–1.3 s of
        # Janino time per warm vendor cycle). At 1000 entries a warm cycle
        # compiles nothing; 400 still recompiled some vendor classes. The
        # cost is bounded metaspace for at most 1000 small classes. A
        # static conf: it must be set when the session is built.
        # Whole-stage classes are also named after their codegen stage id,
        # which AQE hands out in the order stages are created, i.e. by
        # which stage finished first; an unchanged pipeline then came back
        # under a new name and recompiled (2–12 classes per warm cycle).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
