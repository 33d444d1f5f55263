"""Table loaders for the driver-provided parquet test tables.

TESTDATA.md: ``/root/testdata/sf{0.001,0.01,0.1}/<name>.parquet`` with
TPC-H-ish tables plus ``events``/``documents``/``embeddings``.

At 100 TB these reads become partitioned parquet/Delta table scans; the
API is the same (``spark.read.parquet``), and every downstream operator in
this package expresses filters/projections declaratively so Catalyst pushes
them into the scan (verify with ``df.explain`` → ``PushedFilters``,
``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Fan-out gate: only repartition fact-sized tables (bytes); small dims are
# broadcast by every consumer and repartitioning them is pure overhead.
_FAN_OUT_MIN_BYTES = 2_000_000

# r18, adjudicated: a first cut fanned out ``documents``/``embeddings``
# HERE by table name (they feed per-row CPU-bound chains — tokenize →
# shingle → one md5 per shingle — and the 594 KB sf0.1 documents file
# scans as ONE partition, so the MinHash md5 chain ran on 1 of 32
# cores). The driver-protocol bench showed that taxing EVERY consumer
# at load was wrong: the heavy gram/hash entries won 1.3-2.7×, but
# ~15 cheap documents consumers (model_score, snapshots, line_dedup,
# token_*…) paid the exchange for nothing (0.3-0.6×), and the
# 2000-row embeddings table made the whole ANN/semdedup family pay
# per-task overhead with zero CPU to spread. The fan-out therefore
# lives at the CPU-HEAVY OPERATOR HEADS instead — ``fan_out_cpu``
# below, the winnow_overlap_pairs rule generalized.

# Metadata caches: each ``spark.read.parquet`` pays a driver-side footer and
# schema read, and ``df.rdd.getNumPartitions()`` a physical planning pass;
# both are cached as METADATA ONLY (no data, no results). They are keyed
# on the file's identity and version — absolute path, mtime and size — so
# a file rewritten at the same path is read afresh, never with a stale
# schema or partition count.
_SCHEMA_CACHE: dict[tuple, "object"] = {}
_SCAN_PARTS_CACHE: dict[tuple, int] = {}


def _file_key(path: str) -> tuple | None:
    """(abspath, mtime_ns, size) of a local file or directory; None when it
    cannot be stat'ed (a non-local path), which disables caching."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return os.path.abspath(path), st.st_mtime_ns, st.st_size


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the file schema cached after the first
    inference — identical DataFrame, minus the repeated footer read."""
    key = _file_key(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def _fan_out(
    spark: SparkSession, df: DataFrame, path: str, name: str = ""
) -> DataFrame:
    """Local-small-file remediation, deliberately a no-op at scale.

    The driver's testdata writes ONE parquet row group per table, so the
    scan's max parallelism is 1 no matter how small
    ``spark.sql.files.maxPartitionBytes`` goes — every downstream stage of a
    fact-table pipeline would run on one core of local[32]. One cheap
    round-robin shuffle right after the scan restores full parallelism.

    On a real deployment (many files, 128 MB row groups, 100 TB) the scan
    already yields >= cores input splits, the gate below fails, and no extra
    shuffle ever happens — this never reshuffles data that arrives
    well-partitioned.
    """
    try:
        if os.path.getsize(path) < _FAN_OUT_MIN_BYTES:
            return df
        cores = spark.sparkContext.defaultParallelism
        key = _file_key(path)
        n_parts = _SCAN_PARTS_CACHE.get(key)
        if n_parts is None:
            # physical-planning probe — constant per file version and
            # session conf, so cache it; the decision is unchanged
            n_parts = df.rdd.getNumPartitions()
            _SCAN_PARTS_CACHE[key] = n_parts
        if n_parts * 2 >= cores:
            return df
        return df.repartition(cores)
    except Exception:  # non-local path / estimation failure: leave the scan alone
        return df


def fan_out_cpu(df: DataFrame) -> DataFrame:
    """Partition-count fan-out for CPU-bound per-row chains (r18 — the
    ``winnow_overlap_pairs`` rule generalized): tokenize → shingle →
    md5-per-shingle and byte-gram hashing are compute-bound per row, so
    a near-single-partition input runs them on 1-2 cores of local[32]
    no matter how small the bytes are — the BYTE gate in ``_fan_out``
    is the wrong test for these chains. Called at the head of the
    measured CPU-heavy operators only (fanning every consumer at load
    was benched and rejected: cheap consumers paid the exchange for
    nothing — see the note above ``_fan_out``).

    On a real deployment the input already arrives with >= cores
    splits, the gate fails, and this is a no-op — it never reshuffles
    data that arrives well-partitioned. Round-robin with Spark's
    default sort-before-repartition keeps retries deterministic
    (guide §2.5).
    """
    try:
        sc = df.sparkSession.sparkContext
        if df.rdd.getNumPartitions() * 2 < sc.defaultParallelism:
            return df.repartition(sc.defaultParallelism)
        return df
    except Exception:  # estimation failure: leave the input alone
        return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = True
) -> DataFrame:
    """Read one test table. Plain parquet scan → full pushdown support.

    ``events.ts`` has shipped in two physical layouts across testdata
    generations: TIMESTAMP(NANOS) (which Spark 4 refuses by default —
    read as long nanos via the legacy conf, truncate to micros) and plain
    timestamp[us] (arrives as TIMESTAMP_NTZ — cast to session-local
    TimestampType so downstream epoch math is identical either way; the
    session timezone is pinned to UTC).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The TIMESTAMP_NTZ→timestamp cast below is only epoch-preserving
        # under a UTC session zone (which session.py pins); enforce it here
        # too so a caller with a foreign session can't silently shift every
        # epoch relative to the DuckDB oracle.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = _read_parquet(spark, path)
        if fan_out:
            df = _fan_out(spark, df, path, name)
        if isinstance(df.schema["ts"].dataType, T.LongType):
            # Integer division, not `/`: long nanos (~1.7e18) exceed 2^53,
            # so a double intermediate could shift the truncated micros.
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    df = _read_parquet(spark, path)
    if fan_out:
        df = _fan_out(spark, df, path, name)
    return df


def compact_parquet(
    spark: SparkSession,
    src: str,
    dest: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ~target-sized files. The perennial 100 TB operational task — streaming
    and incremental-merge sinks accrete KB-scale files whose per-file open
    cost eventually dominates scans. Returns the output file count.

    Sizing uses the source's on-disk bytes (compressed) — the right basis,
    since output files are compressed too. ``coalesce`` (not repartition)
    when shrinking: no shuffle, just fewer write tasks.
    """
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(src)
    if n_files < df.rdd.getNumPartitions():
        df = df.coalesce(n_files)
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(dest)
    return sum(
        1 for f in os.listdir(dest) if f.endswith(".parquet")
    )


def write_clustered(
    df: DataFrame, path: str, cluster_cols: list[str], n_files: int | None = None
) -> None:
    """Cluster-on-write for data skipping: range-partition by the cluster
    columns, sort within each output file, write. Parquet footers then
    carry tight, mostly-disjoint min/max ranges per file and row group, so
    a later filter on those columns prunes whole files without reading
    them (the poor engineer's Z-order; at 100 TB this is the difference
    between a scan and a seek).
    """
    out = df.repartitionByRange(*(([n_files] if n_files else []) + cluster_cols))
    out.sortWithinPartitions(*cluster_cols).write.mode("overwrite").parquet(path)


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options: str,
) -> DataFrame:
    """Format-agnostic ingest: parquet/orc (self-describing, full predicate
    pushdown), csv/json (schema REQUIRED — runtime inference would scan the
    data twice and silently widen types; at 100 TB schema-on-read must be
    explicit). CSV/JSON remain row-oriented — use them as landing formats
    and compact to parquet (``compact_parquet``) before analytics; every
    downstream operator is format-independent once loaded."""
    reader = spark.read
    if fmt in ("csv", "json"):
        if schema is None:
            raise ValueError(f"{fmt} ingest requires an explicit schema")
        reader = reader.schema(schema)
        if fmt == "csv":
            reader = reader.option("header", "true").option(
                "timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]"
            )
    elif schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.format(fmt).load(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL API path)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
