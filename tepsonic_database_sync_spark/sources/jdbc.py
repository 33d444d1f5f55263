"""JDBC source/sink + parquet state store — SURVEY.md §2.1 S2/S3/S8.

The reference's MongoDB collections map to JDBC tables (BASELINE.json
"spark_approach": DataFrame read/write with JDBC connectors). Spark ships
an embedded Derby jar, so the JDBC path is exercised END-TO-END in tests
(partitioned read, parallel staged write, one set-based ``MERGE INTO`` —
see ``merge_jdbc_upsert``); predicate pushdown comes free from Catalyst —
S3's ``find({database:'wholecell'})`` is just ``.filter`` after ``.load``.
``ParquetStateStore`` remains the lake-side persistence surface, the
engine's stand-in for the ``tep_vendor_products`` state collection:

- read state → merge with the new batch (operators.options.merge_options
  semantics = the reference's bulkWrite upsert, products.js:300-341)
  → atomic swap (write to a new versioned dir, then repoint a pointer
  file). Readers never see partial writes — the parquet equivalent of
  ``bulkWrite({ordered:false})``'s all-at-once visibility per key.

At 100 TB: keep the state table hash-bucketed by the merge key so the
merge join co-locates, and swap per-partition instead of whole-table
(or use Delta MERGE where available — same call shape).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    predicate: str | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    **options: str,
) -> DataFrame:
    """S2/S3 — JDBC scan; filters passed via ``.filter`` push down to the
    source (Catalyst JDBC pushdown), and ``partition_column`` splits the
    read across executors."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.load()
    return df.filter(predicate) if predicate else df


def write_jdbc_append(df: DataFrame, url: str, table: str, batchsize: int = 10000) -> None:
    """S8 append path — unordered batched writes (the reference's
    ``{ordered:false}``); for true upserts stage into a temp table and
    issue MERGE on the database side."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode("append")
        .save()
    )


def _varchar_types(df: DataFrame, width: int) -> str | None:
    """createTableColumnTypes fragment mapping every StringType column to
    VARCHAR(width). Without it Spark's Derby dialect creates CLOBs, which
    MERGE cannot compare on."""
    from pyspark.sql import types as T

    frags = [
        f"{f.name} VARCHAR({width})"
        for f in df.schema.fields
        if isinstance(f.dataType, T.StringType)
    ]
    return ", ".join(frags) if frags else None


def merge_jdbc_upsert(
    spark: SparkSession,
    url: str,
    table: str,
    batch: DataFrame,
    keys: list[str],
    staging_table: str | None = None,
    varchar_width: int = 1024,
) -> int:
    """S8 — true DB-side upsert through JDBC: stage the batch with one
    parallel append, then a single set-based ``MERGE INTO``. This is the
    reference's ``bulkWrite`` upsert (products.js:309-341) done the way a
    warehouse does it at scale — never per-row statements. The merge
    PAYLOAD is computed in Spark (``operators.options.merge_options``,
    exactly as the reference merges in JS before ``$set``); the database
    applies replace-on-match. Returns the number of affected rows.

    Works against any MERGE-capable JDBC database; exercised end-to-end in
    tests against embedded Derby (the jar ships with Spark). Identifier
    quirk: Spark's JDBC writer quotes COLUMN names (so they stay
    lower-case and must be double-quoted in the MERGE) but not table
    names. At 100 TB the staging write is the only data movement —
    ``numPartitions`` JDBC connections append in parallel — and the MERGE
    is one statement the warehouse optimizes with its own indexes.

    Trust boundary: ``table``/``staging_table``/``keys``/column names are
    interpolated into SQL unescaped — they must come from the engine's own
    catalog (trusted callers), never from user input. The staging table is
    dropped on both paths: after a failed MERGE the drop failure is
    swallowed (never mask the MERGE's own exception — a warning names the
    leaked table); after a successful MERGE a drop failure PROPAGATES, so
    a persistent leak (e.g. a held lock) is never invisible (ADVICE r6).
    """
    jvm = spark._jvm
    # Derby writes derby.log into user.dir unless told otherwise — keep the
    # engine's cwd clean (must be set before the Derby engine first boots,
    # which the staging write below would otherwise trigger)
    if jvm.java.lang.System.getProperty("derby.stream.error.file") is None:
        import tempfile

        jvm.java.lang.System.setProperty(
            "derby.stream.error.file",
            os.path.join(tempfile.gettempdir(), "derby.log"),
        )
    staging = staging_table or f"{table}__stage"
    cols = batch.columns
    non_keys = [c for c in cols if c not in keys]
    types = _varchar_types(batch, varchar_width)

    def _write(df: DataFrame, dbtable: str, mode: str) -> None:
        w = df.write.format("jdbc").option("url", url).option("dbtable", dbtable)
        if types:
            w = w.option("createTableColumnTypes", types)
        w.mode(mode).save()

    # create the target if absent (empty write, Ignore = no-op when it exists)
    _write(batch.limit(0), table, "ignore")
    _write(batch, staging, "overwrite")

    q = lambda c: f'"{c}"'  # noqa: E731 — Spark-created columns are quoted
    on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in keys)
    insert_cols = ", ".join(q(c) for c in cols)
    insert_vals = ", ".join(f"s.{q(c)}" for c in cols)
    matched = (
        "WHEN MATCHED THEN UPDATE SET "
        + ", ".join(f"{q(c)} = s.{q(c)}" for c in non_keys)
        + " "
        if non_keys
        else ""
    )
    sql = (
        f"MERGE INTO {table} t USING {staging} s ON {on} "
        + matched
        + f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
    )
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:
            n = st.executeUpdate(sql)
        except Exception:
            # MERGE failed: still try to drop (ADVICE r5: the
            # success-path-only drop leaked it), but never mask the
            # MERGE's own exception with a drop failure
            try:
                st.executeUpdate(f"DROP TABLE {staging}")
            except Exception:
                import warnings

                warnings.warn(
                    f"staging table {staging} leaked after failed MERGE",
                    stacklevel=2,
                )
            raise
        # success path: a drop failure propagates — a persistent leak
        # (e.g. a held lock) must be visible, not swallowed (ADVICE r6)
        st.executeUpdate(f"DROP TABLE {staging}")
        return n
    finally:
        conn.close()


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, array element and map value nullable: the
    schema a parquet write records and a read gives back."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


class ParquetStateStore:
    """Versioned parquet state table with atomic pointer swap."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def _current(self) -> dict | None:
        if not os.path.exists(self._pointer):
            return None
        with open(self._pointer) as f:
            return json.load(f)

    def current_path(self) -> str | None:
        current = self._current()
        return current["path"] if current else None

    def read(self) -> DataFrame | None:
        """The current version, or None before the first write. The
        pointer records the schema the version reads back with, so the
        read submits no schema-inference job; a pointer written without
        one falls back to inference."""
        current = self._current()
        if current is None:
            return None
        reader = self.spark.read
        if "schema" in current:
            reader = reader.schema(StructType.fromJson(current["schema"]))
        return reader.parquet(current["path"])

    def overwrite(self, df: DataFrame) -> str:
        """Write a new version and atomically repoint (os.replace)."""
        version = f"v{int(time.time() * 1000)}"
        path = os.path.join(self.root, version)
        df.write.mode("overwrite").parquet(path)
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "path": path,
                    "version": version,
                    "schema": _as_nullable(df.schema).jsonValue(),
                },
                f,
            )
        os.replace(tmp, self._pointer)
        return path

    def merge(self, new: DataFrame, merge_fn) -> DataFrame:
        """Read-merge-write: ``merge_fn(state, new) -> merged`` (pass
        ``operators.options.merge_options`` for the reference semantics).
        First write = plain overwrite."""
        state = self.read()
        merged = new if state is None else merge_fn(state, new)
        self.overwrite(merged)
        return self.read()


class BucketedParquetStateStore:
    """Hash-bucketed state table with partition-pruned MERGE — the 100 TB
    upsert path made concrete (upsert.py's scale note, implemented).

    State lives as parquet partitioned by ``__bucket = pmod(xxhash64(keys),
    n_buckets)``. A merge batch touches only the buckets its keys hash to:

    1. bucket the new batch; collect its distinct bucket ids (bounded by
       ``n_buckets`` — a driver-side list of ints, never data rows);
    2. read the state *pruned to those buckets* (partition pruning — the
       scan never opens untouched bucket directories);
    3. apply ``merge_fn`` and write back in dynamic partition-overwrite
       mode, which replaces only the buckets present in the output.

    Untouched buckets are never read and never rewritten — at 100 TB a
    small incremental sync costs O(touched buckets), not O(state). The
    whole-table rewrite of ``ParquetStateStore`` is the degenerate
    n_buckets=1 case. On a Delta/Iceberg cluster the same key/bucket layout
    backs ``MERGE INTO`` with file skipping.
    """

    def __init__(
        self, spark: SparkSession, root: str, keys: list[str], n_buckets: int = 64
    ):
        self.spark = spark
        self.root = root
        self.keys = list(keys)
        self.n_buckets = n_buckets
        os.makedirs(root, exist_ok=True)

    def _bucketed(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return df.withColumn(
            "__bucket",
            F.pmod(F.xxhash64(*self.keys), F.lit(self.n_buckets)).cast("int"),
        )

    @property
    def _data(self) -> str:
        return os.path.join(self.root, "data")

    def exists(self) -> bool:
        return os.path.exists(self._data)

    def read(self) -> DataFrame | None:
        import glob

        if not self.exists():
            return None
        # a fully-retracted store has the data dir but zero bucket dirs —
        # schema inference would fail on it
        if not glob.glob(os.path.join(self._data, "__bucket=*")):
            return None
        return self.spark.read.parquet(self._data).drop("__bucket")

    def write_full(self, df: DataFrame) -> None:
        (
            self._bucketed(df)
            .repartition("__bucket")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(self._data)
        )

    def read_touched(self, new: DataFrame) -> DataFrame | None:
        """State pruned to the buckets ``new``'s keys hash to — the
        partition-pruned probe read (same scan ``merge`` does): an
        increment-vs-index lookup costs O(touched buckets), never a full
        index scan. Returns None when the store is empty."""
        import glob

        from pyspark.sql import functions as F

        if not self.exists():
            return None
        if not glob.glob(os.path.join(self._data, "__bucket=*")):
            return None
        newb = self._bucketed(new)
        touched = {int(r[0]) for r in newb.select("__bucket").distinct().collect()}
        return (
            self.spark.read.parquet(self._data)
            .filter(F.col("__bucket").isin(list(touched)))
            .drop("__bucket")
        )

    def merge(self, new: DataFrame, merge_fn) -> DataFrame:
        """MERGE: read only the touched buckets, apply ``merge_fn``, write
        back only those buckets. Supports deleting/retracting merges: a
        touched bucket for which ``merge_fn`` returns zero rows has its
        directory removed (dynamic partition overwrite alone would leave
        the stale files — it only replaces partitions present in the
        output). The overwrite mode is scoped to THIS write via the
        writer-level ``partitionOverwriteMode`` option, so a concurrent
        writer in the same session never sees a flipped session conf."""
        import glob
        import shutil

        from pyspark.sql import functions as F

        # "exists but zero bucket dirs" (a first batch that admitted no
        # rows, or a fully-retracted store) must take the bootstrap
        # path too — the pruned scan below cannot infer a schema from a
        # bucket-less directory (same guard read()/read_touched() use)
        if not self.exists() or not glob.glob(
            os.path.join(self._data, "__bucket=*")
        ):
            self.write_full(new)
            return self.read()
        newb = self._bucketed(new)
        touched = {int(r[0]) for r in newb.select("__bucket").distinct().collect()}
        state = (
            self.spark.read.parquet(self._data)
            .filter(F.col("__bucket").isin(list(touched)))  # partition-pruned scan
            .drop("__bucket")
        )
        # eager checkpoint: the merged batch is both written AND probed for
        # its output buckets — one computation, no CacheManager entry
        mb = self._bucketed(merge_fn(state, new)).localCheckpoint(eager=True)
        out_buckets = {int(r[0]) for r in mb.select("__bucket").distinct().collect()}
        (
            mb.repartition("__bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket")
            .parquet(self._data)
        )
        for b in touched - out_buckets:  # retracted-to-empty buckets
            d = os.path.join(self._data, f"__bucket={b}")
            if os.path.isdir(d):
                shutil.rmtree(d)
        out = self.read()
        if out is None:  # everything retracted — typed empty result
            return self.spark.createDataFrame([], mb.drop("__bucket").schema)
        return out
