"""Batch parquet sources for the driver-provided test tables.

The `events` table is the batch analog of the reference's Event Hub
stream (reference stream-analytics/iot-stream-analytics-query.sql:2-5):
event_id / ts / user_id / event_type / value / props(JSON string) play
the roles of a telemetry message's id / enqueuedTime / deviceId /
sensor-name / reading / payload.

Scan-path notes for 100 TB: every table read in the package goes
through `_read_table` (`load_table`, and `incremental_tail_scan`, which
filters the stored int64 nanos before `_to_micros`), a plain
``spark.read.parquet`` so Catalyst's data-source V2 path gives predicate
pushdown, column pruning, and partition pruning for free; callers must
keep filters/selects declarative (no ``collect()`` then filter) so they
reach the scan. Nothing here writes: an intermediate that feeds several
jobs is materialized by its operator with ``localCheckpoint(eager=True)``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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

#: columns stored as parquet TIMESTAMP(NANOS) — Spark has no nanosecond
#: timestamp type, so we read them as int64 nanos
#: (spark.sql.legacy.parquet.nanosAsLong) and floor to microseconds,
#: exactly how DuckDB coerces TIMESTAMP_NS to its microsecond TIMESTAMP.
NANOS_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


#: table path -> (its file versions, the schema inferred from them). A
#: schema-less parquet read runs a schema-merge job; a read of unchanged
#: files with the schema given runs none.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _file_versions(spark: SparkSession, path: str) -> tuple:
    """(file, length, modification time) of a table path as the Hadoop
    FileSystem reports them — every file under it for a directory — so
    any rewrite that could change what inference finds changes the key,
    for every URI scheme Spark reads."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    st = fs.getFileStatus(hpath)
    if not st.isDirectory():
        return ((path, st.getLen(), st.getModificationTime()),)
    files = fs.listFiles(hpath, True)
    out = []
    while files.hasNext():
        f = files.next()
        out.append((f.getPath().toString(), f.getLen(), f.getModificationTime()))
    return tuple(sorted(out))


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table as stored: nano-stamped columns stay int64 nanos, so a
    caller can filter them in the stored domain before `_to_micros`."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Parquet timestamps written WITHOUT isAdjustedToUTC would otherwise
    # infer as TIMESTAMP_NTZ (Spark 4 default), which rejects double casts
    # and diverges from DuckDB's naive-in-UTC reading under our pinned UTC
    # session tz. Reading them as TIMESTAMP keeps one timestamp type
    # end-to-end regardless of which session (ours or the harness's) runs
    # the query.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = os.path.join(sf_dir, f"{name}.parquet")
    versions = _file_versions(spark, path)
    known, schema = _SCHEMAS.get(path, (None, None))
    if known == versions:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (versions, df.schema)
    return df


def _to_micros(df: DataFrame, name: str) -> DataFrame:
    """Floor the table's int64-nanos columns to microsecond timestamps."""
    for col in NANOS_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            # integer `div`, not `/`: double division of ~1.7e18 ns loses
            # sub-µs bits and floors the wrong way by 1 µs
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _to_micros(_read_table(spark, sf_dir, name), name)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the plan has fewer partitions
    than the cluster's parallelism — a guard for CPU-bound scalar stages
    (tokenize/shingle/hash, decode UDFs) reading few/unsplittable files.

    Local testdata is one single-row-group parquet file per table, so a
    scan is ONE task and a heavy map stage serializes on one core. At
    100 TB the scan has thousands of splits, the condition is false, and
    this is a no-op — the extra shuffle exists only where it buys strict
    speedup. Call it on a narrow projection (id + payload) so the
    shuffle moves the minimum bytes.
    """
    # streaming plans: inputFiles()/rdd are unavailable, and micro-batch
    # parallelism is the source's maxFilesPerTrigger concern, not this
    # guard's — pass through so batch operators built on this helper
    # (bigram_counts, shingle consumers) run unchanged on streams
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    # `inputFiles()` probes the analyzed plan only (cheap) and settles
    # the common local case — few files MUST be repartitioned; this
    # side errs only toward an extra narrow-projection shuffle, never
    # toward serializing. CALLER CONTRACT: pass a projection of ONE
    # scan (every call site does) — inputFiles() aggregates across all
    # relations, so a multi-relation plan could count a small dim's
    # files toward the threshold.
    files = df.inputFiles()
    if files and len(files) < target:
        return df.repartition(target)
    # many-files (or non-file) plans: file count is NOT a partition
    # count — Spark bin-packs small files into few scan partitions
    # (openCostInBytes/maxPartitionBytes), so a thousand tiny files can
    # still be a 2-task scan. Confirm with the physical partition probe;
    # it forces planning once per query build, which is the price of
    # never serializing a CPU-bound map stage.
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every test table as a temp view (idempotent) and return them."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
