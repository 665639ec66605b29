"""Parquet table sources for the engine's fixture star schema.

The engine's primary source is Parquet (columnar, splittable,
predicate-pushdown-capable) — the scale-path replacement for the
reference's single 1.7 GB TSV streamed on one thread
(geonames.js:239-242).

One real adapter concern lives here: ``events.parquet`` stores its
event-time column as Parquet ``TIMESTAMP(NANOS)``, which Spark's
vectorized reader rejects outright ([PARQUET_TYPE_ILLEGAL]). We read
nanos as int64 (legacy conf) and floor-convert to TIMESTAMP_NTZ at
microsecond precision — the exact truncation Arrow/DuckDB apply, so
downstream comparisons agree bit-for-bit.

Schema memo: inferring a Parquet schema is one blocking Spark job, and
a query that loads N tables would otherwise run N of them while it is
only being built. ``table_schema`` infers each table's schema once per
session and reuses it. The contract:

  - only the schema (a ``StructType``) is kept; no DataFrame, file
    index or data is cached, so every load lists and scans its
    Parquet afresh;
  - the key is (session, resolved table path, the path's modification
    time as the Hadoop ``FileSystem`` reports it), read with one
    driver-side status call and no job, so a table rewritten at the
    same path is inferred again;
  - the inference is the same footer probe as an unhinted read, so the
    ``events.ts`` encoding (NANOS or MICROS) still comes from the file.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_geonames_spark.session import apply_runtime_confs

TABLE_NAMES = [
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
]

# Columns stored as Parquet TIMESTAMP(NANOS) per table — loaded as
# int64 nanos and converted. Everything else reads natively.
_NANOS_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}

# session -> {resolved path: (modification time, inferred schema)}; a
# rewrite replaces its path's entry, and a session's entries go with it
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCHEMAS_LOCK = threading.Lock()


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The schema Spark infers for ``<sf_dir>/<name>.parquet``, inferred
    once per (session, resolved path, modification time)."""
    path = f"{sf_dir}/{name}.parquet"
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    status = fs.getFileStatus(hpath)
    resolved, mtime = status.getPath().toString(), status.getModificationTime()
    with _SCHEMAS_LOCK:
        memo = _SCHEMAS.setdefault(spark, {})
        hit = memo.get(resolved)
    if hit is not None and hit[0] == mtime:
        return hit[1]
    # outside the lock: two threads that miss together both infer, and
    # store equal schemas
    schema = spark.read.parquet(path).schema
    with _SCHEMAS_LOCK:
        memo[resolved] = (mtime, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame with engine-canonical types.

    Timestamps are TIMESTAMP_NTZ (wall-clock semantics, matching both
    the Parquet metadata `isAdjustedToUTC=false` and DuckDB's
    TIMESTAMP); nano-precision columns are floored to microseconds.
    The read is hinted with ``table_schema``, so a warm session builds
    it without running a Spark job.
    """
    apply_runtime_confs(spark)
    schema = table_schema(spark, sf_dir, name)
    return canonical_types(
        spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet"), name, schema
    )


def canonical_types(df: DataFrame, name: str, schema: T.StructType) -> DataFrame:
    """Convert table ``name``'s nanos-as-int64 columns, per ``schema``
    (the schema ``df`` was read with), to TIMESTAMP_NTZ."""
    for c in _NANOS_TS_COLS.get(name, []):
        if c in schema.names and isinstance(schema[c].dataType, T.LongType):
            # floor-divide nanos → micros (matches Arrow/DuckDB ns→us
            # truncation), then to NTZ via UTC (identity under the
            # engine's pinned session timezone).
            df = df.withColumn(
                c,
                F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz"),
            )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLE_NAMES}
