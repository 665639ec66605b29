"""SparkSession factory with engine defaults.

The reference (geonames.js:239-252) hard-codes its physical execution:
one process, one thread, serial per-row processing. Here the same
pipelines run on Spark's distributed runtime; this module pins the
configuration that makes plans scale-stable:

  - AQE on (runtime re-planning, skew-join handling, partition
    coalescing) — the 100 TB insurance policy.
  - ``spark.sql.session.timeZone=UTC`` so timestamp_ntz/ltz casts are
    deterministic regardless of host timezone.
  - ``spark.sql.legacy.parquet.nanosAsLong=true`` so Parquet
    TIMESTAMP(NANOS) columns (which Spark cannot read natively) load
    as int64 nanos; ``sources.tables`` converts them losslessly to
    TIMESTAMP_NTZ (floor to microseconds, matching DuckDB/Arrow
    truncation semantics).
  - Arrow execution for the Pandas-UDF surface.
  - ``spark.python.sql.dataFrameDebugging.enabled=false`` (see
    ``get_spark``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs that the engine needs even when handed a
# foreign SparkSession (e.g. the verification driver's).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Best-effort apply engine confs to an existing session.

    Every conf in RUNTIME_CONFS is runtime-settable in Spark 4; the
    try/except guards against future sessions where one becomes
    static.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


def get_spark(
    app_name: str = "etl-geonames-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``); ``shuffle_partitions`` defaults to the same CPU
    count — on a real cluster you would size this to ~2-3× total
    cores and let AQE coalesce.

    PySpark call-site capture is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
    every ``F.*`` / DataFrame call makes extra Py4J round trips to
    record its Python call site, about doubling the driver's traffic
    while a query is built. The trade-off: an analysis error's query
    context loses its Python call-site fragment (the message and the
    SQL-side context remain). It is a static conf, so it is set here in
    the builder; PySpark also caches it process-wide on the first
    ``F.*`` call. A foreign session (one built elsewhere, such as a
    verification driver's) keeps its own setting.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return apply_runtime_confs(spark)
