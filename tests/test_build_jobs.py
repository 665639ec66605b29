"""Driver-side build cost: a warm session builds table loads and
``sql_*`` queries without running a Spark job, the per-session schema
memo never serves a stale or foreign schema, and the engine session
has PySpark call-site capture off."""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from etl_geonames_spark.registry import collect
from etl_geonames_spark.sources.tables import (
    TABLE_NAMES,
    canonical_types,
    load_table,
)
from etl_geonames_spark.streaming import read_events_stream


@contextmanager
def jobs_run(spark):
    """Yields a list that, after the block, holds the ids of the Spark
    jobs the block ran (by the status tracker, under a fresh job
    group)."""
    sc = spark.sparkContext
    group = f"build-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs run while building")
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _plain(spark, sf_dir, name):
    """The table as an unhinted read (schema inferred by Spark) plus
    the engine's type conversion."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return canonical_types(df, name, df.schema)


def test_warm_session_loads_and_builds_sql_without_jobs(spark, sf_dir):
    q21 = collect()[0]["sql_tpch_q21"]
    q21(spark, sf_dir)  # warm: fills the session's schema memo
    with jobs_run(spark) as ids:
        loaded = {t: load_table(spark, sf_dir, t) for t in TABLE_NAMES}
        built = q21(spark, sf_dir)
    assert ids == [], f"building ran Spark jobs {ids}"
    for t, df in loaded.items():
        ref = _plain(spark, sf_dir, t)
        assert df.dtypes == ref.dtypes, t
        assert df.collect() == ref.collect(), t
    assert built.columns == ["s_name", "numwait"]


def test_rewritten_table_is_inferred_again(spark, sf_dir, tmp_path):
    d = str(tmp_path)
    docs = load_table(spark, sf_dir, "documents")
    docs.write.parquet(f"{d}/documents.parquet")
    assert load_table(spark, d, "documents").columns == docs.columns
    docs.withColumn("extra", F.col("doc_id") * 2).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    got = load_table(spark, d, "documents")
    assert got.columns == docs.columns + ["extra"]
    assert got.where(F.col("extra") != F.col("doc_id") * 2).count() == 0
    assert got.count() == docs.count()


def test_events_ts_encoding_is_probed_per_directory(spark, sf_dir, tmp_path):
    """Side-by-side dirs whose ``events.ts`` is TIMESTAMP(NANOS) in one
    and TIMESTAMP(MICROS) in the other: each is read per its own footer,
    and both land as TIMESTAMP_NTZ with equal values."""
    events = pq.read_table(f"{sf_dir}/events.parquet")
    i = events.schema.get_field_index("ts")
    dirs = {}
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        pq.write_table(
            events.set_column(i, "ts", events["ts"].cast(pa.timestamp(unit))),
            str(d / "events.parquet"),
        )
        dirs[unit] = str(d)
    got = {u: load_table(spark, d, "events") for u, d in dirs.items()}
    for u, df in got.items():
        assert dict(df.dtypes)["ts"] == "timestamp_ntz", u
        assert read_events_stream(spark, dirs[u]).schema["ts"].dataType.typeName() == (
            "timestamp"
        ), u
    assert got["ns"].collect() == got["us"].collect()
    assert got["us"].collect() == _plain(spark, sf_dir, "events").collect()


def test_session_turns_off_call_site_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
