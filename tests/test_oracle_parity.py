"""Differential correctness harness: every registered query runs on
Spark AND (where an oracle exists) on DuckDB over the same Parquet,
then row counts, schemas, and order-insensitive values are compared —
a local mirror of the driver's t2 gate, so regressions surface in
pytest before the driver sees them.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


# r15 (VERDICT r14 item 1): the suite outgrew the driver's verify
# window (~31 min, cut at 84%), and most of it was THIS file run
# serially — 504 latency-bound tiny Spark jobs, each waiting out its
# own scheduling floor on an idle local[4]. Spark happily runs
# several jobs at once (optimization guide §2.6): precompute every
# query's Spark-side result through a small driver thread pool so
# the next query's tasks back-fill the current one's tail. Each
# test's ASSERTIONS are unchanged — the fixture only moves the
# toPandas() calls; a query that throws has its exception captured
# and re-raised inside its own test, so failure attribution is
# identical. Temp-view races cannot corrupt results: the only
# names created at build time are query-unique or idempotent
# identical definitions (sql_queries re-registers the same fixture
# views), and catalog ops are thread-safe.
_PAR_THREADS = int(os.environ.get("SPARK_GRAFT_TEST_THREADS", "6"))


@pytest.fixture(scope="module")
def spark_results(spark, sf_dir):
    from concurrent.futures import ThreadPoolExecutor

    def run(name):
        try:
            pdf = QUERIES[name](spark, sf_dir).toPandas()
            again_len = None
            if name not in ORACLES:
                again_len = len(QUERIES[name](spark, sf_dir).toPandas())
            return name, (pdf, again_len, None)
        except Exception as exc:  # noqa: BLE001 — re-raised in the test
            return name, (None, None, exc)

    out = {}
    with ThreadPoolExecutor(max_workers=_PAR_THREADS) as pool:
        for name, res in pool.map(run, sorted(QUERIES)):
            out[name] = res
    return out


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            # decimal/HUGEINT leakage etc.
            try:
                df[c] = pd.to_numeric(df[c])
                df[c] = df[c].astype("int64")
            except (ValueError, TypeError):
                # array-valued cells (Spark array<...> / DuckDB LIST)
                # arrive as ndarrays or lists — unhashable, which breaks
                # the row sort below; tuples sort and compare fine
                df[c] = df[c].map(
                    lambda v: tuple(v)
                    if isinstance(v, (list, tuple)) or hasattr(v, "tolist")
                    else v
                )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) < 1e-9
    if pd.isna(a) and pd.isna(b):
        return True
    return a == b


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query(name, spark_results, ddb):
    spark_pd, again_len, exc = spark_results[name]
    if exc is not None:
        raise exc
    if name not in ORACLES:
        # rows-only check (mirrors the driver's weaker gate):
        # deterministic row count across two runs
        assert len(spark_pd) == again_len, f"{name}: non-deterministic row count"
        return
    duck_pd = ddb.sql(ORACLES[name]).df()
    assert len(spark_pd) == len(duck_pd), (
        f"{name}: row count spark={len(spark_pd)} duckdb={len(duck_pd)}"
    )
    assert sorted(spark_pd.columns) == sorted(duck_pd.columns), (
        f"{name}: columns spark={sorted(spark_pd.columns)} "
        f"duckdb={sorted(duck_pd.columns)}"
    )
    # dtype-KIND parity before normalization: the driver's value hash is
    # typed, so DuckDB returning HUGEINT (→ float64/object in pandas)
    # where Spark returns BIGINT fails the gate even when every value is
    # numerically identical (bit us on sql_tpch_q12 in round 1 — the
    # int64 coercion in _normalize masked it locally). Signed/unsigned
    # int widths are fine; int-vs-float or numeric-vs-object is not.
    _KIND = {"u": "i"}
    for col in spark_pd.columns:
        sk = _KIND.get(spark_pd[col].dtype.kind, spark_pd[col].dtype.kind)
        dk = _KIND.get(duck_pd[col].dtype.kind, duck_pd[col].dtype.kind)
        if "O" in (sk, dk):  # object columns (strings, arrays) — the
            continue  # value comparison below covers them
        assert sk == dk, (
            f"{name}.{col}: dtype kind spark={spark_pd[col].dtype} "
            f"duckdb={duck_pd[col].dtype} — engines disagree on the "
            "result type; cast the oracle (HUGEINT→BIGINT?) or the query"
        )
    s = _normalize(spark_pd)
    d = _normalize(duck_pd)
    mismatches = []
    for col in s.columns:
        sv, dv = s[col].tolist(), d[col].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            if not _values_equal(a, b):
                mismatches.append((col, i, a, b))
                if len(mismatches) > 5:
                    break
        if len(mismatches) > 5:
            break
    assert not mismatches, f"{name}: value mismatches {mismatches[:5]}"
