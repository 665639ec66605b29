"""Query registry: the driver-facing inventory of engine operators.

Every implemented operator from SURVEY.md §2 registers here twice:

- a PySpark implementation ``(spark, sf_dir) -> DataFrame``;
- (when SQL-expressible) an ANSI-SQL oracle string that DuckDB runs
  on the same Parquet tables for differential correctness checking.

Registration is decorator-based so each operator module keeps its
query and oracle side by side. ``collect()`` imports all operator
modules and returns the merged registries — ``__spark_entry__.py`` is
a thin shim over it.

Alias discipline (the correctness gate hashes values under sorted
column names): every computed/aggregate column is aliased identically
in the Spark code and the SQL, and floating-point aggregates are
rounded identically on both sides so accumulation-order differences
between engines cannot flip the hash.
"""

from __future__ import annotations

import importlib
import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_OPERATOR_MODULES = [
    "etl_geonames_spark.operators.relational",
    "etl_geonames_spark.operators.sql_queries",
    "etl_geonames_spark.operators.functions",
    "etl_geonames_spark.operators.timeseries",
    "etl_geonames_spark.operators.udfs",
    "etl_geonames_spark.operators.llm",
    "etl_geonames_spark.operators.multimodal",
    "etl_geonames_spark.operators.pit",
    "etl_geonames_spark.operators.geo",
    "etl_geonames_spark.operators.pipeline_ops",
    "etl_geonames_spark.operators.curation",
    "etl_geonames_spark.operators.graph",
    "etl_geonames_spark.operators.reshape",
    "etl_geonames_spark.operators.search",
    "etl_geonames_spark.operators.stats",
]

# The differential driver records correctness rows for the first 50
# names in ``queries()`` order each round, in CORRECTNESS_r<N>.json
# beside __spark_entry__.py. ``driver_order`` computes that order from
# those files. ``_CHANGED`` holds the one fact they cannot: a query
# whose plan or oracle changed after its last check. A commit that
# changes a registered query's plan or oracle adds the query here with
# the next round number; the entry expires by itself once a CORRECTNESS
# file of that round or later lists the name.
_CHANGED = {
    "filter_extra_uris": 16,
    "llm_dedup_minhash": 16,
    "graph_ktruss_peel": 16,
    "graph_bowtie_census": 16,
    "llm_kcenter_coreset": 16,
}

_RECORD_DIR = Path(__file__).resolve().parent.parent
_RECORD_NAME = re.compile(r"CORRECTNESS_r(\d+)\.json")


def driver_order(
    names: list[str], record_dir: Path, changed: dict[str, int]
) -> list[str]:
    """``names`` (registration order) in driver-window order.

    A name's last-checked round is the newest CORRECTNESS_r<N>.json in
    ``record_dir`` that lists it (N compared as a number). Names never
    checked, or listed in ``changed`` with a round newer than their
    last check, come first; the rest follow by last-checked round
    ascending. Ties keep registration order.
    """
    unknown = sorted(set(changed) - set(names))
    if unknown:
        raise ValueError(
            f"_CHANGED names unregistered queries: {unknown} — "
            "a typo here would silently shrink driver coverage"
        )
    last: dict[str, int] = {}
    for path in record_dir.glob("CORRECTNESS_r*.json"):
        try:
            m = _RECORD_NAME.fullmatch(path.name)
            if m is None:
                raise ValueError("no round number in the file name")
            checked = json.loads(path.read_text())
            if not isinstance(checked, dict):
                raise ValueError("not a JSON object of query names")
        except ValueError as e:
            raise ValueError(
                f"unparseable correctness record {path}: {e}"
            ) from e
        for name in checked:
            last[name] = max(last.get(name, 0), int(m[1]))

    def checked_round(name: str) -> int:
        rnd = last.get(name, 0)
        return 0 if rnd < changed.get(name, 0) else rnd

    return sorted(names, key=checked_round)


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query implementation and (optionally) its SQL oracle.

    ``oracle=None`` marks a genuinely non-SQL-expressible operator
    (approximate/stateful/UDF-defined) — the driver then records a
    weaker rows-only check.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(
                f"duplicate query name {name!r} — a dict overwrite would "
                "silently drop one implementation from the driver contract"
            )
        QUERIES[name] = fn
        if oracle is not None:
            if "--" in oracle:
                raise ValueError(
                    f"oracle for {name!r} contains a '--' SQL comment: "
                    "registration collapses whitespace to one line, so "
                    "the comment would silently swallow the rest of the "
                    "statement — use the Python docstring instead"
                )
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


def collect() -> tuple[dict[str, QueryFn], dict[str, str]]:
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    order = driver_order(list(QUERIES), _RECORD_DIR, _CHANGED)
    queries = {n: QUERIES[n] for n in order}
    oracles = {n: ORACLES[n] for n in order if n in ORACLES}
    return queries, oracles
