"""Property-based tests (Hypothesis): the reference's row-level
semantics, checked against independent pure-Python models on randomized
inputs — hundreds of generated cases per run instead of a handful of
hand-picked ones.

Strategy: generate random rows/configs, compute expected output with a
direct transliteration of the reference's JS logic (the model), run the
engine's Column expressions over the same rows via a local DataFrame,
compare exactly.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from etl_geonames_spark.geonames.pipeline import filters_predicate, resolve_type

# ---------------------------------------------------------------------------
# models: direct transliterations of the reference's JS
# ---------------------------------------------------------------------------


def _model_resolve_type(code: str, types: dict[str, str]) -> str | None:
    """geonames.js:127-132 — truncate until map hit, longest wins."""
    while code:
        if code in types:
            return types[code]
        code = code[:-1]
    return None


def _model_filter(row: dict, filters: list[dict], extra_ids: set[str]) -> bool:
    """geonames.js:180-182, 243-245 — any(whereEq ∨ allowlisted);
    empty filter list ⇒ False (R.any over [])."""
    return any(
        all(row.get(k) == v for k, v in flt.items())
        or row.get("geonameid") in extra_ids
        for flt in filters
    )


# ---------------------------------------------------------------------------
# strategies
# ---------------------------------------------------------------------------

_code = st.text(alphabet="ABC", min_size=0, max_size=5)
_types = st.dictionaries(
    st.text(alphabet="ABC", min_size=1, max_size=5),
    st.sampled_from(["t1", "t2", "t3"]),
    max_size=6,
)
_val = st.sampled_from(["NL", "DE", "US", ""])
_row = st.fixed_dictionaries(
    {
        "geonameid": st.sampled_from(["1", "2", "3"]),
        "countryCode": _val,
        "featureClass": st.sampled_from(["P", "T", "A"]),
    }
)
_filters = st.lists(
    st.dictionaries(
        st.sampled_from(["countryCode", "featureClass"]), _val, max_size=2
    ),
    max_size=3,
)
_extra = st.sets(st.sampled_from(["1", "2", "3"]), max_size=2)

_slow = settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ---------------------------------------------------------------------------
# properties
# ---------------------------------------------------------------------------


@_slow
@given(codes=st.lists(_code, min_size=1, max_size=8), types=_types)
def test_resolve_type_matches_reference_model(spark, codes, types):
    df = spark.createDataFrame([(c,) for c in codes], "code string")
    got = [
        r["t"]
        for r in df.select(
            resolve_type(F.col("code"), types).alias("t")
        ).collect()
    ]
    want = [_model_resolve_type(c, types) for c in codes]
    assert got == want


@_slow
@given(rows=st.lists(_row, min_size=1, max_size=8), filters=_filters, extra=_extra)
def test_filters_predicate_matches_reference_model(spark, rows, filters, extra):
    df = spark.createDataFrame(
        [(r["geonameid"], r["countryCode"], r["featureClass"]) for r in rows],
        "geonameid string, countryCode string, featureClass string",
    )
    pred = filters_predicate(filters, sorted(extra))
    got = {
        r["geonameid"]
        for r in df.filter(pred).select("geonameid").collect()
    }
    want = {
        r["geonameid"] for r in rows if _model_filter(r, filters, extra)
    }
    assert got == want


@_slow
@given(codes=st.lists(_code, min_size=1, max_size=8), types=_types)
def test_resolve_type_join_equals_coalesce_chain(spark, codes, types):
    """SURVEY §2.9's two strategies — literal coalesce chain vs
    prefix-expansion broadcast join — must agree on every input."""
    from etl_geonames_spark.geonames.pipeline import resolve_type_join

    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(codes)], "id int, featureCode string"
    )
    chain = {
        r["id"]: r["t"]
        for r in df.select(
            "id", resolve_type(F.col("featureCode"), types).alias("t")
        ).collect()
    }
    types_df = spark.createDataFrame(
        list(types.items()) or [("\x00never", "x")], "prefix string, type string"
    )
    join = {
        r["id"]: r["type"]
        for r in resolve_type_join(df, types_df).collect()
    }
    assert join == chain


def test_resolve_type_join_preserves_duplicate_rows(spark):
    """Regression: the join form must NOT collapse identical input rows
    (it aggregates on a per-row surrogate, not on the data columns)."""
    from etl_geonames_spark.geonames.pipeline import resolve_type_join

    df = spark.createDataFrame(
        [("PPLA",), ("PPLA",), ("",), (None,)], "featureCode string"
    )
    types_df = spark.createDataFrame(
        [("PPL", "place"), ("PPLA", "capital")], "prefix string, type string"
    )
    out = resolve_type_join(df, types_df).collect()
    assert len(out) == 4
    assert sorted((r["type"] or "-") for r in out) == ["-", "-", "capital", "capital"]


def test_shingles_survive_short_documents(spark):
    """Regression: a sub-k-token document must yield an empty shingle
    array, not a slice() crash (Spark sequence(1,0) counts DOWN)."""
    from etl_geonames_spark.operators.llm import _shingles

    df = spark.createDataFrame(
        [("hello",), ("",), ("a b",), ("a b c d",)], "text string"
    ).select(F.split("text", " ").alias("toks"))
    rows = df.select(_shingles("toks", 3).alias("sh")).collect()
    assert [len(r["sh"]) for r in rows] == [0, 0, 0, 2]


def test_dedup_cluster_on_synthetic_groups(spark, tmp_path):
    """Hand-made corpus: three identical docs (a full LSH clique) + one
    unrelated doc → one 3-member cluster with the lowest id canonical,
    the unrelated doc its own singleton. Chain transitivity (clusters
    connected only through intermediate hops) is pinned separately by
    test_connected_components_chain."""
    import etl_geonames_spark.operators.llm as llm

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base, "en", "s", len(base)),
        (3, base, "en", "s", len(base)),
        (9, "totally different words nothing shared here at all folks okay",
         "en", "s", 61),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "synth")
    df.write.parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in llm.llm_dedup_cluster(spark, d).collect()}
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"] == 1
    assert out[1]["is_canonical"] and not out[2]["is_canonical"]
    assert out[9]["cluster_id"] == 9 and out[9]["is_canonical"]
    kept = {r["doc_id"] for r in llm.llm_dedup_canonical(spark, d).collect()}
    assert kept == {1, 9}


def test_connected_components_chain(spark):
    """Multi-hop propagation: a pure path graph 1-2-3-4-5 (diameter 4,
    NO direct edge between the ends) must collapse to one component —
    this is the case a clique fixture cannot exercise — plus an
    isolated vertex and a disjoint pair."""
    from etl_geonames_spark.operators.llm import connected_components

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 20, 21]],
                                 "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (20, 21)],
        "doc_a long, doc_b long",
    )
    out = {r["doc_id"]: r["label"] for r in connected_components(docs, edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 20: 20, 21: 20}


def test_qround_is_cross_engine_exact(spark):
    """The rounding invariant itself: qround (floor-form half-up) must
    produce BIT-IDENTICAL doubles in Spark and DuckDB for arbitrary
    inputs — including half-boundary values where the engines' native
    ROUNDs disagree (the reason qround exists; see CLAUDE.md)."""
    import duckdb

    from etl_geonames_spark.functions import qround, sql_qround

    vals = [
        0.0325125, 0.0325135, 0.0328125, 4.0296875, 1e-7, 123.4567895,
        -0.0325125, -4.0296875, 0.9999995, 1.0000005, 2579 / 640, 1 / 3,
        2 / 3, 0.1 + 0.2, 1234567.891234, 5.5e-7,
    ]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    got = [
        r["q"]
        for r in df.select(qround(df["x"], 6).alias("q"))
        .orderBy("q")
        .collect()
    ]
    con = duckdb.connect()
    expr = sql_qround("x", 6)
    want = [
        r[0]
        for r in con.execute(
            f"SELECT {expr} AS q FROM (SELECT unnest(?::DOUBLE[]) AS x) "
            "ORDER BY q",
            [vals],
        ).fetchall()
    ]
    assert got == want  # exact ==, no tolerance: the invariant is bitwise


def test_materialize_ctes_leaves_named_windows_alone():
    """Only CTE heads become ``AS MATERIALIZED (``; ``WINDOW w AS (``
    is a window definition and must stay valid, same-result SQL."""
    import duckdb

    from etl_geonames_spark.functions import materialize_ctes

    sql = (
        "WITH t AS (SELECT range AS x FROM range(4)) "
        "SELECT x, sum(x) OVER w AS s FROM t WINDOW w AS (ORDER BY x) ORDER BY x"
    )
    out = materialize_ctes(sql)
    assert "t AS MATERIALIZED (" in out and "WINDOW w AS (ORDER BY x)" in out
    con = duckdb.connect()
    assert con.execute(out).fetchall() == con.execute(sql).fetchall()


def test_geohash_matches_public_scheme(spark):
    """geo_geohash's encoding checked against canonical geohash.org
    vectors — the oracle shares the query's arithmetic, so only an
    external vector proves this is THE geohash, not a lookalike."""
    from etl_geonames_spark.operators.geo import geohash_col

    rows = [
        (57.64911, 10.40744, "u4pruy"),   # the classic example
        (0.0, 0.0, "s00000"),
        (-25.382708, -49.265506, "6gkzwg"),
    ]
    df = spark.createDataFrame(
        [(la, lo) for la, lo, _ in rows], "lat double, lon double"
    )
    got = [
        r["gh"]
        for r in df.select(
            geohash_col(F.col("lat"), F.col("lon")).alias("gh")
        ).collect()
    ]
    assert got == [want for _, _, want in rows]


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.floats(
                min_value=-100, max_value=100,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_distributed_cumsum_and_rank_match_naive(spark, vals):
    """distributed_cumsum / distributed_rank (the no-global-window
    decompositions) must equal the naive single-machine prefix sum /
    row_number over the same deterministic (k, idx) order — on random
    multisets, any partition-offset bookkeeping bug shows up here
    before it shows up at scale."""
    from etl_geonames_spark.operators.relational import (
        distributed_cumsum,
        distributed_rank,
    )

    rows = [
        (i, int(k), float(v)) for i, (k, v) in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "idx long, k long, v double")
    key = [F.col("k"), F.col("idx")]

    got_rank = {
        r["idx"]: r["_grn"]
        for r in distributed_rank(df, key).collect()
    }
    got_cum = {
        r["idx"]: r["cum"]
        for r in distributed_cumsum(df, key, "v", "cum").collect()
    }
    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    run = 0.0
    for rank0, (idx, _k, v) in enumerate(ordered):
        run += v
        assert got_rank[idx] == rank0 + 1, idx
        assert abs(got_cum[idx] - run) < 1e-9, idx


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    words=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=33, max_codepoint=126),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_poly_hash_matches_python_model(spark, words):
    """poly_hash (the cross-engine Horner fold behind feature hashing
    and the verifiable minhash) must equal the direct Python model on
    arbitrary ASCII strings — range [0, P), empty string → 0."""
    from etl_geonames_spark.operators.curation import _FH_P, poly_hash

    def model(w: str) -> int:
        h = 0
        for ch in w:
            h = (h * 31 + ord(ch)) % _FH_P
        return h

    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = [
        r["h"] for r in df.select(poly_hash(F.col("w")).alias("h")).collect()
    ]
    assert got == [model(w) for w in words]
    assert all(0 <= h < _FH_P for h in got)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_fused_rank_cumsum_matches_parents(spark, vals):
    """distributed_rank_cumsum (one range exchange for BOTH index and
    prefix sum — the CUSUM fusion) must emit exactly what its two
    parent primitives emit separately, plus grand totals equal to the
    whole-column aggregates — on random multisets with duplicate keys,
    so the per-partition offset bookkeeping for the two accumulators
    cannot drift apart unnoticed."""
    from etl_geonames_spark.operators.relational import (
        distributed_cumsum,
        distributed_rank,
        distributed_rank_cumsum,
    )

    rows = [(i, int(k), int(v)) for i, (k, v) in enumerate(vals)]
    df = spark.createDataFrame(rows, "idx long, k long, v long")
    key = [F.col("k"), F.col("idx")]

    fused = {
        r["idx"]: (r["_grn"], r["_gcs"], r["_total_n"], r["_total_s"])
        for r in distributed_rank_cumsum(df, key, "v").collect()
    }
    want_rank = {
        r["idx"]: r["_grn"] for r in distributed_rank(df, key).collect()
    }
    want_cum = {
        r["idx"]: r["cum"]
        for r in distributed_cumsum(df, key, "v", "cum").collect()
    }
    n = len(rows)
    s = sum(v for _i, _k, v in rows)
    for idx, (grn, gcs, tn, ts_) in fused.items():
        assert grn == want_rank[idx], idx
        assert gcs == want_cum[idx], idx
        assert tn == n and ts_ == s, idx


def test_no_oracle_folds_a_bare_list_branch():
    """Static lint for the round-12 DuckDB discovery: a list_reduce
    lambda returning a WHOLE-LIST branch (`CASE ... ELSE acc END`)
    silently corrupts state under multi-row vectorized execution.
    Every oracle must rebuild fold state element-wise (or use the
    always-prepend sentinel form) — this pins the common spelling of
    the trap so it cannot quietly return.

    The accumulator name is EXTRACTED per lambda (ADVICE r12): the
    repo's own nesting rule forces renamed fold vars (_ma, _pa, …),
    so a literal-'acc' check would miss exactly the oracles most
    likely to carry the trap. Any `(name, x) ->` lambda whose SQL
    later returns the bare accumulator from a CASE branch
    (`ELSE name END` / `THEN name ELSE` / `THEN name END`) is
    flagged, whatever the name — PROVIDED the var is list-typed
    (indexed as `name[...]` or list_transform'd somewhere in the same
    oracle): scalar CASE folds and list_transform ELEMENT vars
    returning themselves are the safe/normal spellings, only a
    whole-LIST branch return corrupts."""
    import re

    import __spark_entry__ as entry_mod

    lam = re.compile(r"\(\s*(\w+)\s*,\s*\w+\s*\)\s*->")
    offenders = []
    for name, sql in entry_mod.oracle_sql().items():
        for acc in set(lam.findall(sql)):
            esc = re.escape(acc)
            is_list = re.search(
                rf"\b{esc}\s*\[|list_transform\(\s*{esc}\b", sql
            )
            if is_list and re.search(
                rf"ELSE\s+{esc}\s+END\b"
                rf"|THEN\s+{esc}\s+(?:ELSE|END)\b",
                sql,
            ):
                offenders.append((name, acc))
    assert not offenders, offenders
