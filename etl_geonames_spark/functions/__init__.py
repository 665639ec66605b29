"""Shared expression helpers.

``qround`` — comparison-safe rounding for derived doubles.

Spark's ROUND(double, d) routes through BigDecimal.valueOf (the
double's *shortest decimal representation*), while DuckDB rounds the
raw binary value; on half-boundaries (x.xxxxx5) the two legitimately
disagree by one ulp of the target precision. ``FLOOR(x*10^d + 0.5)``
is pure IEEE double arithmetic — bit-identical across engines given
bit-identical inputs — so differential comparisons never flip.

Use plain ROUND only for *grid-aligned* values (sums/products of
fixed-point inputs rounded at their own grid precision), where the
true value can never sit on a boundary; use ``qround`` for ratios,
averages, scores and similarities.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def qround(col: Column, digits: int = 6) -> Column:
    """Engine-portable round-half-up: FLOOR(x*10^d + 0.5)/10^d."""
    s = float(10**digits)
    return F.floor(col * F.lit(s) + F.lit(0.5)) / F.lit(s)


def sql_qround(expr: str, digits: int = 6) -> str:
    """The DuckDB-side mirror of :func:`qround` (same op order)."""
    s = float(10**digits)
    return f"FLOOR(({expr}) * {s} + 0.5) / {s}"


_CTE_HEAD = None  # compiled lazily below (re imported at module top)


def materialize_ctes(sql: str) -> str:
    """DuckDB oracle helper: rewrite every CTE ``name AS (`` to
    ``name AS MATERIALIZED (``. DuckDB (1.0) INLINES non-recursive
    CTEs, so an unrolled iterative oracle whose round references its
    predecessor twice re-executes the whole prefix 2^rounds times —
    the exact multi-consumer trap the engine side pins with
    localCheckpoint, in the oracle's engine (measured r15:
    graph_bowtie_census 151 s → 0.08 s at sf0.001, byte-identical
    output). Pure execution hint: MATERIALIZED cannot change results.
    Besides CTE definitions, ``name AS (`` also opens a named window
    (``WINDOW w AS (``), which is left alone; column aliases are
    ``expr AS name`` and derived tables alias AFTER the parenthesis.
    A second window in one clause (``WINDOW a AS (…), b AS (…)``) is
    not recognised and would turn into SQL DuckDB rejects. Each
    converted oracle is still value-verified against Spark by the
    differential suite."""
    import re

    global _CTE_HEAD
    if _CTE_HEAD is None:
        _CTE_HEAD = re.compile(r"((?i:\bWINDOW)\s+)?\b([a-z_][a-z_0-9]*) AS \(")
    return _CTE_HEAD.sub(
        lambda m: m[0] if m[1] else f"{m[2]} AS MATERIALIZED (", sql
    )


def pin(df):
    """Multi-consumer pin: truncate lineage so a table consumed by
    several downstream branches (self-join roles, census + pair
    joins, per-round BSP state) is COMPUTED ONCE instead of once per
    consumer — exchange reuse never fires across differing join
    roles (r14 plan audit), so without a pin the whole upstream
    subplan re-executes per branch.

    The pin is the LAZY form (``localCheckpoint(eager=False)``):
    the RDD is persisted and the plan truncated immediately, but
    materialization happens inside the FIRST consuming job —
    BlockInfoManager's per-block write lock dedupes the sibling-stage
    race, so concurrent consumers still compute each partition once.
    The eager form pays a separate BLOCKING job per pin (~0.15–0.35 s
    scheduling floor at fixture scale — the r14 regression on
    llm_exact_shared_run / llm_dedup_embedding / llm_dedup_cluster);
    lazy keeps the dedup and drops that job (A/B'd per site in
    OPTIMIZATION_r15.md).

    Same non-replicated executor-local storage caveat as eager
    localCheckpoint: at 100 TB production would persist to
    disk-backed replicated storage (ADVICE r14); the lifecycle
    (within-query, dropped by the bench between queries) is
    unchanged."""
    return df.localCheckpoint(eager=False)


def spread(df, *cols):
    """Hash-repartition to the session's core count before a
    compute-bound map stage (shingle builds, per-char Horner hashes,
    per-point distance math): single-file inputs give one partition
    and serialize the work on one core.

    The count MUST be explicit: a count-free ``repartition(col)`` is
    AQE-coalescible, and on small inputs adaptive coalescing folds it
    straight back to one partition — the shuffle is paid, the
    parallelism never arrives (measured 2× slower than no repartition
    at sf0.1). ``defaultParallelism`` tracks the session: cores on
    local[N], total executor cores on a cluster — never a hardcoded
    cap on a wide scan. Layout-only by contract: call it only where
    every downstream aggregate is order-independent."""
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, *cols
    )


# --- cross-engine normal distribution primitives (round 10) -------------
#
# Both engines evaluate the SAME Horner-form polynomial approximations:
# Phi via Hastings/A&S 26.2.17 (|err| <= 7.5e-8) and Phi^-1 via Acklam's
# rational approximation (|err| <= 5e-9, validated against a bisection
# on math.erf in tests/test_stat_invariants.py). Cross-engine parity
# does NOT depend on the approximation error: both sides run identical
# IEEE arithmetic in identical order (verified bit-identical
# DuckDB-vs-CPython over 5000 random points before landing), so the
# only divergence source is a <=1-ulp exp/ln libm difference — the
# same accepted class as the existing bleu/logprob exp/ln usage,
# absorbed by qround(6) on O(1)-magnitude outputs. The THRESHOLD rule
# still applies: never use these inside a cross-engine float
# PREDICATE, only in emitted values and sums.

_SQRT_2PI = 2.5066282746310002  # sqrt(2*pi) as a shared literal


def norm_cdf(x: Column) -> Column:
    """Standard normal CDF Phi(x) — Hastings (A&S 26.2.17), Horner
    form matching :func:`sql_norm_cdf` term for term."""
    ax = F.abs(x)
    t = 1.0 / (1.0 + 0.2316419 * ax)
    poly = (
        (((1.330274429 * t - 1.821255978) * t + 1.781477937) * t
         - 0.356563782) * t + 0.319381530
    ) * t
    up = 1.0 - F.exp(-0.5 * x * x) / _SQRT_2PI * poly
    return F.when(x >= 0.0, up).otherwise(1.0 - up)


def sql_norm_cdf(x: str) -> str:
    """DuckDB mirror of :func:`norm_cdf` (same Horner order). ``x``
    is inlined several times — pass a simple column reference."""
    t = f"(1.0/(1.0+0.2316419*abs({x})))"
    poly = (
        "((((1.330274429*{t}-1.821255978)*{t}+1.781477937)*{t}"
        "-0.356563782)*{t}+0.319381530)*{t}"
    ).format(t=t)
    up = f"(1.0 - exp(-0.5*({x})*({x}))/{_SQRT_2PI}*{poly})"
    return f"CASE WHEN {x} >= 0.0 THEN {up} ELSE 1.0-{up} END"


def _acklam_c(q):
    return (
        ((((-7.784894002430293e-03 * q - 3.223964580411365e-01) * q
           - 2.400758277161838e+00) * q - 2.549732539343734e+00) * q
         + 4.374664141464968e+00) * q + 2.938163982698783e+00
    )


def _acklam_d(q):
    return (
        (((7.784695709041462e-03 * q + 3.224671290700398e-01) * q
          + 2.445134137142996e+00) * q + 3.754408661907416e+00) * q + 1.0
    )


def norm_ppf(p: Column) -> Column:
    """Standard normal quantile Phi^-1(p), p in (0, 1) — Acklam's
    three-branch rational approximation, Horner form matching
    :func:`sql_norm_ppf` term for term. Callers guarantee p in (0,1);
    the tail branches' log(p)/log(1-p) sit in lazy when() VALUE
    branches, so the ANSI domain is respected whenever the guard
    holds."""
    ql = F.sqrt(-2.0 * F.log(p))
    qh = F.sqrt(-2.0 * F.log(1.0 - p))
    r = (p - 0.5) * (p - 0.5)
    anum = (
        (((((-3.969683028665376e+01 * r + 2.209460984245205e+02) * r
            - 2.759285104469687e+02) * r + 1.383577518672690e+02) * r
          - 3.066479806614716e+01) * r + 2.506628277459239e+00)
        * (p - 0.5)
    )
    bden = (
        ((((-5.447609879822406e+01 * r + 1.615858368580409e+02) * r
           - 1.556989798598866e+02) * r + 6.680131188771972e+01) * r
         - 1.328068155288572e+01) * r + 1.0
    )
    return (
        F.when(p < 0.02425, _acklam_c(ql) / _acklam_d(ql))
        .when(p > 0.97575, -(_acklam_c(qh)) / _acklam_d(qh))
        .otherwise(anum / bden)
    )


def sql_norm_ppf(p: str) -> str:
    """DuckDB mirror of :func:`norm_ppf` (same Horner order). ``p``
    is inlined many times — pass a simple column reference."""
    c = (
        "(((((-7.784894002430293e-03*{q}-3.223964580411365e-01)*{q}"
        "-2.400758277161838e+00)*{q}-2.549732539343734e+00)*{q}"
        "+4.374664141464968e+00)*{q}+2.938163982698783e+00)"
    )
    d = (
        "((((7.784695709041462e-03*{q}+3.224671290700398e-01)*{q}"
        "+2.445134137142996e+00)*{q}+3.754408661907416e+00)*{q}+1.0)"
    )
    a = (
        "((((((-3.969683028665376e+01*{r}+2.209460984245205e+02)*{r}"
        "-2.759285104469687e+02)*{r}+1.383577518672690e+02)*{r}"
        "-3.066479806614716e+01)*{r}+2.506628277459239e+00)*({p}-0.5))"
    )
    b = (
        "(((((-5.447609879822406e+01*{r}+1.615858368580409e+02)*{r}"
        "-1.556989798598866e+02)*{r}+6.680131188771972e+01)*{r}"
        "-1.328068155288572e+01)*{r}+1.0)"
    )
    ql = f"sqrt(-2.0*ln({p}))"
    qh = f"sqrt(-2.0*ln(1.0-({p})))"
    r = f"(({p}-0.5)*({p}-0.5))"
    return (
        f"CASE WHEN {p} < 0.02425 THEN {c.format(q=ql)}/{d.format(q=ql)} "
        f"WHEN {p} > 0.97575 THEN -({c.format(q=qh)})/{d.format(q=qh)} "
        f"ELSE {a.format(r=r, p=p)}/{b.format(r=r)} END"
    )
