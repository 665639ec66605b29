"""Relational operator surface: scans, filters, joins, aggregations,
windows, sorts/limits, set operations.

Each query re-expresses one operator from SURVEY.md §2 over the
fixture star schema. The reference's operators (filter semantics,
broadcast lookup joins, allowlists — geonames.js citations inline) are
mapped onto the TPC-H-shaped tables so the DuckDB oracle can check
them; the geonames-shaped originals are exercised verbatim in
``tests/test_geonames_parity.py``.

Scale notes are attached per operator: which side broadcasts, where
the shuffle lands, why the plan survives a 100×/1000× scale-up.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_geonames_spark.functions import pin, qround
from etl_geonames_spark.functions import sql_qround as qround_sql
from etl_geonames_spark.geonames.pipeline import filters_predicate
from etl_geonames_spark.registry import query
from etl_geonames_spark.sources import load_table

# ---------------------------------------------------------------------------
# scans (SURVEY §2.1)
# ---------------------------------------------------------------------------


@query(
    "scan_tsv",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
           l_shipdate
    FROM lineitem
    """,
)
def scan_tsv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full fact scan with explicit schema (geonames.js:239-242 maps the
    raw TSV to named columns; here Parquet column metadata plays that
    role). Scale: a pure scan — Catalyst prunes to the requested
    columns; at 100 TB the read parallelism is one task per Parquet
    split."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
    )


@query(
    "scan_dim",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    WHERE n_name IS NOT NULL
    """,
)
def scan_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension scan + empty-row drop (readAdminCodes ``.compact()``,
    geonames.js:69-80)."""
    return (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isNotNull())
        .select("n_nationkey", "n_name", "n_regionkey")
    )


# ---------------------------------------------------------------------------
# filters / predicates (SURVEY §2.2)
# ---------------------------------------------------------------------------


@query(
    "filter_whereeq",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
    """,
)
def filter_whereeq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive equality predicate (R.whereEq, geonames.js:180-182),
    compiled by the same predicate builder the geonames pipeline uses.
    Scale: pushed to the Parquet scan (PushedFilters) — no row ever
    leaves the reader."""
    pred = filters_predicate([{"o_orderstatus": "F", "o_orderpriority": "1-URGENT"}])
    return (
        load_table(spark, sf_dir, "orders")
        .filter(pred)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
                "o_totalprice")
    )


@query(
    "filter_any_of",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority
    FROM orders
    WHERE (o_orderstatus = 'F' AND o_orderpriority = '1-URGENT')
       OR (o_orderstatus = 'O' AND o_orderpriority = '5-LOW')
    """,
)
def filter_any_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunction over a filter list (R.any over config.filters,
    geonames.js:243-245)."""
    pred = filters_predicate(
        [
            {"o_orderstatus": "F", "o_orderpriority": "1-URGENT"},
            {"o_orderstatus": "O", "o_orderpriority": "5-LOW"},
        ]
    )
    return (
        load_table(spark, sf_dir, "orders")
        .filter(pred)
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
    )


@query(
    "filter_extra_uris",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority
    FROM orders
    WHERE (o_orderstatus = 'F' AND o_orderpriority = '1-URGENT')
       OR o_orderkey IN (7, 42, 99, 1234)
    """,
)
def filter_extra_uris(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate ∨ allowlist (extraUris, geonames.js:181, 232-237), the
    same single path as :func:`filters_predicate` at every list size:
    an IN subquery over a one-column LocalRelation, planned as a
    broadcast ExistenceJoin — no literal In in the plan or the scan,
    no shuffle."""
    import pyarrow as pa

    pred = filters_predicate([{"o_orderstatus": "F", "o_orderpriority": "1-URGENT"}])
    allow = spark.createDataFrame(pa.table({"o_orderkey": [7, 42, 99, 1234]}))
    return (
        load_table(spark, sf_dir, "orders")
        .filter(pred | F.col("o_orderkey").isin(allow))
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
    )


# single source of truth for the brand→family example mapping (its SQL
# CASE mirror lives beside it) — also used by fn_prefix_match
from etl_geonames_spark.operators.brand_map import _BRAND_CASE, _BRAND_TYPES  # noqa: E402,F401


@query(
    "filter_typed",
    oracle=f"""
    SELECT p_partkey, p_brand, brand_family FROM (
      SELECT p_partkey, p_brand, {_BRAND_CASE} AS brand_family FROM part
    ) t WHERE brand_family IS NOT NULL
    """,
)
def filter_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-prefix type match + drop-if-untyped (geonames.js:127-134,
    175-177) applied to part brands: 'Brand#13' resolves via its
    'Brand#1' prefix, brands outside the map are dropped — the same
    coalesce-chain operator the geonames pipeline uses."""
    from etl_geonames_spark.geonames.pipeline import resolve_type

    return (
        load_table(spark, sf_dir, "part")
        .withColumn("brand_family", resolve_type(F.col("p_brand"), _BRAND_TYPES))
        .filter(F.col("brand_family").isNotNull())
        .select("p_partkey", "p_brand", "brand_family")
    )


# ---------------------------------------------------------------------------
# joins (SURVEY §2.3)
# ---------------------------------------------------------------------------


@query(
    "join_admin2",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, p.p_name, p.p_brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def join_admin2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash lookup join, fact ⋈ small dim (the admin2 probe,
    geonames.js:100-123: dict build = broadcast build side, per-row
    probe = hash join probe). Scale: part stays MB-sized relative to
    lineitem → explicit broadcast keeps the plan shuffle-free at any
    fact size."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"], "inner")
        .select("l_orderkey", "l_linenumber", "l_quantity", "p_name", "p_brand")
    )


@query(
    "join_self_parent_fallback",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CASE WHEN c.c_custkey % 25 = n.n_nationkey THEN r.r_name
                ELSE n.n_name END AS parent_name
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def join_self_parent_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional parent fallback across two broadcast joins — the
    self-parent quirk (geonames.js:107-109: when the row is its own
    admin2 parent, re-probe admin1). Here: when a customer 'is its
    own nation' (custkey ≡ nationkey mod 25), the parent resolves one
    level up to the region."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"], "inner")
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"], "left")
        .select(
            "c_custkey",
            "c_name",
            F.when(F.col("c_custkey") % 25 == F.col("n_nationkey"), F.col("r_name"))
            .otherwise(F.col("n_name"))
            .alias("parent_name"),
        )
    )


@query(
    "join_inner",
    oracle="""
    SELECT o.o_orderkey, c.c_name, c.c_mktsegment, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join. Scale: customer ≪ orders here → broadcast; at
    comparable sizes AQE picks sort-merge on the shuffled key."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "inner")
        .select("o_orderkey", "c_name", "c_mktsegment", "o_totalprice")
    )


@query(
    "join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus = 'P') o
      ON o.o_custkey = c.c_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving unmatched build rows (null-tolerant —
    the behavior the reference *lacks*: its probe miss crashes,
    geonames.js:105-107)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        c.join(o, o["o_custkey"] == c["c_custkey"], "left")
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join — existence check without duplication (the
    allowlist membership shape, geonames.js:181, at join scale)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, o["o_custkey"] == c["c_custkey"], "left_semi")
        .select("c_custkey", "c_name", "c_nationkey")
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join — the complement of the allowlist."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, o["o_custkey"] == c["c_custkey"], "left_anti")
        .select("c_custkey", "c_name")
    )


@query(
    "join_range",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           datediff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))
             AS days_to_ship
    FROM lineitem l
    JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range join (band predicate on event time). Scale: the
    equi key carries the shuffle; the range predicate evaluates
    post-match, so this stays a hash/sort-merge join, never a
    nested-loop."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cond = (
        (li["l_orderkey"] == o["o_orderkey"])
        & (li["l_shipdate"] >= o["o_orderdate"])
        & (li["l_shipdate"] <= o["o_orderdate"] + F.expr("INTERVAL 90 DAYS"))
    )
    return li.join(o, cond, "inner").select(
        "l_orderkey",
        "l_linenumber",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "days_to_ship"
        ),
    )


@query(
    "join_theta",
    oracle="""
    SELECT n.n_name, r.r_name FROM nation n
    JOIN region r ON n.n_regionkey < r.r_regionkey
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure theta (non-equi) join — broadcast nested loop over a
    dimension pair. Scale rule: only ever theta-join when one side
    broadcasts; an unbounded theta over two fact tables is a plan
    smell, not an operator."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return n.join(
        F.broadcast(r), n["n_regionkey"] < r["r_regionkey"], "inner"
    ).select("n_name", "r_name")


@query(
    "join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Cartesian product — legitimate only when one side is
    tiny (here both are dims; Spark plans a broadcast nested loop).
    A fact×fact cross is a plan bug, not an operator."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    n = load_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(F.broadcast(n))


@query(
    "join_asof",
    oracle="""
    SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts, c.event_id AS c_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest click at-or-before
    it, per user. Spark lacks a native ASOF operator; the scalable
    decomposition is union → single window pass (one shuffle on
    user_id, no range-join explosion):

      tag clicks 0 / purchases 1 → sort by (ts, tag) within user →
      last non-null click id over rows-unbounded-preceding.

    This is exactly how the reference's streaming model would express
    it (carry-forward state), and it scales linearly: one shuffle, no
    pairwise candidate blowup. DuckDB's native ASOF JOIN is the
    oracle."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("c_event_id"),
        F.lit(None).cast("long").alias("p_event_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("long").alias("c_event_id"),
        F.col("event_id").alias("p_event_id"),
    )
    tagged = clicks.unionByName(purchases)
    # c_event_id as the final sort key: two clicks with identical ts
    # would otherwise resolve by partition order (nondeterministic
    # run-to-run). The engine pins highest-id-wins; DuckDB's ASOF keeps
    # its own arbitrary choice on exact ties — a documented divergence
    # that the equal-ts-free fixture never exercises.
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts"),
            F.col("c_event_id").isNull().cast("int"),
            F.col("c_event_id"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn("c_id", F.last("c_event_id", ignorenulls=True).over(w))
        .filter(F.col("p_event_id").isNotNull())
        .select(
            F.col("p_event_id").alias("p_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
            "c_id",
        )
    )


_SALT_BUCKETS = 8


@query(
    "join_skew_salted",
    oracle="""
    SELECT o.o_orderkey, c.c_name, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted equi join — the skew-mitigation pattern for when
    one join key carries a disproportionate share of the fact rows and
    AQE's skew splitting isn't available (e.g. the build side must
    shuffle too).

    Fact side: deterministic salt = xxhash64(orderkey) mod N appended
    to the key. Build side: exploded N× with every salt value. The
    shuffle then spreads each hot key over N partitions. Semantics are
    exactly the unsalted join (oracle: plain join) — salting changes
    the partitioning, never the result. At 100 TB, N scales with the
    observed skew factor; AQE skew-join handles the common case
    without code, this is the explicit fallback."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col("o_orderkey")), F.lit(_SALT_BUCKETS)).cast("int"),
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT_BUCKETS - 1)))
        )
    )
    # shuffle_hash hint: without it the small fixture dim would
    # auto-broadcast and the salted shuffle this op demonstrates would
    # never materialize (in the real skew scenario the build side is
    # too big to broadcast by definition).
    return (
        o.join(
            c.hint("shuffle_hash"),
            (o["o_custkey"] == c["c_custkey"]) & (o["_salt"] == c["_salt"]),
        )
        .select("o_orderkey", "c_name", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------


@query(
    "agg_group",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 10000.0 + 0.5) / 10000.0
             AS sum_disc_price,
           FLOOR((AVG(l_quantity)) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
           FLOOR((AVG(l_extendedprice)) * 10000.0 + 0.5) / 10000.0 AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped hash aggregate (TPC-H Q1 shape). Scale: partial
    aggregation runs map-side, only |groups| rows shuffle — the
    canonical 100 TB-safe aggregation. Float sums are rounded on both
    engines so accumulation order cannot flip the comparison."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        # qround at the 4dp product grid, not ROUND at 2dp: summed
        # 2dp×2dp products are exact 4dp multiples, so 4dp rounding is
        # robust to cross-engine accumulation-order noise, while a 2dp
        # cut can land exactly on a half-boundary where the engines'
        # ROUNDs disagree (observed at sf0.01).
        qround(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("sum_disc_price"),
        qround(F.avg("l_quantity"), 4).alias("avg_qty"),
        qround(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "agg_global",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           ROUND(MIN(l_quantity), 2) AS min_qty,
           ROUND(MAX(l_quantity), 2) AS max_qty,
           FLOOR((AVG(l_discount)) * 1000000.0 + 0.5) / 1000000.0 AS avg_discount
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (ungrouped) aggregate — partials from every partition
    reduce to one row; no data shuffle beyond the single-row exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
        qround(F.avg("l_discount"), 6).alias("avg_discount"),
    )


@query(
    "agg_distinct",
    oracle="SELECT DISTINCT c_nationkey, c_mktsegment FROM customer",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct = group-by-all-columns; shuffles only the key pair."""
    return load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment"
    ).distinct()


@query(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(DISTINCT l_suppkey) AS distinct_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting; Spark expands to a two-phase aggregate.
    At 100 TB prefer agg_approx_distinct (HLL) when ±2% is tolerable."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.countDistinct("l_suppkey").alias("distinct_supps"),
        )
    )


@query("agg_approx_distinct")  # non-deterministic vs oracle → rows-only check
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB-scale answer to
    count-distinct: fixed-size sketches merge associatively, so the
    shuffle carries KBs instead of the key universe."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts")
        )
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT r_name, n_name,
           ROUND(SUM(c_acctbal), 2) AS sum_acctbal,
           COUNT(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (region → nation → grand total)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-set combinations over two keys."""
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


@query(
    "agg_median",
    oracle="""
    SELECT c_nationkey,
           FLOOR(MEDIAN(c_acctbal) * 100.0 + 0.5) / 100.0 AS median_bal,
           FLOOR(quantile_cont(c_acctbal, 0.9) * 100.0 + 0.5) / 100.0 AS p90_bal
    FROM customer GROUP BY c_nationkey
    """,
)
def agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / continuous quantile. Exact percentiles buffer the
    group's values — at 100 TB use approx_percentile (t-digest
    sketches, fixed memory, mergeable) unless exactness is contractual."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        qround(F.median("c_acctbal"), 2).alias("median_bal"),
        qround(F.percentile("c_acctbal", F.lit(0.9)), 2).alias("p90_bal"),
    )


@query(
    "dedup_latest_per_key",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_custkey
        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) t WHERE rn = 1
    """,
)
def dedup_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the latest record per key (CDC compaction / snapshot-from-
    changelog): row_number over (key, time desc) = 1. One shuffle on
    the key; at 100 TB prefer max_by when only a few columns are
    needed (single aggregate, no full-row sort)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        load_table(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


@query("agg_approx_percentile")  # sketch-based → rows-only check
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (t-digest-style sketch): fixed-memory,
    mergeable partials — the 100 TB replacement for agg_median's exact
    buffering. Deterministic for a given dataset + accuracy."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", [0.5, 0.9, 0.99], 10000).alias(
                "price_p50_p90_p99"
            )
        )
        .select(
            "l_returnflag",
            F.col("price_p50_p90_p99")[0].alias("p50"),
            F.col("price_p50_p90_p99")[1].alias("p90"),
            F.col("price_p50_p90_p99")[2].alias("p99"),
        )
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           FLOOR(STDDEV_SAMP(l_quantity) * 1000000.0 + 0.5) / 1000000.0
             AS sd_qty,
           FLOOR(VAR_SAMP(l_discount) * 1000000000.0 + 0.5) / 1000000000.0
             AS var_disc,
           FLOOR(CORR(l_quantity, l_extendedprice) * 1000000.0 + 0.5)
             / 1000000.0 AS corr_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/variance/correlation) — one-pass
    moment accumulators, same partial+final shape as sum/avg."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        qround(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        qround(F.var_samp("l_discount"), 9).alias("var_disc"),
        qround(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
    )


@query(
    "agg_collect",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations,
           CAST(len(list(DISTINCT n_name)) AS INT) AS n_nations
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation — collect_set sorted for determinism
    (collect_list order is partition-dependent by design; never
    compare an unsorted collect), serialized for the flat-column
    comparison gate."""
    sets = F.sort_array(F.collect_set("n_name"))
    return (
        load_table(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(sets, ",").alias("nations"),
            F.size(sets).cast("int").alias("n_nations"),
        )
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) FILTER (c_mktsegment = 'BUILDING')   AS building,
           COUNT(*) FILTER (c_mktsegment = 'AUTOMOBILE') AS automobile,
           COUNT(*) FILTER (c_mktsegment = 'MACHINERY')  AS machinery
    FROM customer GROUP BY c_nationkey
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide) with an explicit value list — without one,
    Spark must first scan for distinct keys; always pin the columns at
    scale."""
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .pivot("c_mktsegment", ["BUILDING", "AUTOMOBILE", "MACHINERY"])
        .count()
        .select(
            "c_nationkey",
            F.coalesce("BUILDING", F.lit(0)).alias("building"),
            F.coalesce("AUTOMOBILE", F.lit(0)).alias("automobile"),
            F.coalesce("MACHINERY", F.lit(0)).alias("machinery"),
        )
    )


# ---------------------------------------------------------------------------
# window functions (SURVEY §2.5)
# ---------------------------------------------------------------------------


@query(
    "win_rank",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking trio. The unique-key tiebreak (c_custkey) makes
    row_number deterministic across engines. Scale: one shuffle on
    the partition key; skewed partitions are the hazard — mitigate by
    pre-filtering or two-level top-k."""
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@query(
    "win_distribution",
    oracle="""
    SELECT c_custkey, c_nationkey,
           FLOOR(PERCENT_RANK() OVER w * 1000000.0 + 0.5) / 1000000.0
             AS pct_rank,
           FLOOR(CUME_DIST() OVER w * 1000000.0 + 0.5) / 1000000.0
             AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution functions (percent_rank, cume_dist) within
    nation-partitioned balance order."""
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        qround(F.percent_rank().over(w), 6).alias("pct_rank"),
        qround(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT event_id, user_id, ts, value,
           LAG(value) OVER w AS prev_value,
           LEAD(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic offsets over per-user event time."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "win_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_spend
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-framed running aggregate."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           COUNT(*) OVER (
             PARTITION BY c_nationkey ORDER BY c_acctbal
             RANGE BETWEEN 500 PRECEDING AND CURRENT ROW)
           AS peers_within_500
    FROM customer
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (value-based) frame: peers whose acctbal is within 500
    below the current row's."""
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy("c_acctbal")
        .rangeBetween(-500, Window.currentRow)
    )
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.count(F.lit(1)).over(w).alias("peers_within_500"),
    )


@query(
    "win_first_last",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS last_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last analytic over the full partition (explicit unbounded
    frame for last — the default frame stops at CURRENT ROW)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w_full).alias("last_order"),
    )


@query(
    "win_ntile",
    oracle="""
    SELECT c_custkey, c_acctbal,
           NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS balance_quartile
    FROM customer
    """,
)
def win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile assignment with exact global-NTILE semantics, computed
    *distributed* — a naive ``Window.orderBy`` with no partitionBy
    funnels every row through ONE task (see :func:`win_ntile_global`,
    kept only as the semantic test fixture).

    Decomposition (the standard distributed global-rank pattern):

    1. range-repartition on the sort key — each partition holds a
       contiguous key range, partition ids follow the global order;
    2. per-partition ``row_number`` (window partitioned by partition
       id — every partition ranks in parallel);
    3. per-partition counts → cumulative offsets (one tiny window over
       #partitions rows — metadata-sized at any scale) broadcast back;
    4. global rank = local row_number + partition offset, then exact
       NTILE arithmetic: the first ``N mod n`` tiles get
       ``floor(N/n)+1`` rows, the rest ``floor(N/n)``.

    Every stage over the fact table is parallel; the only single-task
    step touches one row per partition."""
    key = [F.col("c_acctbal").desc(), F.col("c_custkey")]
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return distributed_ntile(cust, key, 4, "balance_quartile").select(
        "c_custkey", "c_acctbal", "balance_quartile"
    )


def distributed_rank(df: DataFrame, key: list) -> DataFrame:
    """Exact GLOBAL row_number without a global window: range-
    repartition on the sort key, per-partition row_number, cumulative
    partition offsets (a window over one row PER PARTITION —
    metadata-sized), reconstructed global rank in ``_grn`` (plus
    ``_total``). The machinery behind :func:`distributed_ntile`,
    exposed for rank-hungry analytics (Zipf fits, top-p cutoffs);
    the plan sweep whitelists exactly this offsets window by its
    _pid/_n bookkeeping columns."""
    parts = df.repartitionByRange(*key).withColumn(
        "_pid", F.spark_partition_id()
    )
    sizes = parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    w_cum = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "_pid", F.coalesce(F.sum("_n").over(w_cum), F.lit(0)).alias("_offset")
    )
    total = df.agg(F.count(F.lit(1)).alias("_total"))
    w_pid = Window.partitionBy("_pid").orderBy(*key)
    return (
        parts.withColumn("_rn", F.row_number().over(w_pid))
        .join(F.broadcast(offsets), "_pid")
        .crossJoin(F.broadcast(total))
        .withColumn("_grn", F.col("_rn") + F.col("_offset"))
    )


def distributed_ntile(
    df: DataFrame, key: list, n: int, out_col: str
) -> DataFrame:
    """Exact global-NTILE semantics without a global window (the
    :func:`win_ntile` decomposition, reusable): global rank via
    :func:`distributed_rank`, then exact tile arithmetic."""
    ranked = distributed_rank(df, key)
    nn = F.lit(n)
    base = F.floor(F.col("_total") / nn)  # small-tile size
    big = F.col("_total") % nn  # number of big tiles (size base+1)
    cut = big * (base + 1)  # rows covered by the big tiles
    tile = F.when(
        F.col("_grn") <= cut, F.floor((F.col("_grn") - 1) / (base + 1)) + 1
    ).otherwise(
        big + F.floor((F.col("_grn") - cut - 1) / F.greatest(base, F.lit(1))) + 1
    )
    return ranked.withColumn(out_col, tile.cast("int")).drop(
        "_pid", "_rn", "_offset", "_total", "_grn"
    )


def win_ntile_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The textbook one-liner — UNREGISTERED: the empty partitionBy is
    a global single-task window, a straight scale-killer at fact size.
    Kept as the semantic oracle for win_ntile's decomposition in
    tests/test_plans.py."""
    w = Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("balance_quartile"),
    )


# ---------------------------------------------------------------------------
# sorts / limits / set ops (SURVEY §2.6)
# ---------------------------------------------------------------------------


@query(
    "sort_orderby",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
    ORDER BY o_orderdate DESC, o_orderkey
    """,
)
def sort_orderby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort — range-partitioned exchange + per-partition sort.
    At scale, only sort when an order is actually consumed."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey"))
    )


@query(
    "sort_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: Spark plans TakeOrderedAndProject — per-partition heaps,
    no global sort, O(k) driver transfer. The only sane 'ORDER BY +
    LIMIT' at 100 TB."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "set_union",
    oracle="""
    SELECT CAST(c_nationkey AS INT) AS nationkey, 'customer' AS side FROM customer
    UNION ALL
    SELECT CAST(s_nationkey AS INT) AS nationkey, 'supplier' AS side FROM supplier
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union by name — no shuffle, pure concatenation of partitions."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey"),
        F.lit("customer").alias("side"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey"),
        F.lit("supplier").alias("side"),
    )
    return c.unionByName(s)


@query(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (distinct semantics)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@query(
    "set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag difference (EXCEPT ALL) — multiplicity-aware."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.exceptAll(s)


@query(
    "set_intersect_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag intersection (INTERSECT ALL) — each value survives
    min(multiplicity_left, multiplicity_right) times, the multiset
    dual of set_except's EXCEPT ALL. Spark plans it as a
    count-compare aggregate over both inputs (one shuffle on the
    value key, partial counts map-side) — no join fan-out, so a key
    appearing 10^6 times on each side still moves two partial counts,
    not 10^12 pairs."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersectAll(s)


@query(
    "agg_histogram",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0 THEN 0
                WHEN o_totalprice >= 600000 THEN 21
                ELSE CAST(FLOOR(o_totalprice / ((600000.0 - 0) / 20))
                          AS BIGINT) + 1
           END AS bucket,
           COUNT(*) AS n
    FROM orders
    GROUP BY bucket
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via width_bucket (SQL-standard bucket
    semantics: 0 below range, n_buckets+1 above) + grouped count —
    the distribution-profiling primitive. One partial-agg shuffle of
    at most n_buckets+2 rows. DuckDB 1.0 has no width_bucket, so the
    oracle mirrors Spark's exact double arithmetic
    (floor((v-lo)/((hi-lo)/n))+1, clamped)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(20))
            .cast("bigint")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "agg_mode",
    oracle="""
    SELECT o_orderpriority, o_orderstatus AS mode_status, n AS mode_n
    FROM (
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY COUNT(*) DESC, o_orderstatus) AS rn
        FROM orders GROUP BY o_orderpriority, o_orderstatus
    ) WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value) — NOT the built-in
    ``F.mode``, whose tie-break is nondeterministic across runs and
    engines. Decomposed as count-per-value then a min_by argmin over
    the (-count, value) struct: larger counts win, and on equal
    counts the smallest value wins, identically on both engines.

    100 TB shape: two hash aggregates, both map-side combined — the
    first shuffles (group, value, partial-count), the second only
    (group, best-so-far). No window over raw rows."""
    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counts.groupBy("o_orderpriority")
        .agg(
            F.min_by(
                F.struct(
                    F.col("o_orderstatus").alias("mode_status"),
                    F.col("n").alias("mode_n"),
                ),
                F.struct((-F.col("n")).alias("neg_n"), F.col("o_orderstatus")),
            ).alias("m")
        )
        .select("o_orderpriority", "m.mode_status", "m.mode_n")
    )


@query(
    "agg_conditional",
    oracle="""
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_orderstatus = 'F') AS any_finished,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregate surface: count_if + bool_and /
    bool_or — the data-quality assertion idiom (``bool_and(valid)``
    over a partition is the distributed ALL()). One map-side-combined
    hash aggregate; booleans fold per-partition to a byte each, so the
    shuffle carries 5 groups x a few bytes regardless of fact size.

    Oracle note: DuckDB's count_if returns HUGEINT — CAST to BIGINT
    (the sql_tpch_q12 lesson, pinned here too).
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 150000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, epoch_us(ts) AS m,
             CASE WHEN event_type = 'click' THEN event_id END AS c_id,
             CASE WHEN event_type = 'purchase' THEN event_id END AS p_id
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    scanned AS (
      SELECT user_id, ts, m, p_id,
             LAST_VALUE(CASE WHEN c_id IS NOT NULL THEN m END IGNORE NULLS)
               OVER wb AS prev_m,
             LAST_VALUE(c_id IGNORE NULLS) OVER wb AS prev_id,
             FIRST_VALUE(CASE WHEN c_id IS NOT NULL THEN m END IGNORE NULLS)
               OVER wf AS next_m,
             FIRST_VALUE(c_id IGNORE NULLS) OVER wf AS next_id
      FROM tagged
      WINDOW
        wb AS (PARTITION BY user_id ORDER BY m, (c_id IS NULL), c_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY user_id ORDER BY m, (c_id IS NULL), c_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT p_id, user_id, ts AS p_ts,
           CASE WHEN prev_id IS NULL THEN next_id
                WHEN next_id IS NULL THEN prev_id
                WHEN (m - prev_m) <= (next_m - m) THEN prev_id
                ELSE next_id
           END AS c_id
    FROM scanned WHERE p_id IS NOT NULL
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join: each purchase matched to the
    temporally CLOSEST click per user, before or after (ties go to the
    earlier click). The 'nearest' direction completes the as-of family
    — :func:`join_asof` is the backward form.

    Same scalable decomposition as join_asof (union + window carry,
    one shuffle on user_id, no candidate pair blowup), run in BOTH
    directions inside the same window pass: last-non-null behind,
    first-non-null ahead, then an arithmetic pick on the epoch-micros
    distance. DuckDB has no nearest ASOF, so the oracle replays the
    identical window construction (IGNORE NULLS is the dialect-shared
    primitive)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    m = F.unix_micros(F.col("ts").cast("timestamp"))
    tagged = ev.select(
        "user_id",
        "ts",
        m.alias("m"),
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("c_id"),
        F.when(F.col("event_type") == "purchase", F.col("event_id")).alias(
            "p_id"
        ),
    )
    order = [F.col("m"), F.col("c_id").isNull().cast("int"), F.col("c_id")]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    c_m = F.when(F.col("c_id").isNotNull(), F.col("m"))
    scanned = tagged.select(
        "user_id",
        "ts",
        "m",
        "p_id",
        F.last(c_m, ignorenulls=True).over(wb).alias("prev_m"),
        F.last("c_id", ignorenulls=True).over(wb).alias("prev_id"),
        F.first(c_m, ignorenulls=True).over(wf).alias("next_m"),
        F.first("c_id", ignorenulls=True).over(wf).alias("next_id"),
    )
    pick = (
        F.when(F.col("prev_id").isNull(), F.col("next_id"))
        .when(F.col("next_id").isNull(), F.col("prev_id"))
        .when(
            (F.col("m") - F.col("prev_m")) <= (F.col("next_m") - F.col("m")),
            F.col("prev_id"),
        )
        .otherwise(F.col("next_id"))
    )
    return scanned.filter(F.col("p_id").isNotNull()).select(
        F.col("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        pick.alias("c_id"),
    )


@query(
    "profile_skew",
    oracle="""
    WITH k AS (
      SELECT o_custkey AS key, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY o_custkey
    ),
    t AS (
      SELECT CAST(SUM(n) AS DOUBLE) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM k
    )
    SELECT key, n,
           FLOOR(n / t.total * 1000000.0 + 0.5) / 1000000.0 AS share,
           t.n_keys
    FROM k, t
    ORDER BY n DESC, key LIMIT 10
    """,
)
def profile_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics: the top-10 heaviest keys with their
    share of the table, plus the distinct-key count — the numbers you
    read before choosing a salting factor or trusting AQE's skew
    split (a key with share ≫ 1/shuffle-partitions is the hazard).

    Shape: one map-side-combined count per key, a 1-row broadcast
    (total, n_keys) crossJoin, TakeOrdered top-10 with a deterministic
    (count desc, key) tie-break. The key-count table is the only
    shuffle; the hot path never sorts globally."""
    k = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = k.agg(
        F.sum("n").cast("double").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    return (
        k.crossJoin(F.broadcast(t))
        .select(
            "key",
            "n",
            qround(F.col("n") / F.col("total"), 6).alias("share"),
            "n_keys",
        )
        .orderBy(F.col("n").desc(), "key")
        .limit(10)
    )


@query(
    "join_null_safe",
    oracle="""
    SELECT n.n_name, r.r_name
    FROM (SELECT n_name,
                 CASE WHEN n_nationkey % 5 = 0 THEN NULL
                      ELSE n_regionkey END AS k
          FROM nation) n
    JOIN (SELECT r_name,
                 CASE WHEN r_regionkey = 0 THEN NULL
                      ELSE r_regionkey END AS k
          FROM region) r
      ON n.k IS NOT DISTINCT FROM r.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    keys match NULL keys instead of vanishing — the semantics CDC and
    SCD pipelines need when the merge key is legitimately nullable.

    The plan property that matters: `<=>` is still an EQUI key to
    Catalyst, so this stays a (broadcast) hash join — unlike a general
    theta predicate, which would degrade to nested-loop. NULL-key
    fan-out is the 100 TB hazard (every NULL matches every NULL):
    acceptable only when one side's NULL set is dim-sized, else
    pre-split the NULL partition like a skew key. Both derived keys
    here are deterministic fixture transforms (the schema has no
    nullable join keys)."""
    nation = load_table(spark, sf_dir, "nation").select(
        "n_name",
        F.when(F.col("n_nationkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("n_regionkey"))
        .alias("nk"),
    )
    region = load_table(spark, sf_dir, "region").select(
        "r_name",
        F.when(F.col("r_regionkey") == 0, F.lit(None))
        .otherwise(F.col("r_regionkey"))
        .alias("rk"),
    )
    return nation.join(
        F.broadcast(region), F.col("nk").eqNullSafe(F.col("rk"))
    ).select("n_name", "r_name")


@query(
    "win_distinct_rolling",
    oracle="""
    SELECT event_id, user_id,
           CAST(len(list_distinct(list(event_type) OVER w)) AS BIGINT)
             AS distinct_types_20
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """,
)
def win_distinct_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling distinct count: how many distinct event types each user
    produced across their trailing 20 events — the sliding-variety
    signal (bot detection, engagement breadth) that plain rolling
    counts can't see.

    Neither engine supports COUNT(DISTINCT) as a window frame
    aggregate; both compose it as collect-over-frame → distinct → size
    (`collect_set`/`size` in Spark, `list`/`list_distinct` in DuckDB).
    One shuffle on user_id, O(frame) state per row — frame-bounded, so
    memory is constant regardless of history length. An unbounded
    variant should switch to the monotone first-seen-flag + running
    sum pattern instead of an ever-growing set."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w))
        .cast("bigint")
        .alias("distinct_types_20"),
    )


@query(
    "win_nth_value",
    oracle="""
    SELECT o_custkey, o_orderkey,
           nth_value(o_orderkey, 2) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_order
    FROM orders
    """,
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over the full partition (each order row annotated with
    its customer's SECOND order id; NULL for single-order customers) —
    completes the positional window family beside first/last/lag/lead.
    The frame must be explicitly unbounded on both ends: the default
    frame stops at CURRENT ROW, which would make rows before the
    second order see NULL."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


@query(
    "agg_string_concat",
    oracle="""
    SELECT n_nationkey,
           string_agg(c_name, ',' ORDER BY c_name) AS members
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    WHERE c_custkey <= 200
    GROUP BY n_nationkey
    """,
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): member names
    per nation, comma-joined in sorted order. collect_list order is
    partition-arrival order — nondeterministic — so the engine form is
    sort_array → array_join, which is also the only portable way to
    match another engine's ORDER BY clause byte-for-byte.

    Scale note: the concatenated string is O(group size) — fine for
    dim-sized groups (labels, codes), a memory trap on fact-sized
    ones; there, keep the array form and explode downstream."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_nationkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("c_name")), ","
            ).alias("members")
        )
    )


@query(
    "agg_higher_moments",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             AVG(l_quantity) AS mu,
             AVG(l_quantity * l_quantity) AS m2r,
             AVG(l_quantity * l_quantity * l_quantity) AS m3r,
             AVG(l_quantity * l_quantity * l_quantity * l_quantity) AS m4r
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           FLOOR((m2r - mu * mu) * 1000000.0 + 0.5) / 1000000.0
             AS var_pop,
           FLOOR(((m3r - 3 * mu * m2r + 2 * mu * mu * mu)
                  / power(m2r - mu * mu, 1.5)) * 1000000.0 + 0.5)
             / 1000000.0 AS skewness,
           FLOOR(((m4r - 4 * mu * m3r + 6 * mu * mu * m2r
                   - 3 * mu * mu * mu * mu)
                  / power(m2r - mu * mu, 2.0) - 3.0) * 1000000.0 + 0.5)
             / 1000000.0 AS excess_kurtosis
    FROM m
    """,
)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis from raw moments — the
    distribution-shape statistics that tell a pipeline whether a
    column is salting-worthy-skewed or heavy-tailed before any
    percentile pass.

    Written as explicit E[Xᵏ] aggregates + central-moment algebra
    rather than the built-ins, because `skewness`/`kurtosis`
    DEFINITIONS differ across engines (population vs sample bias
    correction — a classic silent cross-system mismatch); raw moments
    are definition-free and map-side combinable, so this stays ONE
    hash aggregate. Numerical caveat at extreme scale: raw-moment
    subtraction loses precision when |mu| ≫ σ; the streaming-safe
    alternative is Welford/merge-by-pairs, which Spark's own built-in
    uses internally."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    m = li.groupBy("l_returnflag").agg(
        F.avg(q).alias("mu"),
        F.avg(q * q).alias("m2r"),
        F.avg(q * q * q).alias("m3r"),
        F.avg(q * q * q * q).alias("m4r"),
    )
    mu, m2r, m3r, m4r = (F.col(c) for c in ("mu", "m2r", "m3r", "m4r"))
    var_pop = m2r - mu * mu
    skew = (m3r - 3 * mu * m2r + 2 * mu * mu * mu) / F.pow(var_pop, 1.5)
    kurt = (
        m4r - 4 * mu * m3r + 6 * mu * mu * m2r - 3 * mu * mu * mu * mu
    ) / F.pow(var_pop, 2.0) - 3.0
    return m.select(
        "l_returnflag",
        qround(var_pop, 6).alias("var_pop"),
        qround(skew, 6).alias("skewness"),
        qround(kurt, 6).alias("excess_kurtosis"),
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark's bitmap aggregate family
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg
    / bitmap_count, Spark 3.5+): keys bucket into 32768-bit bitmaps,
    each bucket ORs map-side into one 4 KB value, bucket popcounts sum
    to the exact distinct count. The oracle is plain COUNT(DISTINCT) —
    same answer, different physics.

    Why it matters at 100 TB: COUNT(DISTINCT) shuffles every distinct
    (group, key) pair through an Expand; the bitmap form shuffles at
    most one 4 KB bitmap per (group, bucket) REGARDLESS of row count —
    fully mergeable (partial aggregation works), so a 10^9-key group
    moves ~30k bitmaps instead of 10^9 rows. The same bitmaps persist
    as a rollup-able distinct sketch with EXACT semantics, where HLL
    trades exactness for even less space."""
    orders = load_table(spark, sf_dir, "orders")
    per_bucket = (
        orders.groupBy(
            "o_orderpriority",
            F.expr("bitmap_bucket_number(o_custkey)").alias("_bucket"),
        )
        .agg(
            F.expr(
                "bitmap_count(bitmap_construct_agg("
                "bitmap_bit_position(o_custkey)))"
            ).alias("_cnt")
        )
    )
    return per_bucket.groupBy("o_orderpriority").agg(
        F.sum("_cnt").cast("bigint").alias("n_customers")
    )


@query(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(corr(l_quantity, l_extendedprice) * 1000000.0 + 0.5)
             / 1000000.0 AS qty_price_corr,
           FLOOR(covar_pop(l_quantity, l_discount) * 1000000.0 + 0.5)
             / 1000000.0 AS qty_disc_covar
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + population covariance per group — the
    relationship summary statistics profiling runs alongside
    agg_regression's fitted line. Both are mergeable moment
    accumulators (Σx, Σy, Σxy, Σx², Σy²), so the plan is ONE
    map-side-combined hash aggregate at any scale — the same physics
    as a plain SUM, never a second pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        qround(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "qty_price_corr"
        ),
        qround(F.covar_pop("l_quantity", "l_discount"), 6).alias(
            "qty_disc_covar"
        ),
    )


@query(
    "agg_skew_two_phase",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           FLOOR(SUM(o_totalprice) * 100.0 + 0.5) / 100.0 AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_skew_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for pathologically skewed group
    keys (o_orderstatus has ~3 values — every row of a 100 TB table
    funnels into 3 reducers in a naive plan): phase 1 groups on
    (key, salt) spreading each hot key over 16 partitions, phase 2
    merges the 16 partials per key — count and sum are mergeable, so
    the result is exact. Same answer as the plain groupBy (the
    oracle), different worst-case physics.

    Note Spark's own partial aggregation already handles MODERATE
    skew (map-side combine); explicit salting is for the regime where
    even the combined partials of one key exceed a reducer —
    the groupBy analog of join_skew_salted."""
    orders = load_table(spark, sf_dir, "orders")
    salted = orders.withColumn(
        "_salt", F.pmod(F.xxhash64("o_orderkey"), F.lit(16))
    )
    partial = salted.groupBy("o_orderstatus", "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("o_totalprice").alias("_sum"),
    )
    return partial.groupBy("o_orderstatus").agg(
        F.sum("_n").alias("n_orders"),
        qround(F.sum("_sum"), 2).alias("total_price"),
    )


@query(
    "join_fuzzy_name",
    oracle="""
    WITH c AS (
      SELECT c_custkey, substr(lower(c_name), 10) AS suffix FROM customer
      WHERE c_custkey < 300
    ),
    s AS (
      SELECT s_suppkey, substr(lower(s_name), 10) AS suffix FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           CAST(levenshtein(c.suffix, s.suffix) AS BIGINT) AS edit_dist
    FROM c JOIN s
      ON substr(c.suffix, 1, 6) = substr(s.suffix, 1, 6)
     AND ABS(length(c.suffix) - length(s.suffix)) <= 2
    WHERE levenshtein(c.suffix, s.suffix) <= 1
    """,
)
def join_fuzzy_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy string join — entity resolution's standard
    block-then-refine shape. Matching runs on the entity's numeric
    suffix (the fixture's ``Customer#``/``Supplier#`` prefixes are
    type tags, not identity — prefix-matching them yields ZERO pairs,
    a vacuous demo): block on the first 6 suffix chars + a length
    band, refine with exact Levenshtein ≤ 1, so records whose numbers
    differ by one digit edit match. The equi block carries the
    shuffle as a plain hash join; the O(mn) edit-distance runs only
    on candidates, never corpus×corpus (the LSH dedup family's
    discipline; at 100 TB swap the prefix block for q-gram LSH to
    survive edits inside the blocking key)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 300)
        .select(
            "c_custkey",
            F.expr("substring(lower(c_name), 10)").alias("c_sfx"),
        )
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.expr("substring(lower(s_name), 10)").alias("s_sfx"),
    )
    cand = c.join(
        s,
        (F.substring("c_sfx", 1, 6) == F.substring("s_sfx", 1, 6))
        & (F.abs(F.length("c_sfx") - F.length("s_sfx")) <= 2),
    )
    dist = F.levenshtein("c_sfx", "s_sfx")
    return (
        cand.filter(dist <= 1)
        .select(
            "c_custkey",
            "s_suppkey",
            dist.cast("bigint").alias("edit_dist"),
        )
    )


@query(
    "agg_ab_ttest",
    oracle=f"""
    WITH s AS (
        SELECT event_type, user_id % 2 AS grp,
               COUNT(*) AS n, AVG(value) AS m, var_samp(value) AS v
        FROM events GROUP BY 1, 2
    )
    SELECT a.event_type,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           {qround_sql("(a.m - b.m) / SQRT(a.v / a.n + b.v / b.n)", 6)}
             AS t_stat
    FROM s a JOIN s b
      ON a.event_type = b.event_type AND a.grp = 0 AND b.grp = 1
    """,
)
def agg_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic per event type, comparing the
    even-user cohort against the odd-user cohort — the A/B-test
    primitive an experimentation pipeline runs over every metric.
    (The statistic only; p-values need the t CDF, which belongs in
    the caller — the expensive distributed part is the moments.)

    One grouped aggregate computes (n, mean, sample variance) per
    (event_type, cohort) — all mergeable moments, map-side combined —
    then a self-join on event_type pairs the two cohort rows. The
    aggregate output is |types|×2 rows, so the join is broadcast-size
    at any input scale: the whole query costs exactly one shuffle of
    partial moments no matter how many events stream in.

    qround at 1e-6: mean/variance accumulation order differs across
    engines; the statistic is O(1)-magnitude so ulp drift sits far
    below the grid."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        "event_type", (F.col("user_id") % 2).alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    a = s.where(F.col("grp") == 0).alias("a")
    b = s.where(F.col("grp") == 1).alias("b")
    t = (F.col("a.m") - F.col("b.m")) / F.sqrt(
        F.col("a.v") / F.col("a.n") + F.col("b.v") / F.col("b.n")
    )
    return a.join(b, F.col("a.event_type") == F.col("b.event_type")).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").cast("bigint").alias("n_a"),
        F.col("b.n").cast("bigint").alias("n_b"),
        qround(t, 6).alias("t_stat"),
    )


@query(
    "agg_chi_square",
    oracle=f"""
    WITH o AS (
        SELECT event_type, user_id % 2 AS grp,
               CAST(COUNT(*) AS DOUBLE) AS obs
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(obs) AS n FROM o),
    rt AS (SELECT event_type, SUM(obs) AS r FROM o GROUP BY 1),
    ct AS (SELECT grp, SUM(obs) AS c FROM o GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           {qround_sql(
               "SUM((o.obs - rt.r * ct.c / tot.n)"
               " * (o.obs - rt.r * ct.c / tot.n)"
               " / (rt.r * ct.c / tot.n))",
               6,
           )} AS chi2
    FROM o, tot
    JOIN rt ON o.event_type = rt.event_type
    JOIN ct ON o.grp = ct.grp
    """,
)
def agg_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic for independence of event_type ×
    user-parity cohort — the categorical-drift detector (is the event
    mix shifting between cohorts / days / dataset versions?).

    The contingency table is ONE grouped count (the only pass over
    the data); row totals, column totals, and the grand total are
    re-aggregations of that ≤ |types|×2-row table, all
    broadcast-joined back onto it. Expected = r·c/n per cell,
    χ² = Σ (obs-exp)²/exp. Everything after the first aggregate
    operates on driver-trivial cardinalities, so the query is one
    shuffle end-to-end at any scale.

    The 1-row grand total joins via broadcast crossJoin (the
    sanctioned 1-row normalizer pattern, see llm_tfidf)."""
    ev = load_table(spark, sf_dir, "events")
    o = ev.groupBy(
        "event_type", (F.col("user_id") % 2).alias("grp")
    ).agg(F.count(F.lit(1)).cast("double").alias("obs"))
    tot = o.agg(F.sum("obs").alias("n"))
    rt = o.groupBy("event_type").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("grp").agg(F.sum("obs").alias("c"))
    exp = F.col("r") * F.col("c") / F.col("n")
    cell = (F.col("obs") - exp) * (F.col("obs") - exp) / exp
    return (
        o.crossJoin(F.broadcast(tot))
        .join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "grp")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            qround(F.sum(cell), 6).alias("chi2"),
        )
    )


@query(
    "agg_mann_whitney",
    oracle=f"""
    WITH r AS (
        SELECT event_type, user_id % 2 AS grp,
               RANK() OVER (PARTITION BY event_type ORDER BY value)
                 + (COUNT(*) OVER (PARTITION BY event_type, value) - 1)
                   / 2.0 AS midrank
        FROM events
    ),
    s AS (
        SELECT event_type,
               COUNT(*) FILTER (WHERE grp = 0) AS n_a,
               COUNT(*) FILTER (WHERE grp = 1) AS n_b,
               SUM(midrank) FILTER (WHERE grp = 0) AS ra
        FROM r GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           {qround_sql("ra - n_a * (n_a + 1) / 2.0", 2)} AS u_a,
           {qround_sql(
               "((ra - n_a * (n_a + 1) / 2.0) - n_a * n_b / 2.0)"
               " / SQRT(n_a * n_b * (n_a + n_b + 1) / 12.0)",
               6,
           )} AS z
    FROM s
    """,
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) per event type, even-user
    cohort vs odd-user cohort — the NON-parametric sibling of
    agg_ab_ttest: rank-based, so heavy-tailed metrics (latencies,
    revenue) don't need the t-test's normality leap. U_A from midrank
    sums; z is the large-sample normal approximation (the fixture
    cohorts are ~10³, far past the n≈20 rule of thumb).

    Midranks the standard way: ties-low RANK plus (tie_count−1)/2 —
    two windows that share one (event_type)-keyed exchange (the
    per-(type,value) count partitions BY a superset key, so Catalyst
    plans it on the same sort). Exact halves in doubles: the rank
    arithmetic is bit-identical across engines; only the z quotient
    needs a qround grid.

    100 TB shape: one shuffle for the ranking sort, then a map-side-
    combined aggregate to |types| rows. Global ranks per type are the
    honest cost of a rank statistic; a skewed type would go through
    relational.distributed_ntile's range-repartition + offsets
    pattern instead of a single sort partition."""
    ev = load_table(spark, sf_dir, "events")
    w_rank = Window.partitionBy("event_type").orderBy("value")
    w_ties = Window.partitionBy("event_type", "value")
    r = ev.select(
        "event_type",
        (F.col("user_id") % 2).alias("grp"),
        (
            F.rank().over(w_rank)
            + (F.count(F.lit(1)).over(w_ties) - 1) / 2.0
        ).alias("midrank"),
    )
    s = r.groupBy("event_type").agg(
        F.count(F.when(F.col("grp") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("grp") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("grp") == 0, F.col("midrank"))).alias("ra"),
    )
    u_a = F.col("ra") - F.col("n_a") * (F.col("n_a") + 1) / 2.0
    z = (u_a - F.col("n_a") * F.col("n_b") / 2.0) / F.sqrt(
        F.col("n_a") * F.col("n_b") * (F.col("n_a") + F.col("n_b") + 1)
        / 12.0
    )
    return s.select(
        "event_type",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        qround(u_a, 2).alias("u_a"),
        qround(z, 6).alias("z"),
    )


@query(
    "agg_percentile_disc",
    oracle="""
    SELECT event_type,
           quantile_disc(value, 0.5) AS p50,
           quantile_disc(value, 0.9) AS p90
    FROM events GROUP BY event_type
    """,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (SQL-standard WITHIN GROUP syntax): the
    smallest actual data value whose cumulative distribution reaches
    p — no interpolation, so the result is always a real observation
    (what latency SLOs want: "a request that actually happened took
    this long") and, unlike the continuous form (agg_median,
    interpolated doubles), it is bit-exact across engines with NO
    rounding grid at all.

    One grouped sort-based aggregate; at scale the approximate path
    is agg_approx_percentile (KLL) — this is the exact anchor it is
    validated against."""
    register = load_table(spark, sf_dir, "events")
    register.createOrReplaceTempView("events_for_pdisc")
    return spark.sql("""
        SELECT event_type,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS p50,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS p90
        FROM events_for_pdisc GROUP BY event_type
    """)


@query(
    "agg_gini",
    oracle=f"""
    WITH r AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS i,
               COUNT(*) OVER (PARTITION BY event_type) AS n,
               SUM(value) OVER (PARTITION BY event_type) AS s
        FROM events
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           {qround_sql(
               "2.0 * SUM(i * value) / (MAX(n) * MAX(s))"
               " - (MAX(n) + 1.0) / MAX(n)",
               6,
           )} AS gini
    FROM r GROUP BY event_type
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of `value` per event type via the rank
    formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted
    values — the concentration/inequality diagnostic (revenue
    concentration, token-frequency imbalance, per-tenant load skew).
    0 = perfectly equal, →1 = one observation holds everything.

    One (event_type)-keyed sort feeds the rank AND both frame-less
    window totals (same partitioning, one exchange), then a plain
    grouped aggregate. Ties order deterministically by (value,
    event_id) — with the rank formula, tie order does not change G
    anyway (equal x swap ranks without moving Σi·x... except across
    ties of DIFFERENT x, which can't happen), but determinism keeps
    the hash stable.

    100 TB shape: per-group windows shuffle once on event_type; a
    skewed group would go through distributed_rank per group-shard,
    the llm_zipf_slope recipe."""
    ev = load_table(spark, sf_dir, "events")
    w_rank = Window.partitionBy("event_type").orderBy("value", "event_id")
    w_all = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(w_rank).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("value").over(w_all).alias("s"),
    )
    return r.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        qround(
            2.0 * F.sum(F.col("i") * F.col("value"))
            / (F.max("n") * F.max("s"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
    )


def distributed_cumsum(
    df: DataFrame, key: list, val: str, out_col: str
) -> DataFrame:
    """Exact GLOBAL running sum of ``val`` in ``key`` order without a
    global window — the prefix-sum sibling of :func:`distributed_rank`:
    range-repartition on the sort key, per-partition running sum
    (partitioned window), per-partition TOTALS (one row per partition
    — metadata-sized), cumulative offsets over those totals, add.
    The offsets window is the same whitelisted _pid-bookkeeping shape
    as distributed_rank's (sweep: tests/test_plans.py)."""
    parts = df.repartitionByRange(*key).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("_pid").orderBy(*key)
    local = parts.withColumn("_lcs", F.sum(val).over(w_local))
    totals = parts.groupBy("_pid").agg(F.sum(val).alias("_n"))
    w_cum = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid",
        F.coalesce(F.sum("_n").over(w_cum), F.lit(0)).alias("_offset"),
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_lcs") + F.col("_offset"))
        .drop("_pid", "_lcs", "_offset")
    )


@query(
    "agg_weighted_median",
    oracle=f"""
    WITH r AS (
        SELECT l_returnflag, l_extendedprice, l_quantity,
               SUM(l_quantity) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cumw,
               SUM(l_quantity) OVER (
                   PARTITION BY l_returnflag) AS totw
        FROM lineitem
    )
    SELECT l_returnflag,
           {qround_sql("MIN(l_extendedprice)", 2)} AS weighted_median,
           {qround_sql("MAX(totw)", 2)} AS total_weight
    FROM r
    WHERE cumw >= totw / 2.0
    GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the smallest value whose CUMULATIVE weight
    reaches half the group's total weight — here the quantity-weighted
    median extended price per return flag (the "median dollar", not
    the median row: what half the shipped volume paid less than).
    percentile()'s unweighted form can't express this; the exact
    definition needs a cumulative-weight scan.

    One l_returnflag-keyed sort feeds the running weight AND the
    frameless group total (same partitioning — one exchange), then a
    filter + grouped MIN picks the crossing value. Ties order by
    (price, orderkey, linenumber) so both engines cross at the same
    row.

    100 TB shape: per-group window over the group's own shard; a
    single group bigger than one executor's sort budget goes through
    distributed_cumsum (the prefix-sum primitive above) keyed by
    (group, value) instead — same crossing filter, no global window.
    """
    li = load_table(spark, sf_dir, "lineitem")
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("l_returnflag")
    r = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("l_quantity").over(w_cum).alias("cumw"),
        F.sum("l_quantity").over(w_tot).alias("totw"),
    )
    return (
        r.filter(F.col("cumw") >= F.col("totw") / 2.0)
        .groupBy("l_returnflag")
        .agg(
            qround(F.min("l_extendedprice"), 2).alias("weighted_median"),
            qround(F.max("totw"), 2).alias("total_weight"),
        )
    )


@query(
    "set_except_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    EXCEPT ALL
    SELECT c_custkey AS custkey FROM customer
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag difference with MULTIPLICITY: a customer
    placing k orders appears k−1 times after one copy is subtracted,
    whereas set_except's DISTINCT form collapses them. The
    multiset semantics matter for reconciliation workloads (ledger
    vs ledger, emitted vs acked) where HOW MANY copies differ is the
    answer.

    Spark plans exceptAll as a counted aggregate: tag each side
    ±1, sum per value, re-expand positive counts with a generator —
    one shuffle on the value, no join. That is exactly the 100 TB
    shape (bag difference = grouped arithmetic, never a pairwise
    match); both sides' scans prune to the single compared column.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    return o.exceptAll(c)


_BAND_SECONDS = 60


@query(
    "join_band_time",
    oracle=f"""
    WITH e AS (
        SELECT event_id, event_type,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec
        FROM events
    )
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           CAST(p.sec - c.sec AS BIGINT) AS dt_sec
    FROM (SELECT * FROM e WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM e WHERE event_type = 'click') c
      ON abs(p.sec - c.sec) <= {_BAND_SECONDS}
    """,
)
def join_band_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE band join — no equi key at all: every (purchase, click)
    pair across ALL users within ±60 s of each other (cross-session
    interference analysis, coincidence detection, sensor-fusion
    alignment). The naive plan is a nested-loop over two fact tables
    — the canonical scale-killer. The engine GRID-BUCKETS time into
    band-width buckets and explodes one side to its 3 neighboring
    buckets: |t₁−t₂| ≤ B implies the bucket ids differ by at most 1,
    so an EQUI-join on bucket id finds every candidate exactly once
    (the right row's bucket is fixed; the left row carries b−1, b,
    b+1), and the exact band predicate filters residuals post-match.

    That turns an O(n·m) nested loop into a shuffle join with 3×
    left amplification — the standard distributed interval-join
    recipe (same family as geo_grid_join's spatial grid). DuckDB
    states the declarative band predicate directly (its IEJoin
    handles it single-node); the differential proves the bucketed
    rewrite loses no pairs.

    100 TB shape: shuffle keys are time buckets — naturally uniform
    for event streams; a hot bucket (thundering herd) AQE-splits,
    and bucket width tunes amplification vs selectivity."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")))
        .cast("long")
        .alias("sec"),
    )
    B = _BAND_SECONDS
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("sec").alias("p_sec")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("sec").alias("c_sec")
    )
    pb = p.withColumn(
        "bkt",
        F.explode(
            F.array(
                F.floor(F.col("p_sec") / B) - 1,
                F.floor(F.col("p_sec") / B),
                F.floor(F.col("p_sec") / B) + 1,
            )
        ),
    )
    cb = c.withColumn("bkt", F.floor(F.col("c_sec") / B))
    return (
        pb.join(cb, "bkt")
        .filter(F.abs(F.col("p_sec") - F.col("c_sec")) <= B)
        .select(
            "purchase_id",
            "click_id",
            (F.col("p_sec") - F.col("c_sec")).cast("long").alias("dt_sec"),
        )
    )


_COLLECT_SALT = 8


@query(
    "agg_collect_salted",
    oracle="""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           array_to_string(list(user_id ORDER BY user_id), ',') AS users
    FROM du GROUP BY event_type
    """,
)
def agg_collect_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted COLLECT — the skew escape for *holistic*
    aggregates. Algebraic aggs (sum/count/avg) get map-side partial
    aggregation for free, but collect_list is holistic: one hot key
    funnels its entire group through a single task's memory. Salting
    splits each key into 8 sub-groups (phase 1 collects per
    (key, salt) — 8-way parallel, 1/8 the per-task state), then phase
    2 merges 8 partial arrays per key with flatten + one sort — the
    merge task's state is the final array only, and the heavy
    fan-in happened in parallel upstream (the join_skew_salted idea
    applied to aggregation).

    Output is the per-type sorted distinct-user roster (posting-list
    shape); identical to the unsalted form by construction, which is
    exactly what the oracle checks.
    """
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    partial = du.groupBy(
        "event_type", F.pmod("user_id", F.lit(_COLLECT_SALT)).alias("_salt")
    ).agg(
        F.collect_list("user_id").alias("_part"),
        F.count(F.lit(1)).alias("_n"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("_n").cast("long").alias("n_users"),
        F.array_join(
            F.transform(
                F.sort_array(F.flatten(F.collect_list("_part"))),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("users"),
    )


def distributed_rank_cumsum(
    df: DataFrame, key: list, val: str
) -> DataFrame:
    """Global row_number AND running sum of ``val`` in ``key`` order in
    ONE range exchange — the fused form of :func:`distributed_rank` +
    :func:`distributed_cumsum` for consumers that need both (CUSUM:
    index t and prefix sum S_t). Calling the two primitives separately
    re-executes the whole upstream subplan per branch (each with its
    own range repartition); fused, the input materializes once:
    range-repartition, one per-partition window computing local rank
    and local running sum together, per-partition (count, sum) totals
    — one metadata row per partition — cumulated into offsets and
    broadcast back. Emits ``_grn`` (global rank), ``_gcs`` (global
    running sum), ``_total_n`` and ``_total_s`` (grand totals, from
    the same totals table — no extra pass over the input)."""
    parts = df.repartitionByRange(*key).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("_pid").orderBy(*key)
    local = parts.withColumn("_lrn", F.row_number().over(w_local)).withColumn(
        "_lcs", F.sum(val).over(w_local)
    )
    totals = parts.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_n"), F.sum(val).alias("_s")
    )
    w_cum = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid",
        F.coalesce(F.sum("_n").over(w_cum), F.lit(0)).alias("_off_n"),
        F.coalesce(F.sum("_s").over(w_cum), F.lit(0)).alias("_off_s"),
    )
    grand = totals.agg(
        F.sum("_n").alias("_total_n"), F.sum("_s").alias("_total_s")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .crossJoin(F.broadcast(grand))
        .withColumn("_grn", F.col("_lrn") + F.col("_off_n"))
        .withColumn("_gcs", F.col("_lcs") + F.col("_off_s"))
        .drop("_pid", "_lrn", "_lcs", "_off_n", "_off_s")
    )


def distributed_cumsum_multi(
    df: DataFrame,
    key: list,
    vals: list,
    outs: list,
    total_outs: list,
) -> DataFrame:
    """Exact global running sums of SEVERAL value columns in ``key``
    order, plus their grand totals, in ONE range exchange — the
    n-column sibling of :func:`distributed_rank_cumsum` (which fuses
    rank + one sum). Calling :func:`distributed_cumsum` per column
    re-executes the whole upstream subplan per call, each with its own
    range repartition, then needs a join to realign the outputs; fused,
    the input materializes once and the realignment join disappears.
    Per-partition totals carry one metadata row per partition whatever
    the fact scale; the first totals column is aliased ``_n`` so the
    offsets window stays inside the plan sweep's whitelisted
    _pid-bookkeeping shape (tests/test_plans.py)."""
    parts = df.repartitionByRange(*key).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("_pid").orderBy(*key)
    local = parts
    for v, o in zip(vals, outs):
        local = local.withColumn(f"_lcs_{o}", F.sum(v).over(w_local))
    names = ["_n"] + [f"_n{i + 2}" for i in range(len(vals) - 1)]
    totals = parts.groupBy("_pid").agg(
        *[F.sum(v).alias(n) for v, n in zip(vals, names)]
    )
    w_cum = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid",
        *[
            F.coalesce(F.sum(n).over(w_cum), F.lit(0)).alias(f"_off{n}")
            for n in names
        ],
    )
    grand = totals.agg(
        *[F.sum(n).alias(t) for n, t in zip(names, total_outs)]
    )
    out = local.join(F.broadcast(offsets), "_pid").crossJoin(
        F.broadcast(grand)
    )
    for o, n in zip(outs, names):
        out = out.withColumn(o, F.col(f"_lcs_{o}") + F.col(f"_off{n}"))
    return out.drop(
        "_pid",
        *[f"_lcs_{o}" for o in outs],
        *[f"_off{n}" for n in names],
    )


_BLOOM_BITS = 1024
_BLOOM_P = 2147483647
_BLOOM_A = [2654435761, 2246822519, 3266489917, 668265263]


def _bloom_hash_sql(key: str, j: int) -> str:
    return (
        f"((({key}) % {_BLOOM_P}) * {_BLOOM_A[j]} + {j * 97 + 13})"
        f" % {_BLOOM_BITS}"
    )


def bloom_bit(key: Column, j: int) -> Column:
    """Bit index j ∈ 0..3 of a key in the 1024-bit / 4-hash filter —
    mod-P reduction BEFORE the multiply so key·A never overflows
    int64 (the Column twin of :func:`_bloom_hash_sql`)."""
    return ((key % _BLOOM_P) * _BLOOM_A[j] + (j * 97 + 13)) % _BLOOM_BITS


def bloom_signature(keys: DataFrame, key: str) -> DataFrame:
    """(word, s): the 32-word bit-packed Bloom signature of a key
    column. bit_or makes it MERGEABLE — signatures of disjoint key
    sets OR together into the signature of the union, which is what
    both the shard-parallel build in join_bloom_prefilter and the
    streaming seen-keys maintenance (streaming/pipeline.py) rely on."""
    bits = keys.select(
        F.explode(
            F.array(*[bloom_bit(F.col(key), j) for j in range(4)])
        ).alias("bit")
    ).distinct()
    return bits.groupBy(
        (F.col("bit") / 32).cast("int").alias("word")
    ).agg(
        F.bit_or(F.expr("shiftleft(cast(1 as bigint), bit % 32)")).alias(
            "s"
        )
    )


@query(
    "join_bloom_prefilter",
    oracle=f"""
    WITH keys AS (SELECT p_partkey FROM part WHERE p_size = 1),
    bits AS (
      SELECT DISTINCT b.bit FROM keys,
        LATERAL (SELECT unnest([{", ".join(
            _bloom_hash_sql("p_partkey", j) for j in range(4))}])
                 AS bit) b
    ),
    sig AS (
      SELECT bit // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << (bit % 32)) AS s
      FROM bits GROUP BY 1
    ),
    probe AS (
      SELECT l.l_partkey,
             {", ".join(
                 f"{_bloom_hash_sql('l.l_partkey', j)} AS bit{j}"
                 for j in range(4))}
      FROM lineitem l
    ),
    tested AS (
      SELECT p.l_partkey,
             CASE WHEN {" AND ".join(
                 f"(COALESCE(s{j}.s, 0)"
                 f" & (CAST(1 AS BIGINT) << (p.bit{j} % 32))) <> 0"
                 for j in range(4))}
                  THEN 1 ELSE 0 END AS pass
      FROM probe p
      {" ".join(
          f"LEFT JOIN sig s{j} ON s{j}.word = p.bit{j} // 32"
          for j in range(4))}
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
             CAST(SUM(pass) AS BIGINT) AS n_bloom_pass
      FROM tested
    ),
    tru AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_true
      FROM lineitem l WHERE EXISTS (
        SELECT 1 FROM keys k WHERE k.p_partkey = l.l_partkey)
    )
    SELECT agg.n_probe, agg.n_bloom_pass, tru.n_true,
           agg.n_bloom_pass - tru.n_true AS n_false_pos,
           CASE WHEN agg.n_probe - tru.n_true > 0
                THEN CAST(agg.n_bloom_pass - tru.n_true AS DOUBLE)
                     / CAST(agg.n_probe - tru.n_true AS DOUBLE)
           END AS fp_rate
    FROM agg, tru
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join prefiltering, built as a first-class
    op so its selectivity is measurable: the filtered build side
    (p_size = 1 parts) folds its join keys into a 1024-bit / 4-hash
    signature (32 bit_or-aggregated 32-bit words — the mergeable form: shard
    signatures OR together), the probe side (lineitem) tests all 4
    bits via broadcast word lookups, and the output quantifies the
    filter: probe rows, Bloom survivors, true matches, false
    positives, and the false-positive RATE among true negatives —
    the number that decides whether shipping the filter beats
    shuffling the fact table (Spark's own runtime bloom pushdown
    makes this same call; here the decision inputs are a query).

    All hashing is integer with a mod-P reduction BEFORE the
    multiply, so key·A cannot overflow int64 at any key range. Scale
    shape: build side collapses to ≤ 32 words (broadcast); the probe
    pass is 4 broadcast equi-joins — map-side, zero fact shuffles,
    one global count aggregate; the exact-match count is a broadcast
    semi-join. fp_rate guards the no-true-negatives corpus (ANSI)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    keys = part.filter(F.col("p_size") == 1).select("p_partkey")
    sig = pin(
        bloom_signature(keys, "p_partkey")
        # ≤ 32 rows, probed by 4 join branches
    )
    probe = li.select("l_partkey")
    conds = []
    for j in range(4):
        bit_j = bloom_bit(F.col("l_partkey"), j)
        probe = probe.withColumn(f"bit{j}", bit_j)
        probe = probe.withColumn(
            f"w{j}", (F.col(f"bit{j}") / 32).cast("int")
        )
        probe = probe.withColumn(
            f"m{j}",
            F.expr(f"shiftleft(cast(1 as bigint), bit{j} % 32)"),
        )
        sj = sig.select(
            F.col("word").alias(f"w{j}"), F.col("s").alias(f"s{j}")
        )
        probe = probe.join(F.broadcast(sj), f"w{j}", "left")
        conds.append(
            (
                F.coalesce(F.col(f"s{j}"), F.lit(0).cast("long")).bitwiseAND(
                    F.col(f"m{j}")
                )
            )
            != 0
        )
    passed = F.when(
        conds[0] & conds[1] & conds[2] & conds[3], 1
    ).otherwise(0)
    agg = probe.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe"),
        F.sum(passed).cast("long").alias("n_bloom_pass"),
    )
    tru = (
        li.join(
            F.broadcast(keys),
            li["l_partkey"] == keys["p_partkey"],
            "left_semi",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    )
    neg = F.col("n_probe") - F.col("n_true")
    return agg.crossJoin(F.broadcast(tru)).select(
        "n_probe",
        "n_bloom_pass",
        "n_true",
        (F.col("n_bloom_pass") - F.col("n_true")).alias("n_false_pos"),
        F.when(
            neg > 0,
            (F.col("n_bloom_pass") - F.col("n_true")).cast("double")
            / neg.cast("double"),
        ).alias("fp_rate"),
    )
