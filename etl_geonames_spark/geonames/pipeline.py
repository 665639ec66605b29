"""The GeoNames ETL pipeline, re-expressed as declarative DataFrame ops.

Reference dataflow (geonames.js:223-254): scan TSV → parse → filter
(disjunction of equality predicates ∨ allowlist) → longest-prefix type
resolution → drop untyped → broadcast-probe admin2/admin1 for parent →
emit PIT nodes + liesIn edges as NDJSON.

The engine declares the same dataflow as one logical plan per output
branch and lets Catalyst pick the physical strategy. All lookups
(admin1, admin2, type map, allowlist) are broadcast-shaped: the fact
table scales to 100 TB, the dimensions stay in the tens of MB, so the
whole pipeline runs shuffle-free — scan → broadcast existence join
(allowlist) → codegen'd filter/project → two broadcast hash joins →
sink.

Documented divergences from the reference (all deliberate):
  - join-miss on the admin2 probe *crashes* the reference
    (`parentObj.geonameid` on undefined, geonames.js:105-107); the
    engine defaults to dropping the relation, with drop counts
    observable on the same action (``observation=``) and the
    reference's fail-fast behavior available via ``on_miss="fail"``
    (see :func:`build_relations`).
  - parseFloat('garbage') yields NaN (serialized as null); the engine
    uses try_cast → null. Identical for well-formed input.
  - the reference writes one interleaved NDJSON stream of
    ``{type, obj}`` envelopes (geonames.js:160-174); the engine's
    native outputs are two typed DataFrames (the idiomatic Spark
    shape); :func:`envelope_lines` frames their lines as the envelope
    stream, byte-identical to the engine's own lines and structurally
    equal to the reference's (parsed-object parity, not byte parity).
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_geonames_spark.schemas import ADMIN_KEYS

BASE_URI = "http://sws.geonames.org/"  # geonames.js:10


@dataclass
class GeonamesConfig:
    """The framework config surface the reference consumes.

    - ``types``: featureCode-prefix → output type (geonames.js:130).
    - ``filters``: list of {column: value} conjunctions; a row passes
      if ANY filter matches entirely (geonames.js:243-245).
    - ``extra_uris``: GeoNames URIs force-included past the filters
      (geonames.js:232-237).
    - ``lies_in``: the relation type constant (geonames.js:115).
    """

    types: dict[str, str] = field(default_factory=dict)
    filters: list[dict[str, str]] = field(default_factory=list)
    extra_uris: list[str] = field(default_factory=list)
    lies_in: str = "hg:liesIn"
    base_uri: str = BASE_URI

    def extra_ids(self) -> list[str]:
        """Strip the URI prefix → bare geonameids (geonames.js:234-236).
        JS ``String.replace`` with a string pattern strips the first hit only."""
        return [u.replace(self.base_uri, "", 1) for u in self.extra_uris]


def filters_predicate(
    filters: list[dict[str, str]], extra_ids: list[str] | None = None
) -> Column:
    """Compile the reference's row filter into one boolean Column.

    geonames.js:243-245 evaluates ``R.any(filters, f → whereEq(f, row)
    ∨ allowlisted(row))``. Two consequences preserved exactly:

    - each filter is a *conjunction* of column=value pairs
      (R.whereEq, geonames.js:181);
    - an empty filter list means **nothing** passes — not everything —
      because ``R.any`` over ``[]`` is false, and the allowlist check
      lives *inside* the per-filter lambda, so it never runs either.
    """
    if not filters:
        return F.lit(False)
    per_filter = [
        reduce(operator.and_, [F.col(k) == F.lit(v) for k, v in flt.items()])
        if flt
        else F.lit(True)  # R.whereEq({}, row) is vacuously true
        for flt in filters
    ]
    pred = reduce(operator.or_, per_filter)
    if extra_ids:
        # One path at every size: an IN subquery over a deduplicated
        # one-column LocalRelation, planned as a broadcast ExistenceJoin
        # (BuildRight, no shuffle). A literal isin costs one Py4J call
        # per id, is re-analysed by every later transformation and is
        # pushed into the scan as a per-row linear In.
        import pyarrow as pa

        allow = SparkSession.active().createDataFrame(
            pa.table({"geonameid": sorted(set(extra_ids))})
        )
        pred = pred | F.col("geonameid").isin(allow)
    return pred


def resolve_type(code: Column, types: dict[str, str]) -> Column:
    """Longest-prefix match of ``code`` against the ``types`` map.

    geonames.js:127-132 truncates the featureCode one character at a
    time until a map hit; first (longest) hit wins, no hit → null.
    Decomposed into a fixed-depth COALESCE chain of literal-map
    lookups — pure built-ins, fully codegen'd, no UDF. Chain depth is
    bounded by the longest key in ``types`` (longer prefixes of the
    value cannot match a shorter key set).
    """
    if not types:
        return F.lit(None).cast("string")
    m = F.create_map(*[F.lit(x) for kv in types.items() for x in kv])
    depth = max(len(k) for k in types)
    probes = [
        m[F.substring(code, 1, length)] for length in range(depth, 0, -1)
    ]
    return F.coalesce(*probes)


def resolve_type_join(
    df: DataFrame, types_df: DataFrame, code_col: str = "featureCode"
) -> DataFrame:
    """Longest-prefix match via prefix-expansion join — SURVEY §2.9
    option 2, for when the types map is too large to inline as a
    literal (the coalesce chain in :func:`resolve_type` embeds the map
    in the plan; fine for dozens of keys, wrong for millions).

    Explode each code into all its prefixes, broadcast-join the types
    table, keep the longest hit per row. ``types_df``: (prefix, type).
    Scales to unbounded key sets and key lengths; costs one explode +
    one broadcast join + one per-row max instead of a pure projection.
    """
    code = F.col(code_col)
    # explode_outer + greatest(len,1): empty/null codes keep their row
    # (yielding a null type), matching the coalesce chain exactly
    with_prefixes = df.withColumn(
        "_rid", F.monotonically_increasing_id()
    ).withColumn(
        "_prefix",
        F.explode_outer(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(code), F.lit(1))),
                lambda n: F.substring(code, 1, n),
            )
        ),
    )
    t = F.broadcast(
        types_df.select(
            F.col("prefix").alias("_t_prefix"), F.col("type").alias("_t_type")
        )
    )
    joined = with_prefixes.join(t, F.col("_prefix") == F.col("_t_prefix"), "left")
    # longest matching prefix wins: max by prefix length per input ROW —
    # grouped on a per-row surrogate id, not on df's columns, so
    # duplicate input rows survive (groupBy over the columns would
    # collapse them, diverging from the resolve_type projection)
    best = F.max_by(
        F.col("_t_type"),
        F.when(F.col("_t_type").isNotNull(), F.length("_t_prefix")).otherwise(
            F.lit(-1)
        ),
    )
    return (
        joined.groupBy("_rid")
        .agg(
            *[F.first(c).alias(c) for c in df.columns],
            best.alias("type"),
        )
        .drop("_rid")
    )


def _codes_array() -> Column:
    """Non-empty admin-key values, in column order.

    geonames.js:103 — ``R.filter(R.identity, R.values(R.pick(adminKeys,
    obj)))``: drops '' and missing, keeps order [countryCode, admin1..4].
    """
    arr = F.array(*[F.coalesce(F.col(k), F.lit("")) for k in ADMIN_KEYS])
    return F.filter(arr, lambda x: x != "")


def with_resolved_type(df: DataFrame, config: GeonamesConfig) -> DataFrame:
    """Attach the longest-prefix-matched ``type`` column; keep all rows."""
    return df.withColumn("type", resolve_type(F.col("featureCode"), config.types))


def build_pits(df: DataFrame, config: GeonamesConfig) -> DataFrame:
    """Project typed rows into nested PIT documents (geonames.js:137-158).

    Untyped rows emit nothing (geonames.js:175-177). Coordinates are
    ``[longitude, latitude]`` doubles (geonames.js:143-146) — GeoJSON
    order, the reference's most correctness-sensitive quirk.
    """
    typed = with_resolved_type(df, config).filter(F.col("type").isNotNull())
    blank = lambda c: F.coalesce(F.col(c), F.lit(""))  # noqa: E731
    return typed.select(
        F.concat(F.lit(config.base_uri), F.col("geonameid")).alias("uri"),
        F.col("name"),
        F.col("type"),
        F.struct(
            F.lit("Point").alias("type"),
            F.array(
                F.col("longitude").try_cast("double"),
                F.col("latitude").try_cast("double"),
            ).alias("coordinates"),
        ).alias("geometry"),
        F.struct(
            blank("featureClass").alias("featureClass"),
            blank("featureCode").alias("featureCode"),
            blank("countryCode").alias("countryCode"),
            blank("cc2").alias("cc2"),
            blank("admin1Code").alias("admin1Code"),
            blank("admin2Code").alias("admin2Code"),
            blank("admin3Code").alias("admin3Code"),
            blank("admin4Code").alias("admin4Code"),
        ).alias("data"),
    )


def build_relations(
    df: DataFrame,
    admin1: DataFrame,
    admin2: DataFrame,
    config: GeonamesConfig,
    on_miss: str = "drop",
    observation=None,
) -> DataFrame:
    """Derive liesIn edges via broadcast lookups (geonames.js:100-123).

    Semantics preserved:
      - only typed rows participate (relations are emitted from the
        same branch as PITs, geonames.js:165);
      - only rows with **exactly 3** non-empty admin codes emit an
        edge (geonames.js:104);
      - the parent is the admin2 row keyed by ``codes.join('.')``
        (geonames.js:105); if the row *is* its own admin2 parent, the
        parent is re-resolved from admin1 on the 2-part key
        (geonames.js:107-109);
      - no admin1 → country edges (the reference's TODO at
        geonames.js:120 is intentionally unimplemented).

    Join-miss handling (``on_miss``):
      - ``"drop"`` (default): a probe miss drops the relation — the
        engine's documented divergence from the reference, which
        *crashes* (``parentObj.geonameid`` on undefined,
        geonames.js:105-107). Pass a :class:`pyspark.sql.Observation`
        as ``observation`` to have the drop counts recorded on the
        same action (metrics ``a2_misses``, ``a1_misses``,
        ``gated_rows``) — a CollectMetrics node in the plan, zero
        extra passes over the data.
      - ``"fail"``: restore the reference's strictness — the first
        probe miss raises (executor-side ``raise_error`` expression
        naming the offending key), failing the job exactly where the
        reference would crash. No extra pass, no driver round-trip.

    Both dimension joins are explicit broadcasts: at full scale the
    fact side is the 100 TB table, admin1/admin2 stay a few MB, so the
    physical plan is two BroadcastHashJoins with zero shuffle.
    """
    if on_miss not in ("drop", "fail"):
        raise ValueError(f"on_miss must be 'drop' or 'fail', got {on_miss!r}")
    typed = with_resolved_type(df, config).filter(F.col("type").isNotNull())
    gated = (
        typed.withColumn("_codes", _codes_array())
        .filter(F.size("_codes") == 3)
        .withColumn("_key3", F.array_join("_codes", "."))
        .withColumn("_key2", F.array_join(F.slice("_codes", 1, 2), "."))
    )
    a2 = F.broadcast(
        admin2.select(
            F.col("code").alias("_a2_code"), F.col("geonameid").alias("_a2_id")
        )
    )
    a1 = F.broadcast(
        admin1.select(
            F.col("code").alias("_a1_code"), F.col("geonameid").alias("_a1_id")
        )
    )
    a2_miss = F.col("_a2_id").isNull()
    # self-parent fallback that misses admin1 (only decidable on a2 hit)
    a1_miss = (
        F.col("_a2_id").isNotNull()
        & (F.col("geonameid") == F.col("_a2_id"))
        & F.col("_a1_id").isNull()
    )
    joined = gated.join(a2, gated["_key3"] == a2["_a2_code"], "left").join(
        a1, gated["_key2"] == a1["_a1_code"], "left"
    )
    if observation is not None:
        one_if = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
        joined = joined.observe(
            observation,
            one_if(a2_miss).alias("a2_misses"),
            one_if(a1_miss).alias("a1_misses"),
            F.count(F.lit(1)).alias("gated_rows"),
        )
    if on_miss == "fail":
        parent = F.when(
            a2_miss,
            F.raise_error(
                F.concat(F.lit("admin2 probe miss for key "), F.col("_key3"))
            ).cast("string"),
        ).when(
            F.col("geonameid") == F.col("_a2_id"),
            F.when(
                F.col("_a1_id").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("admin1 probe miss for key "), F.col("_key2")
                    )
                ).cast("string"),
            ).otherwise(F.col("_a1_id")),
        ).otherwise(F.col("_a2_id"))
    else:
        parent = F.when(
            F.col("geonameid") == F.col("_a2_id"), F.col("_a1_id")
        ).otherwise(F.col("_a2_id"))
    resolved = joined.withColumn("_parent_id", parent).filter(
        F.col("_parent_id").isNotNull()
    )
    return resolved.select(
        F.concat(F.lit(config.base_uri), F.col("geonameid")).alias("from"),
        F.concat(F.lit(config.base_uri), F.col("_parent_id")).alias("to"),
        F.lit(config.lies_in).alias("type"),
    )


def run_pipeline(
    df: DataFrame,
    admin1: DataFrame,
    admin2: DataFrame,
    config: GeonamesConfig,
    on_miss: str = "drop",
    observation=None,
) -> tuple[DataFrame, DataFrame]:
    """Full transform step (geonames.js:223-254): filter → (pits, relations).

    ``on_miss`` / ``observation`` configure join-miss strictness and
    drop accounting for the relations branch — see
    :func:`build_relations`."""
    filtered = df.filter(filters_predicate(config.filters, config.extra_ids()))
    return (
        build_pits(filtered, config),
        build_relations(
            filtered, admin1, admin2, config, on_miss=on_miss,
            observation=observation,
        ),
    )


def envelope_lines(pit_lines: DataFrame, rel_lines: DataFrame) -> DataFrame:
    """Frame two one-string-column DataFrames of JSON lines as the
    reference's interleaved ``{type, obj}`` stream (geonames.js:160-170):
    each line is wrapped verbatim, so the envelope is byte-identical to
    the lines it is given. Returns the union in a ``json`` column."""

    def wrap(lines: DataFrame, kind: str) -> DataFrame:
        return lines.select(
            F.concat(
                F.lit(f'{{"type":"{kind}","obj":'),
                F.col(lines.columns[0]),
                F.lit("}"),
            ).alias("json")
        )

    return wrap(pit_lines, "pit").unionByName(wrap(rel_lines, "relation"))


def tagged_envelope(pits: DataFrame, relations: DataFrame) -> DataFrame:
    """:func:`envelope_lines` over ``to_json`` of each row — the same
    lines the JSON sink writes. Against the reference this is
    *structural* parity (same keys, same nesting, same values), not
    byte parity: Spark's to_json serializes integral doubles as
    ``52.0`` where JS JSON.stringify emits ``52``, and omits null struct
    fields where JS emits ``null``. Consumers should compare parsed
    objects, which is what tests/test_geonames_parity.py pins."""
    return envelope_lines(
        pits.select(F.to_json(F.struct("*")).alias("json")),
        relations.select(F.to_json(F.struct("*")).alias("json")),
    )


def transform_from_paths(
    spark: SparkSession,
    all_countries_path: str,
    admin1_path: str,
    admin2_path: str,
    config: GeonamesConfig,
) -> tuple[DataFrame, DataFrame]:
    """Path-level entry mirroring the reference's transform step
    signature (geonames.js:223): reads the three TSVs and runs the
    pipeline."""
    from etl_geonames_spark.sources.tsv import read_admin_codes, read_all_countries

    return run_pipeline(
        read_all_countries(spark, all_countries_path),
        read_admin_codes(spark, admin1_path),
        read_admin_codes(spark, admin2_path),
        config,
    )
