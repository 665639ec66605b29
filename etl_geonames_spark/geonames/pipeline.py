"""The GeoNames ETL pipeline, re-expressed as declarative DataFrame ops.

Reference dataflow (geonames.js:223-254): scan TSV → parse → filter
(disjunction of equality predicates ∨ allowlist) → longest-prefix type
resolution → drop untyped → broadcast-probe admin2/admin1 for parent →
emit PIT nodes + liesIn edges as NDJSON.

The transform is declared once, as one logical plan over one scan of
the dump (:func:`output_lines`): each typed row becomes a pit line
and, when it has 3 admin codes, a relation row, as the reference's
flatMap does, and one partitioned write lands both outputs. Catalyst
picks the physical strategy. All lookups (admin1, admin2, type map,
allowlist) are broadcast-shaped: the fact table scales to 100 TB, the
dimensions stay in the tens of MB, so the whole pipeline runs
shuffle-free — scan → broadcast existence join (allowlist) → codegen'd
filter/project → generate → two broadcast hash joins → sink.
:func:`build_pits` projects the same PIT documents as typed rows, for
the streaming form of the pipeline.

Documented divergences from the reference (all deliberate):
  - join-miss on the admin2 probe *crashes* the reference
    (`parentObj.geonameid` on undefined, geonames.js:105-107); the
    engine defaults to dropping the relation, with drop counts
    observable on the same action (``observation=``) and the
    reference's fail-fast behavior available via ``on_miss="fail"``
    (see :func:`output_lines`).
  - parseFloat('garbage') yields NaN (serialized as null); the engine
    uses try_cast → null. Identical for well-formed input.
  - the reference writes one interleaved NDJSON stream of
    ``{type, obj}`` envelopes (geonames.js:160-174); the engine's
    native outputs are two NDJSON directories, ``pits`` and
    ``relations``; :func:`envelope_lines` frames their lines as the
    envelope stream, byte-identical to the engine's own lines and
    structurally equal to the reference's (parsed-object parity, not
    byte parity: Spark's ``to_json`` writes integral doubles as ``52.0``
    where JS ``JSON.stringify`` writes ``52``, and omits null fields
    where JS writes ``null``).
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


def _typed(df: DataFrame, config: GeonamesConfig) -> DataFrame:
    """Typed rows only, with their longest-prefix-matched ``type``:
    untyped rows emit nothing (geonames.js:175-177)."""
    return df.withColumn(
        "type", resolve_type(F.col("featureCode"), config.types)
    ).filter(F.col("type").isNotNull())


def _pit_columns(config: GeonamesConfig) -> list[Column]:
    """The PIT document's fields over a typed row (geonames.js:137-158).
    Coordinates are ``[longitude, latitude]`` doubles (geonames.js:143-146)
    — GeoJSON order, the reference's most correctness-sensitive quirk."""
    blank = lambda c: F.coalesce(F.col(c), F.lit(""))  # noqa: E731
    return [
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
    ]


def _admin_keys() -> tuple[Column, Column]:
    """The admin2 key ``codes.join('.')`` (geonames.js:105) and the admin1
    key of its first two codes (geonames.js:107-109), over ``_codes``."""
    codes = F.col("_codes")
    return F.array_join(codes, "."), F.array_join(F.slice(codes, 1, 2), ".")


def _join_admins(rows: DataFrame, admin1: DataFrame, admin2: DataFrame) -> DataFrame:
    """Left-join the admin2 row keyed by ``_key3`` (``_a2_id``) and the
    admin1 row keyed by ``_key2`` (``_a1_id``). Both dimension joins are
    explicit broadcasts: at full scale the fact side is the 100 TB
    table, admin1/admin2 stay a few MB, so the physical plan is two
    BroadcastHashJoins with zero shuffle. A null key never matches."""
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
    return rows.join(a2, F.col("_key3") == F.col("_a2_code"), "left").join(
        a1, F.col("_key2") == F.col("_a1_code"), "left"
    )


def _miss_counts() -> list[Column]:
    """Probe misses over joined rows: a keyed row with no admin2 parent,
    and a self-parent fallback that misses admin1 (only decidable on an
    admin2 hit)."""
    a2_id = F.col("_a2_id")
    a1_miss = a2_id.isNotNull() & (F.col("geonameid") == a2_id) & F.col("_a1_id").isNull()
    return [
        F.count_if(F.col("_key3").isNotNull() & a2_id.isNull()).alias("a2_misses"),
        F.count_if(a1_miss).alias("a1_misses"),
    ]


def _parent_id(on_miss: str) -> Column:
    """The parent geonameid over a joined row (geonames.js:105-109): the
    admin2 row, or the admin1 row when the row is its own admin2 parent.
    ``"drop"`` leaves it null on a probe miss; ``"fail"`` raises instead
    on a relations row, naming the offending key (a pit row has no keys,
    so no parent, and never raises)."""
    self_parent = F.col("geonameid") == F.col("_a2_id")
    if on_miss == "drop":
        return F.when(self_parent, F.col("_a1_id")).otherwise(F.col("_a2_id"))
    fail = lambda dim, key: F.raise_error(  # noqa: E731
        F.concat(F.lit(f"{dim} probe miss for key "), F.col(key))
    ).cast("string")
    return F.when(
        F.col("kind") == "relations",
        F.when(F.col("_a2_id").isNull(), fail("admin2", "_key3"))
        .when(
            self_parent,
            F.when(F.col("_a1_id").isNull(), fail("admin1", "_key2")).otherwise(
                F.col("_a1_id")
            ),
        )
        .otherwise(F.col("_a2_id")),
    )


def _relation_columns(config: GeonamesConfig, parent: Column) -> list[Column]:
    """The liesIn edge's fields (geonames.js:111-117)."""
    return [
        F.concat(F.lit(config.base_uri), F.col("geonameid")).alias("from"),
        F.concat(F.lit(config.base_uri), parent).alias("to"),
        F.lit(config.lies_in).alias("type"),
    ]


def build_pits(df: DataFrame, config: GeonamesConfig) -> DataFrame:
    """Project typed rows into nested PIT documents (geonames.js:137-158).

    Untyped rows emit nothing (geonames.js:175-177). Coordinates are
    ``[longitude, latitude]`` doubles (geonames.js:143-146) — GeoJSON
    order, the reference's most correctness-sensitive quirk.
    """
    return _typed(df, config).select(*_pit_columns(config))


def output_lines(
    df: DataFrame,
    admin1: DataFrame,
    admin2: DataFrame,
    config: GeonamesConfig,
    on_miss: str = "drop",
    observation=None,
) -> DataFrame:
    """The transform step (geonames.js:223-254) from one pass over ``df``:
    a ``(kind, value)`` DataFrame whose ``value`` is a finished NDJSON
    line, ``kind`` ``"pits"`` or ``"relations"`` — the reference's flatMap
    of one streamed row into a PIT and its liesIn edge
    (geonames.js:160-170).

    Filter, then typing, then each typed row becomes a pit row carrying
    ``to_json`` of :func:`build_pits`'s document and, when it has
    **exactly 3** non-empty admin codes (geonames.js:104), a relations
    row carrying its admin keys. Only then are the dims joined
    (:func:`_join_admins`): pit rows have null keys and never match, so
    a duplicated dim code multiplies relations and never pits. The
    parent is the admin2 row keyed by ``codes.join('.')``
    (geonames.js:105); a row that *is* its own admin2 parent takes the
    admin1 row of its first two codes (geonames.js:107-109). No admin1 →
    country edges (the reference's TODO at geonames.js:120 is
    intentionally unimplemented). A relation's line is ``to_json`` of
    its ``{from, to, type}`` edge. Every line is what the JSON sink
    writes for the same row.

    Join-miss handling (``on_miss``):
      - ``"drop"`` (default): a probe miss drops the relation — the
        engine's documented divergence from the reference, which
        *crashes* (``parentObj.geonameid`` on undefined,
        geonames.js:105-107).
      - ``"fail"``: the first probe miss raises (executor-side
        ``raise_error`` naming the offending key), failing the job
        where the reference would crash. No extra pass.

    Pass a :class:`pyspark.sql.Observation` as ``observation`` to count
    ``pits``, ``relations``, ``a2_misses`` and ``a1_misses`` on the same
    action (one CollectMetrics node, no extra pass)."""
    if on_miss not in ("drop", "fail"):
        raise ValueError(f"on_miss must be 'drop' or 'fail', got {on_miss!r}")
    none = F.lit(None).cast("string")
    key3, key2 = _admin_keys()
    pit = F.struct(
        F.lit("pits").alias("kind"),
        F.to_json(F.struct(*_pit_columns(config))).alias("value"),
        none.alias("_key3"),
        none.alias("_key2"),
    )
    rel = F.struct(
        F.lit("relations").alias("kind"),
        none.alias("value"),
        key3.alias("_key3"),
        key2.alias("_key2"),
    )
    kept = df.filter(filters_predicate(config.filters, config.extra_ids()))
    rows = (
        _typed(kept, config)
        .withColumn("_codes", _codes_array())
        .select(
            "geonameid",
            F.inline(
                F.array_compact(F.array(pit, F.when(F.size("_codes") == 3, rel)))
            ),
        )
    )
    joined = _join_admins(rows, admin1, admin2).withColumn(
        "_parent_id", _parent_id(on_miss)
    )
    relation = F.col("_parent_id").isNotNull()
    if observation is not None:
        joined = joined.observe(
            observation,
            F.count_if(F.col("kind") == "pits").alias("pits"),
            F.count_if((F.col("kind") == "relations") & relation).alias("relations"),
            *_miss_counts(),
        )
    # pit rows carry their line; a relation row's line exists once its
    # parent resolves (filtered first, so to_json runs once per edge)
    line = F.coalesce(
        F.col("value"),
        F.to_json(F.struct(*_relation_columns(config, F.col("_parent_id")))),
    )
    return joined.filter(F.col("value").isNotNull() | relation).select(
        "kind", line.alias("value")
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


def transform_from_paths(
    spark: SparkSession,
    all_countries_path: str,
    admin1_path: str,
    admin2_path: str,
    config: GeonamesConfig,
    **options,
) -> DataFrame:
    """Path-level entry mirroring the reference's transform step
    signature (geonames.js:223): :func:`output_lines` over the three
    TSVs at these paths; ``options`` are its keyword options."""
    from etl_geonames_spark.sources.tsv import read_admin_codes, read_all_countries

    return output_lines(
        read_all_countries(spark, all_countries_path),
        read_admin_codes(spark, admin1_path),
        read_admin_codes(spark, admin2_path),
        config,
        **options,
    )
