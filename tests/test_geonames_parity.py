"""Reference-parity tests for the geonames pipeline.

One synthetic GeoNames-shaped fixture (FIXTURES.md §B) covering every
semantic branch of the reference's hot path (SURVEY.md §3.3):
prefix-match typing and drops, the exactly-3-codes gate, self-parent
fallback, extra-uris override, the empty-filters quirk, [lon, lat]
coordinate order, and join-miss handling. Every output check runs the
job's own transform, :func:`output_lines`, and parses its NDJSON lines.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_geonames_spark.geonames import (
    GeonamesConfig,
    build_pits,
    envelope_lines,
    filters_predicate,
    output_lines,
    resolve_type,
    transform_from_paths,
)
from etl_geonames_spark.sources.sinks import write_ndjson
from etl_geonames_spark.sources.tsv import read_admin_codes, read_all_countries

# 19 tab-separated columns (geonames.js:24-44); '' = empty field.
FACT_ROWS = [
    # id, name, ascii, alt, lat, lon, fclass, fcode, cc, cc2, a1, a2, a3, a4, pop, elev, dem, tz, mod
    ["1001", "Haarlem", "Haarlem", "", "52.38084", "4.63683", "P", "PPL", "NL", "", "07", "0392", "", "", "150000", "", "2", "Europe/Amsterdam", "2017-01-01"],
    ["2002", "Gemeente Haarlem", "Gemeente Haarlem", "", "52.38", "4.64", "A", "ADM2", "NL", "", "07", "0392", "", "", "", "", "", "", ""],
    ["1003", "TwoCodes", "TwoCodes", "", "52.0", "5.0", "P", "PPL", "NL", "", "07", "", "", "", "", "", "", "", ""],
    ["1004", "FourCodes", "FourCodes", "", "52.1", "5.1", "P", "PPL", "NL", "", "07", "0392", "001", "", "", "", "", "", ""],
    ["1005", "PrefixTyped", "PrefixTyped", "", "52.2", "5.2", "P", "PPLA3", "NL", "", "07", "0392", "", "", "", "", "", "", ""],
    ["1006", "Untyped", "Untyped", "", "52.3", "5.3", "H", "HLL", "NL", "", "07", "0392", "", "", "", "", "", "", ""],
    ["1007", "Berlin", "Berlin", "", "52.52", "13.40", "P", "PPL", "DE", "", "01", "002", "", "", "", "", "", "", ""],
    ["1008", "Brussels", "Brussels", "", "50.85", "4.35", "P", "PPL", "BE", "", "BRU", "21", "", "", "", "", "", "", ""],
    ["1009", "MissParent", "MissParent", "", "52.4", "5.4", "P", "PPL", "NL", "", "07", "9999", "", "", "", "", "", "", ""],
    ["1010", "CapeTownish", "CapeTownish", "", "-33.9258", "-18.4232", "P", "PPL", "NL", "", "", "", "", "", "", "", "", "", ""],
]

ADMIN1_ROWS = [
    ["NL.07", "North Holland", "North Holland", "3003"],
    ["BE.BRU", "Brussels Capital", "Brussels Capital", "4010"],
]
ADMIN2_ROWS = [
    ["NL.07.0392", "Gemeente Haarlem", "Gemeente Haarlem", "2002"],
    ["BE.BRU.21", "Ville de Bruxelles", "Ville de Bruxelles", "4004"],
]

BASE = "http://sws.geonames.org/"

CONFIG = GeonamesConfig(
    types={"PPL": "hg:Place", "PPLA": "hg:PlaceA", "ADM2": "hg:Admin2"},
    filters=[{"countryCode": "NL"}],
    extra_uris=["http://sws.geonames.org/1008"],
)


@pytest.fixture(scope="module")
def paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("geonames")
    p = {}
    for fname, rows in [
        ("allCountries.txt", FACT_ROWS),
        ("admin1CodesASCII.txt", ADMIN1_ROWS),
        ("admin2Codes.txt", ADMIN2_ROWS),
    ]:
        path = os.path.join(d, fname)
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join("\t".join(r) for r in rows) + "\n")
        p[fname] = path
    return p


def _tables(spark, paths):
    return (
        read_all_countries(spark, paths["allCountries.txt"]),
        read_admin_codes(spark, paths["admin1CodesASCII.txt"]),
        read_admin_codes(spark, paths["admin2Codes.txt"]),
    )


def _parsed(lines):
    """(pits, relations): the parsed JSON objects of each kind of line."""
    out = {"pits": [], "relations": []}
    for r in lines.collect():
        out[r["kind"]].append(json.loads(r["value"]))
    return out["pits"], out["relations"]


@pytest.fixture(scope="module")
def outputs(spark, paths):
    return _parsed(
        transform_from_paths(
            spark,
            paths["allCountries.txt"],
            paths["admin1CodesASCII.txt"],
            paths["admin2Codes.txt"],
            CONFIG,
        )
    )


def test_pit_set(outputs):
    pits, _ = outputs
    uris = sorted(p["uri"] for p in pits)
    base = "http://sws.geonames.org/"
    # 1006 dropped (no type prefix), 1007 dropped (filter + no allowlist),
    # 1008 kept via extra-uris despite failing the filter.
    assert uris == sorted(
        base + i
        for i in ["1001", "2002", "1003", "1004", "1005", "1008", "1009", "1010"]
    )


def test_longest_prefix_type(outputs):
    pits, _ = outputs
    by_uri = {p["uri"].rsplit("/", 1)[-1]: p for p in pits}
    assert by_uri["1001"]["type"] == "hg:Place"
    assert by_uri["1005"]["type"] == "hg:PlaceA"  # PPLA3 → PPLA, not PPL
    assert by_uri["2002"]["type"] == "hg:Admin2"


def test_coordinate_order_lon_lat(outputs):
    pits, _ = outputs
    by_uri = {p["uri"].rsplit("/", 1)[-1]: p for p in pits}
    geom = by_uri["1010"]["geometry"]
    assert geom["type"] == "Point"
    assert geom["coordinates"] == [-18.4232, -33.9258]  # [lon, lat]


def test_data_bag(outputs):
    pits, _ = outputs
    by_uri = {p["uri"].rsplit("/", 1)[-1]: p for p in pits}
    d = by_uri["1001"]["data"]
    assert d["featureClass"] == "P"
    assert d["featureCode"] == "PPL"
    assert d["countryCode"] == "NL"
    assert d["admin1Code"] == "07"
    assert d["admin2Code"] == "0392"
    assert d["admin3Code"] == ""  # empty stays empty, not null


def test_relations(outputs):
    _, rels = outputs
    base = "http://sws.geonames.org/"
    edges = sorted((r["from"], r["to"], r["type"]) for r in rels)
    assert edges == sorted(
        [
            (base + "1001", base + "2002", "hg:liesIn"),
            # self-parent fallback: 2002 IS its own admin2 → admin1 parent
            (base + "2002", base + "3003", "hg:liesIn"),
            (base + "1005", base + "2002", "hg:liesIn"),
            # allowlisted row still joins its own country's admin2
            (base + "1008", base + "4004", "hg:liesIn"),
            # 1003 (2 codes), 1004 (4 codes), 1010 (1 code): gated out
            # 1009: admin2 probe miss → dropped (reference would crash)
        ]
    )


def test_join_miss_drop_is_counted(spark, paths):
    """Default drop mode with an Observation: the 1009 row (admin2 key
    NL.07.9999 has no admin2 entry) is dropped AND counted — metrics
    ride the same action as the output, no extra pass."""
    from pyspark.sql import Observation

    obs = Observation("relation_misses")
    _, rels = _parsed(output_lines(*_tables(spark, paths), CONFIG, observation=obs))
    got = {r["from"].rsplit("/", 1)[-1] for r in rels}
    assert "1009" not in got
    metrics = obs.get
    assert metrics["a2_misses"] == 1  # exactly the 1009 row
    assert metrics["a1_misses"] == 0
    assert metrics["pits"] == 8
    assert metrics["relations"] == len(rels) == 4
    # every gated row resolves or misses: 1001, 2002, 1005, 1008, 1009
    assert metrics["relations"] + metrics["a2_misses"] == 5


def test_join_miss_fail_mode_raises(spark, paths):
    """on_miss='fail' restores the reference's crash (geonames.js:
    105-107): the job fails on the first admin2 probe miss, naming the
    offending key."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    lines = output_lines(*_tables(spark, paths), CONFIG, on_miss="fail")
    with pytest.raises((Py4JJavaError, PySparkException)) as exc:
        lines.collect()
    assert "admin2 probe miss for key NL.07.9999" in str(exc.value)
    with pytest.raises(ValueError, match="on_miss"):
        output_lines(*_tables(spark, paths), CONFIG, on_miss="ignore")


def test_join_miss_fail_mode_clean_data_passes(spark, paths):
    """fail mode is not fail-always: with the miss row filtered out
    upstream, strict mode writes the same lines as drop mode; and pit
    rows, which have no admin keys, never trip it."""
    fact, a1, a2 = _tables(spark, paths)
    clean = fact.filter(F.col("geonameid") != "1009")
    strict = sorted(output_lines(clean, a1, a2, CONFIG, on_miss="fail").collect())
    assert strict == sorted(output_lines(clean, a1, a2, CONFIG).collect())
    _, rels = _parsed(output_lines(clean, a1, a2, CONFIG, on_miss="fail"))
    got = sorted(r["from"].rsplit("/", 1)[-1] for r in rels)
    assert got == ["1001", "1005", "1008", "2002"]
    # 1003, 1004, 1010 have 2, 4 and 1 codes: pits only, and with no
    # dim rows at all every probe would miss
    ungated = fact.filter(F.col("geonameid").isin("1003", "1004", "1010"))
    pits, rels = _parsed(
        output_lines(ungated, a1.limit(0), a2.limit(0), CONFIG, on_miss="fail")
    )
    assert len(pits) == 3 and rels == []


def test_empty_filters_quirk(spark, paths):
    """R.any over [] is false ⇒ empty output, even for allowlisted ids
    (geonames.js:243-245)."""
    cfg = GeonamesConfig(
        types=CONFIG.types, filters=[], extra_uris=CONFIG.extra_uris
    )
    assert _parsed(output_lines(*_tables(spark, paths), cfg)) == ([], [])


def test_extra_ids_strips_first_base_uri_only():
    """JS String.replace with a string pattern replaces the first hit."""
    base = "http://sws.geonames.org/"
    assert GeonamesConfig(extra_uris=[base + base + "7"]).extra_ids() == [base + "7"]


def test_allowlist_edge_ids_match_reference_model(spark, tmp_path):
    """Duplicate URIs, more ids than OptimizeIn's threshold (10), an id
    holding ' and , and a null geonameid: the allowlisted filter keeps
    exactly the rows the reference's row model keeps."""
    from test_properties import _model_filter

    odd = "90'1,2"
    rows = FACT_ROWS + [
        [odd, "Odd", "Odd"] + [""] * 5 + ["DE"] + [""] * 10,
        ["", "NoId", "NoId"] + [""] * 5 + ["DE"] + [""] * 10,
    ]
    path = tmp_path / "allCountries.txt"
    path.write_text("\n".join("\t".join(r) for r in rows) + "\n")
    base = "http://sws.geonames.org/"
    ids = ["1007", "1007", odd, odd] + [str(i) for i in range(5000, 5012)]
    cfg = GeonamesConfig(
        filters=[{"countryCode": "NL", "featureClass": "P"}],
        extra_uris=[base + i for i in ids],
    )
    fact = read_all_countries(spark, str(path))
    pred = filters_predicate(cfg.filters, cfg.extra_ids())
    got = sorted(
        (r["geonameid"] or "", r["name"]) for r in fact.filter(pred).collect()
    )
    want = sorted(
        (r[0], r[1])
        for r in rows
        if _model_filter(
            {"geonameid": r[0] or None, "countryCode": r[8], "featureClass": r[6]},
            cfg.filters,
            set(cfg.extra_ids()),
        )
    )
    assert got == want
    assert ("1007", "Berlin") in got and (odd, "Odd") in got


def test_conjunction_filter(spark, paths):
    """R.whereEq is a conjunction: all pairs must match."""
    fact = read_all_countries(spark, paths["allCountries.txt"])
    pred = filters_predicate([{"countryCode": "NL", "featureClass": "A"}])
    ids = [r["geonameid"] for r in fact.filter(pred).collect()]
    assert ids == ["2002"]


def test_resolve_type_unit(spark):
    df = spark.createDataFrame(
        [("PPLA3",), ("PPL",), ("ADM2",), ("XYZ",), ("P",)], ["code"]
    )
    out = df.select(
        "code", resolve_type(F.col("code"), CONFIG.types).alias("t")
    ).collect()
    got = {r["code"]: r["t"] for r in out}
    assert got == {
        "PPLA3": "hg:PlaceA",
        "PPL": "hg:Place",
        "ADM2": "hg:Admin2",
        "XYZ": None,
        "P": None,
    }


def test_envelope_roundtrip(spark, paths):
    lines = output_lines(*_tables(spark, paths), CONFIG)
    kind = F.col("kind")
    envelope = envelope_lines(
        lines.filter(kind == "pits").select("value"),
        lines.filter(kind == "relations").select("value"),
    )
    parsed = [json.loads(r["json"]) for r in envelope.collect()]
    kinds = {line["type"] for line in parsed}
    assert kinds == {"pit", "relation"}
    pit = next(l["obj"] for l in parsed if l["type"] == "pit")
    assert set(pit) >= {"uri", "name", "type", "geometry", "data"}
    rel = next(l["obj"] for l in parsed if l["type"] == "relation")
    assert set(rel) == {"from", "to", "type"}


def test_pit_lines_are_the_json_sinks_lines(spark, paths, tmp_path):
    """``output_lines``' pit lines are, byte for byte, what the JSON sink
    writes for :func:`build_pits` over the filtered rows: ``to_json`` is
    the sink's serialization, dropped null fields included."""
    # the fixture plus a row with no name (a null field the JSON writers
    # drop) and an unparseable latitude (a null array element they keep)
    nameless = ["1011", "", "", "", "garbage", "5.5", "P", "PPL", "NL", "",
                "07", "0392", "", "", "", "", "", "", ""]
    dump = tmp_path / "allCountries.txt"
    dump.write_text(
        "\n".join("\t".join(r) for r in FACT_ROWS + [nameless]) + "\n",
        encoding="utf-8",
    )
    fact = read_all_countries(spark, str(dump))
    _, a1, a2 = _tables(spark, paths)
    lines = output_lines(fact, a1, a2, CONFIG)
    got = sorted(r["value"] for r in lines.filter(F.col("kind") == "pits").collect())
    filtered = fact.filter(filters_predicate(CONFIG.filters, CONFIG.extra_ids()))
    write_ndjson(build_pits(filtered, CONFIG), str(tmp_path / "pits"))
    written = spark.read.text(str(tmp_path / "pits"))
    assert got == sorted(r["value"] for r in written.collect())
    nameless_line = next(line for line in got if "/1011" in line)
    assert '"name"' not in nameless_line
    assert '"coordinates":[5.5,null]' in nameless_line


def test_duplicate_admin_codes_never_duplicate_pits(spark, tmp_path):
    """A dim code listed twice multiplies relations, once per matching
    admin2 row and once per matching admin1 row, and never pits: the job
    joins the dims only after each typed row is split into its pit line
    and its relation row."""
    import glob
    from collections import Counter

    from etl_geonames_spark.geonames import job

    landed = tmp_path / "landed"
    landed.mkdir()
    tables = {
        "allCountries.txt": FACT_ROWS,
        "admin1CodesASCII.txt": ADMIN1_ROWS + [["NL.07", "NH bis", "NH bis", "3004"]],
        "admin2Codes.txt": ADMIN2_ROWS + [["NL.07.0392", "Dup", "Dup", "2003"]],
    }
    for fname, rows in tables.items():
        (landed / fname).write_text(
            "\n".join("\t".join(r) for r in rows) + "\n", encoding="utf-8"
        )
    (tmp_path / "extra.json").write_text(json.dumps(CONFIG.extra_uris))
    job.transform_step(
        {"filters": CONFIG.filters, "types": CONFIG.types,
         "extraUris": str(tmp_path / "extra.json")},
        str(tmp_path),
        spark,
    )

    def written(name):
        return Counter(
            line
            for part in glob.glob(str(tmp_path / "out" / name / "part-*"))
            for line in open(part, encoding="utf-8").read().split("\n")[:-1]
        )

    fact = read_all_countries(spark, str(landed / "allCountries.txt"))
    pits = build_pits(
        fact.filter(filters_predicate(CONFIG.filters, CONFIG.extra_ids())), CONFIG
    )
    assert written("pits") == Counter(
        r[0] for r in pits.select(F.to_json(F.struct("*"))).collect()
    )
    assert set(written("pits").values()) == {1}

    def edge(child, parent):
        return json.dumps(
            {"from": BASE + child, "to": BASE + parent, "type": "hg:liesIn"},
            separators=(",", ":"),
        )

    # 1001 and 1005 meet both admin2 rows of NL.07.0392, each once per
    # admin1 row of NL.07; 2002 is its own admin2 parent once (then each
    # admin1 row is a parent) and a child of 2003 once per admin1 row;
    # BE.BRU.21 and BE.BRU are listed once
    assert written("relations") == Counter({
        edge("1001", "2002"): 2,
        edge("1001", "2003"): 2,
        edge("1005", "2002"): 2,
        edge("1005", "2003"): 2,
        edge("2002", "3003"): 1,
        edge("2002", "3004"): 1,
        edge("2002", "2003"): 2,
        edge("1008", "4004"): 1,
    })
