"""End-to-end job-runner test: config JSON → download (file:// mirror)
→ transform → NDJSON outputs, the reference user's full workflow.
"""

from __future__ import annotations

import glob
import json
import zipfile
from collections import Counter
from pathlib import Path

import pytest

from etl_geonames_spark.geonames import job
from etl_geonames_spark.geonames.job import config_to_pipeline, run
from etl_geonames_spark.sources.sinks import write_lines_by_kind


# a name holding '"', '\\' and non-ASCII text pins the JSON escaping and
# the UTF-8 round trip from the JSON sink through the envelope's text read
ODD_NAME = 'Köln "Alt"\\'


def _serve(tmp_path):
    """A file:// dump server: allCountries.zip + the two admin TSVs."""
    rows = [
        ["1001", "Amsterdam", "Amsterdam", "", "52.37", "4.89", "P", "PPLA",
         "NL", "", "07", "0363", "", "", "0", "", "", "", ""],
        ["1002", ODD_NAME, "Koln Alt", "", "52.36", "4.90", "P", "PPL",
         "NL", "", "07", "0363", "", "", "0", "", "", "", ""],
        ["1003", "Berlin", "Berlin", "", "52.52", "13.40", "P", "PPLC",
         "DE", "", "16", "00", "", "", "0", "", "", "", ""],
    ]
    server = tmp_path / "server"
    server.mkdir()
    with zipfile.ZipFile(server / "allCountries.zip", "w") as z:
        z.writestr(
            "allCountries.txt",
            "\n".join("\t".join(r) for r in rows) + "\n",
        )
    (server / "admin1CodesASCII.txt").write_text(
        "NL.07\tNoord-Holland\tNoord-Holland\t2749879\n"
    )
    (server / "admin2Codes.txt").write_text(
        "NL.07.0363\tGemeente Amsterdam\tGemeente Amsterdam\t2759793\n"
    )
    return server


def _run(spark, tmp_path, config) -> str:
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(config))
    return run(str(cfg_path), str(tmp_path / "work"), spark=spark)


def _lines(directory) -> list[str]:
    """Every line of a Spark output directory's part files, decoded
    strictly as UTF-8 (each line ends in ``\\n``)."""
    return [
        line
        for part in sorted(glob.glob(f"{directory}/part-*"))
        for line in Path(part).read_text(encoding="utf-8").split("\n")[:-1]
    ]


def test_job_end_to_end(spark, tmp_path):
    server = _serve(tmp_path)
    (tmp_path / "extra-uris.json").write_text(
        json.dumps(["http://sws.geonames.org/1003"])
    )
    out = _run(spark, tmp_path, {
        # the reference README's configuration surface (README.md:11-19)
        "countries": ["NL"],
        "types": {"PPL": "hg:Place"},
        "extraUris": str(tmp_path / "extra-uris.json"),
        "baseUrl": f"file://{server}/",
        "envelope": True,
    })

    pits = spark.read.json(f"{out}/pits")
    # Amsterdam and Köln (NL filter) + Berlin (extra-uris override past
    # the filter)
    assert {r["uri"] for r in pits.select("uri").collect()} == {
        "http://sws.geonames.org/1001",
        "http://sws.geonames.org/1002",
        "http://sws.geonames.org/1003",
    }
    assert pits.filter(pits["name"] == ODD_NAME).count() == 1
    rels = spark.read.json(f"{out}/relations")
    assert rels.filter(
        (rels["from"] == "http://sws.geonames.org/1001")
        & (rels["to"] == "http://sws.geonames.org/2759793")
        & (rels["type"] == "hg:liesIn")
    ).count() == 1
    # the envelope is exactly the written lines, each wrapped once
    envelope = _lines(f"{out}/envelope")
    assert Counter(envelope) == Counter(
        [f'{{"type":"pit","obj":{line}}}' for line in _lines(f"{out}/pits")]
        + [f'{{"type":"relation","obj":{line}}}'
           for line in _lines(f"{out}/relations")]
    )
    assert ODD_NAME in {
        e["obj"].get("name") for e in map(json.loads, envelope)
    }

    # the one write's row counts; Berlin (DE.16.00) is gated and has no
    # admin2 row
    with open(f"{out}/_metrics.json") as f:
        metrics = json.load(f)
    assert metrics == {
        "pits": len(_lines(f"{out}/pits")),
        "relations": len(_lines(f"{out}/relations")),
        "a2_misses": 1,
        "a1_misses": 0,
    }

    # dataset card: field-for-field parity with the reference's
    # geonames.dataset.json (id, licensing, and the JSON-LD @context
    # a Histograph-style consumer uses to type the data fields)
    with open(f"{out}/geonames.dataset.json") as f:
        card = json.load(f)
    assert card["id"] == "geonames"
    assert card["license"] == "CC BY 3.0"
    assert card["author"] == "GeoNames"
    assert card["website"] == "http://www.geonames.org/"
    assert card["editor"] == "Histograph"
    ctx = card["@context"]
    assert ctx["gn"] == "http://www.geonames.org/ontology#"
    assert ctx["featureClass"] == {
        "@id": "gn:featureClass",
        "@type": "xsd:string",
    }
    assert ctx["featureCode"] == {
        "@id": "gn:featureCode",
        "@type": "xsd:string",
    }


def test_job_empty_output_with_envelope(spark, tmp_path):
    """``countries: []`` compiles to no filters, and the reference's
    empty-filters quirk passes nothing: the job still succeeds and all
    three outputs read back empty."""
    server = _serve(tmp_path)
    out = _run(spark, tmp_path, {
        "countries": [],
        "types": {"PPL": "hg:Place"},
        "baseUrl": f"file://{server}/",
        "envelope": True,
    })
    for name in ("pits", "relations", "envelope"):
        assert spark.read.text(f"{out}/{name}").count() == 0
        assert _lines(f"{out}/{name}") == []


def test_job_rerun_replaces_outputs(spark, tmp_path):
    """A second run into the same work dir leaves only its own lines in
    every output, no staging directory, and a _SUCCESS marker in each."""
    server = _serve(tmp_path)
    config = {"types": {"PPL": "hg:Place"}, "baseUrl": f"file://{server}/",
              "envelope": True}
    _run(spark, tmp_path, {**config, "countries": ["NL", "DE"]})
    out = _run(spark, tmp_path, {**config, "countries": ["NL"]})
    (tmp_path / "fresh").mkdir()
    want = _run(spark, tmp_path / "fresh", {**config, "countries": ["NL"]})

    assert not any(p.name.startswith("kind=") or p.name == "_lines"
                   for p in Path(out).iterdir())
    for name in ("pits", "relations", "envelope"):
        assert Counter(_lines(f"{out}/{name}")) == Counter(_lines(f"{want}/{name}"))
        assert (Path(out) / name / "_SUCCESS").is_file()
    assert not any("/1003" in line for line in _lines(f"{out}/pits"))
    assert len(_lines(f"{out}/pits")) == 2


def test_lines_by_kind_rejects_unexpected_kinds(spark, tmp_path):
    """A kind the caller did not name would be lost with the staging
    directory: the sink raises before any output is replaced."""
    (tmp_path / "pits").mkdir()
    (tmp_path / "pits" / "keep").write_text("")
    df = spark.createDataFrame(
        [("pits", "{}"), ("other", "{}")], "kind string, value string"
    )
    with pytest.raises(ValueError, match="kind=other"):
        write_lines_by_kind(df, str(tmp_path), ("pits",))
    assert (tmp_path / "pits" / "keep").exists()


@pytest.mark.parametrize(
    "cfg, extra, key",
    [
        ({}, "http://sws.geonames.org/1003", "extraUris"),
        ({}, {"http://sws.geonames.org/1003": 1}, "extraUris"),
        ({}, [12], "extraUris"),
        ({"countries": "NL"}, None, "countries"),
        ({"countries": ["NL", None]}, None, "countries"),
        ({"filters": [], "countries": "NL"}, None, "countries"),
        ({"filters": {"countryCode": "NL"}}, None, "filters"),
        ({"filters": ["NL"]}, None, "filters"),
    ],
)
def test_config_rejects_malformed_lists(tmp_path, cfg, extra, key):
    """A string or an object where a list belongs would iterate as its
    characters or keys and filter the wrong rows without an error; a
    non-string URI would fail far from the config. Each is a ValueError
    naming the key (and the file, for extraUris)."""
    if extra is not None:
        path = tmp_path / "extra.json"
        path.write_text(json.dumps(extra))
        cfg = {**cfg, "extraUris": str(path)}
    with pytest.raises(ValueError, match=key) as exc:
        config_to_pipeline(cfg)
    if extra is not None:
        assert str(tmp_path / "extra.json") in str(exc.value)


def test_transform_step_builds_through_transform_from_paths(
    spark, tmp_path, monkeypatch
):
    """The job builds its plan with one call of ``transform_from_paths``,
    looked up on the job module, so a wrapper bound there (as a tracer
    binds one) sees the whole build, and the outputs do not change."""
    import importlib

    for module, name in [
        ("etl_geonames_spark.geonames.pipeline", "transform_from_paths"),
        ("etl_geonames_spark.sources.sinks", "write_ndjson"),
        ("etl_geonames_spark.sources.sinks", "write_ndjson_lines"),
        ("etl_geonames_spark.ingest", "download"),
    ]:
        assert callable(getattr(importlib.import_module(module), name))

    server = _serve(tmp_path)
    cfg = {"countries": ["NL"], "types": {"PPL": "hg:Place"},
           "baseUrl": f"file://{server}/"}
    plain = tmp_path / "plain"
    job.download_step(cfg, str(plain))
    job.transform_step(cfg, str(plain), spark)

    calls = []
    build = job.transform_from_paths

    def record(*args, **kwargs):
        calls.append(args)
        return build(*args, **kwargs)

    monkeypatch.setattr(job, "transform_from_paths", record)
    traced = tmp_path / "traced"
    job.download_step(cfg, str(traced))
    job.transform_step(cfg, str(traced), spark)

    assert len(calls) == 1
    for name in ("pits", "relations"):
        got = Counter(_lines(traced / "out" / name))
        assert got == Counter(_lines(plain / "out" / name))
        assert got
