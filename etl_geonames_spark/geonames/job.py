"""The geonames module as a runnable two-step job.

The reference is a *data module*: it exports ``steps = [download,
transform]`` (geonames.js:258-261) and its framework drives each step
with a config; users configure ``countries`` and ``extraUris``
(reference README.md:11-19). This runner reproduces that UX without
the framework: a JSON config drives download → transform → NDJSON
sinks, so a reference user can switch with their existing settings.

Config keys (all optional except where noted):
  - ``countries``: list of country codes — the reference README's
    shorthand; compiles to one ``{countryCode: X}`` filter each.
  - ``filters``: explicit filter conjunctions (overrides countries).
  - ``types``: featureCode-prefix → output type map (required for any
    output — untyped rows are dropped, geonames.js:175-177).
  - ``extraUris``: path to a JSON array of GeoNames URIs to
    force-include (geonames.js:232-237).
  - ``baseUrl``: dump server (default the public GeoNames server);
    ``file://`` URLs work for testing/mirrors.
  - ``liesIn``: relation type constant (default ``hg:liesIn``).
  - ``envelope``: if true, additionally write the reference's
    interleaved ``{type, obj}`` stream: byte-identical to the job's own
    ``pits``/``relations`` lines, structurally equal to the reference's
    stream (see :func:`~etl_geonames_spark.geonames.envelope_lines`).

Steps (mirroring geonames.js):
  1. download: fetch allCountries.zip + admin TSVs, unzip (driver-side).
  2. transform: one Spark action over one scan of the dump writes both
     ``<out>/pits`` and ``<out>/relations`` (NDJSON ``part-*.txt`` files
     and a ``_SUCCESS`` marker each), and the action's row counts
     (``pits``, ``relations``, ``a2_misses``, ``a1_misses``) go to
     ``<out>/_metrics.json``; ``<out>/envelope`` when requested, framed
     from the two outputs read back as text — no second pipeline run.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import Observation, SparkSession

from etl_geonames_spark.geonames.pipeline import (
    GeonamesConfig,
    envelope_lines,
    transform_from_paths,
)
from etl_geonames_spark.ingest import BASE_URL, download
from etl_geonames_spark.sources.sinks import write_lines_by_kind, write_ndjson_lines


def load_config(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _list_of(value, kind: type, what: str):
    """``value`` when it is a list of ``kind``; a ``ValueError`` naming
    ``what`` otherwise (a string or an object would iterate as characters
    or keys and silently filter the wrong rows)."""
    if not isinstance(value, list) or not all(isinstance(v, kind) for v in value):
        noun = {str: "strings", dict: "objects"}[kind]
        raise ValueError(f"{what} must be a JSON array of {noun}, got {value!r}")
    return value


def config_to_pipeline(cfg: dict) -> GeonamesConfig:
    countries = _list_of(cfg.get("countries", []), str, "countries")
    filters = cfg.get("filters")
    if filters is None:
        filters = [{"countryCode": c} for c in countries]
    _list_of(filters, dict, "filters")
    extra_uris: list[str] = []
    if cfg.get("extraUris"):
        with open(cfg["extraUris"]) as f:
            extra_uris = _list_of(
                json.load(f), str, f"extraUris file {cfg['extraUris']}"
            )
    return GeonamesConfig(
        types=cfg.get("types", {}),
        filters=filters,
        extra_uris=extra_uris,
        lies_in=cfg.get("liesIn", "hg:liesIn"),
    )


def dataset_descriptor(cfg: dict) -> dict:
    """The dataset card a Histograph-style consumer reads beside the
    NDJSON outputs — field-for-field parity with the reference's
    ``geonames.dataset.json:1-21`` (id/title/license/description/
    author/website/editor + the JSON-LD ``@context`` typing the
    featureClass/featureCode data fields), with config overrides for
    mirrors that re-publish a subset."""
    gn = "http://www.geonames.org/ontology#"
    return {
        "id": cfg.get("id", "geonames"),
        "title": cfg.get("title", "GeoNames"),
        "license": "CC BY 3.0",
        "description": (
            "The GeoNames geographical database covers all countries "
            "and contains over eight million placenames that are "
            "available for download free of charge."
        ),
        "author": "GeoNames",
        "website": "http://www.geonames.org/",
        "editor": cfg.get("editor", "Histograph"),
        "@context": {
            "xsd": "http://www.w3.org/2001/XMLSchema#",
            "gn": gn,
            "featureClass": {
                "@id": "gn:featureClass",
                "@type": "xsd:string",
            },
            "featureCode": {
                "@id": "gn:featureCode",
                "@type": "xsd:string",
            },
        },
    }


def download_step(cfg: dict, work_dir: str) -> dict[str, str]:
    """Step 1 (geonames.js:184-221): land the dump + dims."""
    return download(
        os.path.join(work_dir, "landed"), base_url=cfg.get("baseUrl", BASE_URL)
    )


def transform_step(cfg: dict, work_dir: str, spark: SparkSession) -> None:
    """Step 2 (geonames.js:223-254): the Spark pipeline → NDJSON."""
    landed = os.path.join(work_dir, "landed")
    out = os.path.join(work_dir, "out")
    counts = Observation()
    lines = transform_from_paths(
        spark,
        os.path.join(landed, "allCountries.txt"),
        os.path.join(landed, "admin1CodesASCII.txt"),
        os.path.join(landed, "admin2Codes.txt"),
        config_to_pipeline(cfg),
        observation=counts,
    )
    write_lines_by_kind(lines, out, ("pits", "relations"))
    # '_' keeps Spark readers of <out> off the file
    with open(os.path.join(out, "_metrics.json"), "w") as f:
        json.dump(counts.get, f, indent=2)
        f.write("\n")
    if cfg.get("envelope"):
        write_ndjson_lines(
            envelope_lines(
                spark.read.text(os.path.join(out, "pits")),
                spark.read.text(os.path.join(out, "relations")),
            ),
            os.path.join(out, "envelope"),
        )
    # the dataset card the reference ships beside its outputs
    # (geonames.dataset.json) — driver-side metadata, not a Spark job
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "geonames.dataset.json"), "w") as f:
        json.dump(dataset_descriptor(cfg), f, indent=2)
        f.write("\n")


# the reference's module contract (geonames.js:258-261)
steps = [download_step, transform_step]


def run(config_path: str, work_dir: str, spark: SparkSession | None = None) -> str:
    """Run both steps; returns the output directory."""
    cfg = load_config(config_path)
    if spark is None:
        from etl_geonames_spark.session import get_spark

        spark = get_spark("etl-geonames-job")
    download_step(cfg, work_dir)
    transform_step(cfg, work_dir, spark)
    return os.path.join(work_dir, "out")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--config", required=True, help="JSON config path")
    p.add_argument("--work-dir", required=True, help="landing + output dir")
    args = p.parse_args()
    out = run(args.config, args.work_dir)
    print(out)


if __name__ == "__main__":
    main()
