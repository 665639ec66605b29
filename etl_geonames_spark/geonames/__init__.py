from etl_geonames_spark.geonames.pipeline import (  # noqa: F401
    GeonamesConfig,
    build_pits,
    envelope_lines,
    filters_predicate,
    output_lines,
    resolve_type,
    transform_from_paths,
)
