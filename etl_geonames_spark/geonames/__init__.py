from etl_geonames_spark.geonames.pipeline import (  # noqa: F401
    GeonamesConfig,
    build_pits,
    build_relations,
    envelope_lines,
    filters_predicate,
    output_lines,
    output_lines_from_paths,
    resolve_type,
    run_pipeline,
    tagged_envelope,
    transform_from_paths,
)
