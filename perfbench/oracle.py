"""Independent output checks, computed with DuckDB SQL.

The GeoNames oracle re-derives, from the same TSVs the job lands, what
the job must write: PIT and relation counts plus order-insensitive
digests (the sum of DuckDB ``hash()`` over each PIT URI, and over each
relation's ``from>to``). A sum, unlike an XOR, also catches a
duplicated line. ``output_summary`` reads the job's NDJSON directories
into the same shape, so one comparison checks an op.

The registry oracle counts the rows of each query's ``oracle_sql()``
over the same Parquet tables the query scans.
"""

from __future__ import annotations

import os

import duckdb

COLUMNS = [
    "geonameid", "name", "asciiname", "alternatenames", "latitude",
    "longitude", "featureClass", "featureCode", "countryCode", "cc2",
    "admin1Code", "admin2Code", "admin3Code", "admin4Code", "population",
    "elevation", "dem", "timezone", "modificationDate",
]
BASE_URI = "http://sws.geonames.org/"


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '1GB'")
    return con


def _tsv(path: str, columns: list[str]) -> str:
    cols = ", ".join(f"'{c}': 'VARCHAR'" for c in columns)
    return (
        f"read_csv('{path}', delim='\t', header=false, quote='', escape='', "
        f"auto_detect=false, columns={{{cols}}})"
    )


def geonames_expected(landed: str, countries: list[str], types: dict[str, str],
                      extra_uris: list[str]) -> dict:
    """Counts and digests the job must produce on the dump in ``landed``
    for a config with these countries, type map and allowlist."""
    con = _connect()
    try:
        con.execute(
            f"CREATE TABLE src AS SELECT * FROM "
            f"{_tsv(os.path.join(landed, 'allCountries.txt'), COLUMNS)}"
        )
        for name in ("admin1CodesASCII", "admin2Codes"):
            con.execute(
                f"CREATE TABLE {name} AS SELECT code, geonameid FROM "
                f"{_tsv(os.path.join(landed, name + '.txt'), ['code', 'name', 'asciiname', 'geonameid'])}"
                " WHERE code IS NOT NULL"
            )
        con.execute(
            "CREATE TABLE types AS SELECT unnest(?::VARCHAR[]) AS prefix, "
            "unnest(?::VARCHAR[]) AS type", [list(types), list(types.values())])
        con.execute("CREATE TABLE countries AS SELECT unnest(?::VARCHAR[]) AS cc",
                    [countries])
        con.execute("CREATE TABLE extra AS SELECT unnest(?::VARCHAR[]) AS id",
                    [[u.replace(BASE_URI, "") for u in extra_uris]])
        # an empty country list passes nothing, allowlist included
        con.execute(f"""
            CREATE TABLE typed AS
            SELECT s.*, (SELECT t.type FROM types t
                         WHERE starts_with(s.featureCode, t.prefix)
                         ORDER BY length(t.prefix) DESC LIMIT 1) AS type
            FROM src s
            WHERE (SELECT count(*) FROM countries) > 0
              AND (s.countryCode IN (SELECT cc FROM countries)
                   OR s.geonameid IN (SELECT id FROM extra))
        """)
        pits = con.execute(f"""
            SELECT count(*), coalesce(sum(hash('{BASE_URI}' || geonameid)), 0)
            FROM typed WHERE type IS NOT NULL
        """).fetchone()
        rels = con.execute(f"""
            WITH gated AS (
                SELECT geonameid, list_filter(
                    [countryCode, admin1Code, admin2Code, admin3Code, admin4Code],
                    x -> coalesce(x, '') <> '') AS codes
                FROM typed WHERE type IS NOT NULL
            ), probed AS (
                SELECT g.geonameid,
                       CASE WHEN a2.geonameid = g.geonameid THEN a1.geonameid
                            ELSE a2.geonameid END AS parent
                FROM gated g
                LEFT JOIN admin2Codes a2 ON a2.code = array_to_string(g.codes, '.')
                LEFT JOIN admin1CodesASCII a1 ON a1.code = g.codes[1] || '.' || g.codes[2]
                WHERE len(g.codes) = 3
            )
            SELECT count(*), coalesce(sum(hash(
                '{BASE_URI}' || geonameid || '>' || '{BASE_URI}' || parent)), 0)
            FROM probed WHERE parent IS NOT NULL
        """).fetchone()
    finally:
        con.close()
    pits_n, pits_d = int(pits[0]), int(pits[1])
    rels_n, rels_d = int(rels[0]), int(rels[1])
    return {"pits": [pits_n, pits_d], "relations": [rels_n, rels_d]}


def _lines(pattern: str) -> str:
    return f"read_json_objects('{pattern}', format='newline_delimited')"


def output_summary(out: str) -> dict:
    """The same counts and digests, read back from the job's NDJSON
    output directory ``out`` (``pits``, ``relations`` and ``envelope``).
    An envelope line is counted under its ``type`` and digested like the
    typed output it wraps."""
    con = _connect()
    try:
        pits = con.execute(
            f"SELECT count(*), coalesce(sum(hash(json_extract_string(json, '$.uri'))), 0) "
            f"FROM {_lines(os.path.join(out, 'pits', 'part-*'))}"
        ).fetchone()
        rels = con.execute(
            "SELECT count(*), coalesce(sum(hash(json_extract_string(json, '$.from') "
            "|| '>' || json_extract_string(json, '$.to'))), 0) "
            f"FROM {_lines(os.path.join(out, 'relations', 'part-*'))}"
        ).fetchone()
        return {"pits": [int(pits[0]), int(pits[1])],
                "relations": [int(rels[0]), int(rels[1])],
                "envelope": envelope_summary(con, os.path.join(out, "envelope", "part-*"))}
    finally:
        con.close()


def envelope_summary(con: duckdb.DuckDBPyConnection, pattern: str) -> dict:
    """{"pits": [count, digest], "relations": [count, digest]} of an
    interleaved ``{type, obj}`` NDJSON stream."""
    rows = con.execute(f"""
        SELECT json_extract_string(json, '$.type') AS t, count(*),
               coalesce(sum(hash(CASE json_extract_string(json, '$.type')
                   WHEN 'pit' THEN json_extract_string(json, '$.obj.uri')
                   ELSE json_extract_string(json, '$.obj.from') || '>'
                        || json_extract_string(json, '$.obj.to') END)), 0)
        FROM {_lines(pattern)} GROUP BY t
    """).fetchall()
    by_type = {t: [int(n), int(d)] for t, n, d in rows}
    if set(by_type) - {"pit", "relation"}:
        raise ValueError(f"unexpected envelope types {sorted(by_type)}")
    return {"pits": by_type.get("pit", [0, 0]),
            "relations": by_type.get("relation", [0, 0])}


def reference_summary(path: str) -> dict:
    """Counts and digests of a single-file envelope stream, such as the
    reference simulation's output."""
    con = _connect()
    try:
        return envelope_summary(con, path)
    finally:
        con.close()


def registry_counts(fixtures: str, tables: list[str], oracles: dict[str, str]) -> dict[str, int]:
    """Row count of each oracle query over the Parquet tables in ``fixtures``."""
    con = _connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixtures}/{t}.parquet'")
        return {
            name: int(con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0])
            for name, sql in oracles.items()
        }
    finally:
        con.close()
