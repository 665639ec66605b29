"""Sinks.

The reference emits NDJSON through its framework writer
(``tools.writer.writeObjects``, geonames.js:172). Spark's JSON sink
*is* NDJSON (one JSON object per line, one file per partition), so the
engine's sinks are thin, declarative wrappers. The GeoNames job writes
its pre-serialized lines as text instead: both outputs from one scan
of the dump through :func:`write_lines_by_kind`, and the envelope
through :func:`write_ndjson_lines`.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame


def write_ndjson(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write a DataFrame as newline-delimited JSON (geonames.js:172)."""
    df.write.mode(mode).json(path)


def write_ndjson_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write a one-string-column DataFrame of pre-serialized JSON lines
    verbatim (text sink): the ``{type, obj}`` stream of
    :func:`etl_geonames_spark.geonames.envelope_lines`, byte-identical
    to the written pits/relations lines and structurally equal to the
    reference's. The JSON sink would double-encode it."""
    df.write.mode(mode).text(path)


def write_lines_by_kind(df: DataFrame, out: str, kinds: tuple[str, ...]) -> None:
    """Write a ``(kind, value)`` DataFrame of pre-serialized lines in one
    action: the ``value`` lines of each kind land verbatim (text sink) in
    ``<out>/<kind>``, as ``part-*.txt`` files plus a ``_SUCCESS`` marker
    — e.g. the GeoNames job's ``pits`` and ``relations`` from
    :func:`etl_geonames_spark.geonames.output_lines`.

    One write with ``partitionBy("kind")`` into ``<out>/_lines``, then,
    on the driver, for each kind: replace ``<out>/<kind>`` with the
    rename of ``_lines/kind=<kind>`` (or an empty directory, when no row
    has that kind), write its ``_SUCCESS``, and finally remove the
    staging directory. Every kind's directory therefore holds only this
    write's lines, as an overwrite would. A kind outside ``kinds``
    raises before any output is touched. The renames are driver-side
    POSIX renames, so ``out`` must be a local or locally mounted path,
    and a reader that lists ``<out>/<kind>`` between its removal and
    the rename sees it missing.

    Cost: the partitioned write sorts each task's rows by ``kind``
    before writing (Spark's planned ``Sort``, no shuffle), so each task
    buffers its lines in sort memory, spilling past it, instead of
    streaming them to one file."""
    staging = os.path.join(out, "_lines")
    df.select("kind", "value").write.mode("overwrite").partitionBy("kind").text(
        staging
    )
    written = {n for n in os.listdir(staging) if n.startswith("kind=")}
    unexpected = written - {f"kind={k}" for k in kinds}
    if unexpected:
        raise ValueError(f"lines of unexpected kinds {sorted(unexpected)} in {staging}")
    for kind in kinds:
        target = os.path.join(out, kind)
        shutil.rmtree(target, ignore_errors=True)
        if f"kind={kind}" in written:
            os.rename(os.path.join(staging, f"kind={kind}"), target)
        else:
            os.makedirs(target)
        open(os.path.join(target, "_SUCCESS"), "w").close()
    shutil.rmtree(staging)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink — the engine's staged-pipeline interchange format.

    ``partition_by`` is the 100 TB lever: partitioning stage outputs
    by their downstream filter keys (e.g. countryCode, event date)
    turns later scans into partition-pruned reads.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_sharded_with_manifest(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int = 8,
    mode: str = "overwrite",
) -> dict:
    """WebDataset/tar-shard-style export: rows land in a deterministic
    shard (``xxhash64(key) mod n_shards`` — stable across runs and
    clusters, unlike round-robin), one Parquet directory per shard,
    plus a ``manifest.json`` recording per-shard row counts, byte
    sizes, and an order-insensitive content checksum (bit-XOR of the
    row key hashes). A training loader reads the manifest to plan
    epoch sharding without listing files; the checksum detects a
    silently dropped/duplicated shard after any copy.

    One shuffle (repartition on the shard id, so each shard writes
    from its own tasks); the manifest pass reuses the same hash —
    metadata-sized output. Returns the manifest dict (also written to
    ``<path>/manifest.json``)."""
    import json
    import os

    from pyspark.sql import functions as F

    shard = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).cast("int")
    tagged = df.withColumn("_shard", shard)
    (
        tagged.repartition(n_shards, "_shard")
        .write.partitionBy("_shard")
        .mode(mode)
        .parquet(path)
    )
    stats = (
        tagged.groupBy("_shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # bit-XOR of key hashes: order-insensitive, collision-safe
            # enough for a transport checksum, mergeable at any scale
            F.expr(f"bit_xor(xxhash64({key_col}))").alias("checksum"),
        )
        .collect()
    )
    shards = {}
    for r in sorted(stats, key=lambda r: r["_shard"]):
        sdir = os.path.join(path, f"_shard={r['_shard']}")
        n_bytes = sum(
            os.path.getsize(os.path.join(sdir, f))
            for f in os.listdir(sdir)
            if f.endswith(".parquet")
        )
        shards[str(r["_shard"])] = {
            "n_rows": r["n_rows"],
            "n_bytes": n_bytes,
            "checksum": r["checksum"],
        }
    manifest = {
        "key_col": key_col,
        "n_shards": n_shards,
        "total_rows": sum(s["n_rows"] for s in shards.values()),
        "shards": shards,
    }
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def publish_atomic(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    overwrite: bool = False,
) -> dict:
    """Atomic checksummed publish: stage the full write into
    ``<path>.__staging__``, fingerprint every data file (byte size +
    SHA-256, plus parquet row counts read from footers only), write
    the fingerprints as ``_MANIFEST.json`` INSIDE the staging dir,
    then promote with a single directory rename — so readers either
    see the complete, checksummed dataset or the previous one, never
    a half-written directory. A consumer re-hashes against the
    manifest to detect silent corruption after any copy/transfer.

    This is the single-filesystem commit protocol (POSIX rename is
    atomic); object stores need their own committer (documented
    limitation, not hidden). Re-running after a crash is safe: a
    stale staging dir is discarded and rebuilt, and the final rename
    is all-or-nothing — the idempotent-retry story the reference's
    plain file writes (geonames.js write streams) do not have.

    Returns the manifest dict."""
    import hashlib
    import json
    import os
    import shutil

    staging = path.rstrip("/") + ".__staging__"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    writer = df.write.mode("overwrite")
    if fmt == "parquet":
        writer.parquet(staging)
    elif fmt == "json":
        writer.json(staging)
    else:
        raise ValueError(f"unsupported publish format: {fmt}")

    files = {}
    total_rows = 0
    for name in sorted(os.listdir(staging)):
        if name.startswith(("_", ".")):
            continue
        fp = os.path.join(staging, name)
        h = hashlib.sha256()
        with open(fp, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        entry = {
            "n_bytes": os.path.getsize(fp),
            "sha256": h.hexdigest(),
        }
        if name.endswith(".parquet"):
            import pyarrow.parquet as pq

            entry["n_rows"] = pq.ParquetFile(fp).metadata.num_rows
            total_rows += entry["n_rows"]
        files[name] = entry
    manifest = {
        "format": fmt,
        "n_files": len(files),
        "total_rows": total_rows if fmt == "parquet" else None,
        "files": files,
    }
    with open(os.path.join(staging, "_MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1)

    if os.path.exists(path):
        if not overwrite:
            shutil.rmtree(staging)
            raise FileExistsError(
                f"{path} already published; pass overwrite=True"
            )
        trash = path.rstrip("/") + ".__old__"
        if os.path.exists(trash):
            shutil.rmtree(trash)
        os.rename(path, trash)
        os.rename(staging, path)
        shutil.rmtree(trash)
    else:
        os.rename(staging, path)
    return manifest


def verify_published(path: str) -> dict:
    """Re-hash a published dataset against its ``_MANIFEST.json``:
    returns ``{"ok": bool, "bad_files": [...], "missing": [...],
    "extra": [...]}``. The consumer-side half of publish_atomic."""
    import hashlib
    import json
    import os

    with open(os.path.join(path, "_MANIFEST.json")) as f:
        manifest = json.load(f)
    present = {
        n
        for n in os.listdir(path)
        if not n.startswith(("_", "."))
    }
    bad, missing = [], []
    for name, entry in manifest["files"].items():
        fp = os.path.join(path, name)
        if not os.path.exists(fp):
            missing.append(name)
            continue
        h = hashlib.sha256()
        with open(fp, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        if (
            h.hexdigest() != entry["sha256"]
            or os.path.getsize(fp) != entry["n_bytes"]
        ):
            bad.append(name)
    extra = sorted(present - set(manifest["files"]))
    return {
        "ok": not bad and not missing and not extra,
        "bad_files": bad,
        "missing": missing,
        "extra": extra,
    }
