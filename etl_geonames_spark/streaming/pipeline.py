"""Structured Streaming surface (SURVEY.md §2.10).

The reference's Highland pipe (geonames.js:239-252) gives incremental,
bounded-memory execution with no event-time semantics. The engine's
streaming surface is the genuine upgrade: the *same declarative
transformations* run under ``spark.readStream`` unchanged (stateless
ops like the geonames pipeline), and event-time operators — watermarked
windows, stateful dedup, arbitrary per-key state — cover what a pull
stream never could: out-of-order data with bounded state.

Everything here is exercised by ``tests/test_streaming.py`` with
``availableNow`` triggers against the fixture tables, asserting
streaming results equal their batch equivalents (the strongest check a
bounded source allows).

Scale notes:
  - State stores are per-key (user_id / event_id): partitioned by the
    shuffle on the grouping key, RocksDB-backed on a real cluster.
  - Watermarks bound state: without one, a windowed agg on an
    unbounded stream retains every window forever.
  - ``availableNow`` is also the production backfill trigger — one
    command replays history with the same query that serves live data.
"""

from __future__ import annotations

import os
from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from etl_geonames_spark.functions import qround
from etl_geonames_spark.session import apply_runtime_confs
from etl_geonames_spark.sources.tables import table_schema

def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture with the same
    timestamp canonicalization as the batch reader — one codebase,
    two execution modes.

    The file streaming source requires an explicit schema, so we take
    the batch reader's (``sources.tables.table_schema``: one footer
    probe per session) and mirror whatever the batch path sees:
    TIMESTAMP(NANOS) fixtures arrive as int64 under ``nanosAsLong`` and
    are floor-divided to micros; TIMESTAMP(MICROS) fixtures read
    natively (the driver has shipped both encodings across rounds —
    the reader must not assume one).
    """
    apply_runtime_confs(spark)
    batch_schema = table_schema(spark, sf_dir, "events")
    ts_is_nanos_long = dict(
        (f.name, f.dataType.simpleString()) for f in batch_schema
    ).get("ts") == "bigint"
    # glob, not a bare file path — the file streaming source requires a
    # directory or glob (it derives basePath from it)
    raw = (
        spark.readStream.schema(batch_schema)
        .parquet(f"{sf_dir}/events.parque[t]")
    )
    # TIMESTAMP (ltz), not NTZ: watermarks only accept TIMESTAMP, and
    # under the engine's pinned UTC session timezone the two carry the
    # same wall clock; outputs cast back to NTZ to match the batch
    # reader.
    if ts_is_nanos_long:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_tumbling(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling-window aggregate. The watermark caps state:
    windows older than max(event time) − watermark are finalized and
    evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_session(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Watermarked session windows (30-minute gap) per user — the
    merging-window state shape."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").cast("timestamp_ntz").alias(
                "session_start"
            ),
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful dedup on event_id, state bounded by the watermark —
    the streaming analog of llm_dedup_exact."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


_TOTALS_OUT = "user_id LONG, n_events LONG, total_value DOUBLE"
_TOTALS_STATE = "n LONG, total DOUBLE"


def _running_totals_fn(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: per-user running (count, sum) carried
    in the state store across micro-batches."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


def streaming_running_totals(events: DataFrame) -> DataFrame:
    """Arbitrary stateful processing (applyInPandasWithState): per-user
    running totals — the engine's escape hatch for operators with no
    built-in streaming form. State is one (long, double) per user:
    bounded, partitioned, store-backed."""
    return events.groupBy("user_id").applyInPandasWithState(
        _running_totals_fn,
        outputStructType=_TOTALS_OUT,
        stateStructType=_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a static
    dimension snapshot. The static side is re-planned per micro-batch
    (so a dim refresh lands without restarting the query) and, being
    dim-sized, broadcasts — the streaming analog of join_admin2's
    broadcast-probe discipline. Stateless: no watermark needed."""
    return events.join(F.broadcast(dim), "user_id", "left")


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join on user_id within an event-time band:
    right.ts ∈ [left.ts − gap, left.ts]. BOTH sides carry watermarks
    and the join predicate bounds event time on both sides — that pair
    of constraints is what lets Spark evict buffered rows and keep
    state finite on unbounded streams (an unconstrained stream-stream
    join would buffer forever)."""
    l = left.select(
        F.col("user_id"),
        F.col("ts").alias("l_ts"),
        F.col("event_type").alias("l_type"),
        F.col("event_id").alias("l_id"),
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_type").alias("r_type"),
        F.col("event_id").alias("r_id"),
    ).withWatermark("r_ts", watermark)
    cond = (
        (l["user_id"] == r["r_user_id"])
        & (r["r_ts"] >= l["l_ts"] - F.expr(f"INTERVAL {gap}"))
        & (r["r_ts"] <= l["l_ts"])
    )
    return l.join(r, cond).select(
        "user_id", "l_id", "r_id", "l_ts", "r_ts"
    )


def geonames_pits_stream(
    spark: SparkSession,
    all_countries_path: str,
    config,
) -> DataFrame:
    """The reference's transform as a *stream*: readStream over the TSV
    → identical declarative pipeline (filter → typed → PIT projection).

    Stateless, so the batch plan runs verbatim under streaming — this
    is the engine's replacement for the reference's incremental
    Highland pipe (geonames.js:239-252), with restart/exactly-once via
    checkpointing instead of rerun-from-scratch."""
    from etl_geonames_spark.geonames.pipeline import build_pits, filters_predicate
    from etl_geonames_spark.schemas import ALL_COUNTRIES_SCHEMA

    apply_runtime_confs(spark)
    raw = (
        spark.readStream.schema(ALL_COUNTRIES_SCHEMA)
        .option("sep", "\t")
        .option("quote", "")
        .csv(all_countries_path)
    )
    filtered = raw.filter(filters_predicate(config.filters, config.extra_ids()))
    return build_pits(filtered, config)


def run_available_now(
    df: DataFrame, query_name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain a bounded stream through the memory sink and return the
    result table. ``availableNow`` processes everything currently in
    the source then stops — the test/backfill trigger."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(query_name)


# --- versioned snapshot store -------------------------------------------
#
# Every ``streaming_*`` maintenance operator below keeps its state as a
# chain of Parquet snapshots under a root directory, one version per
# foreachBatch micro-batch, named by the batch_id (_snapshot_path).
# Micro-batch ``batch_id`` reads the PREDECESSOR snapshot (the newest
# version strictly older than batch_id), merges its own partial state
# onto it, and overwrites version batch_id. That one rule is the
# contract every merge below relies on:
#
#   - Retry: foreachBatch re-runs a batch_id whose snapshot write landed
#     but whose checkpoint commit did not (the crash window). The replay
#     rewrites the same version from the same base, so an additive merge
#     (counts, sums, sketch cells) never counts a batch twice; reading
#     the LATEST snapshot would merge the batch onto its own output.
#   - Ordering: batch_ids only grow, and versions compare as NUMBERS.
#     Names are zero-padded to five digits, so past batch 99,999 a
#     string sort puts v100000 before v99999 and hands every later batch
#     a stale predecessor (one batch silently dropped from the state).
#   - Versions, not overwrite-in-place: a Parquet directory cannot be
#     overwritten while it is the read side of the same job. The chain
#     is what a lakehouse table format keeps under MERGE INTO, and it
#     gives AS OF reads (``read_upsert_state(version=)``).
#
# Operators with two outputs (pairs + band/cell store) keep one chain
# per sub-root, both under the same batch_id.


def _snapshot_path(root: str, batch_id: int) -> str:
    return f"{root}/v{batch_id:05d}"


def read_upsert_state(
    spark: SparkSession,
    state_root: str,
    version: int | None = None,
    before: int | None = None,
) -> DataFrame | None:
    """Read a state snapshot: the newest by default, a specific
    ``version`` (batch_id) — time travel over the snapshot chain, the
    same AS OF read a lakehouse table format offers — or, with
    ``before``, the newest snapshot strictly older than that batch_id
    (the predecessor read every maintenance merge makes). Returns None
    before the first batch. The version listing is driver-side and
    metadata-scale, and orders batch_ids as numbers."""
    if not os.path.isdir(state_root):
        return None
    versions = sorted(
        int(d[1:]) for d in os.listdir(state_root) if d.startswith("v")
    )
    if before is not None:
        versions = [v for v in versions if v < before]
    if not versions:
        return None
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise ValueError(
            f"no snapshot {_snapshot_path(state_root, version)}; "
            f"have versions {versions}"
        )
    return spark.read.parquet(_snapshot_path(state_root, version))


def _write_snapshot(df: DataFrame, root: str, batch_id: int) -> None:
    df.write.mode("overwrite").parquet(_snapshot_path(root, batch_id))


def _advance(
    root: str,
    batch_id: int,
    partial: DataFrame,
    merge: Callable[[DataFrame], DataFrame],
) -> None:
    """Write version ``batch_id`` under ``root``: the batch's
    ``partial`` state, or ``merge(predecessor ∪ partial)`` once a
    predecessor exists."""
    prev = read_upsert_state(partial.sparkSession, root, before=batch_id)
    if prev is not None:
        partial = merge(prev.unionByName(partial))
    _write_snapshot(partial, root, batch_id)


def _drain(stream: DataFrame, checkpoint: str, merge_batch, *args) -> None:
    """Run ``merge_batch(batch, batch_id, *args)`` on every micro-batch
    currently in ``stream``, then stop. The checkpoint records the
    consumed input, so a later drain sees only what arrived since."""
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, batch_id: merge_batch(batch, batch_id, *args)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_upsert(
    events: DataFrame, state_root: str, checkpoint: str
) -> None:
    """Streaming CDC upsert via ``foreachBatch``: each micro-batch is
    compacted to its latest row per user_id and merged with the state
    snapshot (keep-latest wins across batch and state) into a new
    version of the snapshot store — the engine-side core of what a
    lakehouse table format does under MERGE INTO.

    The reference has no incremental story at all — it rewrites the
    full NDJSON per run (geonames.js:151-163).
    """
    _drain(events, checkpoint, _upsert_merge_batch, state_root)


def _upsert_merge_batch(
    batch: DataFrame, batch_id: int, state_root: str
) -> None:
    """One micro-batch of the upsert. Last-wins is idempotent, so a
    replay would land on the same state from either base; it reads the
    predecessor like every other store merge."""
    _advance(state_root, batch_id, _keep_latest(batch), _keep_latest)


def _keep_latest(df: DataFrame) -> DataFrame:
    """Latest row per user_id, deterministic tiebreak on event_id."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def streaming_rollup_maintenance(
    events: DataFrame, state_root: str, checkpoint: str
) -> None:
    """Incremental materialized-view maintenance via ``foreachBatch``:
    the hourly (hour, event_type) rollup is kept current by MERGING
    each micro-batch's partial aggregates into the snapshot — count
    and sum are mergeable, so a batch costs O(batch + touched hours),
    never a rescan of history. The streaming complement of the batch
    :func:`~etl_geonames_spark.operators.timeseries.ts_rollup_hierarchy`
    (whose daily level re-aggregates these same hourly partials).

    A late event lands in its own hour's partial and merges into that
    one row — the invalidate-one-bucket property that makes continuous
    aggregates viable at 100 TB.
    """
    _drain(events, checkpoint, _rollup_merge_batch, state_root)


def _rollup_merge_batch(
    batch: DataFrame, batch_id: int, state_root: str
) -> None:
    """One micro-batch of continuous-aggregate maintenance: the batch's
    hourly partial (count, sum) regroups and sums onto the predecessor.
    Count/sum are additive, so unlike the upsert's last-wins merge this
    one is idempotent only because a retry merges onto the same base.
    Module-level (like every ``_*_merge_batch``) so tests can replay a
    batch_id directly."""
    partial = batch.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
    _advance(
        state_root,
        batch_id,
        partial,
        lambda u: u.groupBy("hour", "event_type").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        ),
    )


def _index_merge_batch(
    batch: DataFrame, batch_id: int, state_root: str
) -> None:
    """One micro-batch of inverted-index maintenance: the batch's
    (word → postings) partial merges onto the predecessor by union +
    distinct + re-sort per touched word. Postings are SETS, so a
    crash-window replay is idempotent by algebra too (distinct absorbs
    the re-union)."""

    def postings(rows: DataFrame) -> DataFrame:
        doc_ids = F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("postings")))
        )
        return rows.groupBy("word").agg(doc_ids.alias("postings")).select(
            "word", F.size("postings").cast("bigint").alias("df"), "postings"
        )

    words = (
        batch.select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .distinct()
        .select("word", F.array("doc_id").alias("postings"))
    )
    _advance(state_root, batch_id, postings(words), postings)


def streaming_index_maintenance(
    docs: DataFrame, state_root: str, checkpoint: str
) -> None:
    """Incremental inverted-index maintenance: each micro-batch's
    (word → postings) partial merges into the versioned index
    snapshot — postings are sets, so the merge is
    union + distinct + re-sort per touched word, never a corpus
    rescan. The streaming complement of ``llm_inverted_index``
    (search.py): after draining a bounded stream the snapshot equals
    the batch index exactly (pinned in tests/test_streaming.py).

    At 100 TB the snapshot partitions by word hash and a batch only
    rewrites touched partitions; head terms (stopwords touch every
    batch) want the same skew handling as the batch BM25 docstring
    describes."""
    _drain(docs, checkpoint, _index_merge_batch, state_root)


def _dedup_merge_batch(
    batch: DataFrame, batch_id: int, state_root: str
) -> None:
    """One micro-batch of continuous LSH dedup (see
    :func:`streaming_dedup_maintenance`): within-batch pairs from the
    band self-join, cross pairs against the predecessor band store.
    Pairing against the predecessor, not the latest, keeps a replay
    from joining the batch against its own bands (which would re-emit
    every within-batch pair as a cross pair too)."""
    from etl_geonames_spark.operators.llm import (
        minhash_bands,
        minhash_signatures,
    )

    spark = batch.sparkSession
    bands = minhash_bands(minhash_signatures(batch)).localCheckpoint(
        eager=True
    )
    a, b = bands.alias("a"), bands.alias("b")
    within = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
    )
    store = read_upsert_state(spark, f"{state_root}/bands", before=batch_id)
    if store is not None:
        s = store.alias("s")
        cross = bands.alias("n").join(
            s,
            (F.col("n.band_idx") == F.col("s.band_idx"))
            & (F.col("n.band_hash") == F.col("s.band_hash")),
        ).select(
            F.least(F.col("n.doc_id"), F.col("s.doc_id")).alias("doc_a"),
            F.greatest(F.col("n.doc_id"), F.col("s.doc_id")).alias(
                "doc_b"
            ),
        ).filter(F.col("doc_a") != F.col("doc_b"))
        pairs = within.unionByName(cross)
    else:
        pairs = within
    _write_snapshot(pairs.distinct(), f"{state_root}/pairs", batch_id)
    new_store = (
        store.unionByName(bands).distinct()
        if store is not None
        else bands
    )
    _write_snapshot(new_store, f"{state_root}/bands", batch_id)


def streaming_dedup_maintenance(
    docs: DataFrame, state_root: str, checkpoint: str
) -> None:
    """Continuous MinHash-LSH near-dup detection: each micro-batch's
    band hashes (a) self-join for within-batch candidate pairs,
    (b) equi-join against the ACCUMULATED band store for pairs
    against everything already ingested, then append to the store.
    New docs only ever compare against colliding bucket entries —
    the corpus is never rescanned and non-colliding pairs are never
    materialized, so continuous dedup stays linear-ish exactly like
    the batch path (llm.py's llm_dedup_minhash, whose banding
    function is shared so bucket spaces are identical).

    Emitted pairs land in the ``<state_root>/pairs`` chain, the band
    store in ``<state_root>/bands``. After draining a bounded stream,
    the union of emitted pairs equals the batch llm_dedup_minhash pair
    set (pinned in tests/test_streaming.py)."""
    _drain(docs, checkpoint, _dedup_merge_batch, state_root)


def _cdc_chunk_merge_batch(
    batch: DataFrame, batch_id: int, state_root: str
) -> None:
    """One micro-batch of continuous content-defined-chunk dedup
    maintenance: the batch's per-chunk partial (min length, distinct
    docs, occurrences) merges additively onto the predecessor. Each
    document appears in exactly one micro-batch, so per-batch
    COUNT(DISTINCT doc_id) sums to the corpus-wide distinct count —
    the additivity that makes the merge exact."""
    from etl_geonames_spark.operators.curation import cdc_chunks

    partial = cdc_chunks(batch).groupBy(
        F.col("c.chash").alias("chunk_hash")
    ).agg(
        F.min("c.clen").cast("long").alias("chunk_len"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_occ"),
    )
    _advance(
        state_root,
        batch_id,
        partial,
        lambda u: u.groupBy("chunk_hash").agg(
            F.min("chunk_len").cast("long").alias("chunk_len"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_occ").cast("long").alias("n_occ"),
        ),
    )


def streaming_cdc_chunk_maintenance(
    docs: DataFrame, state_root: str, checkpoint: str
) -> None:
    """Continuous content-defined-chunk dedup: each micro-batch's
    chunk census (operators/curation.cdc_chunks — the SAME explode as
    the batch query, so chunk spaces are identical) merges additively
    into the versioned snapshot. After draining a bounded stream, the
    snapshot filtered to n_docs ≥ 2 equals the batch
    llm_cdc_chunk_dedup output exactly (pinned in
    tests/test_streaming.py) — duplicated-passage detection that
    keeps up with corpus ingestion instead of rescanning it.

    DELIVERY CONTRACT (ADVICE r7): n_docs is exact only when each
    document is delivered in exactly ONE micro-batch — the
    availableNow file-source contract this pipeline targets, where
    checkpointed file tracking guarantees each input file (and so
    each doc) is consumed once, and a crash replay re-runs the SAME
    batch_id against the predecessor snapshot (idempotent). A source
    that RE-delivers a document under a different batch_id
    (at-least-once brokers, re-ingested files) would silently
    inflate the summed per-batch COUNT(DISTINCT doc_id); feeding
    such a source requires doc_id-level state (a seen-docs keyed
    store) instead of this additive merge.

    At 100 TB the snapshot is chunk-vocabulary-sized (not corpus-
    sized) and partitions by chunk hash; a batch only touches the
    hash partitions its chunks land in."""
    _drain(docs, checkpoint, _cdc_chunk_merge_batch, state_root)


def _cms_merge_batch(
    batch: DataFrame, batch_id: int, state_root: str
) -> None:
    """One micro-batch of continuous CMS maintenance (see
    :func:`streaming_cms_maintenance`): per-cell SUM onto the
    predecessor. CMS counters are additive — a latest-snapshot read
    would silently double every count a replayed batch touched."""
    from etl_geonames_spark.operators.reshape import cms_cells

    _advance(
        state_root,
        batch_id,
        cms_cells(batch, "user_id"),
        lambda u: u.groupBy("i", "c").agg(F.sum("n").alias("n")),
    )


def streaming_cms_maintenance(
    events: DataFrame, state_root: str, checkpoint: str
) -> None:
    """Continuously maintained count-min sketch: each micro-batch's
    CMS cells (operators/reshape.cms_cells — the SAME expression as
    the batch query) merge into the versioned snapshot by per-cell
    SUM. CMS counters are additive, so partial-sketch + merge is
    EXACT — the drained snapshot equals the batch sketch cell-for-
    cell (pinned in tests/test_streaming.py), unlike approximate
    merges there is no drift to bound.

    At 100 TB the snapshot is ≤ d·w rows — the whole point of
    sketches: per-key frequency queries over an unbounded stream in
    4 KB of mergeable state, no per-key state store at all."""
    _drain(events, checkpoint, _cms_merge_batch, state_root)


def _kmv_merge_batch(
    batch: DataFrame, batch_id: int, state_root: str
) -> None:
    """One micro-batch of KMV maintenance: bottom-k of (predecessor
    state ∪ batch members). Members dedupe before re-ranking, so a
    crash-window replay — and even a broken latest-read self-merge —
    cannot corrupt the member SET; what the crash-replay test pins is
    that a merge which skips the re-rank (raw union append) IS
    detected."""
    from etl_geonames_spark.operators.reshape import kmv_bottomk

    _advance(state_root, batch_id, kmv_bottomk(batch), kmv_bottomk)


def streaming_kmv_maintenance(
    events: DataFrame, state_root: str, checkpoint: str
) -> None:
    """Continuously maintained KMV distinct sketch: each micro-batch's
    bottom-k member set (operators/reshape.kmv_bottomk — the SAME
    expressions as the batch query) merges into the versioned
    snapshot by re-ranking the union. KMV state is the ≤ k smallest
    member hashes per group; bottom-k of (previous state ∪ batch
    members) IS bottom-k of everything seen, because members dedupe
    before ranking and the hash is deterministic — so the drained
    snapshot's estimates equal agg_sketch_kmv's batch estimates
    EXACTLY (pinned in tests/test_streaming.py), the same
    no-drift-to-bound property as the CMS maintenance above.

    At 100 TB: state is ≤ |groups|·k rows forever — per-group distinct
    tracking over an unbounded stream with no per-member state store;
    estimates serve at any moment from the latest snapshot."""
    _drain(events, checkpoint, _kmv_merge_batch, state_root)


def _band_stats_merge_batch(
    batch: DataFrame, batch_id: int, state_root: str
) -> None:
    """One micro-batch of LSH bucket-census maintenance: per-bucket
    ADDITIVE counts sum onto the predecessor — a latest-read merge
    would double every bucket the batch touched (the crash-replay test
    proves the red case)."""
    from etl_geonames_spark.operators.llm import _poly_minhash_bands

    partial = (
        _poly_minhash_bands(batch)
        .groupBy("band", "b_lo", "b_hi")
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
    )
    _advance(
        state_root,
        batch_id,
        partial,
        lambda u: u.groupBy("band", "b_lo", "b_hi").agg(
            F.sum("sz").cast("long").alias("sz")
        ),
    )


def streaming_band_stats_maintenance(
    docs: DataFrame, state_root: str, checkpoint: str
) -> None:
    """Continuously maintained LSH bucket census: each micro-batch's
    documents are banded with the SAME expressions as the batch
    pipeline (operators/llm._poly_minhash_bands) and their
    (band, b_lo, b_hi) bucket memberships merge into the versioned
    snapshot by per-bucket SUM — bucket sizes are additive over
    disjoint document batches, so the drained snapshot's census
    equals llm_dedup_band_stats' batch output EXACTLY (pinned in
    tests/test_streaming.py): the skew monitor (max bucket, candidate
    -pair bill) stays current as the corpus streams in, which is when
    you actually want it — a boilerplate flood shows up as a bucket
    spike WITHIN the batch that ingested it, before any dedup join
    is scheduled.

    At 100 TB the state is |buckets| rows (bounded by corpus/bucket
    granularity, heavy-tailed but census-sized) — the capacity
    planner's view of an unbounded ingest with no per-doc state."""
    _drain(docs, checkpoint, _band_stats_merge_batch, state_root)


def _hh_merge_batch(
    batch: DataFrame, batch_id: int, state_root: str
) -> None:
    """One micro-batch of heavy-hitters maintenance: per-(shard, word)
    ADDITIVE counts sum onto the predecessor — a latest-read merge
    would double every count the batch touched (the crash-replay test
    proves the red case)."""
    from etl_geonames_spark.operators.reshape import hh_shard_counts

    _advance(
        state_root,
        batch_id,
        hh_shard_counts(batch),
        lambda u: u.groupBy("shard", "word").agg(
            F.sum("cnt").cast("long").alias("cnt")
        ),
    )


def streaming_hh_maintenance(
    docs: DataFrame, state_root: str, checkpoint: str
) -> None:
    """Continuously maintained heavy-hitters state: each micro-batch's
    documents produce (shard, word, cnt) partial counts with the SAME
    expressions as the batch certificate
    (operators/reshape.hh_shard_counts) and merge into the versioned
    snapshot by per-(shard, word) SUM — counts are additive over
    disjoint document batches, so deriving the certificate
    (reshape.hh_certificate) from the drained snapshot equals
    agg_heavy_hitters' batch output EXACTLY (pinned in
    tests/test_streaming.py). This is the streaming form of the
    Misra-Gries merge story: the vocabulary census stays current as
    the corpus streams in, and the [lower, upper] frequency
    certificate can be served at any moment from the latest snapshot.

    State size note, honestly: this maintains the FULL per-shard
    count table (|shards|·|vocab| rows) rather than only the top-k +
    bound — exact, but vocabulary-sized. A stricter-memory variant
    would keep k+1 rows per shard and pay a wider certificate; the
    full table is the right trade while vocab ≪ corpus (Heaps' law
    keeps it sublinear in tokens)."""
    _drain(docs, checkpoint, _hh_merge_batch, state_root)


def _bloom_merge_batch(
    batch: DataFrame, batch_id: int, state_root: str
) -> None:
    """One micro-batch of Bloom-signature maintenance: the batch's
    signature ORs into the predecessor. OR is idempotent — even a
    broken latest-read self-merge cannot corrupt THIS state (the
    crash-replay test pins that algebraic property); what the test's
    red case proves instead is that a merge which DROPS the
    predecessor (losing earlier batches' bits → false negatives) is
    detected."""
    from etl_geonames_spark.operators.relational import bloom_signature

    _advance(
        state_root,
        batch_id,
        bloom_signature(batch.select("doc_id"), "doc_id"),
        lambda u: u.groupBy("word").agg(F.bit_or("s").alias("s")),
    )


def streaming_bloom_maintenance(
    docs: DataFrame, state_root: str, checkpoint: str
) -> None:
    """Continuously maintained seen-keys Bloom signature: each
    micro-batch's doc_ids fold into the 1024-bit / 4-hash filter with
    the SAME expressions as the batch op
    (operators/relational.bloom_signature — join_bloom_prefilter's
    build side) and merge into the versioned snapshot by per-word
    bit_or. Bloom signatures are OR-mergeable — sig(A) | sig(B) =
    sig(A ∪ B) exactly, bit for bit — so the drained snapshot equals
    the batch signature of the whole corpus EXACTLY (pinned in
    tests/test_streaming.py), the no-drift-to-bound property of the
    CMS/KMV maintenance ops. This is the front gate of incremental
    dedup at scale: probe each arriving batch against the maintained
    filter map-side (broadcast, no shuffle of the batch), and only
    the survivors — true re-ingests plus a measured fp_rate of noise
    (join_bloom_prefilter quantifies it) — pay the exact anti-join
    against the corpus-sized seen-keys table.

    At 100 TB the state is ≤ 32 rows FOREVER (size the bit width to
    the key cardinality in production; the geometry is one constant).
    The filter never forgets: deletions need a rebuild or a counting
    variant — documented, not implemented."""
    _drain(docs, checkpoint, _bloom_merge_batch, state_root)


def _semdedup_merge_batch(
    batch: DataFrame, batch_id: int, state_root: str, cents_path: str,
    tau: float,
) -> None:
    """One micro-batch of continuous semantic (SemDeDup) dedup: the
    batch's vectors are cell-assigned against the maintained k×d
    centroid SNAPSHOT (broadcast, map-side — the offline batch
    k-means refreshes it, streaming only reads it), L2-normalized
    with the batch path's clamped divisor, then (a) within-batch
    same-cell pairs with qround(dot) ≥ tau and (b) cross pairs
    against the predecessor per-cell unit-vector store, so a replay
    never pairs the batch against its own cells."""
    from etl_geonames_spark.operators.llm import _as_double, kmeans_assign

    spark = batch.sparkSession
    cents = spark.read.parquet(cents_path)
    pts = batch.select("vec_id", _as_double("embedding").alias("emb"))
    # identical normalize arithmetic to semdedup_keep (clamped
    # divisor: a zero vector dots 0 < tau, never pairs)
    nrm = F.greatest(
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("emb"), F.col("emb"), lambda x, y: x * y
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        F.lit(1e-12),
    )
    cells = (
        kmeans_assign(pts, cents)
        .join(pts, "vec_id")
        .select(
            "vec_id",
            "cluster",
            F.transform(F.col("emb"), lambda x: x / nrm).alias("u"),
        )
        .localCheckpoint(eager=True)
    )
    dot = F.aggregate(
        F.zip_with(F.col("ua"), F.col("ub"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    a = cells.select(
        F.col("vec_id").alias("i"),
        F.col("cluster").alias("cl"),
        F.col("u").alias("ua"),
    )
    b = cells.select(
        F.col("vec_id").alias("j"),
        F.col("cluster").alias("cl"),
        F.col("u").alias("ub"),
    )
    within = (
        a.join(b, "cl")
        .where(F.col("i") < F.col("j"))
        .where(qround(dot, 6) >= F.lit(tau))
        .select(
            F.col("i").alias("vec_a"), F.col("j").alias("vec_b")
        )
    )
    store = read_upsert_state(spark, f"{state_root}/cells", before=batch_id)
    if store is not None:
        s = store.select(
            F.col("vec_id").alias("j"),
            F.col("cluster").alias("cl"),
            F.col("u").alias("ub"),
        )
        cross = (
            a.join(s, "cl")
            .where(F.col("i") != F.col("j"))
            .where(qround(dot, 6) >= F.lit(tau))
            .select(
                F.least(F.col("i"), F.col("j")).alias("vec_a"),
                F.greatest(F.col("i"), F.col("j")).alias("vec_b"),
            )
        )
        pairs = within.unionByName(cross)
    else:
        pairs = within
    _write_snapshot(pairs.distinct(), f"{state_root}/pairs", batch_id)
    new_store = (
        store.unionByName(cells).distinct()
        if store is not None
        else cells
    )
    _write_snapshot(new_store, f"{state_root}/cells", batch_id)


def streaming_semdedup_maintenance(
    emb: DataFrame,
    cents_path: str,
    state_root: str,
    checkpoint: str,
    tau: float = 0.40,
) -> None:
    """Continuous SemDeDup (semantic near-dup) maintenance — the
    streaming complement of the batch llm_semdedup/llm_dedup_embedding
    pair, completing the last batch-only dedup family: each arriving
    micro-batch of (vec_id, embedding) rows is cell-assigned against
    the maintained k×d centroid snapshot at ``cents_path`` (written
    by the offline batch k-means — operators.llm.kmeans_centroids —
    and refreshed on ITS cadence; k-means cells only need stability,
    not convergence, so a stale snapshot degrades blocking recall
    gracefully, never correctness of emitted pairs), L2-normalized
    once, then joined for candidate pairs within its cell only:
    within-batch and against the accumulated per-cell unit-vector
    store. Pairs with qround(cos) ≥ tau land in the
    ``<state_root>/pairs`` chain, the store in ``<state_root>/cells``
    (the streaming_dedup_maintenance layout).

    Drained ≡ batch: after draining a bounded stream, the union of
    emitted pairs equals the batch within-cell τ-pair set over the
    same corpus and snapshot — cell assignment is per-vector
    deterministic (shared kmeans_assign), so batch boundaries only
    decide WHICH snapshot version a pair is emitted in (pinned in
    tests/test_streaming.py, with crash-replay idempotence).

    100 TB shape: the snapshot is k×d (broadcast, map-side assign);
    each batch shuffles only on cluster for its pair joins; the store
    grows corpus-sized but is only ever equi-joined per cell — the
    same Σ|cell|² blocking bill as the batch path, paid
    incrementally. Store compaction (rewriting cells/v* into a
    bucketed table) is the llm_dedup_incremental maintenance story."""
    _drain(
        emb, checkpoint, _semdedup_merge_batch, state_root, cents_path, tau
    )
