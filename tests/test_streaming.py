"""Structured Streaming checks: each streaming operator drains the
bounded fixture source with an availableNow trigger and must equal its
batch equivalent — the strongest equivalence a bounded source allows.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_geonames_spark.operators.timeseries import stream_session, stream_tumbling
from etl_geonames_spark.sources import load_table
from etl_geonames_spark.streaming import (
    geonames_pits_stream,
    read_events_stream,
    run_available_now,
    streaming_dedup,
    streaming_running_totals,
    streaming_tumbling,
    streaming_session,
)


def _sorted_rows(df, *cols):
    return [tuple(r) for r in df.orderBy(*cols).collect()]


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    # complete mode: every window in the final table, late or not
    result = run_available_now(
        streaming_tumbling(ev), "t_tumbling", output_mode="complete"
    )
    batch = stream_tumbling(spark, sf_dir)
    assert _sorted_rows(result, "window_start", "event_type") == _sorted_rows(
        batch, "window_start", "event_type"
    )


def test_streaming_session_equals_batch(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    result = run_available_now(
        streaming_session(ev), "t_session", output_mode="complete"
    )
    batch = stream_session(spark, sf_dir).select(
        "user_id", "session_start", "n_events"
    )
    assert _sorted_rows(result, "user_id", "session_start") == _sorted_rows(
        batch, "user_id", "session_start"
    )


def test_streaming_dedup(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    # the fixture has unique event_ids: dedup must be a no-op on count
    result = run_available_now(streaming_dedup(ev), "t_dedup")
    expected = load_table(spark, sf_dir, "events").count()
    assert result.count() == expected


def test_streaming_running_totals_equals_batch(spark, sf_dir):
    ev = read_events_stream(spark, sf_dir)
    result = run_available_now(
        streaming_running_totals(ev), "t_totals", output_mode="update"
    )
    # update mode re-emits a row per user per micro-batch; the LAST
    # emission per user is the final state. n_events is monotone, so
    # the final row is the one with max n_events — total_value comes
    # from THAT row (max_by), not an independent max, which would be
    # wrong the moment values can be negative
    final = (
        result.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in final.collect()}
    want = {r["user_id"]: (r["n_events"], r["total_value"]) for r in batch.collect()}
    assert set(got) == set(want)
    for uid, (n, _total) in want.items():
        assert got[uid][0] == n
        assert got[uid][1] == pytest.approx(_total, abs=0.05)


def test_geonames_pipeline_as_stream(spark, tmp_path):
    """The reference's transform runs unchanged under readStream."""
    from etl_geonames_spark.geonames import GeonamesConfig

    rows = [
        ["1001", "Amsterdam", "Amsterdam", "", "52.37", "4.89", "P", "PPLA",
         "NL", "", "07", "0363", "", "", "0", "", "", "", ""],
        ["1003", "Berlin", "Berlin", "", "52.52", "13.40", "P", "PPLC",
         "DE", "", "16", "00", "", "", "0", "", "", "", ""],
        ["1004", "SomeHill", "SomeHill", "", "52.0", "5.0", "T", "HLL",
         "NL", "", "09", "0344", "", "", "0", "", "", "", ""],
    ]
    src = tmp_path / "stream_src"
    src.mkdir()
    (src / "allCountries.txt").write_text(
        "\n".join("\t".join(r) for r in rows) + "\n"
    )
    cfg = GeonamesConfig(
        types={"PPL": "hg:Place"},
        filters=[{"countryCode": "NL"}],
        extra_uris=["http://sws.geonames.org/1003"],
    )
    pits = geonames_pits_stream(spark, str(src), cfg)
    assert pits.isStreaming
    result = run_available_now(pits, "t_geonames_pits")
    by_uri = {r["uri"]: r for r in result.collect()}
    # NL + typed: Amsterdam passes, SomeHill (HLL) drops; Berlin (DE) is
    # forced through by the allowlist (a stream-static existence join)
    assert sorted(by_uri) == [
        "http://sws.geonames.org/1001",
        "http://sws.geonames.org/1003",
    ]
    amsterdam = by_uri["http://sws.geonames.org/1001"]
    assert amsterdam["geometry"]["coordinates"] == [4.89, 52.37]


def test_streaming_checkpoint_exactly_once(spark, tmp_path):
    """Checkpointed restart: a second availableNow run over a grown
    source processes ONLY the new files — no reprocessing, no
    duplicates. This (plus idempotent sinks) is the exactly-once story
    the reference's rerun-from-scratch model lacks."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.schema("id long").json(str(src))
            .writeStream.format("json")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    (src / "batch1.json").write_text(
        "\n".join(f'{{"id": {i}}}' for i in range(10)) + "\n"
    )
    run_once()
    (src / "batch2.json").write_text(
        "\n".join(f'{{"id": {i}}}' for i in range(10, 20)) + "\n"
    )
    run_once()

    result = spark.read.schema("id long").json(out)
    assert result.count() == 20  # each row exactly once
    assert result.select("id").distinct().count() == 20


def test_streaming_enrich_equals_batch(spark, sf_dir):
    """Stream-static broadcast join == the same join run in batch."""
    from etl_geonames_spark.streaming import streaming_enrich

    dim = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("tier", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"))
    )
    ev = read_events_stream(spark, sf_dir)
    result = run_available_now(
        streaming_enrich(ev, dim).select("event_id", "user_id", "tier"),
        "t_enrich",
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .join(dim, "user_id", "left")
        .select("event_id", "user_id", "tier")
    )
    assert _sorted_rows(result, "event_id") == _sorted_rows(batch, "event_id")


def test_streaming_interval_join_equals_batch(spark, sf_dir):
    """Stream-stream event-time interval join == the batch range join
    with the same band, on the bounded fixture."""
    from etl_geonames_spark.streaming import streaming_interval_join

    ev = read_events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    buys = ev.filter(F.col("event_type") == "purchase")
    result = run_available_now(
        streaming_interval_join(clicks, buys), "t_ssjoin"
    )
    b = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")  # ltz, matching the stream reader
    )
    bl = b.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    br = b.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    )
    batch = bl.join(
        br,
        (bl["user_id"] == br["r_user_id"])
        & (br["r_ts"] >= bl["l_ts"] - F.expr("INTERVAL 30 minutes"))
        & (br["r_ts"] <= bl["l_ts"]),
    ).select("user_id", "l_id", "r_id", "l_ts", "r_ts")
    assert result.count() > 0, "fixture produced no click->purchase pairs"
    assert _sorted_rows(result, "l_id", "r_id") == _sorted_rows(batch, "l_id", "r_id")


def test_streaming_upsert_foreachbatch(spark, sf_dir, tmp_path):
    """foreachBatch CDC upsert: two availableNow runs over a growing
    source — run 2 processes ONLY the new file and merges it into the
    versioned state chain. Final state must equal batch keep-latest
    over the union of both files."""
    import shutil

    from etl_geonames_spark.streaming import (
        read_upsert_state,
        streaming_upsert,
    )

    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    # split the fixture into two "arrival" files on even/odd event_id
    ev = load_table(spark, sf_dir, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.write.parquet(str(src / "wave1"))
    second.write.parquet(str(src / "wave2_staging"))

    def run_once():
        stream = (
            spark.readStream.schema(first.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/wave*/")
        )
        streaming_upsert(stream, state, ckpt)

    # wave 2 hidden during run 1 (glob matches wave1 only after rename)
    shutil.move(str(src / "wave2_staging"), str(tmp_path / "held"))
    run_once()
    state1 = read_upsert_state(spark, state)
    n_users_wave1 = first.select("user_id").distinct().count()
    assert state1.count() == n_users_wave1

    shutil.move(str(tmp_path / "held"), str(src / "wave2"))
    run_once()
    final = read_upsert_state(spark, state)

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    expected = (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    got = {(r["user_id"], r["event_id"]) for r in final.collect()}
    want = {(r["user_id"], r["event_id"]) for r in expected.collect()}
    assert got == want


def test_upsert_state_time_travel(spark, sf_dir, tmp_path):
    """Specific-version reads over the upsert snapshot chain: v0 must
    still show wave-1 state after wave 2 lands (AS OF semantics)."""
    import shutil

    from etl_geonames_spark.streaming import (
        read_upsert_state,
        streaming_upsert,
    )

    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, sf_dir, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.write.parquet(str(src / "wave1"))

    def run_once():
        stream = (
            spark.readStream.schema(first.schema)
            .parquet(f"{src}/wave*/")
        )
        streaming_upsert(stream, state, ckpt)

    run_once()
    v0_count = read_upsert_state(spark, state, version=0).count()
    second.write.parquet(str(src / "wave2"))
    run_once()

    # v0 is immutable history; latest reflects both waves
    assert read_upsert_state(spark, state, version=0).count() == v0_count
    latest = read_upsert_state(spark, state)
    assert latest.count() == ev.select("user_id").distinct().count()
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_upsert_state(spark, state, version=99)


def test_streaming_rollup_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """Incremental continuous-aggregate maintenance: two availableNow
    runs over a growing source merge per-batch hourly partials into the
    snapshot chain; the final snapshot must equal the batch hourly
    rollup over everything (count exact, sum to 2dp)."""
    import shutil

    from etl_geonames_spark.streaming import (
        read_upsert_state,
        streaming_rollup_maintenance,
    )

    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    ev = load_table(spark, sf_dir, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.write.parquet(str(src / "wave1"))
    second.write.parquet(str(src / "wave2_staging"))

    def run_once():
        stream = (
            spark.readStream.schema(first.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/wave*/")
        )
        streaming_rollup_maintenance(stream, state, ckpt)

    shutil.move(str(src / "wave2_staging"), str(tmp_path / "held"))
    run_once()
    shutil.move(str(tmp_path / "held"), str(src / "wave2"))
    run_once()

    final = read_upsert_state(spark, state)
    batch = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
    got = {
        (r["hour"], r["event_type"]): (r["n_events"], round(r["sum_value"], 2))
        for r in final.collect()
    }
    want = {
        (r["hour"], r["event_type"]): (r["n_events"], round(r["sum_value"], 2))
        for r in batch.collect()
    }
    assert set(got) == set(want)
    for k, (n, s) in want.items():
        assert got[k][0] == n, k
        assert got[k][1] == pytest.approx(s, abs=0.02), k


def test_streaming_rollup_retry_is_idempotent(spark, sf_dir, tmp_path):
    """A micro-batch retried AFTER its snapshot write but BEFORE the
    checkpoint commit must not double-count: the merge reads the
    predecessor snapshot (newest version < batch_id), so replaying the
    same batch_id overwrites v{batch_id} from the same base instead of
    adding the batch onto its own output."""
    from etl_geonames_spark.streaming import read_upsert_state
    from etl_geonames_spark.streaming.pipeline import _rollup_merge_batch

    state = str(tmp_path / "state")
    ev = load_table(spark, sf_dir, "events")
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)

    _rollup_merge_batch(b0, 0, state)
    _rollup_merge_batch(b1, 1, state)
    once = {
        (r["hour"], r["event_type"]): (r["n_events"], round(r["sum_value"], 2))
        for r in read_upsert_state(spark, state).collect()
    }
    # crash-retry: batch 1 replays after its own v00001 already exists
    _rollup_merge_batch(b1, 1, state)
    retried = {
        (r["hour"], r["event_type"]): (r["n_events"], round(r["sum_value"], 2))
        for r in read_upsert_state(spark, state).collect()
    }
    assert retried == once
    # and batch 0 retried from an empty predecessor stays batch-0-only
    _rollup_merge_batch(b0, 0, state)
    v0 = read_upsert_state(spark, state, version=0)
    assert v0.agg(F.sum("n_events")).collect()[0][0] == b0.count()


def test_snapshot_versions_order_numerically_past_five_digits(
    spark, tmp_path
):
    """Snapshot names are zero-padded to five digits, so v100000 sorts
    BEFORE v99999 as a string. Every read of the chain must order
    versions as numbers: latest, the predecessor of the next batch, AS
    OF, and the merge of batch 100001 (which must land on v100000's
    counts, not v99999's — a stale predecessor drops batch 100000 from
    the state forever)."""
    import datetime

    from etl_geonames_spark.streaming import read_upsert_state
    from etl_geonames_spark.streaming.pipeline import _rollup_merge_batch

    state = str(tmp_path / "state")
    hour = datetime.datetime(2024, 1, 1, 10)
    schema = "hour timestamp, event_type string, n_events long, sum_value double"
    for version, n in ((99999, 1), (100000, 2)):
        spark.createDataFrame([(hour, "click", n, float(n))], schema).write.parquet(
            f"{state}/v{version:05d}"
        )

    def n_events(df):
        return [r["n_events"] for r in df.collect()]

    assert n_events(read_upsert_state(spark, state)) == [2]
    assert n_events(read_upsert_state(spark, state, before=100001)) == [2]
    assert n_events(read_upsert_state(spark, state, before=100000)) == [1]
    assert n_events(read_upsert_state(spark, state, version=100000)) == [2]
    assert n_events(read_upsert_state(spark, state, version=99999)) == [1]

    b = spark.createDataFrame(
        [(hour.replace(minute=30), "click", 5.0)],
        "ts timestamp, event_type string, value double",
    )
    _rollup_merge_batch(b, 100001, state)
    merged = read_upsert_state(spark, state, version=100001).collect()
    assert [(r["n_events"], r["sum_value"]) for r in merged] == [(3, 7.0)]
    assert n_events(read_upsert_state(spark, state)) == [3]


def test_streaming_upsert_crash_replay_equals_single_run(
    spark, sf_dir, tmp_path
):
    """Crash-window replay for the upsert: batch 1 replayed after its
    v00001 write but before the checkpoint commit must leave the same
    state as a single run — keep-latest per user over both batches."""
    from etl_geonames_spark.streaming import read_upsert_state
    from etl_geonames_spark.streaming.pipeline import (
        _keep_latest,
        _upsert_merge_batch,
    )

    ev = load_table(spark, sf_dir, "events")
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)
    state = str(tmp_path / "state")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    _upsert_merge_batch(b0, 0, state)
    _upsert_merge_batch(b1, 1, state)
    once = rows(read_upsert_state(spark, state))
    _upsert_merge_batch(b1, 1, state)  # crash-window replay
    assert rows(read_upsert_state(spark, state)) == once
    assert once == rows(_keep_latest(ev))
    # the replay rewrote v00001 only: v00000 still holds batch 0 alone
    assert rows(read_upsert_state(spark, state, version=0)) == rows(
        _keep_latest(b0)
    )


def test_streaming_media_decode_equals_batch(spark, tmp_path):
    """Multimodal under Structured Streaming: a stream of binary image
    blobs (Parquet binary column) decoded by the REAL codec inside
    mapInPandas must equal the batch decode of the same files — the
    continuous-ingest form of the mm_decode_image pipeline (new media
    arriving in object storage, decoded incrementally)."""
    from etl_geonames_spark.operators.codecs import (
        decode_image,
        encode_bmp,
        encode_ppm,
    )
    from etl_geonames_spark.streaming import run_available_now

    rows = []
    for i in range(24):
        w, h = i % 5 + 1, i % 3 + 1
        rgb = bytes(
            (x * 7 + y * 11 + i) % 256
            for y in range(h)
            for x in range(w)
            for _c in range(3)
        )
        blob = encode_bmp(w, h, rgb) if i % 2 == 0 else encode_ppm(w, h, rgb)
        rows.append((i, blob))
    src = str(tmp_path / "media")
    df = spark.createDataFrame(rows, "media_id long, blob binary")
    df.write.parquet(src)

    def _decode(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                w, h, rgb = decode_image(bytes(blob))
                out.append((int(mid), w, h, sum(rgb)))
            yield pd.DataFrame(
                out, columns=["media_id", "width", "height", "pix_sum"]
            )

    schema = "media_id long, width int, height int, pix_sum long"
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .mapInPandas(_decode, schema=schema)
    )
    got = {
        r["media_id"]: (r["width"], r["height"], r["pix_sum"])
        for r in run_available_now(stream, "t_media_decode").collect()
    }
    want = {
        r["media_id"]: (r["width"], r["height"], r["pix_sum"])
        for r in spark.read.parquet(src)
        .mapInPandas(_decode, schema=schema)
        .collect()
    }
    assert got == want and len(got) == 24


def _two_wave_docs_stream(spark, sf_dir, tmp_path):
    """The documents fixture split into two parquet files, streamed
    one file per micro-batch."""
    import shutil

    docs = load_table(spark, sf_dir, "documents")
    src = tmp_path / "docs_src"
    src.mkdir()
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(str(src / "w1"))
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(str(src / "w2"))
    return (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/w*/"),
        docs,
    )


def test_streaming_index_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """Incrementally maintained inverted index == the batch index
    after draining the corpus in waves."""
    from etl_geonames_spark.streaming import streaming_index_maintenance
    from etl_geonames_spark.streaming import read_upsert_state

    stream, docs = _two_wave_docs_stream(spark, sf_dir, tmp_path)
    state = str(tmp_path / "index_state")
    streaming_index_maintenance(stream, state, str(tmp_path / "ckpt"))

    final = read_upsert_state(spark, state)
    got = {
        r["word"]: (r["df"], list(r["postings"])) for r in final.collect()
    }
    import __spark_entry__ as entry_mod

    batch = entry_mod.queries()["llm_inverted_index"](spark, sf_dir)
    # batch postings are the canonical comma-joined serialization
    # (driver-hashable scalar); parse back to ints for the comparison
    want = {
        r["word"]: (r["df"], [int(x) for x in r["postings"].split(",")])
        for r in batch.collect()
    }
    assert got == want


def test_streaming_dedup_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """Continuous LSH dedup: the union of per-batch emitted pairs
    (within-batch + against-store) == the batch llm_dedup_minhash
    candidate set — no pair missed across the wave boundary, none
    invented."""
    from etl_geonames_spark.streaming import streaming_dedup_maintenance

    stream, docs = _two_wave_docs_stream(spark, sf_dir, tmp_path)
    state = str(tmp_path / "dedup_state")
    streaming_dedup_maintenance(stream, state, str(tmp_path / "ckpt2"))

    pairs = spark.read.parquet(f"{state}/pairs/v*")
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    import __spark_entry__ as entry_mod

    batch = entry_mod.queries()["llm_dedup_minhash"](spark, sf_dir)
    want = {(r["doc_a"], r["doc_b"]) for r in batch.collect()}
    assert got == want


def test_streaming_cms_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """Continuously maintained CMS == the batch sketch cell-for-cell
    after draining the events stream: CMS counters are additive, so
    the per-batch partial + SUM merge is exact, not approximate."""
    from etl_geonames_spark.operators.reshape import cms_cells
    from etl_geonames_spark.sources import load_table
    from etl_geonames_spark.streaming import (
        read_events_stream,
        streaming_cms_maintenance,
    )
    from etl_geonames_spark.streaming import read_upsert_state

    stream = read_events_stream(spark, sf_dir).select("user_id")
    state = str(tmp_path / "cms_state")
    streaming_cms_maintenance(stream, state, str(tmp_path / "ckpt"))

    final = read_upsert_state(spark, state)
    got = {(r["i"], r["c"]): r["n"] for r in final.collect()}
    batch = cms_cells(
        load_table(spark, sf_dir, "events").select("user_id"), "user_id"
    )
    want = {(r["i"], r["c"]): r["n"] for r in batch.collect()}
    assert got == want and len(want) > 0


def test_streaming_cms_crash_replay_equals_batch(spark, sf_dir, tmp_path):
    """Crash-mid-batch replay for the CMS maintenance path: batch 1
    replayed AFTER its v00001 snapshot write but BEFORE the
    checkpoint commit (the foreachBatch crash window) must leave the
    final sketch equal to the batch sketch — and a deliberately
    BROKEN commit order (merging onto the LATEST snapshot, i.e. the
    batch's own output) must double-count, proving this test detects
    the failure mode it guards (VERDICT r6 item 6)."""
    from etl_geonames_spark.operators.reshape import cms_cells
    from etl_geonames_spark.streaming import read_upsert_state
    from etl_geonames_spark.streaming.pipeline import _cms_merge_batch

    ev = load_table(spark, sf_dir, "events").select("user_id")
    b0 = ev.filter(F.col("user_id") % 2 == 0)
    b1 = ev.filter(F.col("user_id") % 2 == 1)
    state = str(tmp_path / "cms_state")

    _cms_merge_batch(b0, 0, state)
    _cms_merge_batch(b1, 1, state)
    # crash window: v00001 exists, checkpoint never committed -> the
    # engine replays batch 1 with the SAME batch_id
    _cms_merge_batch(b1, 1, state)
    got = {
        (r["i"], r["c"]): r["n"]
        for r in read_upsert_state(spark, state).collect()
    }
    want = {(r["i"], r["c"]): r["n"] for r in cms_cells(ev, "user_id").collect()}
    assert got == want and len(want) > 0

    # red under the broken commit order: merge batch 1's cells onto
    # the LATEST snapshot (its own v00001 output) — additive counters
    # double-count, so the totals must differ from the correct state
    broken = (
        read_upsert_state(spark, state)
        .unionByName(cms_cells(b1, "user_id"))
        .groupBy("i", "c")
        .agg(F.sum("n").alias("n"))
    )
    broken_total = broken.agg(F.sum("n")).collect()[0][0]
    correct_total = sum(want.values())
    assert broken_total > correct_total


def test_streaming_dedup_crash_replay_equals_batch(spark, sf_dir, tmp_path):
    """Crash-mid-batch replay for the LSH dedup maintenance path:
    batch 1 replayed after its pairs/v00001 + bands/v00001 writes but
    before the checkpoint commit must leave the drained pair union
    equal to the batch llm_dedup_minhash candidate set — the
    predecessor read is what prevents the replayed batch from
    LSH-joining against its own bands (which would survive the
    distinct() only because pairs are set-valued; the band STORE
    would still be correct, but a latest-read of a COUNTING store
    would not be — this pins the ordering contract for both)."""
    import __spark_entry__ as entry_mod

    from etl_geonames_spark.streaming import read_upsert_state
    from etl_geonames_spark.streaming.pipeline import _dedup_merge_batch

    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "dedup_state")

    _dedup_merge_batch(b0, 0, state)
    _dedup_merge_batch(b1, 1, state)
    # crash window replay of batch 1
    _dedup_merge_batch(b1, 1, state)

    pairs = spark.read.parquet(f"{state}/pairs/v*")
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    batch = entry_mod.queries()["llm_dedup_minhash"](spark, sf_dir)
    want = {(r["doc_a"], r["doc_b"]) for r in batch.collect()}
    assert got == want
    # and the band store after replay holds each (doc, band) exactly
    # once — a self-append would survive distinct(), so pin the count
    # against the batch band build directly
    from etl_geonames_spark.operators.llm import (
        minhash_bands,
        minhash_signatures,
    )

    store = read_upsert_state(spark, f"{state}/bands")
    assert store.count() == minhash_bands(minhash_signatures(docs)).count()


def test_streaming_kmv_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """Continuously maintained KMV == the batch sketch estimate-for-
    estimate after draining the events stream: bottom-k of a union of
    bottom-k member sets is bottom-k of the union (members dedupe,
    hashes are deterministic), so the merge is exact."""
    from etl_geonames_spark.operators.reshape import kmv_estimate
    from etl_geonames_spark.sources import load_table
    from etl_geonames_spark.streaming import (
        read_events_stream,
        streaming_kmv_maintenance,
    )
    from etl_geonames_spark.streaming import read_upsert_state
    import __spark_entry__ as entry_mod

    stream = read_events_stream(spark, sf_dir).select(
        "event_type", "user_id"
    )
    state = str(tmp_path / "kmv_state")
    streaming_kmv_maintenance(stream, state, str(tmp_path / "ckpt"))

    final = read_upsert_state(spark, state)
    got = {
        r["event_type"]: (r["kth_hash"], round(r["est_distinct"], 6))
        for r in kmv_estimate(final).collect()
    }
    batch = entry_mod.queries()["agg_sketch_kmv"](spark, sf_dir)
    want = {
        r["event_type"]: (r["kth_hash"], round(r["est_distinct"], 6))
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_streaming_band_stats_maintenance_equals_batch(
    spark, sf_dir, tmp_path
):
    """Incrementally maintained LSH bucket census == the batch
    llm_dedup_band_stats after draining the corpus in waves (bucket
    sizes are additive over disjoint doc batches, so the equality is
    exact, not approximate)."""
    from pyspark.sql import functions as F

    from etl_geonames_spark.streaming import (
        streaming_band_stats_maintenance,
    )
    from etl_geonames_spark.streaming import read_upsert_state

    stream, docs = _two_wave_docs_stream(spark, sf_dir, tmp_path)
    state = str(tmp_path / "band_state")
    streaming_band_stats_maintenance(
        stream, state, str(tmp_path / "band_ckpt")
    )

    final = read_upsert_state(spark, state)
    census = (
        final.groupBy(F.col("band").cast("int").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.max("sz").cast("long").alias("max_bucket"),
            F.sum(F.when(F.col("sz") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_colliding_buckets"),
            F.sum(F.col("sz") * (F.col("sz") - 1) / 2)
            .cast("long")
            .alias("n_candidate_pairs"),
        )
    )
    got = {tuple(r) for r in census.collect()}
    import __spark_entry__ as entry_mod

    want = {
        tuple(r)
        for r in entry_mod.queries()["llm_dedup_band_stats"](
            spark, sf_dir
        ).collect()
    }
    assert got == want


def test_streaming_hh_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """Incrementally maintained heavy-hitters state == the batch
    agg_heavy_hitters certificate after draining the corpus in waves
    (per-(shard, word) counts are additive over disjoint doc batches,
    so the drained state equals the batch count table exactly and the
    derived certificate matches row-for-row)."""
    from etl_geonames_spark.operators.reshape import hh_certificate
    from etl_geonames_spark.streaming import streaming_hh_maintenance
    from etl_geonames_spark.streaming import read_upsert_state

    stream, docs = _two_wave_docs_stream(spark, sf_dir, tmp_path)
    state = str(tmp_path / "hh_state")
    streaming_hh_maintenance(stream, state, str(tmp_path / "hh_ckpt"))

    final = read_upsert_state(spark, state)
    got = {tuple(r) for r in hh_certificate(final).collect()}
    import __spark_entry__ as entry_mod

    want = {
        tuple(r)
        for r in entry_mod.queries()["agg_heavy_hitters"](
            spark, sf_dir
        ).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_bloom_maintenance_equals_batch(spark, sf_dir, tmp_path):
    """Incrementally maintained seen-keys Bloom signature == the
    batch signature of the whole corpus after draining in waves
    (sig(A) | sig(B) = sig(A ∪ B), bit for bit) — and the merged
    filter admits every streamed key (no false negatives survive
    the merge rounds)."""
    from etl_geonames_spark.operators.relational import (
        bloom_bit,
        bloom_signature,
    )
    from etl_geonames_spark.streaming import streaming_bloom_maintenance
    from etl_geonames_spark.streaming import read_upsert_state

    stream, docs = _two_wave_docs_stream(spark, sf_dir, tmp_path)
    state = str(tmp_path / "bloom_state")
    streaming_bloom_maintenance(stream, state, str(tmp_path / "bloom_ckpt"))

    final = read_upsert_state(spark, state)
    got = {(r["word"], r["s"]) for r in final.collect()}
    want = {
        (r["word"], r["s"])
        for r in bloom_signature(
            docs.select("doc_id"), "doc_id"
        ).collect()
    }
    assert got == want and len(want) > 0

    words = dict(got)
    probes = docs.select(
        "doc_id", *[bloom_bit(F.col("doc_id"), j).alias(f"b{j}") for j in range(4)]
    ).collect()
    for r in probes:
        for j in range(4):
            b = r[f"b{j}"]
            assert words.get(b // 32, 0) & (1 << (b % 32))


def test_streaming_cdc_chunk_maintenance_equals_batch(
    spark, sf_dir, tmp_path
):
    """Continuously maintained content-defined-chunk census == the
    batch llm_cdc_chunk_dedup output (n_docs >= 2 slice) after
    draining the corpus in waves — per-batch distinct-doc counts sum
    exactly because each document rides exactly one micro-batch."""
    import __spark_entry__ as entry_mod

    from etl_geonames_spark.streaming import (
        streaming_cdc_chunk_maintenance,
    )
    from etl_geonames_spark.streaming import read_upsert_state

    stream, docs = _two_wave_docs_stream(spark, sf_dir, tmp_path)
    state = str(tmp_path / "cdc_state")
    streaming_cdc_chunk_maintenance(stream, state, str(tmp_path / "ckpt"))

    final = read_upsert_state(spark, state).filter(
        F.col("n_docs") >= 2
    )
    got = {
        r["chunk_hash"]: (r["chunk_len"], r["n_docs"], r["n_occ"])
        for r in final.collect()
    }
    batch = entry_mod.queries()["llm_cdc_chunk_dedup"](spark, sf_dir)
    want = {
        r["chunk_hash"]: (r["chunk_len"], r["n_docs"], r["n_occ"])
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_streaming_cdc_chunk_crash_replay(spark, sf_dir, tmp_path):
    """Batch 1 replayed after its snapshot write but before the
    checkpoint commit leaves the CDC chunk census identical — the
    additive merge reads the predecessor, never its own output."""
    from etl_geonames_spark.streaming import read_upsert_state
    from etl_geonames_spark.streaming.pipeline import _cdc_chunk_merge_batch

    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "cdc_state")
    _cdc_chunk_merge_batch(b0, 0, state)
    _cdc_chunk_merge_batch(b1, 1, state)
    once = {
        r["chunk_hash"]: (r["chunk_len"], r["n_docs"], r["n_occ"])
        for r in read_upsert_state(spark, state).collect()
    }
    _cdc_chunk_merge_batch(b1, 1, state)  # crash-window replay
    retried = {
        r["chunk_hash"]: (r["chunk_len"], r["n_docs"], r["n_occ"])
        for r in read_upsert_state(spark, state).collect()
    }
    assert retried == once


def test_streaming_kmv_crash_replay_equals_batch(spark, sf_dir, tmp_path):
    """Crash-mid-batch replay for the KMV maintenance path (VERDICT r7
    item 3): batch 1 replayed after its v00001 write but before the
    checkpoint commit must leave estimates equal to the batch sketch —
    bottom-k-of-union over deduped members is self-merge idempotent.
    Red case: a BROKEN merge that skips the re-rank (raw union append)
    leaves > k members per group and a different kth_hash, proving the
    test detects a wrong merge even though set algebra forgives the
    replay itself."""
    from etl_geonames_spark.operators.reshape import kmv_bottomk, kmv_estimate
    from etl_geonames_spark.streaming import read_upsert_state
    from etl_geonames_spark.streaming.pipeline import _kmv_merge_batch

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    b0 = ev.filter(F.col("user_id") % 2 == 0)
    b1 = ev.filter(F.col("user_id") % 2 == 1)
    state = str(tmp_path / "kmv_state")

    _kmv_merge_batch(b0, 0, state)
    _kmv_merge_batch(b1, 1, state)
    _kmv_merge_batch(b1, 1, state)  # crash-window replay, same batch_id

    final = read_upsert_state(spark, state)
    got = {
        r["event_type"]: (r["kth_hash"], round(r["est_distinct"], 6))
        for r in kmv_estimate(final).collect()
    }
    want = {
        r["event_type"]: (r["kth_hash"], round(r["est_distinct"], 6))
        for r in kmv_estimate(kmv_bottomk(ev)).collect()
    }
    assert got == want and len(want) > 0

    # red: raw union append (no bottom-k re-rank) must be detectable —
    # the state balloons past k members per group
    broken = final.unionByName(kmv_bottomk(b1))
    per_group = {r["event_type"]: r["n"] for r in final.groupBy(
        "event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    broken_per_group = {r["event_type"]: r["n"] for r in broken.groupBy(
        "event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert any(
        broken_per_group[g] > per_group[g] for g in per_group
    )


def test_streaming_hh_crash_replay_equals_batch(spark, sf_dir, tmp_path):
    """Crash-mid-batch replay for the heavy-hitters maintenance path:
    replayed batch 1 must leave the derived certificate equal to the
    batch certificate, and the deliberately BROKEN commit order
    (merging batch 1 onto the LATEST snapshot — its own output) must
    double-count, proving the counter-store failure mode is detected."""
    from etl_geonames_spark.operators.reshape import (
        hh_certificate,
        hh_shard_counts,
    )
    from etl_geonames_spark.streaming import read_upsert_state
    from etl_geonames_spark.streaming.pipeline import _hh_merge_batch

    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "hh_state")

    _hh_merge_batch(b0, 0, state)
    _hh_merge_batch(b1, 1, state)
    _hh_merge_batch(b1, 1, state)  # crash-window replay

    final = read_upsert_state(spark, state)
    got = {tuple(r) for r in hh_certificate(final).collect()}
    want = {tuple(r) for r in hh_certificate(hh_shard_counts(docs)).collect()}
    assert got == want and len(want) > 0

    # red under broken commit order: latest-read merge double-counts
    broken_total = (
        final.unionByName(hh_shard_counts(b1))
        .agg(F.sum("cnt"))
        .collect()[0][0]
    )
    correct_total = final.agg(F.sum("cnt")).collect()[0][0]
    assert broken_total > correct_total


def test_streaming_band_stats_crash_replay_equals_batch(
    spark, sf_dir, tmp_path
):
    """Crash-mid-batch replay for the LSH bucket-census maintenance
    path: replayed batch 1 must leave bucket sizes equal to the batch
    build; the broken latest-read merge double-counts every bucket
    batch 1 touched (red case)."""
    from etl_geonames_spark.operators.llm import _poly_minhash_bands
    from etl_geonames_spark.streaming import read_upsert_state
    from etl_geonames_spark.streaming.pipeline import _band_stats_merge_batch

    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "band_state")

    _band_stats_merge_batch(b0, 0, state)
    _band_stats_merge_batch(b1, 1, state)
    _band_stats_merge_batch(b1, 1, state)  # crash-window replay

    final = read_upsert_state(spark, state)
    got = {
        (r["band"], r["b_lo"], r["b_hi"]): r["sz"] for r in final.collect()
    }
    want = {
        (r["band"], r["b_lo"], r["b_hi"]): r["sz"]
        for r in _poly_minhash_bands(docs)
        .groupBy("band", "b_lo", "b_hi")
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
        .collect()
    }
    assert got == want and len(want) > 0

    # red under broken commit order
    broken_total = (
        final.unionByName(
            _poly_minhash_bands(b1)
            .groupBy("band", "b_lo", "b_hi")
            .agg(F.count(F.lit(1)).cast("long").alias("sz"))
        )
        .agg(F.sum("sz"))
        .collect()[0][0]
    )
    assert broken_total > sum(want.values())


def test_streaming_bloom_crash_replay_equals_batch(spark, sf_dir, tmp_path):
    """Crash-mid-batch replay for the Bloom maintenance path: replayed
    batch 1 must leave the signature equal to the batch signature of
    the whole corpus (OR is idempotent, so even the broken latest-read
    self-merge cannot corrupt it — both pinned). The red case for THIS
    store is predecessor LOSS: a merge that writes the batch partial
    without merging drops earlier batches' bits and introduces false
    negatives, which the equality check detects."""
    from etl_geonames_spark.operators.relational import bloom_signature
    from etl_geonames_spark.streaming import read_upsert_state
    from etl_geonames_spark.streaming.pipeline import _bloom_merge_batch

    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "bloom_state")

    _bloom_merge_batch(b0, 0, state)
    _bloom_merge_batch(b1, 1, state)
    _bloom_merge_batch(b1, 1, state)  # crash-window replay

    final = read_upsert_state(spark, state)
    got = {(r["word"], r["s"]) for r in final.collect()}
    want = {
        (r["word"], r["s"])
        for r in bloom_signature(docs.select("doc_id"), "doc_id").collect()
    }
    assert got == want and len(want) > 0

    # OR-idempotence: even merging batch 1's signature onto the LATEST
    # snapshot changes nothing — the one counter-free store where the
    # broken commit order is algebraically harmless
    self_merged = {
        (r["word"], r["s"])
        for r in final.unionByName(
            bloom_signature(b1.select("doc_id"), "doc_id")
        )
        .groupBy("word")
        .agg(F.bit_or("s").alias("s"))
        .collect()
    }
    assert self_merged == want

    # red: dropping the predecessor loses batch-0 bits
    lost = {
        (r["word"], r["s"])
        for r in bloom_signature(b1.select("doc_id"), "doc_id").collect()
    }
    assert lost != want


def test_streaming_index_crash_replay_equals_batch(spark, sf_dir, tmp_path):
    """Crash-mid-batch replay for the inverted-index maintenance path:
    replayed batch 1 must leave postings equal to the batch index
    (postings are sets — distinct absorbs the re-union). Red case: a
    BROKEN merge that appends postings without array_distinct inflates
    df for every word batch 1 touched, proving set discipline (not
    luck) is what makes the replay idempotent."""
    import __spark_entry__ as entry_mod

    from etl_geonames_spark.streaming import read_upsert_state
    from etl_geonames_spark.streaming.pipeline import _index_merge_batch

    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "index_state")

    _index_merge_batch(b0, 0, state)
    _index_merge_batch(b1, 1, state)
    _index_merge_batch(b1, 1, state)  # crash-window replay

    final = read_upsert_state(spark, state)
    got = {r["word"]: (r["df"], list(r["postings"])) for r in final.collect()}
    batch = entry_mod.queries()["llm_inverted_index"](spark, sf_dir)
    want = {
        r["word"]: (r["df"], [int(x) for x in r["postings"].split(",")])
        for r in batch.collect()
    }
    assert got == want

    # red: append-without-distinct inflates total posting mass
    b1_partial = (
        b1.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
        .groupBy("word")
        .agg(F.collect_list("doc_id").alias("postings"))
    )
    broken_mass = (
        final.select("word", "postings")
        .unionByName(b1_partial)
        .groupBy("word")
        .agg(F.flatten(F.collect_list("postings")).alias("postings"))
        .agg(F.sum(F.size("postings")))
        .collect()[0][0]
    )
    correct_mass = sum(len(p) for _, p in got.values())
    assert broken_mass > correct_mass


def test_streaming_rollup_broken_commit_order_is_red(
    spark, sf_dir, tmp_path
):
    """Companion red case for test_streaming_rollup_retry_is_idempotent
    (VERDICT r7 item 3): merging batch 1 onto the LATEST snapshot (its
    own v00001 output) double-counts — the failure mode the
    predecessor-read discipline exists to prevent, shown detectable."""
    from etl_geonames_spark.streaming import read_upsert_state
    from etl_geonames_spark.streaming.pipeline import _rollup_merge_batch

    state = str(tmp_path / "state")
    ev = load_table(spark, sf_dir, "events")
    b0 = ev.filter(F.col("event_id") % 2 == 0)
    b1 = ev.filter(F.col("event_id") % 2 == 1)

    _rollup_merge_batch(b0, 0, state)
    _rollup_merge_batch(b1, 1, state)
    cur = read_upsert_state(spark, state)
    correct_n = cur.agg(F.sum("n_events")).collect()[0][0]
    assert correct_n == ev.count()

    b1_partial = b1.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
    )
    broken_n = (
        cur.select("hour", "event_type", "n_events", "sum_value")
        .unionByName(b1_partial)
        .agg(F.sum("n_events"))
        .collect()[0][0]
    )
    assert broken_n == correct_n + b1.count() > correct_n


def test_streaming_cdc_chunk_broken_commit_order_is_red(
    spark, sf_dir, tmp_path
):
    """Companion red case for test_streaming_cdc_chunk_crash_replay:
    merging batch 1's chunk partial onto the LATEST snapshot inflates
    occurrence counts — detectable, so the green replay test is
    meaningful."""
    from etl_geonames_spark.operators.curation import cdc_chunks
    from etl_geonames_spark.streaming import read_upsert_state
    from etl_geonames_spark.streaming.pipeline import _cdc_chunk_merge_batch

    docs = load_table(spark, sf_dir, "documents")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "cdc_state")
    _cdc_chunk_merge_batch(b0, 0, state)
    _cdc_chunk_merge_batch(b1, 1, state)

    cur = read_upsert_state(spark, state)
    correct_occ = cur.agg(F.sum("n_occ")).collect()[0][0]
    b1_partial = cdc_chunks(b1).groupBy(
        F.col("c.chash").alias("chunk_hash")
    ).agg(
        F.min("c.clen").cast("long").alias("chunk_len"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_occ"),
    )
    broken = (
        cur.unionByName(b1_partial)
        .groupBy("chunk_hash")
        .agg(
            F.min("chunk_len").cast("long").alias("chunk_len"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_occ").cast("long").alias("n_occ"),
        )
    )
    broken_occ = broken.agg(F.sum("n_occ")).collect()[0][0]
    assert broken_occ > correct_occ


def _semdedup_fixture(spark, sf_dir, tmp_path):
    """Centroid snapshot (the offline batch refresh) + the expected
    within-cell tau-pair set over the full fixture, from the SAME
    shared kmeans_assign/normalize arithmetic the maintenance uses."""
    from etl_geonames_spark.operators.llm import (
        _as_double,
        kmeans_assign,
        kmeans_centroids,
    )
    from etl_geonames_spark.functions import qround
    from etl_geonames_spark.sources import load_table

    cents_path = str(tmp_path / "cents")
    kmeans_centroids(spark, sf_dir, 32, 1).write.parquet(cents_path)
    cents = spark.read.parquet(cents_path)

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select("vec_id", _as_double("embedding").alias("emb"))
    nrm = F.greatest(
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("emb"), F.col("emb"), lambda x, y: x * y),
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
    want = {
        (r["i"], r["j"])
        for r in a.join(b, "cl")
        .where(F.col("i") < F.col("j"))
        .where(qround(dot, 6) >= F.lit(0.40))
        .collect()
    }
    return cents_path, emb, want


def test_streaming_semdedup_maintenance_equals_batch(
    spark, sf_dir, tmp_path
):
    """Continuous SemDeDup: the union of per-batch emitted pairs
    (within-batch + against the per-cell store) == the batch
    within-cell tau-pair set over the same corpus and centroid
    snapshot — cell assignment is per-vector deterministic, so wave
    boundaries must not lose or invent a pair."""
    import shutil

    from etl_geonames_spark.streaming import (
        streaming_semdedup_maintenance,
    )

    cents_path, emb, want = _semdedup_fixture(spark, sf_dir, tmp_path)
    src = tmp_path / "emb_src"
    src.mkdir()
    emb.filter(F.col("vec_id") % 2 == 0).write.parquet(str(src / "w1"))
    emb.filter(F.col("vec_id") % 2 == 1).write.parquet(str(src / "w2"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/w*/")
    )
    state = str(tmp_path / "sem_state")
    streaming_semdedup_maintenance(
        stream, cents_path, state, str(tmp_path / "sem_ckpt")
    )
    pairs = spark.read.parquet(f"{state}/pairs/v*")
    got = {(r["vec_a"], r["vec_b"]) for r in pairs.collect()}
    assert got == want and len(want) > 0


def test_streaming_semdedup_crash_replay_equals_batch(
    spark, sf_dir, tmp_path
):
    """Crash-mid-batch replay for the semantic dedup maintenance:
    batch 1 replayed after its pairs/v00001 + cells/v00001 writes but
    before the checkpoint commit must leave the drained pair union
    equal to the batch pair set, and the cell store must hold each
    vector exactly once (the predecessor read prevents the replayed
    batch from pairing against its own cells)."""
    from etl_geonames_spark.streaming import read_upsert_state
    from etl_geonames_spark.streaming.pipeline import _semdedup_merge_batch

    cents_path, emb, want = _semdedup_fixture(spark, sf_dir, tmp_path)
    b0 = emb.filter(F.col("vec_id") % 2 == 0)
    b1 = emb.filter(F.col("vec_id") % 2 == 1)
    state = str(tmp_path / "sem_state")

    _semdedup_merge_batch(b0, 0, state, cents_path, 0.40)
    _semdedup_merge_batch(b1, 1, state, cents_path, 0.40)
    # crash window replay of batch 1
    _semdedup_merge_batch(b1, 1, state, cents_path, 0.40)

    pairs = spark.read.parquet(f"{state}/pairs/v*")
    got = {(r["vec_a"], r["vec_b"]) for r in pairs.collect()}
    assert got == want
    store = read_upsert_state(spark, f"{state}/cells")
    assert store.count() == emb.count()
