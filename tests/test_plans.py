"""Physical-plan contracts: pin the plan properties that matter at
100 TB so a regression (broadcast→shuffle, lost pushdown, lost column
pruning, full-sort top-k) fails here before it burns a cluster.
"""

from __future__ import annotations

import re

import __spark_entry__ as entry_mod
from etl_geonames_spark.plans import (
    wholestage_codegen_count,
    explain_str,
    has_broadcast_hash_join,
    has_node,
    pushed_filters,
    read_schema_columns,
    shuffle_exchange_count,
)

QUERIES = entry_mod.queries()


def calls_broadcast(fn) -> bool:
    """True iff the function's CODE contains an F.broadcast(...) /
    broadcast(...) call — an AST walk over Call nodes, so a docstring
    or comment that merely *mentions* F.broadcast can never trip the
    de-broadcast contracts (ADVICE r14: the raw `"F.broadcast" not in
    inspect.getsource(...)` form failed spuriously on prose)."""
    import ast
    import inspect
    import textwrap

    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Attribute) and f.attr == "broadcast":
            return True
        if isinstance(f, ast.Name) and f.id == "broadcast":
            return True
    return False


def test_pit_pipeline_is_shuffle_free(spark, sf_dir):
    """The flagship reference dataflow: scan → filter/project → two
    broadcast joins. Zero shuffle exchanges at any fact size."""
    df = QUERIES["pit_pipeline"](spark, sf_dir)
    assert has_broadcast_hash_join(df)
    assert shuffle_exchange_count(df) == 0
    assert not has_node(df, "SortMergeJoin")


def test_join_admin2_broadcasts_the_dim(spark, sf_dir):
    df = QUERIES["join_admin2"](spark, sf_dir)
    assert has_broadcast_hash_join(df)
    assert shuffle_exchange_count(df) == 0


def test_filter_whereeq_pushes_to_scan(spark, sf_dir):
    df = QUERIES["filter_whereeq"](spark, sf_dir)
    pf = pushed_filters(df)
    assert "o_orderstatus" in pf and "o_orderpriority" in pf


def test_scan_prunes_columns(spark, sf_dir):
    """scan_tsv projects 11 of lineitem's 16 columns — the scan must
    read only those (Catalyst column pruning reaching Parquet)."""
    df = QUERIES["scan_tsv"](spark, sf_dir)
    cols = read_schema_columns(df)
    assert 0 < len(cols) <= 11
    assert "l_comment" not in cols


def test_sort_limit_is_topk_not_global_sort(spark, sf_dir):
    df = QUERIES["sort_limit"](spark, sf_dir)
    assert has_node(df, "TakeOrderedAndProject")
    # a global range-partitioned sort would be an Exchange rangepartitioning
    assert shuffle_exchange_count(df) == 0


def test_agg_group_single_shuffle_with_partial_agg(spark, sf_dir):
    """TPC-H Q1 shape: map-side partial agg, ONE shuffle of partials."""
    df = QUERIES["agg_group"](spark, sf_dir)
    assert shuffle_exchange_count(df) == 1
    plan = explain_str(df)
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    df = QUERIES["agg_group"](spark, sf_dir)
    assert wholestage_codegen_count(df) >= 2  # scan+partial, final


def test_llm_dedup_exact_single_shuffle(spark, sf_dir):
    df = QUERIES["llm_dedup_exact"](spark, sf_dir)
    assert shuffle_exchange_count(df) == 1


def test_geonames_relations_shuffle_free(spark, tmp_path):
    """output_lines: both dim probes must be broadcast joins."""
    from etl_geonames_spark.geonames import GeonamesConfig
    from etl_geonames_spark.geonames.pipeline import output_lines
    from etl_geonames_spark.schemas import ADMIN_CODE_SCHEMA, ALL_COUNTRIES_SCHEMA

    fact = spark.createDataFrame([], ALL_COUNTRIES_SCHEMA)
    dim = spark.createDataFrame([], ADMIN_CODE_SCHEMA)
    cfg = GeonamesConfig(types={"PPL": "x"}, filters=[{"countryCode": "NL"}])
    lines = output_lines(fact, dim, dim, cfg)
    assert shuffle_exchange_count(lines) == 0
    assert not has_node(lines, "SortMergeJoin")


def _broadcast_joins(df) -> list[tuple[str, str, str]]:
    """(join type, build side, build child) of every BroadcastHashJoin in
    the physical plan, found by walking the plan tree under AQE's
    wrapper."""
    found = []

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name == "BroadcastHashJoinExec":
            side = str(node.buildSide())
            build = node.right() if side == "BuildRight" else node.left()
            if build.getClass().getSimpleName() == "BroadcastExchangeExec":
                build = build.child()
            found.append(
                (str(node.joinType()), side, build.getClass().getSimpleName())
            )
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
    return found


def _existence_joins(df) -> list[tuple[str, str]]:
    """(build side, build child) of every broadcast ExistenceJoin."""
    return [
        (side, build)
        for kind, side, build in _broadcast_joins(df)
        if kind.startswith("ExistenceJoin")
    ]


def test_geonames_allowlist_is_broadcast_existence_join(spark, tmp_path):
    """An allowlist past OptimizeIn's 10-literal threshold stays one
    broadcast ExistenceJoin over a LocalTableScan: no shuffle, and no
    literal In pushed into the TSV scan (a per-row linear compare)."""
    from etl_geonames_spark.geonames import GeonamesConfig
    from etl_geonames_spark.geonames.pipeline import output_lines
    from etl_geonames_spark.schemas import ADMIN_CODE_SCHEMA
    from etl_geonames_spark.sources.tsv import read_all_countries

    row = ["1001", "A", "A", "", "52.0", "4.0", "P", "PPL", "NL", "", "07",
           "0392", "", "", "0", "", "", "", ""]
    path = tmp_path / "allCountries.txt"
    path.write_text("\t".join(row) + "\n")
    fact = read_all_countries(spark, str(path))
    dim = spark.createDataFrame([], ADMIN_CODE_SCHEMA)
    cfg = GeonamesConfig(
        types={"PPL": "x"},
        filters=[{"countryCode": "NL"}],
        extra_uris=[f"http://sws.geonames.org/{i}" for i in range(2000, 2025)],
    )
    lines = output_lines(fact, dim, dim, cfg)
    assert shuffle_exchange_count(lines) == 0
    assert _existence_joins(lines) == [("BuildRight", "LocalTableScanExec")]
    assert "FileScan csv" in explain_str(lines, mode="simple")
    assert "In(geonameid" not in pushed_filters(lines)


def test_geonames_envelope_reads_back_the_written_outputs(
    spark, tmp_path, monkeypatch
):
    """The job's envelope sink scans only the pits/relations it has just
    written: no CSV scan of the dump, no broadcast join, no shuffle —
    the pipeline does not run a second time."""
    import os
    from urllib.parse import urlparse

    from etl_geonames_spark.geonames import job

    landed = tmp_path / "landed"
    landed.mkdir()
    row = ["1001", "A", "A", "", "52.0", "4.0", "P", "PPL", "NL", "", "07",
           "0392", "", "", "0", "", "", "", ""]
    (landed / "allCountries.txt").write_text("\t".join(row) + "\n")
    (landed / "admin1CodesASCII.txt").write_text("NL.07\tN\tN\t2\n")
    (landed / "admin2Codes.txt").write_text("NL.07.0392\tH\tH\t3\n")
    (tmp_path / "extra.json").write_text('["http://sws.geonames.org/1003"]')

    recorded = []

    def record(df, path, *args, **kwargs):
        recorded.append(df)
        return write_lines(df, path, *args, **kwargs)

    write_lines = job.write_ndjson_lines
    monkeypatch.setattr(job, "write_ndjson_lines", record)
    cfg = {"countries": ["NL"], "types": {"PPL": "x"},
           "extraUris": str(tmp_path / "extra.json"), "envelope": True}
    job.transform_step(cfg, str(tmp_path), spark)

    (envelope,) = recorded
    plan = explain_str(envelope, mode="simple")
    assert "FileScan csv" not in plan
    assert not has_node(envelope, "BroadcastExchange")
    assert not has_broadcast_hash_join(envelope)
    assert shuffle_exchange_count(envelope) == 0
    out = os.path.join(str(tmp_path), "out")
    scanned = {os.path.dirname(urlparse(f).path) for f in envelope.inputFiles()}
    assert scanned == {os.path.join(out, "pits"), os.path.join(out, "relations")}


def test_geonames_job_scans_the_dump_once(spark, tmp_path, monkeypatch):
    """Of everything transform_step writes, exactly one DataFrame scans
    allCountries.txt: pits and relations come from one shuffle-free plan
    with the allowlist's broadcast ExistenceJoin and the two admin
    lookups as LeftOuter broadcast joins."""
    from urllib.parse import urlparse

    from etl_geonames_spark.geonames import job

    landed = tmp_path / "landed"
    landed.mkdir()
    row = ["1001", "A", "A", "", "52.0", "4.0", "P", "PPL", "NL", "", "07",
           "0392", "", "", "0", "", "", "", ""]
    (landed / "allCountries.txt").write_text("\t".join(row) + "\n")
    (landed / "admin1CodesASCII.txt").write_text("NL.07\tN\tN\t2\n")
    (landed / "admin2Codes.txt").write_text("NL.07.0392\tH\tH\t3\n")
    (tmp_path / "extra.json").write_text('["http://sws.geonames.org/1003"]')

    recorded = []

    def recording(sink):
        def record(df, *args, **kwargs):
            recorded.append(df)
            return sink(df, *args, **kwargs)

        return record

    for name in ("write_ndjson", "write_ndjson_lines", "write_lines_by_kind"):
        if hasattr(job, name):
            monkeypatch.setattr(job, name, recording(getattr(job, name)))
    cfg = {"countries": ["NL"], "types": {"PPL": "x"},
           "extraUris": str(tmp_path / "extra.json"), "envelope": True}
    job.transform_step(cfg, str(tmp_path), spark)

    dump = str(landed / "allCountries.txt")
    scanning = [
        df for df in recorded
        if dump in {urlparse(f).path for f in df.inputFiles()}
    ]
    assert len(scanning) == 1
    (lines,) = scanning
    assert explain_str(lines, mode="simple").count("FileScan csv") == 3
    assert shuffle_exchange_count(lines) == 0
    assert _existence_joins(lines) == [("BuildRight", "LocalTableScanExec")]
    left_outer = [j for j in _broadcast_joins(lines) if j[0] == "LeftOuter"]
    assert len(left_outer) == 2


def test_win_ntile_is_distributed_not_single_task(spark, sf_dir):
    """The registered NTILE must never plan the fact table through a
    global single-task window: the sort is a rangepartitioning
    exchange, the fact-side row_number window is partitioned (by the
    range-partition id), and no ntile-over-empty-partition node
    exists. The only permitted SinglePartition step is the cumulative
    offset over per-partition counts (one row per partition)."""
    df = QUERIES["win_ntile"](spark, sf_dir)
    plan = explain_str(df)
    assert "rangepartitioning" in plan.lower()
    assert "windowspecdefinition(_pid" in plan  # fact window is partitioned
    assert "ntile(" not in plan  # global ntile replaced by rank arithmetic


def test_win_ntile_matches_global_semantics(spark, sf_dir):
    """The distributed decomposition must agree row-for-row with the
    textbook global NTILE (which stays unregistered — it is the
    single-task anti-pattern)."""
    from etl_geonames_spark.operators.relational import win_ntile_global

    got = {
        (r.c_custkey, r.balance_quartile)
        for r in QUERIES["win_ntile"](spark, sf_dir).collect()
    }
    want = {
        (r.c_custkey, r.balance_quartile)
        for r in win_ntile_global(spark, sf_dir).collect()
    }
    assert got == want


def test_join_degrades_to_sort_merge_without_broadcast(spark, sf_dir):
    """When the build side exceeds the broadcast threshold (simulated
    by disabling auto-broadcast and dropping the hint), the SAME
    logical join plans as a shuffled sort-merge join — the correct
    fact-to-fact strategy. Proves both physical paths work."""
    from etl_geonames_spark.sources import load_table
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = load_table(spark, sf_dir, "orders")
        c = load_table(spark, sf_dir, "customer")
        j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
            "o_orderkey", "c_name"
        )
        assert has_node(j, "SortMergeJoin") or has_node(j, "ShuffledHashJoin")
        assert not has_broadcast_hash_join(j)
        assert shuffle_exchange_count(j) == 2  # both sides shuffle on the key
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


import pytest


@pytest.fixture(scope="module")
def registry_dfs(spark, sf_dir):
    """EVERY registered query built once — shared by the two
    whole-registry plan sweeps below, so each query pays Python
    construction + Catalyst analysis ONCE instead of once per sweep
    (r15: the two sweeps were the suite's #1/#2 wall at ~3 min each;
    the QueryExecution's plans are cached on the DataFrame, so the
    second sweep's walks are free)."""
    return {name: fn(spark, sf_dir) for name, fn in QUERIES.items()}


def test_no_registered_query_has_global_window(registry_dfs):
    """Sweep EVERY registered query's optimized plan: no Window node
    may have an empty partitionSpec — an un-partitioned window funnels
    the whole input through one task, the single worst scale trap
    (VERDICT r1 on the original win_ntile). A query that genuinely
    needs a global ordering must decompose it (range repartition +
    per-partition rank + offset join, as win_ntile does)."""
    from etl_geonames_spark.plans import global_windows

    offenders = {}
    for name, df in registry_dfs.items():
        bad = global_windows(df)
        # the ONE permitted global window: win_ntile's cumulative offset
        # over per-partition counts — its input is one row per partition
        # (metadata-sized at any fact scale), visible in the spec's
        # _pid/_n bookkeeping columns.
        bad = [w for w in bad if not ("_pid" in w and "_n#" in w)]
        if bad:
            offenders[name] = bad
    assert not offenders, f"global (un-partitioned) windows: {offenders}"


def test_geo_grid_join_is_blocked_equi_join_not_cartesian(spark, sf_dir):
    """The spatial join must join on the grid-cell equi-key (hash/
    broadcast/SMJ) with the distance predicate as a post-join filter —
    never a nested-loop or cartesian plan, which is O(|C|·|S|) at any
    scale."""
    df = QUERIES["geo_grid_join"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_geo_map_only_ops_are_shuffle_free(spark, sf_dir):
    """bbox filter, haversine, and Morton encoding are projections/
    filters — a single codegen'd map stage, zero exchanges, so they
    stream at scan speed on any input size."""
    for name in ("geo_bbox_filter", "geo_haversine", "geo_morton_cell"):
        df = QUERIES[name](spark, sf_dir)
        assert shuffle_exchange_count(df) == 0, name
        assert wholestage_codegen_count(df) >= 1, name


def test_cdc_merge_is_single_pass_shuffled_join(spark, sf_dir):
    """MERGE shape: full-outer join hash-partitioned on the merge key.
    Full outer cannot broadcast, so the contract is: a real shuffled
    join (SMJ or shuffled-hash), no nested-loop fallback."""
    df = QUERIES["cdc_merge_upsert"](spark, sf_dir)
    plan = explain_str(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert has_node(df, "SortMergeJoin") or has_node(df, "ShuffledHashJoin")


def test_profile_columns_is_one_scan(spark, sf_dir):
    """The multi-column profile must read the table ONCE: Catalyst
    plans the n× count-distinct via a single Expand over one scan,
    not one job per column."""
    df = QUERIES["profile_columns"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert plan.count("Scan parquet") + plan.count("Scan ExistingRDD") == 1
    assert "Expand" in plan


def test_runtime_bloom_filter_prunes_large_join_side(spark, sf_dir):
    """At 100 TB a selective dim-side filter should become a bloom
    filter applied to the fact scan BEFORE the shuffle (Spark's
    InjectRuntimeFilter). The fixture scan is below the 10 GB
    application-side threshold, so the test lowers it to 0 — at real
    scale the default threshold passes naturally."""
    from etl_geonames_spark.sources import load_table

    old_thresh = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        # no broadcast: force the shuffled-join path the filter protects
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").where(
            "o_totalprice > 400000"
        )
        joined = li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).select("l_orderkey", "o_totalprice")
        plan = explain_str(joined)
        assert "might_contain" in plan.lower(), (
            "runtime bloom filter was not injected on the fact side"
        )
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thresh,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)


def test_chunk_documents_is_shuffle_free(spark, sf_dir):
    """Context chunking is a narrow map-side op: split → sequence →
    explode → slice. Any exchange here would shuffle the full corpus
    text for no reason."""
    df = QUERIES["llm_chunk_documents"](spark, sf_dir)
    assert shuffle_exchange_count(df) == 0


def test_ngram_counts_is_topk_with_partial_agg(spark, sf_dir):
    """Trigram top-20: map-side-combined hash agg (partial+final over
    one exchange), then TakeOrdered — never a global sort of the full
    frequency table."""
    df = QUERIES["llm_ngram_counts"](spark, sf_dir)
    assert has_node(df, "TakeOrderedAndProject")
    assert shuffle_exchange_count(df) == 1
    assert explain_str(df).count("HashAggregate") >= 2


def test_bucket_by_length_single_shuffle(spark, sf_dir):
    """Length bucketing collapses to ≤8 groups: one exchange of
    map-side partials."""
    df = QUERIES["llm_bucket_by_length"](spark, sf_dir)
    assert shuffle_exchange_count(df) == 1
    assert explain_str(df).count("HashAggregate") >= 2


def test_kmeans_assignment_broadcasts_centroids(spark, sf_dir):
    """k-means: every per-round assignment joins the k-row centroid
    table by broadcast (BroadcastNestedLoopJoin over the crossJoin) —
    the 100 TB point side must never shuffle for it. The only
    exchanges are the (cluster, dim)-grouped centroid updates and the
    final per-point argmin aggregation."""
    df = QUERIES["llm_kmeans"](spark, sf_dir)
    plan = explain_str(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert not has_node(df, "CartesianProduct")


def test_shuffle_order_is_map_only(spark, sf_dir):
    """The training-order shuffle KEY assignment is pure map-side
    arithmetic — the one range exchange belongs to the writer
    (repartitionByRange), never to key computation."""
    df = QUERIES["llm_shuffle_order"](spark, sf_dir)
    assert shuffle_exchange_count(df) == 0


def test_dedup_keep_best_single_exchange(spark, sf_dir):
    """Keep-best exact dedup is one hash aggregate over content with
    map-side partials — same contract as llm_dedup_exact."""
    df = QUERIES["llm_dedup_keep_best"](spark, sf_dir)
    assert shuffle_exchange_count(df) == 1
    assert explain_str(df).count("HashAggregate") >= 2


def test_bm25_topk_is_takeordered_with_broadcast_stats(spark, sf_dir):
    """BM25: df table and 1-row corpus stats broadcast; the final
    top-10 is TakeOrderedAndProject, never a global sort exchange."""
    df = QUERIES["llm_bm25_topk"](spark, sf_dir)
    assert has_node(df, "TakeOrderedAndProject")
    assert has_broadcast_hash_join(df)


def test_rollup_hierarchy_scans_raw_events_once(spark, sf_dir):
    """The daily level aggregates the hourly partials, not the raw
    table — exactly one scan of events in the whole plan."""
    df = QUERIES["ts_rollup_hierarchy"](spark, sf_dir)
    # formatted explain shows each node twice (tree + detail section):
    # count the numbered detail entries
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", explain_str(df))) == 1


def test_ewma_is_one_window_pass(spark, sf_dir):
    """Four trailing LAGs share ONE window (single shuffle on user_id)
    — a per-lag window would multiply the exchange count."""
    df = QUERIES["ts_ewma"](spark, sf_dir)
    import re

    assert shuffle_exchange_count(df) == 1
    assert len(re.findall(r"\(\d+\) Window", explain_str(df))) == 1


def test_null_safe_join_stays_hash_join(spark, sf_dir):
    """`<=>` is an equi key to Catalyst: the null-safe join must plan
    as a (broadcast) hash join, never nested-loop."""
    df = QUERIES["join_null_safe"](spark, sf_dir)
    assert has_broadcast_hash_join(df)
    assert not has_node(df, "BroadcastNestedLoopJoin")


def test_map_in_arrow_is_map_only(spark, sf_dir):
    """The Arrow batch transform pipelines with the scan: no shuffle."""
    df = QUERIES["udf_map_in_arrow"](spark, sf_dir)
    assert shuffle_exchange_count(df) == 0


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """AQE skew-join handling, observed on the EXECUTED plan: a hot
    key that dwarfs every other shuffle partition is split at runtime
    (the final sort-merge join reports skew=true). This is the
    no-code-change answer to moderate skew; ``join_skew_salted`` is
    the explicit-salt fallback for the extreme tail."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # half the left side lands on ONE key; everything else spreads
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("pad-"), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        j = left.join(right, "k")
        # execute THIS DataFrame's plan (count() would build a separate
        # query execution, leaving j's adaptive plan unfinalized)
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not split the skewed partition"
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_curate_pipeline_is_one_codegen_stage(spark, sf_dir):
    """normalize → count → gate → split composes into a single
    shuffle-free map stage over the scan."""
    df = QUERIES["llm_curate_pipeline"](spark, sf_dir)
    assert shuffle_exchange_count(df) == 0
    assert wholestage_codegen_count(df) >= 1


def test_no_registered_query_plans_cartesian(registry_dfs):
    """Sweep EVERY registered query's plan: no CartesianProduct node —
    an unconstrained cross product is quadratic at any scale. The one
    allowed entry is join_cross itself (two 5-row dims, registered
    precisely to demonstrate the operator)."""
    offenders = []
    for name, df in registry_dfs.items():
        if name == "join_cross":
            continue
        if has_node(df, "CartesianProduct"):
            offenders.append(name)
    assert not offenders, f"cartesian plans: {offenders}"


def test_pagerank_bucketed_one_shuffle_per_round(spark, sf_dir, tmp_path):
    """The bucketed PageRank layout: edges written once bucketed by
    src, so per round the ONLY shuffle exchange is the contribution
    aggregation on dst — the src-side join exchange is consumed by the
    bucket layout and the rank/contrib joins are broadcasts. With 3
    rounds the whole plan holds exactly 3 shuffle exchanges; an
    un-bucketed round carries 3+ each. Results must equal the plain
    graph_pagerank to 1e-6 (same dataflow, different physical plan)."""
    from etl_geonames_spark.operators.graph import pagerank_bucketed

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # keep broadcasts available (ranks/contribs are hinted anyway) but
    # pin AQE off-path conversions from masking a src-side exchange
    try:
        df = pagerank_bucketed(
            spark,
            sf_dir,
            table="pr_edges_by_src_test",
            path=str(tmp_path / "pr_edges"),
        )
        n_shuffles = shuffle_exchange_count(df)
        assert n_shuffles == 3, (
            f"expected exactly one shuffle per round (3 total), got "
            f"{n_shuffles}:\n{explain_str(df)}"
        )
        got = {r["node"]: r["rank"] for r in df.collect()}
        want = {
            r["node"]: r["rank"]
            for r in QUERIES["graph_pagerank"](spark, sf_dir).collect()
        }
        assert got.keys() == want.keys()
        assert all(abs(got[k] - want[k]) < 1e-6 for k in want)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS pr_edges_by_src_test")


def test_join_band_time_is_bucketed_equi_join_not_nested_loop(spark, sf_dir):
    """The pure band join (no equi key) must run as the grid-bucketed
    rewrite: an equi-join on the time bucket with the |dt| <= B
    predicate as a post-join filter. A nested-loop/cartesian plan here
    is O(n*m) over two fact tables — the exact failure mode the
    bucketing exists to prevent."""
    df = QUERIES["join_band_time"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_sample_bottom_k_and_shard_manifest_plans(spark, sf_dir):
    """Bottom-k sampling is one per-group window exchange (never a
    global sort); the shard manifest rides distributed_cumsum — its
    only windows are the whitelisted per-partition + offsets pair, no
    global-partition window over the data."""
    bk = QUERIES["sample_bottom_k"](spark, sf_dir)
    assert not has_node(bk, "GlobalLimit"), "bottom-k must not global-sort"
    plan = explain_str(bk)
    assert "Window" in plan
    sm = QUERIES["llm_shard_manifest"](spark, sf_dir)
    # global-window sweep already covers the unpartitioned-window ban;
    # pin that the manifest aggregate keeps a partial (map-side) phase
    assert explain_str(sm).count("HashAggregate") >= 2


def test_collect_salted_is_two_phase_with_salted_exchange(spark, sf_dir):
    """agg_collect_salted's contract: the holistic collect runs in TWO
    aggregate phases — a (key, salt)-keyed phase that parallelizes the
    hot key 8 ways, then a key-only merge of partial arrays. Visible in
    the plan as an exchange hash-partitioned on (event_type, _salt)
    before one partitioned on event_type alone; losing the salted
    exchange would mean one task re-collects every hot-key row."""
    df = QUERIES["agg_collect_salted"](spark, sf_dir)
    plan = explain_str(df)
    # the salt expression itself (Catalyst renames the alias to
    # _groupingexpression, so anchor on the pmod computation)
    assert "pmod(user_id" in plan, "salted phase-1 grouping key disappeared"
    import re

    exchanges = re.findall(r"hashpartitioning\([^)]*\)", plan)
    salted = [
        e for e in exchanges
        if "event_type" in e and "_groupingexpression" in e
    ]
    merge = [
        e for e in exchanges
        if "event_type" in e
        and "_groupingexpression" not in e
        and "user_id" not in e
    ]
    assert salted, exchanges
    assert merge, exchanges
    # holistic collect runs as ObjectHashAggregate in both phases
    assert plan.count("ObjectHashAggregate") >= 2, plan[:500]


def test_dbscan_core_is_blocked_equi_join(spark, sf_dir):
    """geo_dbscan_core must join on the grid-cell equi-key — a
    nested-loop/cartesian distance join is the n² trap the blocking
    exists to avoid (and with cell = eps the blocked form is complete,
    so there is no accuracy excuse for the cartesian)."""
    df = QUERIES["geo_dbscan_core"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_adamic_adar_caps_degree_before_wedge(spark, sf_dir):
    """The hub-skew mitigation is IN THE PLAN: the degree table is
    filtered to d <= 64 and equi-joined onto the adjacency BEFORE the
    wedge self-join, so the join's input (not just its output) is
    capped — total fan-out <= tau*|E|, per-center <= tau^2/2. The
    registered query localCheckpoints the capped adjacency (lineage
    truncation hides the filter from the downstream plan), so the
    cap's plan shape is pinned on an un-checkpointed rebuild of the
    same expression, and the cap's EFFECT is pinned on the query's
    own output: no center can contribute more than C(64,2) wedges to
    any pair, so cn <= 64. The degree join carries NO broadcast hint
    (VERDICT r13 / the local_bridges r12 rule): the d <= tau table is
    node-sized on a power-law graph, so a forced broadcast would OOM
    at billions of nodes — AQE broadcasts at fixture scale on its
    own; the source-level assertion pins the hint's absence."""
    import inspect

    from pyspark.sql import functions as F

    from etl_geonames_spark.operators.graph import _AA_DEGREE_CAP, _und

    und = _und(spark, sf_dir)
    deg = und.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("d"))
    adj = und.join(deg.filter(F.col("d") <= _AA_DEGREE_CAP), "s")
    plan = explain_str(adj)
    assert f"<= {_AA_DEGREE_CAP}" in plan
    assert "CartesianProduct" not in plan

    assert not calls_broadcast(QUERIES["graph_adamic_adar"])

    df = QUERIES["graph_adamic_adar"](spark, sf_dir)
    assert not has_node(df, "CartesianProduct")
    assert not has_node(df, "BroadcastNestedLoopJoin")
    assert df.agg(F.max("cn")).collect()[0][0] <= _AA_DEGREE_CAP


def test_simhash_witness_candidates_meet_by_bucket(spark, sf_dir):
    """The witness pipeline's candidate join is an equi-join on
    (chunk_idx, chunk_val) — bucket equality, never an all-pairs
    product; the hamming filter rides on top of the hash join."""
    df = QUERIES["llm_simhash_verifiable"](spark, sf_dir)
    assert not has_node(df, "CartesianProduct")
    assert not has_node(df, "BroadcastNestedLoopJoin")


def test_band_stats_never_materializes_pairs(spark, sf_dir):
    """The LSH capacity census is aggregates-only: no join of any
    kind appears — the candidate-pair bill is computed from bucket
    sizes, not from pairs."""
    df = QUERIES["llm_dedup_band_stats"](spark, sf_dir)
    plan = explain_str(df)
    assert "Join" not in plan


def test_longest_shared_gram_is_blocked_equi_join(spark, sf_dir):
    """The exact-substring probe's pair generation must meet by gram
    equi-key (hash/broadcast join) with the df cap applied upstream
    (r14: a gram-partitioned window count on the single tagged gram
    table) — never a nested-loop over doc pairs; and the final
    longest-length pick partitions its window by the pair, not
    globally."""
    df = QUERIES["llm_longest_shared_gram"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "windowspecdefinition(doc_a" in plan


def test_bloom_prefilter_probe_is_map_side_broadcast(spark, sf_dir):
    """The probe pass must be broadcast lookups (the whole point of
    shipping the filter): no sort-merge join anywhere, and the only
    shuffles are the two global count aggregates — the fact table is
    never repartitioned."""
    df = QUERIES["join_bloom_prefilter"](spark, sf_dir)
    assert has_broadcast_hash_join(df)
    assert not has_node(df, "SortMergeJoin")
    assert shuffle_exchange_count(df) <= 2


def test_graph_hits_has_no_global_window_and_takeordered_topk(
    spark, sf_dir
):
    """HITS' two top-10s must be TakeOrdered (sort-limit), never a
    global rank window over the node table."""
    df = QUERIES["graph_hits"](spark, sf_dir)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_pq_and_ivf_witness_are_broadcast_codebook_shapes(spark, sf_dir):
    """PQ assignment is map-only against a broadcast codebook — the
    single exchange is the 8-row codebook collect (SinglePartition,
    metadata-sized), never the corpus; the IVF witness's only
    exchanges are the candidate join and the per-query top-k — the
    corpus never shuffles for assignment."""
    pq = QUERIES["llm_pq_quantize"](spark, sf_dir)
    assert shuffle_exchange_count(pq) <= 1
    assert "hashpartitioning(vec_id" not in explain_str(pq)
    ivf = QUERIES["llm_ann_ivf_verifiable"](spark, sf_dir)
    plan = explain_str(ivf)
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(q_id" in plan


def test_permutation_test_windows_partition_by_perm(spark, sf_dir):
    """The K-fold fan-out must rank WITHIN each permutation — a
    global window over perms × docs would funnel the whole fan-out
    through one task."""
    df = QUERIES["stat_permutation_test"](spark, sf_dir)
    plan = explain_str(df)
    assert "windowspecdefinition(p#" in plan


def test_exact_shared_run_is_blocked_equi_join(spark, sf_dir):
    """The seed-and-extend pipeline must never go all-pairs: the seed
    join is an equi-join on the gram key, the extension joins are
    equi-joins on doc_id, and the occurrence-cap window partitions by
    (doc_id, gram) — never a global window or a cartesian product.
    r15: the seed table is UNPINNED (the r15 pin A/B measured the
    checkpoint costing more than the per-consumer re-run — see the
    query's comment), so the occ-cap window shape is additionally
    pinned here on a standalone rebuild of the seed stage; the
    pair-join equi key stays visible in the query's own plan."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_geonames_spark.operators.llm import _ESR_SEED
    from etl_geonames_spark.sources import load_table

    df = QUERIES["llm_exact_shared_run"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(g#" in plan or "hashpartitioning(g," in plan

    tk = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split("text", " "), lambda w: w != F.lit("")).alias(
            "tk"
        ),
    )
    seeds = tk.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(tk) >= {_ESR_SEED} THEN "
                f"transform(sequence(1, size(tk) - {_ESR_SEED - 1}), "
                f"i -> struct(i AS pos, "
                f"array_join(slice(tk, i, {_ESR_SEED}), ' ') AS g)) "
                "ELSE CAST(array() AS array<struct<pos:int,g:string>>) END"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.g").alias("g"))
    w_occ = Window.partitionBy("doc_id", "g").orderBy("pos")
    rebuilt = seeds.withColumn("occ", F.row_number().over(w_occ))
    rplan = explain_str(rebuilt)
    assert "windowspecdefinition(doc_id" in rplan
    assert "hashpartitioning(doc_id" in rplan


def test_band_tuning_configs_share_one_pair_table(spark, sf_dir):
    """All four (b, r) geometry rows must aggregate the SAME
    checkpointed candidate table: the final plan may contain no
    shingle explode or banding join — only the four 1-row reductions
    over the checkpointed RDD scan (the lineage-truncation contract;
    without it each config re-runs the whole minhash funnel)."""
    df = QUERIES["llm_minhash_band_tuning"](spark, sf_dir)
    plan = explain_str(df)
    assert "Generate explode" not in plan
    assert "Scan ExistingRDD" in plan


def test_scc_bounded_is_lazy_single_consumer_rounds(spark, sf_dir):
    """r14 contract: the 2×4 label rounds are a LAZY tower of
    single-consumer join+min-aggregate steps over the checkpointed
    self-loop-augmented edge list — one job executes the whole query
    (no per-round blocking checkpoints), and because every round has
    exactly one consumer, nothing in the tower re-executes. The plan
    therefore SHOWS the full tower: every exchange is an equi-keyed
    hash partitioning over node- or edge-sized tables (≤ 3 per round
    + the final merge), never a cartesian/BNLJ/window. The
    re-execution hazard the old per-round-checkpoint contract guarded
    against is gone structurally (the left-join merge that made each
    round two-consumer was folded into the aggregate via the
    self-loops)."""
    df = QUERIES["graph_scc_bounded"](spark, sf_dir)
    plan = explain_str(df)
    assert "Scan ExistingRDD" in plan  # the checkpointed aug table
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not has_node(df, "Window")
    assert not calls_broadcast(QUERIES["graph_scc_bounded"])
    # 2×4 rounds × ≤3 equi-keyed exchanges + the fwd⋈bwd merge + agg
    # = 26 (ADVICE r14: bound tightened to the derivation; measured 9
    # at the local[4]/AQE test shape, so an accidental extra exchange
    # per round trips this long before the derived ceiling)
    assert shuffle_exchange_count(df) <= 26


def test_hurst_windows_partition_by_block(spark, sf_dir):
    """The R/S prefix windows must partition per block — an
    unpartitioned cumulative window over the whole hourly series is
    exactly the banned single-task shape. The query checkpoints its
    4-row union (lineage truncation — the final plan shows only RDD
    scans), so the window shape is pinned on an UN-checkpointed
    rebuild of the block stage (the adamic-adar pattern), plus the
    checkpoint evidence on the query itself."""
    from pyspark.sql import functions as F

    from etl_geonames_spark.operators.relational import distributed_rank
    from etl_geonames_spark.operators.timeseries import _hurst_blocks
    from etl_geonames_spark.sources import load_table

    df = QUERIES["ts_hurst_rs"](spark, sf_dir)
    assert "Scan ExistingRDD" in explain_str(df)
    hc = (
        load_table(spark, sf_dir, "events")
        .select(
            F.expr(
                "unix_micros(cast(ts as timestamp)) div 3600000000"
            ).alias("h")
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    idx = distributed_rank(hc, ["h"]).select(
        "c", F.col("_grn").cast("long").alias("t")
    )
    plan = explain_str(_hurst_blocks(idx, 8))
    assert "windowspecdefinition(blk" in plan


def test_substring_census_is_hash_equi_join_on_gram_identity(
    spark, sf_dir
):
    """The exact census pair generation must meet by (l, g1, g2)
    equi-key — a hash join over the distinct gram table — never a
    nested loop over document pairs; the double-hash identity is the
    join key, so no raw-text comparison survives into the join."""
    df = QUERIES["llm_substring_census"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "g1" in plan and "g2" in plan


def test_pack_bins_ranks_via_range_exchange_not_bucket_window(
    spark, sf_dir
):
    """Packing v2's per-bucket rank must come from the GLOBAL
    distributed_rank (rangepartitioning exchange + _pid-partitioned
    row_number + broadcast offsets), never a bucket-partitioned
    corpus window — 8 buckets would make each window partition a
    near-global single task."""
    df = QUERIES["llm_pack_bins"](spark, sf_dir)
    plan = explain_str(df)
    assert "rangepartitioning" in plan.lower()
    assert "windowspecdefinition(_pid" in plan
    assert "windowspecdefinition(bucket" not in plan


def test_quality_features_broadcasts_vocab_single_explode(
    spark, sf_dir
):
    """The feature export must broadcast the vocab back to the counts
    table (vocab-sized, never shuffled against the corpus) and read
    the documents text through exactly ONE explode (generate) — the
    map-only features ride the scan, the checkpointed counts table
    feeds both branches."""
    df = QUERIES["llm_quality_features"](spark, sf_dir)
    plan = explain_str(df)
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    assert plan.count("Generate explode") <= 1


def test_metric_kendall_is_broadcast_loop_on_slice_only(spark, sf_dir):
    """The tau-b pair census is an intentional O(slice²) nested loop
    (join_theta's pattern): the non-equi doc_id < doc_id pairing must
    be a BROADCAST nested loop over the bounded eval slice — never a
    CartesianProduct, and never a shuffle of the pair table."""
    df = QUERIES["llm_metric_kendall"](spark, sf_dir)
    plan = explain_str(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_esd_round_shape_pinned_on_uncheckpointed_rebuild(spark, sf_dir):
    """dq_esd_outliers localCheckpoints each round's argmax row, so
    the registered query's plan (and the census/cartesian sweep) sees
    only checkpointed scans — the CLAUDE.md rule: pin the
    pre-checkpoint shape on an UN-checkpointed rebuild plus its
    effect on the output. One round rebuilt without checkpoints must
    be TakeOrdered(1) over a broadcast of the 1-row moments (never a
    cartesian or a global sort), and its pick must equal the
    registered query's round-1 row."""
    from pyspark.sql import functions as F

    from etl_geonames_spark.sources import load_table

    m = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("x")
    )
    s = m.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("x"), F.lit(0)).cast("long").alias("s"),
    )
    o = (
        m.crossJoin(F.broadcast(s))
        .orderBy(F.abs(F.col("x") * F.col("n") - F.col("s")).desc(), "doc_id")
        .limit(1)
    )
    plan = explain_str(o)
    assert "TakeOrdered" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row moments broadcast
    assert "rangepartitioning" not in plan.lower()  # no global sort

    pick = o.collect()[0]
    r1 = (
        QUERIES["dq_esd_outliers"](spark, sf_dir)
        .filter(F.col("round") == 1)
        .collect()[0]
    )
    assert (r1["outlier_doc"], r1["outlier_x"]) == (pick["doc_id"], pick["x"])


def test_lcs_corpus_exact_one_shuffle_broadcast_seed_join(spark, sf_dir):
    """llm_lcs_corpus_exact's headline property (VERDICT r9): the
    corpus-wide true-LCS is ONE shuffle — the distinct-8-gram
    double-hash equi-join builds on broadcast seed/stat tables and
    the per-pair binary search is map-side. A second shuffle or a
    sort-merge fallback means the seed table stopped broadcasting
    and the plan regrew the quadratic spine."""
    df = QUERIES["llm_lcs_corpus_exact"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 1
    assert has_broadcast_hash_join(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dsir_weights_fused_bucket_aggregate(spark, sf_dir):
    """llm_dsir_weights' bucket-stats pass is ONE fused conditional
    aggregate over the 512 bounded buckets (the r9 fusion, 2.57 →
    1.61 s): at most 4 shuffles total, the bucket realignment is a
    single sort-merge join, and the only nested-loop is the 1-row
    totals broadcast — never a cartesian, never a per-slice rescan."""
    df = QUERIES["llm_dsir_weights"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 4
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) <= 1
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1
    assert "CartesianProduct" not in plan


def test_kendall_w_midranks_join_cell_table_broadcast(spark, sf_dir):
    """stat_kendall_w's r10 fusion contract: the final plan is the
    R_i doc-keyed aggregate plus the 1-row moment group — at most 2
    shuffles, exactly ONE broadcast hash join (the midrank cell
    table), and NO window and NO range exchange (the cumsum
    bookkeeping runs once at build time on the checkpointed cell
    table, never per-consumer; values pinned vs the unchanged oracle
    by test_oracle_parity)."""
    df = QUERIES["stat_kendall_w"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 2
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1
    assert not has_node(df, "Window")
    assert "rangepartitioning" not in plan.lower()
    assert "Scan ExistingRDD" in plan  # checkpointed cell/doc tables


def test_moods_median_one_group_pass_no_totals_rejoin(spark, sf_dir):
    """stat_moods_median's r10 fusion contract: the (lang, v) cell
    table feeds ONE per-lang aggregate whose k×2 table is collected
    into the final 1-row fold — the lang exchange appears exactly
    once (a totals-rejoin would re-execute the group subplan and
    double it), at most 4 shuffles, and the only nested-loop is the
    1-row grand-median broadcast."""
    df = QUERIES["stat_moods_median"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 4
    assert plan.count("hashpartitioning(lang") == 1
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1
    assert "CartesianProduct" not in plan


def test_cvm_and_ks_share_one_cumsum_pass(spark, sf_dir):
    """Round-10 contract: both two-sample grid statistics ride ONE
    distributed_cumsum_multi pass over the checkpointed value-count
    table — one range exchange, no realignment join, no second cumsum
    branch (the r10 KS fusion; a regression doubles the machinery)."""
    for name in ("stat_cvm_two_sample", "stat_ks_two_sample"):
        df = QUERIES[name](spark, sf_dir)
        plan = explain_str(df)
        assert len(re.findall(r"Exchange rangepartitioning", plan)) <= 2, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "Scan ExistingRDD" in plan, name  # checkpointed pv


def test_cmh_one_corpus_aggregate(spark, sf_dir):
    """stat_cmh's sufficient-statistic contract: the (lang, arm,
    value) cell table is checkpointed, the censused plan contains the
    median broadcast + two bounded re-aggregates — at most 4
    shuffles, one nested-loop (the 1-row median broadcast), the lang
    exchange exactly once (the stat_moods_median shape)."""
    df = QUERIES["stat_cmh"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 4
    assert plan.count("hashpartitioning(lang") == 1
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1
    assert "CartesianProduct" not in plan


def test_granger_pair_join_is_metadata_sized_broadcast(spark, sf_dir):
    """ts_granger_lag1's scale contract: events aggregate to the
    (day, type) grid BEFORE the pairwise self-join, which must be a
    broadcast hash join over the checkpointed grid — never a
    sort-merge or cartesian over event rows; one pair-keyed exchange
    after."""
    df = QUERIES["ts_granger_lag1"](spark, sf_dir)
    plan = explain_str(df)
    assert has_broadcast_hash_join(df)
    assert shuffle_exchange_count(df) <= 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # checkpointed day grid


def test_cointegration_pair_join_is_metadata_sized_broadcast(spark, sf_dir):
    """ts_cointegration inherits ts_granger_lag1's scale contract:
    events aggregate to the checkpointed (day, type) grid BEFORE the
    pairwise self-join (broadcast hash), one pair-keyed exchange
    after, no sort-merge, no cartesian."""
    df = QUERIES["ts_cointegration"](spark, sf_dir)
    plan = explain_str(df)
    assert has_broadcast_hash_join(df)
    assert shuffle_exchange_count(df) <= 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan


def test_rank_ladder_fusions_stay_collapsed(spark, sf_dir):
    """Round-10 fusion sweep contract: the three former shuffle-ladder
    maxima (spearman 13, wilcoxon 12, cusum_changepoint 12) now
    checkpoint their rank/midrank/deviation tables, so each censused
    plan is RDD scans + at most 2 exchanges with no window — a
    regression regrows the ladder."""
    for name in (
        "llm_metric_spearman",
        "stat_wilcoxon_signed",
        "ts_cusum_changepoint",
    ):
        df = QUERIES[name](spark, sf_dir)
        plan = explain_str(df)
        assert shuffle_exchange_count(df) <= 2, name
        assert not has_node(df, "Window"), name
        assert "Scan ExistingRDD" in plan, name


def test_normal_theory_trio_and_distance_suite_shapes(spark, sf_dir):
    """Round-10 batch-2 contracts: the grid statistics (lilliefors,
    shapiro_francia) are scan + broadcast-moments + one aggregate
    (<=2 exchanges, the checkpointed cumulative table carries the
    machinery); fligner_killeen is the cell-table stack (<=3
    exchanges, lang appears exactly once as a group key in the final
    plan); hellinger is one reduce with no cumsum and no join beyond
    the 1-row totals broadcast (<=2 exchanges). None plans a window,
    a cartesian, or a sort-merge join."""
    caps = {
        "stat_lilliefors": 2,
        "stat_shapiro_francia": 2,
        "stat_fligner_killeen": 3,
        "stat_hellinger": 2,
    }
    for name, cap in caps.items():
        df = QUERIES[name](spark, sf_dir)
        plan = explain_str(df)
        assert shuffle_exchange_count(df) <= cap, name
        assert not has_node(df, "Window"), name
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name


def test_query_likelihood_is_takeordered_with_broadcasts(spark, sf_dir):
    """QL retrieval mirrors the bm25 contract: corpus stats and the
    3-row collection-frequency table broadcast, final top-k is
    TakeOrdered — never a global sort of scored docs."""
    df = QUERIES["llm_query_likelihood"](spark, sf_dir)
    plan = explain_str(df)
    assert has_node(df, "TakeOrderedAndProject")
    assert "BroadcastHashJoin" in plan
    assert "rangepartitioning" not in plan.lower()


def test_d4_diversify_broadcasts_prototypes_and_keys_windows(spark, sf_dir):
    """D4 post-checkpoint shape: the k×d prototype table reaches the
    scoring join by BROADCAST (never a shuffle of the survivor side),
    and the ranking window is PARTITIONED BY cluster — a global
    window here would serialize the corpus through one task at
    100 TB. The SemDeDup survivor subplan is localCheckpointed (its
    own contracts live with llm_semdedup/llm_kmeans), so this plan
    starts at the checkpointed scan — exactly the multi-consumer
    truncation the working notes prescribe."""
    df = QUERIES["llm_d4_diversify"](spark, sf_dir)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert re.search(r"Window.*cluster", plan, re.S), plan
    # the window spec must carry a partition key (no global window):
    # hashpartitioning on cluster feeds it
    assert "hashpartitioning(cluster" in plan
    assert not has_node(df, "CartesianProduct")


def test_quality_classifier_broadcasts_weights_keyed_aggs_only(spark, sf_dir):
    """IRLS probe: the 33-row weight table reaches the corpus-sized
    logit sum by BROADCAST; every aggregate is hash-keyed (dim or
    doc_id) with map-side partials; no sort aggregates, no cartesian,
    no window at all. The feature/label tables are localCheckpointed
    (three consumers), so the plan starts at checkpointed scans."""
    df = QUERIES["llm_quality_classifier"](spark, sf_dir)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan
    assert "SortAggregate" not in plan
    assert not has_node(df, "CartesianProduct")
    assert not re.search(r"\bWindow\b", plan)


def test_daily_series_battery_and_seasonal_mk_shapes(spark, sf_dir):
    """Round-11 audit (VERDICT r10 item 5): the remaining §2.28 ops'
    docstring shapes, pinned. The four daily-series diagnostics
    (variance_ratio, arch_lm, durbin_watson, turning_points) are the
    _daily_series bill — one corpus-scale daily hash aggregate + the
    per-type collected fold, ≤2 exchanges, no window, no join at all.
    stat_mann_kendall_seasonal is the checkpointed daily cell table +
    the within-season day-pair broadcast self-join + bounded keyed
    re-aggregates: ≤4 exchanges, broadcast join (days are a bounded
    domain), never a sort-merge or cartesian."""
    for name in (
        "ts_variance_ratio",
        "ts_arch_lm",
        "ts_durbin_watson",
        "ts_turning_points",
    ):
        df = QUERIES[name](spark, sf_dir)
        plan = explain_str(df)
        assert shuffle_exchange_count(df) <= 2, name
        assert not has_node(df, "Window"), name
        assert "Join" not in plan, name
        assert "CartesianProduct" not in plan, name
    df = QUERIES["stat_mann_kendall_seasonal"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 4
    assert has_broadcast_hash_join(df)
    assert "Scan ExistingRDD" in plan  # checkpointed daily cell table
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_round11_grid_stat_family_shapes(spark, sf_dir):
    """Round-11 battery contracts. The two-group grid tests
    (brunner_munzel, ansari_bradley) ride ONE checkpointed pivot —
    ≤2 exchanges, no window in the censused plan, no sort-merge.
    Jonckheere adds the grid pair join (broadcast, never SMJ) and the
    group-partitioned window — ≤9 grid-sized exchanges, no cartesian.
    Phillips-Perron is the daily-series bill (≤2 exchanges, no join).
    Rich-club joins degree decorations and a 5-row broadcast ladder —
    no cartesian, one pass over decorated edges."""
    caps = {
        "stat_brunner_munzel": 2,
        "stat_ansari_bradley": 2,
        "stat_jonckheere": 9,
        "ts_phillips_perron": 2,
        "graph_rich_club": 6,
    }
    for name, cap in caps.items():
        df = QUERIES[name](spark, sf_dir)
        plan = explain_str(df)
        assert shuffle_exchange_count(df) <= cap, name
        assert "CartesianProduct" not in plan, name
    for name in ("stat_brunner_munzel", "stat_ansari_bradley"):
        df = QUERIES[name](spark, sf_dir)
        plan = explain_str(df)
        assert not has_node(df, "Window"), name
        assert "SortMergeJoin" not in plan, name
    assert "Join" not in explain_str(
        QUERIES["ts_phillips_perron"](spark, sf_dir)
    )
    assert "SortMergeJoin" not in explain_str(
        QUERIES["stat_jonckheere"](spark, sf_dir)
    )


def test_round11_batch4_shapes(spark, sf_dir):
    """FIM is map-only (the single exchange is the fixture's
    explicit spread() repartition, never an aggregation); Pettitt is
    the daily-series bill; Quade's machinery is day-grid-sized with
    the block-weight table broadcast (no sort-merge anywhere)."""
    df = QUERIES["llm_fim_transform"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 1
    assert "REPARTITION" in plan or shuffle_exchange_count(df) == 0
    assert "HashAggregate" not in plan
    df = QUERIES["ts_pettitt_changepoint"](spark, sf_dir)
    assert shuffle_exchange_count(df) <= 2
    assert "Join" not in explain_str(df)
    df = QUERIES["stat_quade"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 12
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_round11_batch5_shapes(spark, sf_dir):
    """winrate rides the bounded-grid windows (partitioned by source,
    broadcast grid joins); modularity is the label-prop plan + one
    edge pass (label joins may sort-merge — labels are node-sized,
    honest); char-entropy is map-only; the LSH eval is two pair
    generators + a full-outer merge, never a cartesian."""
    caps = {
        "llm_source_winrate": 6,
        "graph_modularity": 7,
        "llm_char_entropy_gate": 1,
        "llm_lsh_pr_eval": 5,  # r12: checkpointed bands + tagged-union merge
    }
    for name, cap in caps.items():
        df = QUERIES[name](spark, sf_dir)
        plan = explain_str(df)
        assert shuffle_exchange_count(df) <= cap, name
        assert "CartesianProduct" not in plan, name
    plan = explain_str(QUERIES["llm_char_entropy_gate"](spark, sf_dir))
    assert "HashAggregate" not in plan
    plan = explain_str(QUERIES["llm_source_winrate"](spark, sf_dir))
    assert "hashpartitioning(source" in plan  # partitioned window


def test_round11_batch6_shapes(spark, sf_dir):
    """Records and the EWMA chart are the daily-series bill (≤2
    exchanges, no join, no window); df-prune is the inverted-index
    co-location (vocabulary hash join, ≤5 exchanges, no cartesian)."""
    for name in ("ts_record_counts", "ts_spc_ewma_chart"):
        df = QUERIES[name](spark, sf_dir)
        assert shuffle_exchange_count(df) <= 2, name
        assert "Join" not in explain_str(df), name
    df = QUERIES["llm_df_prune"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 5
    assert "CartesianProduct" not in plan
    assert not has_node(df, "Window")


def test_decontaminate_semantic_broadcasts_eval_never_corpus(spark, sf_dir):
    """Semantic decontamination's 100 TB claim: the metadata-sized
    eval table is the BNLJ build side, the corpus is never shuffled
    pre-match (the ONE exchange is the contamination-sized groupBy),
    the integer cosine gate rides the join condition, and nothing is
    cartesian or sort-merge."""
    df = QUERIES["llm_decontaminate_semantic"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 1
    assert "BroadcastNestedLoopJoin" in plan and "BuildRight" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert not has_node(df, "Window")


def test_unigram_em_collapses_corpus_to_word_table_once(spark, sf_dir):
    """llm_unigram_em_round's 100 TB shape: the corpus collapses to
    the checkpointed word-frequency table (the lattice DP reads an
    RDD scan, not a second text scan), the vocabulary rides broadcast
    joins (no sort-merge anywhere), and the per-word DP work sits
    under the word-group hash — exchanges stay vocab/word-table-sized
    and nothing is cartesian."""
    df = QUERIES["llm_unigram_em_round"](spark, sf_dir)
    plan = explain_str(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert not has_node(df, "Window")
    assert plan.count("BroadcastExchange") >= 2  # vocab p's + newc
    assert shuffle_exchange_count(df) <= 6


def test_unigram_viterbi_shares_the_em_round_shape(spark, sf_dir):
    """The apply step inherits the EM round's 100 TB contract: one
    corpus collapse to the checkpointed word table, broadcast vocab
    weights, bounded per-word integer DP under the word-group hash —
    no sort-merge, no cartesian, no window."""
    df = QUERIES["llm_unigram_viterbi_apply"](spark, sf_dir)
    plan = explain_str(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert not has_node(df, "Window")
    assert plan.count("BroadcastExchange") >= 2  # weights + counts
    assert shuffle_exchange_count(df) <= 6


def test_unigram_prune_stays_vocab_sized_after_the_apply_pass(
    spark, sf_dir
):
    """llm_unigram_prune inherits the Viterbi apply's corpus bill
    (one word-table collapse, broadcast weights, bounded per-word DP)
    and everything after is vocab-sized: the piece's own lattice,
    the checkpointed ml table, and the rank join — which is the
    deliberate tiny-broadcast theta (BNLJ) over ≤48² pairs, never a
    global window, never cartesian-at-scale."""
    df = QUERIES["llm_unigram_prune"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert not has_node(df, "Window")
    assert "SortMergeJoin" not in plan
    # rank = tiny-broadcast theta join (the join_theta family)
    assert "BroadcastNestedLoopJoin" in plan
    assert shuffle_exchange_count(df) <= 6


def test_hodges_lehmann_is_daily_series_bill(spark, sf_dir):
    """stat_hodges_lehmann: one corpus-scale daily aggregate, then
    per-series in-cell Walsh arithmetic — ts_kpss bill class (≤2
    exchanges, no join, no window)."""
    df = QUERIES["stat_hodges_lehmann"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 2
    assert "Join" not in plan
    assert not has_node(df, "Window")


def test_kcenter_coreset_is_k_map_passes(spark, sf_dir):
    """llm_kcenter_coreset: K map passes with 1-row center broadcasts
    + K TakeOrdereds over the checkpointed mind table — no window, no
    cartesian-at-scale (the crossJoins are 1-row metadata
    broadcasts), no corpus self-join."""
    df = QUERIES["llm_kcenter_coreset"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert not has_node(df, "Window")
    assert "SortMergeJoin" not in plan
    assert shuffle_exchange_count(df) <= 4


def test_bowtie_census_is_bsp_label_rounds(spark, sf_dir):
    """graph_bowtie_census: FW-BW label rounds behind the cells/core
    checkpoints (multi-consumer), then the two set-BFS reach towers
    in the r14 LAZY single-consumer form (self-loop-augmented
    expansion ≡ keep-union + distinct, so no per-round checkpoints);
    the core-label pick is a 1-row TakeOrdered broadcast (never a
    window); nothing cartesian-at-scale, census is a 5-row aggregate.
    The visible plan carries the two 3-round reach towers (≤ 3
    equi-keyed exchanges per round) + the 3-way census join."""
    df = QUERIES["graph_bowtie_census"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert not has_node(df, "Window")
    # two 3-round reach towers × ≤3 equi-keyed exchanges + the census
    # join/aggregate = 22 (ADVICE r14 tightening; measured 9 at the
    # test shape)
    assert shuffle_exchange_count(df) <= 22


def test_deterministic_walks_is_per_step_argmin_joins(spark, sf_dir):
    """graph_deterministic_walks: per step ONE per-node argmin
    aggregate over the edge table + one equi-join to the |V|-sized
    walk frontier — never fan-out, no window, no cartesian, no forced
    broadcast (both sides are node-scale)."""
    df = QUERIES["graph_deterministic_walks"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not has_node(df, "Window")
    assert not calls_broadcast(QUERIES["graph_deterministic_walks"])
    assert shuffle_exchange_count(df) <= 12


def test_dtw_pairs_is_daily_series_bill_plus_tiny_theta(spark, sf_dir):
    """ts_dtw_pairs: one corpus-scale daily aggregate (ts_kpss bill
    class), then a k²-pair theta join over metadata-sized arrays and
    in-cell DP folds — no window, no sort-merge, ≤3 exchanges."""
    df = QUERIES["ts_dtw_pairs"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert not has_node(df, "Window")
    assert "SortMergeJoin" not in plan
    assert shuffle_exchange_count(df) <= 3


def test_ktruss_peel_is_oriented_wedge_joins(spark, sf_dir):
    """graph_ktruss_peel: every triangle pass is the canonical
    oriented wedge+close pair of hash equi-joins (forward-degree
    bounded fan-out, never Σdeg²), each round's survivor set is
    checkpointed (four consumers), nothing cartesian, no window, no
    forced broadcast."""
    df = QUERIES["graph_ktruss_peel"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not has_node(df, "Window")
    assert not calls_broadcast(QUERIES["graph_ktruss_peel"])
    # post-checkpoint plan: the final support pass (wedge join, close
    # join, 3-side union aggregate) + the 3-table census join — every
    # exchange is an equi-keyed hash partitioning over edge-sized or
    # smaller tables; adjudicated in PLANS.md (this is the census max
    # by COUNT, not by cost — the peel rounds behind the checkpoints
    # only shrink the data)
    assert shuffle_exchange_count(df) <= 15


def test_betweenness_pivots_is_frontier_linear(spark, sf_dir):
    """graph_betweenness_pivots: pivots × bounded-BFS, all equi-keyed
    joins over checkpointed frontiers/expansions — no cartesian, no
    BNLJ, no window, no forced broadcast (the |V|-scale rule from
    local_bridges r12), and the per-(p,v) successor fold is an array
    aggregate, not a rank."""
    df = QUERIES["graph_betweenness_pivots"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not has_node(df, "Window")
    assert not calls_broadcast(QUERIES["graph_betweenness_pivots"])
    # post-checkpoint plan: the union of backward levels + one final
    # v-keyed aggregate
    assert shuffle_exchange_count(df) <= 4


def test_decontamination_overlap_broadcasts_both_flag_sets(
    spark, sf_dir
):
    """llm_decontamination_overlap: eval grams/vectors and both
    contamination-sized flag tables broadcast; the ONE corpus-scale
    join is documents⋈embeddings on id (≤1 SMJ, co-located for free
    under id-bucketed layout); the eval-vector match is the
    deliberate tiny-broadcast BNLJ of the semantic parent; no window,
    no cartesian."""
    df = QUERIES["llm_decontamination_overlap"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert not has_node(df, "Window")
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) <= 1
    assert plan.count("BroadcastExchange") >= 4
    assert shuffle_exchange_count(df) <= 6


def test_sample_entropy_is_daily_series_bill(spark, sf_dir):
    """ts_sample_entropy: one corpus-scale daily aggregate, then
    per-series array arithmetic — the ts_kpss bill class (≤2
    exchanges, no join, no window)."""
    df = QUERIES["ts_sample_entropy"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 2
    assert "Join" not in plan
    assert not has_node(df, "Window")


def test_local_bridges_is_wedge_join_plus_anti(spark, sf_dir):
    """graph_local_bridges: the wedge enumeration is a hash join on
    the center over the checkpointed und table; the certification
    anti-join is fact-to-fact (edge set vs wedge set) and correctly
    plans as a shuffled anti (SMJ/SHJ — the one permitted sort-merge);
    degrees decorate via HINT-FREE equi joins (VERDICT r12: the degree
    table is |V|-sized, a forced broadcast would OOM at
    billions-of-nodes scale — AQE picks broadcast when nodes fit,
    shuffle join when they don't); nothing is cartesian."""
    df = QUERIES["graph_local_bridges"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "LeftAnti" in plan
    # only the anti-join (formatted explain names each node twice:
    # tree line + numbered detail)
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) <= 1
    assert shuffle_exchange_count(df) <= 7
    # the degree joins execute pre-checkpoint (lineage truncation), so
    # the de-pin is asserted at source: no forced broadcast anywhere
    # in this op (the pagerank-style nodes-fit broadcast is a
    # DOCUMENTED assumption; this op deliberately makes none)
    assert not calls_broadcast(QUERIES["graph_local_bridges"])


def test_matrix_profile_is_daily_series_bill(spark, sf_dir):
    """ts_matrix_profile: one corpus-scale daily aggregate, then
    per-series O(W²·m) array arithmetic — ts_kpss bill class."""
    df = QUERIES["ts_matrix_profile"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 2
    assert "Join" not in plan
    assert not has_node(df, "Window")


def test_ses_grid_search_is_daily_series_bill(spark, sf_dir):
    """ts_ses_grid_search: one daily aggregate + 9 per-series folds —
    ts_kpss bill class."""
    df = QUERIES["ts_ses_grid_search"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 2
    assert "Join" not in plan
    assert not has_node(df, "Window")


def test_ediv_changepoint_is_daily_series_bill(spark, sf_dir):
    """ts_ediv_changepoint: one daily aggregate + O(n²) per-series
    array arithmetic — ts_kpss bill class."""
    df = QUERIES["ts_ediv_changepoint"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 2
    assert "Join" not in plan
    assert not has_node(df, "Window")


def test_ediv_significance_is_replicated_series_bill(spark, sf_dir):
    """ts_ediv_significance: one daily aggregate, a 17-way per-series
    replicate explode, per-replicate O(n²) array arithmetic, one
    series-keyed re-aggregation — still the ts_kpss bill class (≤3
    exchanges, no join, no window)."""
    df = QUERIES["ts_ediv_significance"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 3
    assert "Join" not in plan
    assert not has_node(df, "Window")


def test_theta_forecast_is_daily_series_bill(spark, sf_dir):
    """ts_theta_forecast: one daily aggregate, O(n) per-series folds,
    a 7-row explode — ts_kpss bill class."""
    df = QUERIES["ts_theta_forecast"](spark, sf_dir)
    plan = explain_str(df)
    assert shuffle_exchange_count(df) <= 2
    assert "Join" not in plan
    assert not has_node(df, "Window")


def test_texttiling_is_pure_map(spark, sf_dir):
    """llm_texttiling_boundaries: one scan, per-doc in-cell array
    arithmetic — zero joins, zero shuffles, no window."""
    df = QUERIES["llm_texttiling_boundaries"](spark, sf_dir)
    plan = explain_str(df)
    assert "Join" not in plan
    assert not has_node(df, "Window")
    assert shuffle_exchange_count(df) == 0


def test_abc_xyz_is_nation_partitioned_windows(spark, sf_dir):
    """ts_abc_xyz: two keyed aggregates, one customer-dim join, then
    windows PARTITIONED BY NATION (bounded partitions — never the
    banned global window); no cartesian."""
    df = QUERIES["ts_abc_xyz"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the window exchange partitions on nation, not empty
    assert "hashpartitioning(nation" in plan
    assert shuffle_exchange_count(df) <= 4


def test_median_polish_is_grid_sweeps(spark, sf_dir):
    """stat_median_polish (r14 ladder-collapse): one corpus-scale
    daily aggregate, then the 4 median sweeps as a single-consumer
    chain of GRID-PARTITIONED windows (never global — the windows are
    keyed by event_type / day over the metadata-sized grid), with one
    checkpoint on the swept grid (3 consumers) and broadcast-sized
    effect joins after it — no cartesian-at-scale (crossJoins are
    1-row scalar absorbs). The window shape is pinned on an
    un-checkpointed rebuild of the sweep chain (the hurst/adamic-adar
    pattern: the query's own checkpoint truncates the visible
    lineage)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_geonames_spark.sources import load_table

    df = QUERIES["stat_median_polish"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert shuffle_exchange_count(df) <= 14
    # rebuild one sweep half-step un-checkpointed: the median window
    # must be partitioned by the grid key, never unpartitioned
    z = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("t"),
            F.date_trunc("day", "ts").alias("d"),
        )
        .groupBy("t", "d")
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
    )
    w = Window.partitionBy("t")
    half = z.select(
        "t", "d",
        F.sort_array(F.collect_list("v").over(w)).alias("ws"), "v",
    )
    hplan = explain_str(half)
    assert "windowspecdefinition(t" in hplan
    assert "hashpartitioning(t" in hplan
