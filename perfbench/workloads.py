"""The benchmark's workloads: inputs, warm-up, the timed op and its check.

Each workload is one client in a closed loop: the next op starts when
the previous one has returned. ``prepare`` makes the inputs (not
timed), ``setup`` resolves them and warms the session (timed as
set-up), ``op`` is the timed unit, and ``check`` compares its output
with an independent oracle outside the timed window.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from contextlib import nullcontext

import dump
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTRIES = ["NL", "DE"]
TYPES = {"PPL": "hg:Place", "ADM": "hg:Admin"}
DUMP_ROWS = 25_000
KEEP_DUMPS = 6  # cached dump directories kept per checkout


def _no_span(name: str):
    return nullcontext()


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


class Geonames:
    """``download_step`` then ``transform_step`` of the GeoNames job,
    from a seeded dump served from a ``file://`` directory: the README
    config (NL and DE, PPL and ADM types) plus the 1,000-URI allowlist,
    writing the typed PIT and relation outputs and the reference's
    interleaved envelope stream."""

    def __init__(self, name: str, seed: int, state: str):
        self.name, self.seed, self.state = name, seed, state
        self.rows = DUMP_ROWS
        # the first ops still pay the JVM's compilation of the hot paths
        # (CPU per op falls from ~30 to ~6 s over the first five)
        self.warm_ops, self.min_ops, self.pass_len = 4, 5, 1
        self.work = os.path.join(state, "work", name)
        self.span = _no_span

    def prepare(self) -> None:
        self.dump_dir = self._cached_dump()
        with open(os.path.join(self.dump_dir, "expected.json")) as f:
            self.expected = json.load(f)["job"]

    def _cached_dump(self) -> str:
        """The dump for (seed, rows) with its oracle results, generated
        once per checkout; only the newest few are kept."""
        root = os.path.join(self.state, "dumps")
        dest = os.path.join(root, f"{self.seed}-{self.rows}")
        if not os.path.exists(dest):
            tmp = dest + f".tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            dump.build(self.seed, self.rows, tmp)
            with open(os.path.join(tmp, "extra_uris.json")) as f:
                extra = json.load(f)
            _write_json(os.path.join(tmp, "expected.json"), {
                "job": oracle.geonames_expected(tmp, COUNTRIES, TYPES, extra),
                "reference": oracle.geonames_expected(tmp, COUNTRIES, TYPES, []),
            })
            os.remove(os.path.join(tmp, "allCountries.txt"))
            os.replace(tmp, dest)
        os.utime(dest)
        cached = sorted(
            (os.path.join(root, d) for d in os.listdir(root) if ".tmp" not in d),
            key=os.path.getmtime,
        )
        for old in cached[:-KEEP_DUMPS]:
            shutil.rmtree(old, ignore_errors=True)
        return dest

    def setup(self, spark) -> None:
        """Resolve the job config against the dump."""
        from etl_geonames_spark.geonames import job

        self.job, self.spark = job, spark
        self.config = {
            "countries": COUNTRIES,
            "types": TYPES,
            "extraUris": os.path.join(self.dump_dir, "extra_uris.json"),
            "baseUrl": f"file://{self.dump_dir}/",
            "envelope": True,
        }
        job.config_to_pipeline(self.config)

    def items(self):
        while True:
            yield None

    def op(self, _item) -> None:
        self.job.download_step(self.config, self.work)
        with self.span("geonames.transform"):
            self.job.transform_step(self.config, self.work, self.spark)

    def check(self, _item, _result) -> bool:
        got = oracle.output_summary(os.path.join(self.work, "out"))
        return got == {**self.expected, "envelope": self.expected}

    def trace(self, tracer) -> None:
        """Wrap the layers the job calls, at the names it resolves."""
        from etl_geonames_spark.ingest import download
        from etl_geonames_spark.geonames.pipeline import transform_from_paths
        from etl_geonames_spark.sources.sinks import write_ndjson, write_ndjson_lines
        from spans import dir_bytes

        def landed(_args, paths):
            tracer.count("ingest.bytes_landed", sum(os.path.getsize(p) for p in paths.values()))

        def written(args, _result):
            out = args[1]
            n = dir_bytes(out)
            tracer.count("sources.bytes_written", n)
            tracer.count(f"sources.{os.path.basename(out)}_bytes", n)

        tracer.install(download, "ingest.download", landed)
        tracer.install(transform_from_paths, "geonames.build")
        tracer.install(write_ndjson, "sources.write_ndjson", written)
        tracer.install(write_ndjson_lines, "sources.write_lines", written)
        self.span = tracer.span

    def finish(self) -> tuple[bool, dict]:
        """Single-threaded reference baseline on the landed dump (context
        only), and a cross-check of the DuckDB oracle against its output."""
        import subprocess

        landed = os.path.join(self.work, "landed")
        ref_out = os.path.join(self.work, "reference.ndjson")
        proc = subprocess.run(
            ["node", os.path.join(os.path.dirname(HERE), "benchmarks", "reference_sim.js"),
             landed, ref_out],
            capture_output=True, text=True, timeout=120, check=True,
        )
        ref = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(os.path.join(self.dump_dir, "expected.json")) as f:
            want = json.load(f)["reference"]
        agrees = oracle.reference_summary(ref_out) == want
        shutil.rmtree(self.work, ignore_errors=True)
        return agrees, {"reference_sim": {"rows_per_s": ref["rows_per_sec"],
                                          "sec": ref["sec"], "oracle_agrees": agrees}}


class Registry:
    """One registry query per op: build it, then run it into the noop
    sink. The query set is fixed (``registry_set.json``: the middle name
    of each of 8 cost strata), so runs compare like with like; the seed
    orders each pass over it."""

    FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")

    def __init__(self, name: str, seed: int, state: str):
        self.name, self.seed, self.state = name, seed, state
        self.span = _no_span
        self.expected_path = os.path.join(state, "registry_expected.json")

    def prepare(self) -> None:
        """Resolve the query set and its DuckDB row counts (computed once
        per checkout: the fixture tables are fixed)."""
        from etl_geonames_spark.registry import collect
        from etl_geonames_spark.sources.tables import TABLE_NAMES

        with open(os.path.join(HERE, "registry_set.json")) as f:
            self.names = json.load(f)["names"]
        # whole passes only, so every name weighs the same in a run. The
        # JVM keeps compiling the queries' hot paths over the first passes
        # (CPU per pass halves from the second pass to the fourth), so three
        # passes warm up; three timed passes give each name a median over
        # three repeats
        self.pass_len = len(self.names)
        self.warm_ops = self.min_ops = 3 * len(self.names)
        queries, oracles = collect()
        missing = sorted(set(self.names) - set(queries))
        if missing:
            raise RuntimeError(f"registry_set.json names unregistered queries: {missing}")
        self.expected = {}
        if os.path.exists(self.expected_path):
            with open(self.expected_path) as f:
                self.expected = json.load(f)
        todo = {n: oracles[n] for n in self.names if n in oracles and n not in self.expected}
        if todo:
            self.expected.update(oracle.registry_counts(self.FIXTURES, TABLE_NAMES, todo))
            _write_json(self.expected_path, self.expected)
        self.first_seen: dict[str, int] = {}  # oracle-free names, this run
        self.rng = random.Random(self.seed)

    def setup(self, spark) -> None:
        """Resolve the registry, then warm the session paths every query
        shares."""
        from pyspark.sql import functions as F

        from etl_geonames_spark.registry import collect
        from etl_geonames_spark.sources.tables import load_table

        self.spark = spark
        self.queries = collect()[0]
        # one-time session costs no single query should carry: Parquet
        # footers and first-scan codegen, the Python worker pool, the
        # exchange path and the noop sink's data source lookup
        for t in ("lineitem", "events"):
            load_table(spark, self.FIXTURES, t).count()
        spark.range(1000).mapInPandas(lambda it: it, "id long").count()
        spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count() \
            .write.format("noop").mode("overwrite").save()
        self.base_rdds = self._persisted()

    def _persisted(self) -> set:
        return set(self.spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    def items(self):
        while True:
            order = list(self.names)
            self.rng.shuffle(order)
            yield from order

    def op(self, name: str):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        with self.span("operators.build"):
            df = self.queries[name](self.spark, self.FIXTURES)
        seen = Observation()
        with self.span("operators.exec"):
            df.observe(seen, F.count(F.lit(1)).alias("rows")) \
                .write.format("noop").mode("overwrite").save()
        return seen

    def check(self, name: str, seen) -> bool:
        """Row count against the DuckDB oracle; an oracle-free query
        against the count it first returned in this run. Then drop the
        RDDs the query persisted, as the registry bench does."""
        rows = seen.get["rows"]
        post = self.spark.sparkContext._jsc.getPersistentRDDs()
        for rid in self._persisted() - self.base_rdds:
            rdd = post.get(rid)
            if rdd is not None:
                rdd.unpersist(True)
        if name in self.expected:
            return rows == self.expected[name]
        return rows == self.first_seen.setdefault(name, rows)

    def trace(self, tracer) -> None:
        from etl_geonames_spark.functions import pin
        from etl_geonames_spark.sources.tables import load_table

        tracer.install(load_table, "sources.load_table")
        tracer.install(pin, "functions.pin")
        self.span = tracer.span

    def finish(self) -> tuple[bool, dict]:
        return True, {}


def make(name: str, seed: int, state: str):
    if name == "registry":
        return Registry(name, seed, state)
    return Geonames(name, seed, state)


NAMES = ("geonames", "registry")
