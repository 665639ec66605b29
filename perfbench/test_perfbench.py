"""Self-tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import dump  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROWS = 6000
TYPES = {"PPL": "hg:Place", "ADM": "hg:Admin"}
REFERENCE_SIM = os.path.join(os.path.dirname(HERE), "benchmarks", "reference_sim.js")


def test_dump_is_byte_identical_per_seed(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    dump.build(7, ROWS, str(a))
    dump.build(7, ROWS, str(b))
    dump.build(8, ROWS, str(c))
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert (mismatch, errors) == ([], [])
    assert not filecmp.cmp(a / "allCountries.zip", c / "allCountries.zip", shallow=False)


def test_dump_mix_is_fixed_across_seeds():
    def mix(seed):
        lines, admin1, admin2, extra = dump.dump_lines(seed, ROWS)
        cols = [line.split("\t") for line in lines]
        countries = sorted(c[8] for c in cols)
        typed = sum(c[7].startswith(("PPL", "ADM")) for c in cols)
        return len(lines), countries, typed, len(admin1), len(admin2), len(extra)

    assert mix(1) == mix(2)


@pytest.mark.parametrize("n, p", [(1, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
                                  (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0)])
def test_tail_percentile_keeps_ten_ops_beyond(n, p):
    assert metrics.tail_percentile(n) == p
    assert n - metrics.percentile(list(range(1, n + 1)), p) >= min(10, n // 2)


def test_percentile_is_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert metrics.percentile(values, 50.0) == 3.0
    assert metrics.percentile(values, 75.0) == 4.0
    assert metrics.percentile(values, 100.0) == 5.0
    assert metrics.percentile(list(range(1, 41)), 75.0) == 30


def test_summary_arithmetic():
    walls, items = [1.0, 2.0, 3.0, 6.0], ["a", "a", "b", "b"]
    e2e, tail = metrics.summarize(walls, items, [2.0, 2.0, 4.0, 4.0], 3, [4.0, 1.0, 2.0], 512.0)
    # per-item medians 1.5 and 4.5: one pass takes 6 s, 3 of 4 ops passed
    assert e2e["ops_per_s"][0] == pytest.approx(0.75 * 2 / 6.0)
    assert e2e["success_rate"] == (0.75, "ratio")
    assert e2e["op_geomean_s"][0] == pytest.approx((1.5 * 4.5) ** 0.5)
    assert e2e["setup_s"] == (2.0, "s")
    assert tail == {"ops": 4, "op_p50_s": 2.5, "op_tail_percentile": 50.0,
                    "op_tail_s": 2.0, "cpu_s_per_op": 3.0, "peak_rss_mb": 512.0}


def test_one_slow_repeat_does_not_move_the_summary():
    items = ["a", "b"] * 3
    steady = metrics.summarize([1.0, 2.0] * 3, items, [1.0] * 6, 6, [1.0], 1.0)[0]
    burst = metrics.summarize([1.0, 2.0, 2.5, 2.0, 1.0, 5.0], items, [1.0] * 6, 6, [1.0], 1.0)[0]
    assert burst == steady


@pytest.fixture(scope="module")
def reference_output(tmp_path_factory):
    """A dump, the reference simulation's envelope stream over it, and
    that stream split into the job's three NDJSON output directories."""
    root = tmp_path_factory.mktemp("ref")
    dump.build(3, ROWS, str(root / "dump"))
    ref = root / "reference.ndjson"
    subprocess.run(["node", REFERENCE_SIM, str(root / "dump"), str(ref)],
                   check=True, capture_output=True, timeout=60)
    out = root / "out"
    for d in ("pits", "relations", "envelope"):
        (out / d).mkdir(parents=True)
    lines = ref.read_text().splitlines(keepends=True)
    half = len(lines) // 2
    for i, part in enumerate((lines[:half], lines[half:])):
        (out / "envelope" / f"part-0000{i}.txt").write_text("".join(part))
        for kind, d in (("pit", "pits"), ("relation", "relations")):
            objs = [json.dumps(json.loads(x)["obj"]) + "\n" for x in part
                    if json.loads(x)["type"] == kind]
            (out / d / f"part-0000{i}.json").write_text("".join(objs))
    return root


def test_duckdb_oracle_agrees_with_reference_simulation(reference_output):
    want = oracle.geonames_expected(str(reference_output / "dump"), ["NL", "DE"], TYPES, [])
    assert want["pits"][0] > 0 and want["relations"][0] > 0
    assert oracle.reference_summary(str(reference_output / "reference.ndjson")) == want


def test_output_check_accepts_complete_and_rejects_truncated(reference_output, tmp_path):
    want = oracle.geonames_expected(str(reference_output / "dump"), ["NL", "DE"], TYPES, [])
    want = {**want, "envelope": want}
    out = reference_output / "out"
    assert oracle.output_summary(str(out)) == want

    dropped = tmp_path / "dropped"
    subprocess.run(["cp", "-r", str(out), str(dropped)], check=True)
    os.remove(dropped / "pits" / "part-00001.json")
    assert rejects(str(dropped), want)

    cut = tmp_path / "cut"
    subprocess.run(["cp", "-r", str(out), str(cut)], check=True)
    part = cut / "envelope" / "part-00001.txt"
    body = part.read_bytes()
    part.write_bytes(body[: len(body) - 40])  # ends inside a line
    assert rejects(str(cut), want)


def rejects(out: str, want: dict) -> bool:
    """The runner fails an op whose check raises or mismatches."""
    try:
        return oracle.output_summary(out) != want
    except duckdb.Error:
        return True
