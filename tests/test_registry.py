"""Driver-window order (``registry.driver_order``), without Spark.

The differential driver checks the first 50 names of ``queries()``
each round and records them in CORRECTNESS_r<N>.json. These tests
build such records in a temporary directory, then check the committed
record's window.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from etl_geonames_spark import registry
from etl_geonames_spark.registry import driver_order

REPO = Path(__file__).resolve().parent.parent


def _record(d: Path, rnd: int, names: list[str]) -> None:
    # unpadded, as the driver's round 100 will be: "r10" < "r9" as text
    (d / f"CORRECTNESS_r{rnd}.json").write_text(
        json.dumps({n: {"rows_match": True} for n in names})
    )


def test_rounds_order_as_numbers(tmp_path):
    # as strings "10" < "9": x would look last checked in round 9
    _record(tmp_path, 9, ["x", "y"])
    _record(tmp_path, 10, ["x"])
    assert driver_order(["x", "y"], tmp_path, {}) == ["y", "x"]


def test_changed_name_leads_until_its_round_lists_it(tmp_path):
    names = ["a", "b", "c"]
    _record(tmp_path, 1, names)
    assert driver_order(names, tmp_path, {"c": 2}) == ["c", "a", "b"]
    _record(tmp_path, 2, ["a"])
    assert driver_order(names, tmp_path, {"c": 3}) == ["c", "b", "a"]
    _record(tmp_path, 3, ["c"])
    assert driver_order(names, tmp_path, {"c": 3}) == ["b", "a", "c"]
    # a file numbered above the entry's round expires it too
    assert driver_order(names, tmp_path, {"c": 2}) == ["b", "a", "c"]


def test_never_checked_names_come_first(tmp_path):
    _record(tmp_path, 1, ["a", "c"])
    assert driver_order(["a", "b", "c"], tmp_path, {}) == ["b", "a", "c"]


def test_ties_keep_registration_order(tmp_path):
    _record(tmp_path, 2, ["d", "a"])
    _record(tmp_path, 1, ["c", "b"])
    assert driver_order(["d", "c", "b", "a"], tmp_path, {}) == [
        "c",
        "b",
        "d",
        "a",
    ]


def test_unregistered_changed_name_raises(tmp_path):
    with pytest.raises(ValueError, match="unregistered.*'typo'"):
        driver_order(["a"], tmp_path, {"typo": 16})


@pytest.mark.parametrize(
    "file_name, text",
    [
        ("CORRECTNESS_r03.json", "{not json"),
        ("CORRECTNESS_r03.json", '["a", "b"]'),
        ("CORRECTNESS_rX.json", "{}"),
    ],
)
def test_malformed_record_raises_naming_the_file(tmp_path, file_name, text):
    _record(tmp_path, 1, ["a"])
    (tmp_path / file_name).write_text(text)
    with pytest.raises(ValueError, match=file_name):
        driver_order(["a"], tmp_path, {})


def test_committed_window_is_the_oldest_checks():
    """Pins the window on the committed record (rounds 1-15): the
    pending ``_CHANGED`` names, every name last checked in round 4,
    then round-5 names; none of round 15's names come back."""
    queries, _ = registry.collect()
    window = list(queries)[:50]
    last: dict[str, int] = {}
    for rnd in range(1, 16):
        path = REPO / f"CORRECTNESS_r{rnd:02d}.json"
        for name in json.loads(path.read_text()):
            last[name] = rnd
    registered = list(registry.QUERIES)
    r4 = [n for n in registered if last.get(n) == 4]
    r5 = [n for n in registered if last.get(n) == 5]
    changed = [n for n in registered if n in registry._CHANGED]
    assert sorted(changed) == sorted(registry._CHANGED)
    assert len(r4) == 21
    assert window == changed + r4 + r5[: 50 - len(changed) - len(r4)]
    r15 = json.loads((REPO / "CORRECTNESS_r15.json").read_text())
    assert not set(window) & set(r15)
