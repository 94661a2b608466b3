"""The final-state check accepts a hand-computed table and rejects a
target that misses one batch or holds one corrupted row."""

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ledger import Ledger, check_target, expected_table  # noqa: E402

COLUMNS = ["k", "v", "name", "extra", "drift"]


def _ledger(batches: int = 3) -> Ledger:
    led = Ledger()
    # batch 1: three inserts
    led.record("a", 1, {"k": "a", "v": 1, "name": "a1", "extra": "x"})
    led.record("b", 2, {"k": "b", "v": 2, "name": "b1", "extra": "x"})
    led.record("c", 3, {"k": "c", "v": 3, "name": "c1", "extra": "x"})
    if batches >= 2:  # batch 2: update a, delete b, written after the drift
        led.record("a", 4, {"k": "a", "v": 4, "name": "a2", "extra": "x", "drift": "d"})
        led.record("b", 5, None)
    if batches >= 3:  # batch 3: insert d
        led.record("d", 6, {"k": "d", "v": 6, "name": "d1", "extra": "x", "drift": "e"})
    return led


#: the answer worked out by hand: latest version per key, b deleted,
#: ``extra`` dropped, ``drift`` null for c (last written before the drift)
HAND = [
    {"k": "a", "v": 4, "name": "a2", "drift": "d"},
    {"k": "c", "v": 3, "name": "c1", "drift": None},
    {"k": "d", "v": 6, "name": "d1", "drift": "e"},
]


def _write_target(path, rows, version=3):
    vdir = os.path.join(path, f"v={version}")
    os.makedirs(vdir)
    schema = pa.schema([("k", pa.string()), ("v", pa.int64()), ("name", pa.string()),
                        ("drift", pa.string())])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), os.path.join(vdir, "part-0.parquet"))
    with open(os.path.join(vdir, "_SUCCESS"), "w"):
        pass
    with open(os.path.join(path, "_CURRENT"), "w") as f:
        f.write(str(version))


def _check(path, led):
    return check_target(led, str(path), COLUMNS, "k", dropped=frozenset({"extra"}))


def test_expected_table_matches_hand_computation():
    exp = expected_table(_ledger(), COLUMNS, frozenset({"extra"}))
    assert sorted(exp.values(), key=lambda r: r["k"]) == HAND


def test_check_accepts_the_hand_computed_target(tmp_path):
    _write_target(tmp_path, HAND)
    assert _check(tmp_path, _ledger()) == []


def test_check_rejects_a_target_missing_one_batch(tmp_path):
    # the target as it stood after batch 2: key d never arrived
    _write_target(tmp_path, HAND[:2])
    problems = _check(tmp_path, _ledger())
    assert problems and "'d' expected but missing" in problems[0]


def test_check_rejects_one_corrupted_row(tmp_path):
    rows = [dict(r) for r in HAND]
    rows[1]["name"] = "c-corrupt"
    _write_target(tmp_path, rows)
    problems = _check(tmp_path, _ledger())
    assert len(problems) == 1 and "'c' differs" in problems[0]


def test_check_rejects_a_dropped_field_that_is_present(tmp_path):
    vdir = tmp_path / "v=1"
    vdir.mkdir()
    rows = [dict(r, extra="x") for r in HAND]
    pq.write_table(pa.Table.from_pylist(rows), str(vdir / "part-0.parquet"))
    (tmp_path / "_CURRENT").write_text("1")
    problems = _check(tmp_path, _ledger())
    assert problems and "columns differ" in problems[0]


def test_ledger_refuses_a_version_that_does_not_advance():
    led = Ledger()
    led.record("a", 2, {"k": "a"})
    with pytest.raises(ValueError):
        led.record("a", 2, {"k": "a"})
