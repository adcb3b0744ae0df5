"""Tests of the benchmark's pure helpers; no Spark session needed.

Run from the root of the repository::

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench import events as ev
from perfbench.helpers import (METRIC_NAME, OpLedger, Span,
                               check_metric_name, row_crc, self_time, tail,
                               union_length)

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def test_tail_keeps_ten_samples_beyond():
    value, pct, n = tail(range(1, 21))
    assert (value, pct, n) == (10.0, 50.0, 20)
    value, pct, n = tail(range(100))
    assert value == 89.0 and pct == 90.0
    assert sum(1 for x in range(100) if x > value) == 10


def test_tail_of_few_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail(range(11)) == (0.0, 100 / 11, 11)
    with pytest.raises(ValueError):
        tail([])


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_counts_overlapping_children_once():
    parent = Span("staging.publish", 0.0, 10.0, op=0, sid=0)
    children = [Span("a", 1.0, 4.0, 0, 0, 1), Span("b", 3.0, 6.0, 0, 0, 2),
                Span("c", 8.0, 12.0, 0, 0, 3)]
    # covered inside the parent: [1, 6] and [8, 10]
    assert self_time(parent, children) == pytest.approx(3.0)
    assert self_time(parent, []) == 10.0


def test_metric_names():
    for good in ("setup_s", "insert.fs.put", "zarr3.read_mb_per_s"):
        assert check_metric_name(good) == good
    for bad in ("has space", "slash/name", "", "x" * 65):
        with pytest.raises(ValueError):
            check_metric_name(bad)


def test_benchmark_json_names():
    doc = json.loads(BENCHMARK.read_text())
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer")
             for m in doc[key]]
    assert len(names) == len(set(names))
    assert all(METRIC_NAME.fullmatch(n) for n in names)


def test_per_layer_names_match_the_traced_output():
    from perfbench.layers import CLASSES, PER_CLASS
    doc = json.loads(BENCHMARK.read_text())
    listed = {m["name"] for m in doc["per_layer"]}
    assert {f"{c}.{k}" for c in CLASSES for k in PER_CLASS} <= listed


def test_ledger_counts_exceptions_and_mismatches():
    ledger = OpLedger()
    assert ledger.record("insert", ["a"], ["a"])
    assert not ledger.record("upsert", error=RuntimeError("boom"))
    assert not ledger.record("point_read", (3, 7), (3, 8))
    assert (ledger.attempted, ledger.failed) == (3, 2)
    assert ledger.error_rate == pytest.approx(2 / 3)
    assert "boom" in ledger.failures[0]


def test_wrong_expectation_is_a_failure():
    """A read checked against a reference that missed the upsert fails."""
    rows = ev.make_day(7, 0)
    fixed = ev.make_correction(7, 0, rows)
    stale, fresh = ev.Reference(), ev.Reference()
    stale.insert(0, rows)
    fresh.insert(0, rows)
    fresh.upsert(0, fixed)
    ledger = OpLedger()
    ledger.record("point_read", fresh.digest([0]), fresh.digest([0]))
    ledger.record("point_read", fresh.digest([0]), stale.digest([0]))
    assert (ledger.attempted, ledger.failed) == (2, 1)


def _crc_sum(df) -> int:
    """Row CRCs computed one row at a time, apart from the Reference."""
    return sum(row_crc(r.event_id, r.ts.value // 1000, r.user_id,
                       r.event_type, round(r.value * 100), r.props)
               for r in df.itertuples())


def test_reference_digest_tracks_the_upsert():
    rows = ev.make_day(3, 2)
    fixed = ev.make_correction(3, 2, rows)
    ref = ev.Reference()
    ref.insert(2, rows)
    assert ref.digest([2]) == (len(rows), _crc_sum(rows))
    assert ref.upsert(2, fixed) == len(rows)
    replaced = rows[rows["ts"].isin(fixed["ts"])]
    assert ref.digest([2]) == (
        len(rows), _crc_sum(rows) - _crc_sum(replaced) + _crc_sum(fixed))


def test_same_seed_same_input_bytes(tmp_path):
    sizes = []
    for run in ("a", "b"):
        path = tmp_path / f"{run}.parquet"
        ev.write_parquet(ev.make_day(11, 4), path)
        sizes.append(path.read_bytes())
    assert sizes[0] == sizes[1]
    other = tmp_path / "other.parquet"
    ev.write_parquet(ev.make_day(12, 4), other)
    assert other.read_bytes() != sizes[0]


def test_days_filter_crosses_months():
    days = [29, 30, 31]  # 2024-01-30, 2024-01-31, 2024-02-01
    assert ev.days_filter(days) == (
        "(year == 2024 and month == 1 and day in (30, 31,)) or "
        "(year == 2024 and month == 2 and day in (1,))")


def test_generated_days_follow_the_table():
    """Ids run on across days; rows a day and values have the sf0.1
    table's figures (README.md)."""
    days = [ev.make_day(5, d) for d in range(4)]
    for prev, cur in zip(days, days[1:]):
        assert cur["event_id"].iloc[0] == prev["event_id"].iloc[-1] + 1
    for df in days:
        assert 3100 < len(df) < 3550
        assert df["ts"].is_unique and df["ts"].is_monotonic_increasing
        assert 45 < df["value"].mean() < 55
        assert set(df["event_type"]) == set(ev.EVENT_TYPES)
    assert ev.day_rows(5, 2) == len(days[2])
