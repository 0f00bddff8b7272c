"""Tests of the benchmark's own helpers (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime
import os
import random
import sys
from decimal import Decimal

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from stats import digest, layer_totals, self_times, tail  # noqa: E402
from tests.conftest import normalize_rows  # noqa: E402

COLS = ["b", "a", "c"]
ROWS = [
    (1.5, "x", None),
    (float("nan"), "y", b"\x00\x01"),
    (-0.0, "z", True),
    (2, None, datetime.date(2024, 1, 2)),
    (0.1 + 0.2, "w", Decimal("1.50")),
    (1.5, "x", None),  # duplicate rows count twice
    (3.0, "v", datetime.datetime(2024, 1, 31, 0, 0, 1, 5)),
    (None, "u", [1, 2]),
]


def test_digest_ignores_row_and_column_order():
    rows = list(ROWS)
    random.Random(7).shuffle(rows)
    swapped = [(a, b, c) for (b, a, c) in rows]
    assert digest(COLS, ROWS) == digest(COLS, rows) == digest(["a", "b", "c"], swapped)


@pytest.mark.parametrize(
    "rows",
    [
        ROWS[:-1],  # one row fewer
        ROWS + [ROWS[0]],  # one duplicate more
        [(0.30000000000000004 + 1e-16, *r[1:]) if i == 4 else r for i, r in enumerate(ROWS)],
        [(1.5, "x", False) if i == 0 else r for i, r in enumerate(ROWS)],
    ],
)
def test_digest_separates_what_normalize_rows_separates(rows):
    assert normalize_rows(COLS, rows) != normalize_rows(COLS, ROWS)
    assert digest(COLS, rows) != digest(COLS, ROWS)


def test_digest_of_empty_result_keeps_columns_and_count():
    assert digest(COLS, []) == digest(list(reversed(COLS)), [])
    assert digest(COLS, []) != digest(COLS, ROWS[:1])
    assert digest(COLS, []) != digest(["a", "b"], [])


def test_digest_equal_where_normalize_rows_equal():
    # -0.0 and 0.0 normalize alike, as do NaNs
    a = [(0.0, "z", 1), (float("nan"), "n", 2)]
    b = [(-0.0, "z", 1), (float("nan"), "n", 2)]
    assert normalize_rows(COLS, a) == normalize_rows(COLS, b)
    assert digest(COLS, a) == digest(COLS, b)


@pytest.mark.parametrize(
    "n, index, pct",
    [
        (11, 0, 100 / 11),  # exactly ten samples above the smallest
        (20, 9, 50.0),
        (29, 18, 100 * 19 / 29),
        (100, 89, 90.0),
        (1000, 989, 99.0),
    ],
)
def test_tail_keeps_ten_samples_beyond(n, index, pct):
    xs = [float(i) for i in range(n)]
    random.Random(n).shuffle(xs)
    value, got_pct = tail(xs)
    assert value == float(index)
    assert sum(x > value for x in xs) == 10
    assert got_pct == pytest.approx(pct)


@pytest.mark.parametrize("n", [1, 5, 10])
def test_tail_without_ten_beyond_is_the_unresolved_maximum(n):
    assert tail([float(i) for i in range(n)]) == (float(n - 1), 100.0)


def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "op": 0}


def test_self_time_subtracts_direct_children_once():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "query.build", 0.0, 4.0, 0),
        _span(2, "catalog.load_table", 0.5, 1.5, 1),
        _span(3, "catalog.load_table", 1.0, 2.0, 1),  # overlaps span 2
        _span(4, "dedup.connected_components", 2.5, 3.0, 1),
        _span(5, "query.exec", 4.0, 9.0, 0),
        _span(6, "stray", 9.5, 12.0, 0),  # only 9.5-10 lies inside the op
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 5.0 - 0.5)
    assert st[1] == pytest.approx(4.0 - 1.5 - 0.5)
    assert st[2] == pytest.approx(1.0)  # leaves keep their whole duration
    assert st[5] == pytest.approx(5.0)


def test_layer_totals_sum_calls_time_and_self_time():
    spans = [
        _span(0, "op", 0.0, 3.0),
        _span(1, "query.build", 0.0, 2.0, 0),
        _span(2, "catalog.load_table", 0.0, 0.5, 1),
        _span(3, "op", 3.0, 4.0),
        _span(4, "query.build", 3.0, 3.5, 3),
        _span(5, "catalog.load_table", 3.0, 3.25, 4),
    ]
    t = layer_totals(spans)
    assert t["op"]["calls"] == 2
    assert t["catalog.load_table"] == {"calls": 2, "total_s": 0.75, "self_s": 0.75}
    assert t["query.build"]["total_s"] == pytest.approx(2.5)
    assert t["query.build"]["self_s"] == pytest.approx(2.5 - 0.75)
