"""The benchmark's statistics and output checks.

Run: ``python -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from perfbench import checks, gen


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = checks.tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for x in xs if x > value) == 10

    xs = [float(i) for i in range(1, 1001)]
    value, pct, _ = checks.tail(xs)
    assert value == 990.0 and pct == pytest.approx(99.0)

    # order does not matter; ties count as beyond only when larger
    value, pct, n = checks.tail([5.0] * 15 + [1.0] * 5)
    assert (value, n) == (5.0, 20) and pct == 50.0


def test_tail_with_too_few_samples_is_the_maximum():
    assert checks.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert checks.tail([float(i) for i in range(10)]) == (9.0, 100.0, 10)
    value, pct, n = checks.tail([float(i) for i in range(11)])
    assert (value, n) == (0.0, 11) and pct == pytest.approx(100 / 11)


def _ledger():
    _, ledger = gen.cdr_files(4, 5, 300, 0, 250_000, "r")
    return ledger


def _correct_rows(ledger):
    return [(s, route, None if cents is None else cents / 100.0)
            for s, (route, cents) in ledger.expected.items()]


def test_cdr_check_accepts_the_ledger_itself():
    ledger = _ledger()
    assert checks.check_cdr_output(_correct_rows(ledger), ledger) == []


@pytest.mark.parametrize("plant", ["charge", "route", "duplicate", "missing", "unknown"])
def test_cdr_check_rejects_a_planted_wrong_row(plant):
    ledger = _ledger()
    rows = _correct_rows(ledger)
    i = next(i for i, r in enumerate(rows) if r[2] is not None)
    s, route, charge = rows[i]
    if plant == "charge":
        rows[i] = (s, route, round(charge + 0.01, 2))
    elif plant == "route":
        rows[i] = (s, "sms" if route != "sms" else "mms", charge)
    elif plant == "duplicate":
        rows.append(rows[i])
    elif plant == "missing":
        del rows[i]
    else:
        rows.append((10**12, route, charge))
    assert checks.check_cdr_output(rows, ledger)


def test_table_hash_ignores_row_and_column_order():
    a = pa.table({"x": [1, 2, 3], "y": ["a", "b", None]})
    b = pa.table({"y": [None, "a", "b"], "x": [3, 1, 2]})
    assert checks.table_hash(a) == checks.table_hash(b)
    c = pa.table({"x": [1, 2, 3], "y": ["a", "b", "c"]})
    assert checks.table_hash(a) != checks.table_hash(c)
    # NaN and NULL differ
    assert checks.table_hash(pa.table({"f": [float("nan")]})) != \
        checks.table_hash(pa.table({"f": [None]}, schema=pa.schema([("f", pa.float64())])))
