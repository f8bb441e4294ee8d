import decimal

import numpy as np

import gen
import oracle


def _events():
    return gen._events(
        order_id=[1, 1, 2, 3, 3],
        op=["c", "u", "c", "c", "d"],
        customer_id=[7, 7, 8, 9, 9],
        amount_cents=[1000, 1250, 500, 300, 300],
        ts_us=[0, 0, 0, 0, 0],
        batch_id=[0, 0, 0, 0, 0],
        lsn=[17, 21, 33, 49, 57],
    )


def test_latest_per_key_keeps_newest_and_drops_deletes():
    t = oracle.latest_per_key(gen.events_arrow(_events()))
    rows = sorted(zip(t["order_id"].to_pylist(), t["amount"].to_pylist()))
    assert rows == [(1, decimal.Decimal("12.50")), (2, decimal.Decimal("5.00"))]


def test_one_perturbed_row_is_flagged():
    expected = oracle.latest_per_key(gen.events_arrow(_events()))
    assert oracle.row_differences(expected, expected) == 0
    bad = _events()
    bad["amount_cents"] = np.array([1000, 1251, 500, 300, 300])
    actual = oracle.latest_per_key(gen.events_arrow(bad))
    # the expected version is missing and the wrong one is extra
    assert oracle.row_differences(expected, actual) == 2


def test_query_rows_compare_exactly():
    cols = ["k", "v"]
    rows = [(1, 0.1), (2, 0.2)]
    assert oracle.same_rows(cols, rows, ["v", "k"], [(0.2, 2), (0.1, 1)])
    assert not oracle.same_rows(cols, rows, cols, [(1, 0.1), (2, 0.2000001)])
    assert not oracle.same_rows(cols, rows, cols, rows[:1])
