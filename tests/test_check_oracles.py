"""The oracle-parity hash in tools/check_oracles.py (no Spark)."""
from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

_PATH = Path(__file__).resolve().parents[1] / "tools" / "check_oracles.py"
_spec = importlib.util.spec_from_file_location("check_oracles", _PATH)
check_oracles = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracles)


def test_value_hash_separates_embedded_separators():
    # the same bytes split differently across cells: with joining
    # separators instead of length prefixes these collided
    a = [("a\x01", "b")]
    b = [("a", "\x01b")]
    assert check_oracles.value_hash(a) != check_oracles.value_hash(b)
    c = [("x\x01\x02y",)]
    d = [("x",), ("y",)]
    assert check_oracles.value_hash(c) != check_oracles.value_hash(d)


def test_value_hash_is_order_canonical():
    cols, rows = ["b", "a"], [(2, "z"), (1, None)]
    h = check_oracles.value_hash(check_oracles.canonical_rows(cols, rows))
    assert h == check_oracles.value_hash(
        check_oracles.canonical_rows(cols, list(reversed(rows))))


@pytest.mark.parametrize("other, text", [
    (None, "\x00NULL"),   # NULL and the string its form used to be
    ([1, 2], "[1,2]"),    # a list and its bracketed rendering
])
def test_string_cells_never_equal_other_types(other, text):
    def h(v):
        return check_oracles.value_hash(
            check_oracles.canonical_rows(["c"], [(v,)]))
    assert h(other) != h(text)


def test_int_and_decimal_cells_stay_equal():
    from decimal import Decimal

    rows = check_oracles.canonical_rows
    assert rows(["c"], [(3,)]) == rows(["c"], [(Decimal("3.00"),)])
