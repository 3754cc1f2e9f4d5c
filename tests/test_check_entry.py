"""``scripts/check_entry.py``'s cell canonicalizer fails closed with
``NonScalarCell`` on every value the hash gate cannot certify."""

import importlib.util
import os
from decimal import Decimal

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "check_entry.py")
_spec = importlib.util.spec_from_file_location("check_entry", _PATH)
check_entry = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_entry)


@pytest.mark.parametrize("text", ["NaN", "sNaN", "Infinity", "-Infinity"])
def test_non_finite_decimal_is_non_scalar(text):
    with pytest.raises(check_entry.NonScalarCell, match="non-finite decimal"):
        check_entry.canon(Decimal(text))


def test_decimal_range():
    assert check_entry.canon(Decimal("12.50")) == "12.50"
    with pytest.raises(check_entry.NonScalarCell, match="int64 range"):
        check_entry.canon(Decimal(2**63))


def test_rows_only_line_reports_value_hash():
    cols, rows = ["id_a", "id_b"], [(2, "b"), (1, None)]
    line = check_entry.rows_only_line("minhash_pairs", cols, rows)
    assert line.split() == [
        "minhash_pairs", "rows-only:", "2", "rows",
        "hash=" + check_entry.value_hash(cols, rows),
    ]
    # insensitive to row and column order, like the hashed gate
    assert check_entry.rows_only_line("minhash_pairs", cols, rows[::-1]) == line
    swapped = [(b, a) for a, b in rows]
    assert check_entry.rows_only_line("minhash_pairs", cols[::-1], swapped) == line
    with pytest.raises(check_entry.NonScalarCell):
        check_entry.rows_only_line("q", ["sig"], [([1, 2],)])
