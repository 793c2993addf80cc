"""tools/sfgen.py guards: replica text stays distinct and key shifts never wrap."""

import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import sfgen  # noqa: E402


def test_mult_past_the_caesar_period_is_refused(monkeypatch, tmp_path):
    """Replica 26's rotation is the identity, so --mult 27 would repeat
    replica 0's text; the generator refuses before reading anything."""
    monkeypatch.setattr(sys, "argv", ["sfgen.py", "--mult", "27",
                                      "--src", str(tmp_path / "missing"),
                                      "--out", str(tmp_path / "out")])
    with pytest.raises(ValueError, match="between 1 and 26"):
        sfgen.main()
    assert not (tmp_path / "out").exists()
    # every replica the generator accepts gets its own text
    texts = {"Hello, world"} | {"Hello, world".translate(sfgen._caesar_table(r))
                                for r in range(1, 26)}
    assert len(texts) == 26


def test_key_shift_overflow_raises():
    col = pa.chunked_array([[1, 2**31 - 2]], type=pa.int32())
    assert sfgen._shift(col, 1).to_pylist() == [2, 2**31 - 1]
    with pytest.raises(pa.ArrowInvalid):
        sfgen._shift(col, 2)
