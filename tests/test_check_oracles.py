"""tools/check_oracles.py: canonicalization edge cases must end in a
per-gate verdict, never in an exception that stops the whole check."""

import importlib.util
import os

import pandas as pd

_spec = importlib.util.spec_from_file_location(
    "check_oracles",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "check_oracles.py"),
)
check_oracles = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracles)


def _ts(tz=None):
    s = pd.Series(pd.to_datetime(["2024-01-02 03:04:05", "2024-01-01 00:00:00"]))
    return (s.dt.tz_localize(tz) if tz else s).dt.as_unit("us")


def test_nullable_int_with_na_is_canonicalized():
    df = pd.DataFrame({"n": pd.array([3, None, 1], dtype="Int32")})
    out = check_oracles.canon(df)
    assert str(out["n"].dtype) == "Int64"
    assert out["n"].isna().tolist() == [True, False, False]
    assert out["n"].dropna().tolist() == [1, 3]


def test_tz_aware_datetime_is_canonicalized():
    out = check_oracles.canon(pd.DataFrame({"t": _ts("UTC")}))
    assert str(out["t"].dtype) == "datetime64[ns, UTC]"
    assert out["t"].iloc[0] == pd.Timestamp("2024-01-01", tz="UTC")


def test_edge_dtypes_give_per_gate_verdicts(capsys):
    nullable = pd.DataFrame({"n": pd.array([1, None], dtype="Int64")})
    assert check_oracles.check_gate("same_nullable", nullable, nullable.copy())
    as_float = pd.DataFrame({"n": [1.0, float("nan")]})
    assert not check_oracles.check_gate("int_vs_float", nullable, as_float)
    aware, naive = pd.DataFrame({"t": _ts("UTC")}), pd.DataFrame({"t": _ts()})
    assert check_oracles.check_gate("same_tz", aware, aware.copy())
    assert not check_oracles.check_gate("tz_skew", aware, naive)
    out = capsys.readouterr().out
    assert "[OK] same_nullable" in out and "[OK] same_tz" in out
    assert "[FAIL-VALUES] int_vs_float" in out and "[FAIL-VALUES] tz_skew" in out
