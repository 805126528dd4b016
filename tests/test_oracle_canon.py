"""The dtype-class-strict value canonicalization in tools/check_oracle
is load-bearing infrastructure (it is what caught the HUGEINT, DECIMAL
and tie-ordering divergences in r3) — pin its rendering rules."""

import importlib.util
import os
import sys

import numpy as np
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location(
    "check_oracle", os.path.join(REPO, "tools", "check_oracle.py")
)
co = importlib.util.module_from_spec(spec)
sys.modules["check_oracle"] = co
spec.loader.exec_module(co)


def one(v):
    return co.canon(pd.DataFrame({"c": [v]})).iloc[0, 0]


def test_integral_float_keeps_float_class():
    assert one(np.float64(150.0)) == "150.0"
    assert one(150) == "150"
    assert one(np.int64(150)) == "150"
    # the r1/r2 driver failure shape: these MUST differ
    assert one(np.float64(150.0)) != one(np.int64(150))


def test_fractional_float_unchanged():
    assert one(0.25) == "0.25"
    assert one(np.float64(-3.5)) == "-3.5"


def test_int_width_is_invisible():
    assert one(np.int32(7)) == one(np.int64(7)) == "7"


def test_null_and_nan_collapse():
    assert one(None) == "<null>"
    assert one(float("nan")) == "<null>"


def test_ten_sig_figs_tolerance_for_floats():
    # value tolerance stays: 17-digit noise collapses at 10 sig figs
    assert one(0.1 + 0.2) == one(0.3)


def test_compare_flags_int_float_mismatch():
    a = pd.DataFrame({"s": [6]})
    b = pd.DataFrame({"s": [6.0]})
    assert co.compare("t", a, b)  # errors expected
    assert not co.compare("t", a, a.copy())


def test_compare_is_row_order_insensitive():
    a = pd.DataFrame({"k": [1, 2], "v": ["x", "y"]})
    b = pd.DataFrame({"k": [2, 1], "v": ["y", "x"]})
    assert not co.compare("t", a, b)


def test_expected_divergent_set_matches_entry_probes():
    sys.path.insert(0, REPO)
    import __spark_entry__ as M

    qs = set(M.queries())
    assert co.EXPECTED_DIVERGENT <= qs
    assert all(q.startswith("probe_") for q in co.EXPECTED_DIVERGENT)
