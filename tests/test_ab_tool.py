"""``tools/ab.py``'s verdict rule, on made-up run values (no Spark, no
perfbench run)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "ab", Path(__file__).resolve().parent.parent / "tools" / "ab.py"
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

BASE = [10.0, 11.0, 12.0, 10.0, 11.0]


def _verdict(change, better="lower", bound=0.25, base=BASE):
    return ab.verdict(base, change, list(zip(base, change)), better, bound)


def test_identical_runs_are_the_same():
    v = _verdict(BASE)
    assert v["verdict"] == "same" and v["ratio"] == 1.0 and v["wins"] == 0


def test_worse_past_the_bound():
    assert _verdict([14.0] * 5)["verdict"] == "worse"          # +27% on lower-is-better
    assert _verdict([8.0] * 5, better="higher")["verdict"] == "worse"
    assert _verdict([13.0] * 5)["verdict"] != "worse"          # +18%, inside 0.25


def test_better_needs_nine_tenths_of_pairs_and_the_base_spread():
    v = _verdict([8.0, 8.0, 9.0, 8.0, 8.0])
    assert v["verdict"] == "better" and v["wins"] == 5
    # one lost pair of five is below nine tenths
    assert _verdict([8.0, 8.0, 13.0, 8.0, 8.0])["verdict"] == "same"


def test_wide_base_spread_is_unresolved():
    base = [5.0, 10.0, 20.0, 10.0, 5.0]
    v = _verdict([10.0] * 5, base=base)
    assert v["base_spread"] > 0.25 and v["verdict"] == "unresolved"
