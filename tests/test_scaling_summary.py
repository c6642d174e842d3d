"""Unit pins for the scaling-gate summary math (scripts/run_scaling.py).

The gate's headline efficiency is the MEDIAN over per-rep interleaved
pairs — each pair is temporally adjacent, so its ratio is immune to the
shared host's between-window drift, which the cross-rep-best ratio is not
(observed failure mode: one level's best and the other's land in different
windows and the ratio measures the neighbors).
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from run_scaling import (  # noqa: E402
    _gate_pass, _median, _pair_efficiencies, _pick_best,
)


def _rep(thr, order=1, seen=2):
    return {
        "urls_per_sec": thr,
        "elapsed_sec": 1000.0 / thr,
        "order_checksum": order,
        "seen_checksum": seen,
    }


def test_pair_efficiencies_are_per_rep_ratios():
    small = [_rep(8252.1), _rep(7739.8), _rep(9135.0)]
    large = [_rep(28058.8), _rep(25799.6), _rep(24835.6)]
    assert _pair_efficiencies(small, large, 4.0) == [0.85, 0.833, 0.68]


def test_median_odd_and_even():
    assert _median([0.85, 0.833, 0.68]) == 0.833
    assert _median([0.85, 0.833]) == round((0.85 + 0.833) / 2, 3)
    assert _median([0.7]) == 0.7


def test_anticorrelated_drift_does_not_leak_into_headline():
    """The exact shape that motivated the metric: large declines across
    reps while small peaks on the last rep. Every adjacent pair is >= 0.83
    but the cross-rep-best ratio reads 0.768 — the median keeps the
    controlled pairs and the detail block keeps the bests."""
    small = [_rep(8252.1), _rep(7739.8), _rep(9135.0)]
    large = [_rep(28058.8), _rep(25799.6), _rep(24835.6)]
    pairs = _pair_efficiencies(small, large, 4.0)
    assert _median(pairs) >= 0.8
    best_s, best_l = _pick_best(small), _pick_best(large)
    cross = best_l["urls_per_sec"] / (4.0 * best_s["urls_per_sec"])
    assert cross < 0.8  # the artifact the old metric would have reported


def test_pick_best_asserts_determinism():
    import pytest

    reps = [_rep(100.0), _rep(110.0, order=999)]
    with pytest.raises(AssertionError):
        _pick_best(reps)


def test_gated_pass_reads_the_gated_median():
    """Under --disk-gate the filed ``pass`` follows the pre-registered
    headline (the gated median), not the ungated one, in both directions;
    a window with no qualifying pair cannot pass."""
    assert _gate_pass(True, 0.82, 0.78, 600.0) is False
    assert _gate_pass(True, 0.78, 0.82, 600.0) is True
    assert _gate_pass(True, 0.82, None, 600.0) is False
    assert _gate_pass(True, 0.82, None, None) is True  # no gate: ungated median
    assert _gate_pass(False, 0.9, 0.9, 600.0) is False  # determinism first
