"""Pins for the scaling estimator in bench.py (no Spark needed).

The scaling block's one estimator is the steal-corrected, cross-visit
two-size marginal: per leg, (big − small) / (t_big − t_small) over the
min steal-corrected times, and efficiency = min(m_4N / m_N / 4, 1).
These tests pin its definition, its collapsed-denominator guard, its
reproduction of the recorded round-5 runs, and the narrow-box guard.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import bench

SMALL, BIG = 1_000_000, 4_000_000


def test_steal_correction_and_leg_capacity_marginal():
    samples = [
        {"turns": SMALL, "sec": 30.0, "steal": 0.0},
        {"turns": BIG, "sec": 90.0, "steal": 0.5},  # corrected → 45.0
        {"turns": BIG, "sec": 70.0, "steal": 0.0},
    ]
    cap = bench._leg_capacity(samples, SMALL, BIG)
    # corrected: min corrected big = 45 → slope over 15 s
    assert abs(cap["marginal_corr"] - (BIG - SMALL) / 15.0) < 1e-9
    # raw single-size throughput: min raw big = 70
    assert abs(cap["tput_raw"] - BIG / 70.0) < 1e-9


def test_leg_capacity_guards_collapsed_denominator():
    samples = [
        {"turns": SMALL, "sec": 60.0, "steal": 0.0},
        {"turns": BIG, "sec": 61.0, "steal": 0.0},  # gap < 10% of big
    ]
    assert bench._leg_capacity(samples, SMALL, BIG)["marginal_corr"] is None
    ok = [{"turns": SMALL, "sec": 10.0, "steal": 0.0},
          {"turns": BIG, "sec": 40.0, "steal": 0.0}]
    summary = bench._scaling_summary(samples, ok, SMALL, BIG)
    assert summary["marginal_tput_n"] is None
    assert summary["efficiency"] is None


@pytest.mark.parametrize(
    "name, m_n, m_4n",
    [
        ("bench_r5_detail_run2.json", 36067.9, 153217.6),
        ("bench_r5_detail_run3.json", 32969.1, 139534.9),
    ],
)
def test_estimator_reproduces_recorded_r5_runs(name, m_n, m_4n):
    with open(os.path.join(_REPO, "docs", name)) as fh:
        rec = json.load(fh)["scaling"]
    out = bench._scaling_summary(
        rec["samples_n"], rec["samples_4n"], rec["n_turns_small"], rec["n_turns"]
    )
    assert abs(out["marginal_tput_n"] - m_n) <= 0.1
    assert abs(out["marginal_tput_4n"] - m_4n) <= 0.1
    assert out["efficiency"] == 1.0


def test_narrow_box_skips_without_starting_a_leg(monkeypatch):
    def _no_subprocess(*args, **kwargs):
        raise AssertionError("the scaling block started a subprocess")

    monkeypatch.setattr("subprocess.run", _no_subprocess)
    monkeypatch.setattr(os, "cpu_count", lambda: 4 * bench.SCALING_BASE - 1)
    rec = bench._measure_scaling()
    assert rec["efficiency"] is None and rec["skipped"]
    assert rec["cores_4n"] == 4 * bench.SCALING_BASE
