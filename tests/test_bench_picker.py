"""Bench record and summary-line unit tests (no Spark).

``bench._record`` turns one run's measurements into the full record:
calib_s is the run's fastest steady probe sample and every calibrated
figure is scaled by ``STEADY_ANCHOR_S / calib_s``.  ``_make_summary``
cuts that record down to the short last stdout line that parsers read.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import STEADY_ANCHOR_S, _make_summary, _record  # noqa: E402


def _mk(calib_samples, n_failed=0):
    q = {f"q{i}": 1.0 for i in range(10)}
    for i in range(n_failed):
        q[f"q{i}"] = -1.0
    r = _record(q, calib_samples, [2.1, 2.3])
    r.update(sf=0.1)
    return r


def test_summary_line_carries_full_queries_map():
    # Driver contract (r14, VERDICT r13 item 2): the one-line summary
    # must carry a "queries" {name: sec} map covering EVERY timed
    # query, or the driver's per_query/scaling analysis comes back
    # empty.  Existing fields stay.
    s = _make_summary(_mk([0.23, 0.21]))
    assert s["queries"] == {f"q{i}": 1.0 for i in range(10)}
    for field in (
        "metric", "value", "value_calibrated", "value_production",
        "unit", "sf", "calib_s", "n_queries", "n_failed", "slowest",
    ):
        assert field in s
    assert s["n_queries"] == 10 and s["n_failed"] == 0


def test_calibration_divides_by_the_runs_steady_probe():
    r = _mk([0.31, 0.26], n_failed=2)
    s = _make_summary(r)
    assert s["calib_s"] == 0.26 and s["calib_jobs_s"] == 2.1
    assert s["value"] == 8.0  # failed queries contribute no time
    assert s["value_calibrated"] == round(s["value"] * STEADY_ANCHOR_S / 0.26, 3)
    assert s["value_production_calibrated"] == round(
        s["value_production"] * STEADY_ANCHOR_S / 0.26, 3
    )
    assert s["n_runs"] == s["picked_run"] == 1
    assert s["n_failed"] == 2 and s["failed"] == ["q0", "q1"]


def test_zero_probe_leaves_calibrated_values_unset():
    s = _make_summary(_mk([0.0, 0.0]))
    assert s["calib_s"] == 0.0
    assert s["value_calibrated"] is None
    assert s["value_production_calibrated"] is None
