"""Pins for the bench regression gate's three-class protocol and the
per-segment probe interpolation (VERDICT r11 #2 + ADVICE r11): the
r11 gate's two failure modes — 14 false flags on sub-second rows
under a mid-run box-speed step change, and a global nominal floor
masking compute-bound regressions on a faster box — are each pinned
here as a concrete scenario.
"""

from __future__ import annotations

# the repo root is on sys.path via tests/conftest.py
from bench import gate_row, probe_series_unit


def test_overhead_bound_rows_exempt():
    """The r11 drifting-box scenario: a 0.2s row measured at nominal
    1.3 with the probe unit collapsed mid-run — sub-half-second in
    both rounds means box dispersion exceeds any signal, so the row
    is exempt, never flagged."""
    assert gate_row(0.26, 0.2, norm=2.0, nominal=1.3) == "exempt_overhead_bound"
    # but a row that GREW past the floor is not exempt
    assert gate_row(0.8, 0.3, norm=2.6, nominal=2.6) == "flagged"


def test_compute_bound_flags_on_normalized_alone():
    """ADVICE r11: a query 40% slower on a 40% faster box shows
    nominal ~0.93 — the old global nominal>1.1 floor masked it.
    Compute-bound rows scale with box speed, so normalized alone
    decides — a nominally-improved row inside the drift band
    (1.25 < norm <= NORM_HARD_BAR) self-adjudicates instead of
    flagging (VERDICT r13 #3), but ADVICE r14 re-bounds that: past
    the hard bar the nominal improvement can no longer be probe
    drift (r13's drift flags sat at 1.26-1.41), so the row flags
    regardless of nominal — the masked-regression scenario the
    normalized column was introduced for."""
    # in-band drift on a nominally-improved row: self-adjudicates
    assert (
        gate_row(4.2, 4.5, norm=1.38, nominal=0.93)
        == "auto_adjudicated_nominal_improved"
    )
    # the r13 motivating example (norm 1.55 / nominal 0.93) is PAST
    # the hard bar — ADVICE r14 flips it back to flagged: a 55%
    # normalized slowdown is a real regression on a faster box, not
    # drift
    assert gate_row(4.2, 4.5, norm=1.55, nominal=0.93) == "flagged"
    # a normalized-only flag with nominal WORSE-or-flat still flags
    assert gate_row(4.6, 4.5, norm=1.55, nominal=1.02) == "flagged"
    assert gate_row(4.2, 4.5, norm=1.2, nominal=0.93) == "ok"


def test_mid_rows_need_both_conditions():
    """Partially overhead-bound rows (0.5-2s) don't fully track box
    speed: a faster box must not manufacture flags out of unchanged
    nominal times (r11: nine rows at nominal 0.94-1.29 flagged
    purely by probe unit 0.74)."""
    assert gate_row(1.0, 1.05, norm=1.35, nominal=0.95) == "ok"
    assert gate_row(1.5, 1.0, norm=1.5, nominal=1.5) == "flagged"
    assert gate_row(1.2, 1.1, norm=1.3, nominal=1.09) == "ok"


def test_probe_series_interpolation_models_step_change():
    """A mid-run speed step (0.2 -> 0.44 between rows 16 and 24) must
    not contaminate rows measured before it — the r11 two-endpoint
    model spread the step over every row."""
    series = [
        {"at_row": 0, "sec": 0.2},
        {"at_row": 8, "sec": 0.2},
        {"at_row": 16, "sec": 0.2},
        {"at_row": 24, "sec": 0.44},
        {"at_row": 32, "sec": 0.44},
    ]
    # rows inside the flat-fast region read the fast unit exactly
    assert probe_series_unit(series, 4) == 0.2
    assert probe_series_unit(series, 12) == 0.2
    # rows after the step read the slow unit
    assert probe_series_unit(series, 28) == 0.44
    # inside the step segment: linear between the brackets
    mid = probe_series_unit(series, 19)  # x=19.5 between 16 and 24
    assert 0.2 < mid < 0.44
    # clamped at the edges
    assert probe_series_unit(series, -5) == 0.2
    assert probe_series_unit(series, 100) == 0.44


def test_probe_series_two_point_backcompat():
    """r11-and-earlier artifacts carry only endpoint probes — a
    synthesized 2-point series must reproduce the old linear-by-
    position behavior."""
    series = [{"at_row": 0, "sec": 0.2}, {"at_row": 50, "sec": 0.4}]
    u = probe_series_unit(series, 24)  # x=24.5 of 50 -> 49%
    assert abs(u - (0.2 + 0.49 * 0.2)) < 1e-9


def test_cross_round_shift_decomposition():
    """Round 15: the r15 battery flagged six rows across six
    unrelated families, all sharing one ~1.2x box-state shift the
    matmul probe read backwards — the registry-median estimator must
    absorb the uniform component (one global flag) and leave genuine
    outliers flagged."""
    from bench import cross_round_shift, gate_row

    # 20 rows uniformly 1.2x slower (box), one row genuinely 2.2x
    rows = {
        f"q{i}": {"nominal_ratio": 1.2, "normalized_ratio": 1.3}
        for i in range(20)
    }
    rows["bad"] = {"nominal_ratio": 2.2, "normalized_ratio": 2.4}
    s = cross_round_shift(rows)
    assert s["global_shift_flagged"] is True  # 1.2 > 1.15: one item
    assert s["nominal_divisor"] == 1.2 and s["normalized_divisor"] == 1.3
    # the uniform rows gate clean after correction...
    assert (
        gate_row(3.6, 3.0, norm=1.3 / 1.3, nominal=1.2 / 1.2) == "ok"
    )
    # ...the outlier still flags (corrected norm 1.85 > hard bar)
    assert (
        gate_row(6.6, 3.0, norm=2.4 / 1.3, nominal=2.2 / 1.2) == "flagged"
    )


def test_cross_round_shift_fast_box_not_corrected():
    """A uniformly FASTER box (median < 1) must not inflate ratios of
    rows that cannot track box speed: divisors clamp at 1.0, and no
    global flag (improvement needs no judge)."""
    from bench import cross_round_shift

    rows = {
        f"q{i}": {"nominal_ratio": 0.8, "normalized_ratio": 0.9}
        for i in range(15)
    }
    s = cross_round_shift(rows)
    assert s["nominal_divisor"] == 1.0 and s["normalized_divisor"] == 1.0
    assert s["global_shift_flagged"] is False
    assert s["median_nominal"] == 0.8


def test_cross_round_shift_small_sample_no_correction():
    from bench import cross_round_shift

    rows = {
        f"q{i}": {"nominal_ratio": 1.4, "normalized_ratio": 1.4}
        for i in range(5)
    }
    s = cross_round_shift(rows)
    assert s["nominal_divisor"] == 1.0 and s["normalized_divisor"] == 1.0
    assert s["global_shift_flagged"] is False
    assert s["n_rows"] == 5


def test_stdout_line_is_allowlisted_and_bounded():
    """Round 16: the driver captures a bounded tail of stdout, and the
    unbounded compact line truncated the r13/r14 artifacts mid-JSON
    (`parsed: null`), destroying two rounds of prev/now comparison.
    The stdout line is now built from an explicit allowlist that
    excludes every unbounded/growing block (trials, probe series,
    shift decomposition, gate prose, per-family subtotals), and a
    representative payload must stay well inside a 3 KB window while
    keeping the driver-contract keys."""
    import json

    from bench import STDOUT_KEYS

    for heavy in (
        "trials",
        "normalized_vs_prev",
        "cpu_probe_series",
        "cross_round_shift",
        "regression_gate",
        "family_subtotals",
        "auto_adjudicated_nominal_improved",
    ):
        assert heavy not in STDOUT_KEYS, heavy
    for required in ("metric", "value", "unit", "queries", "sf"):
        assert required in STDOUT_KEYS, required
    # representative sizes: 23 headline + 29 registry rows at real
    # name lengths, plus the numeric replay split the line carries
    payload = {
        "metric": "headline_queries_total",
        "value": 21.8699,
        "unit": "sec",
        "queries": {f"session_event_attribution_{i:02d}": 1.0397 for i in range(23)},
        "shared_r02_subtotal": 17.7793,
        "registry_queries": {
            f"order_fulfillment_full_outer_{i:02d}": 1.8885 for i in range(29)
        },
        "full_registry_total": 55.9986,
        "ingest_events_per_sec": 64308.0,
        "corpus_prep_docs_per_sec": 462.9,
        "cpu_probe_sec_start": 0.403,
        "cpu_probe_sec_end": 0.361,
        "flagged_normalized_gt_1_25": ["dedup_clusters", "dedup_minhash_lsh"],
        "context": "closing_battery",
        "sf": 0.1,
    }
    compact = {k: payload[k] for k in STDOUT_KEYS if k in payload}
    compact["incremental_replay_split"] = {
        "total_sec": 14.6606,
        "harness_sec": 11.9187,
        "operator_sec": 2.7419,
        "n_days": 30,
    }
    compact["full_detail_file"] = "BENCH_local.json"
    assert len(json.dumps(compact)) < 3000
