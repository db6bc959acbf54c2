"""Contract tests for the shared recall-autotune core
(``operators/recall_tune.py``) — the one walk engine both index
families adapt (VERDICT r10 #3).  Pure driver-side control flow, so
these run without a SparkSession; each family's adapter is exercised
live by its own autotune tests (tests/test_dedup_index.py)."""

import pytest

from data_engineering_user_session_analysis_spark.operators.recall_tune import (
    autotune_walk,
    solve_then_ladder,
)


def _fake_family(recalls, loads=None):
    """A deterministic fake family: measure() pops the next recall;
    apply() records geometries; next() doubles a single knob."""
    trace = {"applied": [], "measured": 0}
    seq = list(recalls)

    def measure(cost):
        i = trace["measured"]
        trace["measured"] += 1
        return {"knob": 2 ** i, "recall": seq[min(i, len(seq) - 1)],
                "cost": cost}

    def nxt(cur):
        return {"knob": cur["knob"] * 2}

    def apply(geom):
        trace["applied"].append(dict(geom))
        return 1.5

    return measure, nxt, apply, trace


def test_walk_measures_first_and_stops_on_target():
    measure, nxt, apply, trace = _fake_family([0.5, 0.7, 0.95])
    out = autotune_walk(
        measure=measure, recall_key="recall", recall_target=0.9,
        max_steps=10, next_geometry=nxt, apply_geometry=apply,
    )
    assert out["met"] is True and not out["exhausted"]
    assert len(out["steps"]) == 3 and trace["applied"] == [
        {"knob": 2}, {"knob": 4},
    ]
    # the first step is the stored state: its cost is None
    assert out["steps"][0]["cost"] is None
    assert out["steps"][1]["cost"] == 1.5


def test_walk_healthy_index_never_acts():
    measure, nxt, apply, trace = _fake_family([0.99])
    out = autotune_walk(
        measure=measure, recall_key="recall", recall_target=0.9,
        max_steps=10, next_geometry=nxt, apply_geometry=apply,
    )
    assert out["met"] is True and len(out["steps"]) == 1
    assert trace["applied"] == []


def test_walk_vacuous_sample_refuses_to_act():
    measure, nxt, apply, trace = _fake_family([None, 0.99])
    out = autotune_walk(
        measure=measure, recall_key="recall", recall_target=0.9,
        max_steps=10, next_geometry=nxt, apply_geometry=apply,
    )
    assert out["met"] is None and len(out["steps"]) == 1
    assert trace["applied"] == [] and not out["exhausted"]


def test_walk_exhausts_when_ladder_is_out_of_moves():
    measure, _, apply, trace = _fake_family([0.5, 0.6])
    out = autotune_walk(
        measure=measure, recall_key="recall", recall_target=0.9,
        max_steps=10, next_geometry=lambda cur: None,
        apply_geometry=apply,
    )
    assert out["met"] is False and out["exhausted"]
    assert len(out["steps"]) == 1 and trace["applied"] == []


def test_walk_respects_step_budget():
    measure, nxt, apply, trace = _fake_family([0.1, 0.2, 0.3, 0.4, 0.5])
    out = autotune_walk(
        measure=measure, recall_key="recall", recall_target=0.9,
        max_steps=3, next_geometry=nxt, apply_geometry=apply,
    )
    assert len(out["steps"]) == 3 and out["met"] is False
    assert not out["exhausted"]  # budget, not ladder exhaustion


def test_candidate_load_gate_blocks_load_increasing_move():
    """ADVICE r10: a next geometry whose expected candidate load
    exceeds the ceiling AND the current load must stop the walk with
    the refused geometry named."""
    measure, nxt, apply, trace = _fake_family([0.5, 0.6])
    out = autotune_walk(
        measure=measure, recall_key="recall", recall_target=0.9,
        max_steps=10, next_geometry=nxt, apply_geometry=apply,
        candidate_load=lambda g: float(g["knob"]),
        max_candidate_load=1.5,
    )
    assert out["exhausted"] and out["met"] is False
    assert trace["applied"] == []
    gate = out["stopped_on_candidate_load"]
    assert gate == {
        "geometry": {"knob": 2},
        "expected_candidate_load": 2.0,
        "max_candidate_load": 1.5,
    }


def test_candidate_load_gate_never_blocks_load_reducing_moves():
    """A ladder that STARTS above the ceiling must still be allowed
    to walk down — only load-increasing moves past the ceiling stop."""
    measure, _, apply, trace = _fake_family([0.5, 0.95])
    out = autotune_walk(
        measure=measure, recall_key="recall", recall_target=0.9,
        max_steps=10,
        next_geometry=lambda cur: {"knob": cur["knob"] // 2},
        apply_geometry=apply,
        candidate_load=lambda g: 100.0 + g["knob"],
        max_candidate_load=1.0,
    )
    assert out["met"] is True and trace["applied"] == [{"knob": 0}]
    assert out["stopped_on_candidate_load"] is None


def test_solve_then_ladder_policy():
    """The shared rebuild-family escalation: solve jump when its
    prediction beats current, then widen primary to its cap, then
    shed secondary to its floor, then None (exhausted)."""
    solve = lambda: {"tables": 8, "planes": 12}
    pred = lambda g: 1.0 - (1.0 - 0.9 ** g["planes"]) ** g["tables"]
    nxt = solve_then_ladder(
        solve=solve, predicted=pred,
        primary_key="tables", primary_max=16,
        secondary_key="planes", secondary_min=10,
        widen_primary=lambda t: 2 * t,
        shrink_secondary=lambda p: p - 1,
    )
    # solve beats a starved current geometry -> jump
    assert nxt({"tables": 1, "planes": 16}) == {"tables": 8, "planes": 12}
    # solve no better -> double primary toward the cap
    assert nxt({"tables": 8, "planes": 12}) == {"tables": 16, "planes": 12}
    # primary capped -> shed secondary toward the floor
    assert nxt({"tables": 16, "planes": 12}) == {"tables": 16, "planes": 11}
    # both pinned -> out of moves
    assert nxt({"tables": 16, "planes": 10}) is None
