"""Shared closed-loop recall-autotune core — the one
measure → escalate → act → re-measure walk both persistent index
families run (VERDICT r10 #3: the contracts were deliberately
identical, so the engine is written once and the families plug in as
adapters):

- hyperplane vector index
  (``operators/dedup_index.py::vector_index_recall_autotune``) and
- MinHash text index
  (``operators/dedup_index.py::minhash_index_recall_autotune``).

Both actuators REBUILD FROZEN GEOMETRY: every step is a full
re-bucketing with no exact endpoint, so exhaustion with
``met=False`` is a possible, honest outcome.

The core owns the walk mechanics every family shares — the
measure-first step (a healthy index never acts), the vacuous-sample
refusal (first measured recall ``None`` → ``met=None``, no action),
the step budget, the met/exhausted accounting, and the
candidate-load ceiling (ADVICE r10: an escalation ladder that sheds
selectivity without consulting expected candidate load can land an
O(N²)-class geometry; the core prices the NEXT geometry before
acting and refuses moves past the ceiling).  Families own what
genuinely differs: how to measure, how to pick the next geometry,
how to act on it, and how to price its candidate load.

Spark-first note: the core itself is pure driver-side control flow —
all distributed work happens inside the family callbacks, which keep
the measured probes and truth passes as the bounded DataFrame jobs
documented on each sensor."""

from __future__ import annotations

from typing import Callable, Optional


def autotune_walk(
    *,
    measure: Callable[[Optional[float]], dict],
    recall_key: str,
    recall_target: float,
    max_steps: int,
    next_geometry: Callable[[dict], Optional[dict]],
    apply_geometry: Callable[[dict], Optional[float]],
    candidate_load: Optional[Callable[[dict], Optional[float]]] = None,
    max_candidate_load: Optional[float] = None,
) -> dict:
    """Run the shared escalation walk; returns ``{"steps", "met",
    "exhausted", "stopped_on_candidate_load"}`` for the family verb
    to merge into its own result shape.

    - ``measure(cost_sec)``: run the family sensor and return a step
      record (must carry ``recall_key``; geometry keys are read back
      by ``candidate_load``/``next_geometry``, so steps double as
      geometry dicts).  ``cost_sec`` is whatever ``apply_geometry``
      returned (rebuild seconds, or None for the first / cost-free
      steps) — the family decides whether to record it.
    - ``next_geometry(cur_step)``: the family's solve-then-ladder
      policy; ``None`` means the ladder is out of moves
      (``exhausted=True``).
    - ``apply_geometry(geometry)``: act (rebuild);
      returns the action's cost in seconds or ``None``.
    - ``candidate_load(geometry_or_step)``: expected per-item
      candidate count under a geometry (``None`` = unpriceable).
      With ``max_candidate_load`` set, a next geometry whose load
      exceeds the ceiling AND the current step's load stops the walk
      (``exhausted=True`` + a ``stopped_on_candidate_load`` record)
      — load-reducing moves are never blocked, so a ladder that
      starts above the ceiling can still walk down.

    ``met`` is ``True``/``False`` against ``recall_target``, or
    ``None`` when the FIRST measurement has no truth to tune against
    (vacuous sample) — in that case nothing is ever applied."""
    steps = [measure(None)]
    out: dict = {"steps": steps, "stopped_on_candidate_load": None}
    if steps[0][recall_key] is None:
        out["met"] = None
        out["exhausted"] = False
        return out
    exhausted = False
    while (
        steps[-1][recall_key] < recall_target
        and len(steps) < max_steps
        and not exhausted
    ):
        cur = steps[-1]
        nxt = next_geometry(cur)
        if nxt is None:
            exhausted = True
            break
        if candidate_load is not None and max_candidate_load is not None:
            nload = candidate_load(nxt)
            cload = candidate_load(cur)
            if (
                nload is not None
                and nload > max_candidate_load
                and (cload is None or nload > cload)
            ):
                exhausted = True
                out["stopped_on_candidate_load"] = {
                    "geometry": dict(nxt),
                    "expected_candidate_load": round(nload, 2),
                    "max_candidate_load": max_candidate_load,
                }
                break
        steps.append(measure(apply_geometry(nxt)))
    last = steps[-1]
    out["met"] = (
        None if last[recall_key] is None else last[recall_key] >= recall_target
    )
    out["exhausted"] = exhausted
    return out


def solve_then_ladder(
    *,
    solve: Callable[[], dict],
    predicted: Callable[[dict], float],
    primary_key: str,
    primary_max: int,
    secondary_key: str,
    secondary_min: int,
    widen_primary: Callable[[int], int],
    shrink_secondary: Callable[[int], int],
) -> Callable[[dict], Optional[dict]]:
    """The escalation policy the two rebuild families share, as a
    ``next_geometry`` factory: jump to the family's INVERSE solve
    whenever its prediction beats the current geometry's, else widen
    the primary knob (tables / bands) toward its cap, else shed the
    secondary knob (planes / rows) toward its floor — each shed
    multiplies the false-candidate load, which is why the ceiling
    gate in ``autotune_walk`` prices every move.  Returns ``None``
    when both knobs are pinned (exhausted)."""

    def _next(cur: dict) -> Optional[dict]:
        s = solve()
        s_geom = {primary_key: s[primary_key], secondary_key: s[secondary_key]}
        if predicted(s_geom) > predicted(cur):
            return s_geom
        if cur[primary_key] < primary_max:
            return {
                primary_key: min(widen_primary(cur[primary_key]), primary_max),
                secondary_key: cur[secondary_key],
            }
        if cur[secondary_key] > secondary_min:
            return {
                primary_key: cur[primary_key],
                secondary_key: max(
                    shrink_secondary(cur[secondary_key]), secondary_min
                ),
            }
        return None

    return _next


def walk_result(
    walk: dict, count_key: str, geom_keys: "tuple[str, ...]", **fixed
) -> dict:
    """The autotune verbs' shared result assembly: entry-corpus size
    from the FIRST step, final geometry + measured recall from the
    LAST, the full step trail, and the walk's termination flags —
    each family adds only its (count_key, geometry keys) and the
    fixed caller knobs."""
    first, last = walk["steps"][0], walk["steps"][-1]
    return {
        count_key: first[count_key],
        **fixed,
        "steps": walk["steps"],
        **{k: last[k] for k in geom_keys},
        "recall_at_threshold": last["recall_at_threshold"],
        "met": walk["met"],
        "exhausted": walk["exhausted"],
        "stopped_on_candidate_load": walk["stopped_on_candidate_load"],
    }
