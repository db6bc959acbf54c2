"""Ratchet of the plan-feature ledger, ``PLANFEATURES.json``.

The ledger holds one ``{jobs, exchanges, windows, joins, scans}``
vector per registry row at sf0.001, written by
``tools/capture_plans.py`` through ``plans.audit.plan_features``.
This test recomputes every vector with the same function and fails
when any count exceeds its entry, or when the ledger's rows are not
exactly the registry's.  A change that lowers a count re-runs the
writer and commits the lower ledger.
"""

from __future__ import annotations

import json
from pathlib import Path

from data_engineering_user_session_analysis_spark.plans.audit import plan_features
from data_engineering_user_session_analysis_spark.queries import QUERIES

LEDGER = Path(__file__).resolve().parent.parent / "PLANFEATURES.json"
FEATURES = ("jobs", "exchanges", "windows", "joins", "scans")


def _ledger() -> dict:
    return json.loads(LEDGER.read_text())


def test_ledger_rows_are_the_registry(sf_small):
    ledger = _ledger()
    assert ledger["scale"] == Path(sf_small).name
    assert set(ledger["rows"]) == set(QUERIES)
    for name, entry in ledger["rows"].items():
        assert tuple(entry) == FEATURES, name


def test_no_row_exceeds_its_ledger_entry(spark, sf_small):
    rows = _ledger()["rows"]
    over = {}
    for name in sorted(QUERIES):
        got = plan_features(spark, lambda: QUERIES[name](spark, sf_small))
        worse = {k: (got[k], rows[name][k]) for k in FEATURES if got[k] > rows[name][k]}
        if worse:
            over[name] = worse
    assert not over, (
        f"rows above their PLANFEATURES.json entry, as feature: (now, ledger): {over}"
    )
