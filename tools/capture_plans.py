#!/usr/bin/env python
"""Write PLANFEATURES.json: the plan-feature ledger of the registry.

Usage: python tools/capture_plans.py

For every ``QUERIES`` row, on the sf0.001 fixture the tests use, it
records ``plans.audit.plan_features``: ``{jobs, exchanges, windows,
joins, scans}``.  ``tests/test_plan_features.py`` recomputes each
vector and fails when any count exceeds its entry, so a change that
lowers a count commits the lower ledger as its proof.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from data_engineering_user_session_analysis_spark import get_spark
    from data_engineering_user_session_analysis_spark.plans.audit import plan_features
    from data_engineering_user_session_analysis_spark.queries import QUERIES
    from tests.conftest import SF_SMALL

    spark = get_spark("capture_plans")
    rows = {}
    for name in sorted(QUERIES):
        rows[name] = plan_features(spark, lambda: QUERIES[name](spark, SF_SMALL))
        print(name, rows[name], flush=True)
    ledger = {"scale": os.path.basename(SF_SMALL), "rows": rows}
    with open(os.path.join(REPO, "PLANFEATURES.json"), "w") as f:
        json.dump(ledger, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
