"""``sweep_oracle.py`` fails loud: it writes its per-row verdicts,
then exits non-zero when any row is a mismatch or a Spark error."""

from __future__ import annotations

import json
import sys

import pytest

import sweep_oracle
from data_engineering_user_session_analysis_spark import queries
from data_engineering_user_session_analysis_spark.sources.tables import load_table


def _region_keys(spark, sf_dir):
    return load_table(spark, sf_dir, "region").select("r_regionkey")


def test_sweep_exits_non_zero_on_a_mismatch(monkeypatch, sf_small, tmp_path):
    out = tmp_path / "sweep.json"
    monkeypatch.setattr(queries, "QUERIES", {"right": _region_keys, "wrong": _region_keys})
    monkeypatch.setattr(
        queries,
        "ORACLE",
        {
            "right": "SELECT r_regionkey FROM region",
            "wrong": "SELECT r_regionkey + 1 AS r_regionkey FROM region",
        },
    )
    monkeypatch.setattr(sys, "argv", ["sweep_oracle.py", sf_small, str(out)])
    with pytest.raises(SystemExit) as exit_info:
        sweep_oracle.main()
    assert exit_info.value.code not in (0, None)
    artifact = json.loads(out.read_text())
    assert {n: e["status"] for n, e in artifact["queries"].items()} == {
        "right": "pass",
        "wrong": "mismatch",
    }
    assert (artifact["n_pass"], artifact["n_mismatch"]) == (1, 1)
