"""Anti-join coverage pins for the round-9 registry consolidation.

The `customers_no_orders` driver row was retired: the testdata
generator gives every customer at least one order, so the row was
permanently 0-row — both engines returning empty is a vacuous pass.
These pins keep the LeftAnti surface honestly covered:

* the anti-join SEMANTICS are checked non-vacuously (a date-window
  restriction leaves a strict subset of customers orderless, and the
  anti join must equal an independent left-join/null-filter witness);
* the registry PLAN coverage moved to `user_segments`, whose
  `subtract` now compiles to a LeftAnti join (and whose `intersect`
  to LeftSemi) — pinned here so a rewrite back to the exceptAll
  replicate-union form fails loudly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.queries.relational_queries import (
    user_segments,
)
from data_engineering_user_session_analysis_spark.sources.tables import load_table


def test_anti_join_non_vacuous(spark, sf_small):
    customer = load_table(spark, sf_small, "customer")
    orders = load_table(spark, sf_small, "orders")
    # documents why the registry row was retired: on this generator
    # the unrestricted NOT EXISTS is empty at every SF
    assert (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .count()
        == 0
    )

    o95 = orders.filter(F.year("o_orderdate") == 1995)

    anti = customer.join(
        o95, customer.c_custkey == o95.o_custkey, "left_anti"
    ).select("c_custkey")
    witness = (
        customer.join(
            o95.select("o_custkey").distinct(),
            customer.c_custkey == F.col("o_custkey"),
            "left",
        )
        .filter(F.col("o_custkey").isNull())
        .select("c_custkey")
    )

    n_anti, n_cust = anti.count(), customer.count()
    assert 0 < n_anti < n_cust, (
        f"anti join must be non-vacuous AND non-total: {n_anti}/{n_cust}"
    )
    assert anti.subtract(witness).count() == 0
    assert witness.subtract(anti).count() == 0


def test_user_segments_plans_left_anti_and_semi(spark, sf_small):
    plan = (
        user_segments(spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftAnti" in plan, "subtract must plan as a LeftAnti join"
    assert "LeftSemi" in plan, "intersect must plan as a LeftSemi join"
