"""Relational analytics over the TPC-H-ish star schema.

These queries exercise the operator families from SURVEY.md §2 that
the events surface doesn't: multi-aggregate scans (A1-A8), equi-joins
incl. semi/anti (J1 + the free variants), broadcast dimension joins,
and deterministic top-k (§2.6).

Float policy for oracle parity: every double aggregate goes through
an exact DECIMAL partial sum (associative, order-independent) and is
cast to DOUBLE only at the end; averages are exact-sum / count with a
single IEEE division.  This keeps Spark and DuckDB bit-identical
regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.queries import register
from data_engineering_user_session_analysis_spark.sources.tables import load_table

_DEC = "decimal(18,4)"


@register(
    "q1_pricing_summary",
    """
WITH c AS (
  SELECT l_returnflag, l_linestatus,
    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS price_c,
    100 - CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS BIGINT) AS disc_c,
    100 + CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS BIGINT) AS tax_c,
    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS qty_c
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
)
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(qty_c AS DECIMAL(38,0))) AS DOUBLE)
    / CAST(100 AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(price_c AS DECIMAL(38,0))) AS DOUBLE)
    / CAST(100 AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(price_c * disc_c AS DECIMAL(38,0))) AS DOUBLE)
    / CAST(10000 AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(price_c * disc_c * tax_c AS DECIMAL(38,0))) AS DOUBLE)
    / CAST(1000000 AS DOUBLE) AS sum_charge,
  CAST(sum(CAST(qty_c AS DECIMAL(38,0))) AS DOUBLE)
    / CAST(100 AS DOUBLE) / count(*) AS avg_qty,
  CAST(sum(CAST(price_c AS DECIMAL(38,0))) AS DOUBLE)
    / CAST(100 AS DOUBLE) / count(*) AS avg_price,
  CAST(count(*) AS BIGINT) AS count_order
FROM c
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan + filter pushdown +
    8-aggregate hash aggregation (map-side partial + final).

    Inputs (2-decimal money/rates stored as double) are cast to
    decimal BEFORE any arithmetic, then to exact integer cent units:
    decimal × decimal is exact in both engines, whereas casting a
    computed double product rounds differently.

    The money sums aggregate integer MICRO-UNITS into DECIMAL(38,0)
    and only then convert: CAST(int AS DOUBLE) then divide by a
    double power of ten — each step a single correct rounding in
    BOTH engines.  Casting a 17-significant-digit DECIMAL(38,6)
    straight to double is where the sf1 sweep caught a real engine
    divergence: the exact sum 28014498335.008974 rounds to ...972 in
    the JVM (BigDecimal.doubleValue, correctly rounded once) but to
    ...976 in DuckDB (hugeint→double then /10^scale — two
    roundings).  The integer-units path keeps the pre-division value
    below 2^64, where both conversions are a single rounding, for
    micro-unit sums up to ~1.8e19 (≈ sf600).  Per-row math is plain
    BIGINT (≤1.2e11) — cheaper to shuffle than decimal, same plan
    shape."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") <= F.lit("1998-09-02")
    )
    dec = "decimal(12,2)"
    price_c = (F.col("l_extendedprice").cast(dec) * 100).cast("long")
    disc_c = F.lit(100) - (F.col("l_discount").cast(dec) * 100).cast("long")
    tax_c = F.lit(100) + (F.col("l_tax").cast(dec) * 100).cast("long")
    qty_c = (F.col("l_quantity").cast(dec) * 100).cast("long")
    d38 = "decimal(38,0)"

    def _units(col, scale: int):
        return F.sum(col.cast(d38)).cast("double") / F.lit(float(scale))

    sum_qty = _units(qty_c, 100)
    sum_base = _units(price_c, 100)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        sum_qty.alias("sum_qty"),
        sum_base.alias("sum_base_price"),
        _units(price_c * disc_c, 10000).alias("sum_disc_price"),
        _units(price_c * disc_c * tax_c, 1000000).alias("sum_charge"),
        (sum_qty / F.count("*")).alias("avg_qty"),
        (sum_base / F.count("*")).alias("avg_price"),
        F.count("*").alias("count_order"),
    )


@register(
    "top_customers",
    """
SELECT c_custkey, c_name,
  CAST(count(*) AS BIGINT) AS order_count,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spent
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spent DESC, c_custkey ASC
LIMIT 10
""",
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim equi-join + aggregate + deterministic top-k.

    Broadcast-hint policy (round 2): customer GROWS with scale factor
    (~150k rows per SF unit — billions at 100 TB), so it carries NO
    explicit broadcast hint; AQE/statistics broadcast it while it fits
    the threshold and fall back to shuffle joins beyond.  Explicit
    hints are reserved for BOUNDED tables (nation=25, region=5,
    1-row aggregates, literal anchor sets).  The top-k is a
    TakeOrderedAndProject, not a global sort."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    )
    return (
        joined.groupBy("c_custkey", "c_name")
        .agg(
            F.count("*").alias("order_count"),
            F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias("total_spent"),
        )
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


@register(
    "supplier_part_share",
    """
WITH sp AS (
  SELECT l_suppkey, l_partkey,
    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
  FROM lineitem GROUP BY l_suppkey, l_partkey
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY l_suppkey
              ORDER BY qty DESC, l_partkey ASC) AS rn
  FROM sp
)
SELECT s_name, l_partkey AS top_partkey, qty AS top_part_qty
FROM ranked JOIN supplier ON l_suppkey = s_suppkey
WHERE rn = 1
""",
)
def supplier_part_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group window over a 2-key aggregate, then a dim
    join (supplier is SF-proportional → no explicit hint; AQE
    broadcasts while it fits) — the reference's W1 favorite-category
    idiom at fact scale."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias("qty")
    )
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("qty").desc(), F.col("l_partkey").asc()
    )
    top = sp.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return top.join(
        supplier, top.l_suppkey == supplier.s_suppkey
    ).select(
        "s_name",
        F.col("l_partkey").alias("top_partkey"),
        F.col("qty").alias("top_part_qty"),
    )


@register(
    "q3_shipping_priority",
    """
SELECT l_orderkey,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate  > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: the fact-fact join (lineitem ⋈ orders on
    orderkey) the broadcast-dim queries don't exercise — at scale
    this is the sort-merge/shuffle-hash join with AQE skew handling;
    filters push into both scans before the join.  The filtered
    customer side has no explicit broadcast hint (SF-proportional)."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1997-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-01-01"
    )
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        customer, orders.o_custkey == customer.c_custkey
    )
    disc = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    return (
        joined.groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.sum(disc).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
    )


@register(
    "order_fulfillment_full_outer",
    """
WITH order_days AS (
  SELECT o_custkey AS custkey, strftime(o_orderdate, '%Y-%m') AS month,
    CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey, strftime(o_orderdate, '%Y-%m')
), ship_days AS (
  SELECT o_custkey AS custkey, strftime(l_shipdate, '%Y-%m') AS month,
    CAST(count(*) AS BIGINT) AS n_shipments
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, strftime(l_shipdate, '%Y-%m')
)
SELECT coalesce(o.custkey, s.custkey) AS custkey,
  coalesce(o.month, s.month) AS month,
  coalesce(o.n_orders, 0) AS n_orders,
  coalesce(s.n_shipments, 0) AS n_shipments
FROM order_days o
FULL OUTER JOIN ship_days s ON o.custkey = s.custkey AND o.month = s.month
""",
)
def order_fulfillment_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: months where a customer ordered, shipped,
    or both — the join kind that cannot broadcast (both sides
    preserved) and always shuffles both inputs on the key."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    order_days = orders.groupBy(
        F.col("o_custkey").alias("custkey"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    ).agg(F.count("*").alias("n_orders"))
    ship_days = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.date_format("l_shipdate", "yyyy-MM").alias("month"),
        )
        .agg(F.count("*").alias("n_shipments"))
    )
    o, s = order_days.alias("o"), ship_days.alias("s")
    return (
        o.join(
            s,
            (F.col("o.custkey") == F.col("s.custkey"))
            & (F.col("o.month") == F.col("s.month")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("o.custkey"), F.col("s.custkey")).alias("custkey"),
            F.coalesce(F.col("o.month"), F.col("s.month")).alias("month"),
            F.coalesce(F.col("o.n_orders"), F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("s.n_shipments"), F.lit(0)).alias("n_shipments"),
        )
    )


@register(
    "q5_local_supplier_volume",
    """
SELECT n_name AS nation,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
           * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY n_name
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with a compound join condition
    (customer and supplier in the same nation) — the deepest join
    tree in the surface; bounded dims (nation, region) broadcast by
    hint, customer/supplier by AQE decision, facts shuffle on orderkey."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1996-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    disc = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(12,2)")
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.sum(disc).cast("double").alias("revenue")
    )


@register(
    "q6_forecast_revenue",
    """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
              * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
  CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND CAST(l_discount AS DECIMAL(12,2)) BETWEEN 0.02 AND 0.06
  AND l_quantity < 10
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + global aggregate — every
    predicate pushes to the scan; no shuffle except the final 2-stage
    reduce.

    Expressed through ``spark.sql`` with the table as a DataFrame
    argument (no temp view is left in the session): this is the
    engine's SQL API surface (round 1's separate
    ``sql_surface_region_revenue`` entry — see COVERAGE.md).
    Catalyst produces the identical plan for the SQL text and the
    DataFrame composition, so one registry row proves both layers."""
    return spark.sql(
        """
        SELECT
          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
          count(*) AS n_lineitems
        FROM {lineitem}
        WHERE l_shipdate >= '1996-01-01'
          AND l_shipdate <  '1997-01-01'
          AND CAST(l_discount AS DECIMAL(12,2)) BETWEEN 0.02 AND 0.06
          AND l_quantity < 10
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


@register(
    "q12_priority_shipping",
    """
SELECT l_linestatus,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines,
  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_linestatus
""",
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join with an inequality residual condition +
    conditional count-if aggregation by IN-list."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = li.join(
        orders,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.date_add(orders.o_orderdate, 30)),
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_lines"),
        F.sum(F.when(~high, 1).otherwise(0)).alias("low_priority_lines"),
    )
