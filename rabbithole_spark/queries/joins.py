"""Join surface (SURVEY.md §2B Joins): inner/left/right/full equi-joins,
broadcast, semi/anti, cross, range (non-equi), and as-of.

Scale notes: dimension tables (region/nation/bands) are broadcast
explicitly; fact-fact joins shuffle on their keys with AQE skew
handling. The as-of join uses the union-merge operator (no explosion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rabbithole_spark.catalog import register
from rabbithole_spark.functions.numeric import dsum, sql_dsum
from rabbithole_spark.operators.relational import asof_join, range_join
from rabbithole_spark.operators.skew import salted_join
from rabbithole_spark.session import table


# --- inner equi-join fact -> dims -------------------------------------------

_ENRICHED_ORACLE = """
SELECT o_orderkey, c_name, n_name, r_name, o_totalprice
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderstatus = 'F'
"""


@register(
    "join_inner_enriched_orders",
    oracle=_ENRICHED_ORACLE,
    doc="Inner equi-join chain fact->dim->dim->dim, dims broadcast by size.",
)
def join_inner_enriched_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("o_orderkey", "c_name", "n_name", "r_name", "o_totalprice")
    )


# --- multiway revenue (TPC-H Q5 shape) --------------------------------------

_Q5_ORACLE = f"""
SELECT
  n_name,
  {sql_dsum("l_extendedprice * (1 - l_discount)", "revenue", 4)}
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC
"""


@register(
    "join_multiway_revenue",
    oracle=_Q5_ORACLE,
    doc="TPC-H Q5 shape: 6-table join + grouped decimal-exact revenue.",
)
def join_multiway_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    lineitem = table(spark, sf_dir, "lineitem")
    supplier = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(
            supplier,
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 4))
        .orderBy(F.col("revenue").desc())
    )


# --- outer joins -------------------------------------------------------------

_LEFT_ORACLE = """
SELECT c_custkey, c_name,
       count(o_orderkey) AS order_count,
       -- VARCHAR hop = the numeric.py decimal->double policy (direct
       -- cast drifts 1 ulp past ~2^53/10^scale; round-9 review)
       CAST(CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0)
                 AS VARCHAR) AS DOUBLE) AS total_spend
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
"""


@register(
    "join_left_customer_orders",
    oracle=_LEFT_ORACLE,
    doc="Left outer join preserving order-less customers, aggregated.",
)
def join_left_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), F.lit(0)
            )
            .cast("double")
            .alias("total_spend"),
        )
    )


_RIGHT_ORACLE = """
SELECT n_name, count(s_suppkey) AS supplier_count
FROM supplier
RIGHT JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


@register(
    "join_right_suppliers_nations",
    oracle=_RIGHT_ORACLE,
    doc="Right outer join preserving supplier-less nations.",
)
def join_right_suppliers_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    return (
        supplier.join(nation, supplier.s_nationkey == nation.n_nationkey, "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("supplier_count"))
    )


_FULL_ORACLE = """
WITH c AS (
  SELECT c_nationkey AS nationkey, count(*) AS customers
  FROM customer GROUP BY c_nationkey
), s AS (
  SELECT s_nationkey AS nationkey, count(*) AS suppliers
  FROM supplier GROUP BY s_nationkey
)
SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
       coalesce(customers, 0) AS customers,
       coalesce(suppliers, 0) AS suppliers
FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
"""


@register(
    "join_full_outer_nation_counts",
    oracle=_FULL_ORACLE,
    doc="Full outer join of two aggregates with coalesced keys.",
)
def join_full_outer_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("customers"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("suppliers"))
    )
    return (
        c.join(s, "nationkey", "full")
        .select(
            F.col("nationkey"),
            F.coalesce("customers", F.lit(0)).alias("customers"),
            F.coalesce("suppliers", F.lit(0)).alias("suppliers"),
        )
    )


# --- semi / anti -------------------------------------------------------------

_SEMI_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_totalprice > 300000
)
"""


@register(
    "join_semi_big_spenders",
    oracle=_SEMI_ORACLE,
    doc="Left semi join (EXISTS): customers holding a >300k order.",
)
def join_semi_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    big = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


_ANTI_ORACLE = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_totalprice > 350000
)
"""


@register(
    "join_anti_no_big_order",
    oracle=_ANTI_ORACLE,
    doc="Left anti join (NOT EXISTS): customers with no order over 350k.",
)
def join_anti_no_big_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    big = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 350000)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# --- cross -------------------------------------------------------------------

_CROSS_ORACLE = """
SELECT r_name, n_name
FROM region CROSS JOIN nation
"""


@register(
    "join_cross_region_nation",
    oracle=_CROSS_ORACLE,
    doc="Cartesian product of two small dims (BroadcastNestedLoopJoin).",
)
def join_cross_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = table(spark, sf_dir, "region")
    nation = F.broadcast(table(spark, sf_dir, "nation"))
    return region.crossJoin(nation).select("r_name", "n_name")


# --- range (non-equi) join ---------------------------------------------------

_BANDS = [
    ("small", 1.0, 10.0),
    ("medium", 11.0, 25.0),
    ("large", 26.0, 50.0),
]

_RANGE_ORACLE = f"""
WITH bands(band, lo, hi) AS (
  VALUES {", ".join(f"('{b}', CAST({lo} AS DOUBLE), CAST({hi} AS DOUBLE))" for b, lo, hi in _BANDS)}
)
SELECT band, count(*) AS line_count,
       {sql_dsum("l_extendedprice", "band_revenue", 2)}
FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity <= hi
GROUP BY band
"""


@register(
    "join_range_quantity_bands",
    oracle=_RANGE_ORACLE,
    doc="Non-equi (theta) interval join against a broadcast band dim.",
)
def join_range_quantity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(_BANDS, ["band", "lo", "hi"])
    joined = range_join(li, bands, value="l_quantity", lo="lo", hi="hi")
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("line_count"),
        dsum(F.col("l_extendedprice"), "band_revenue", 2),
    )


# --- as-of join --------------------------------------------------------------

_ASOF_ORACLE = """
WITH clicks AS (
  SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'click'
), errors AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'error'
)
SELECT c.user_id, c.event_id, c.ts, c.value,
       e.ts AS error_ts, e.event_id AS error_event_id
FROM clicks c
ASOF LEFT JOIN errors e ON c.user_id = e.user_id AND c.ts >= e.ts
"""


@register(
    "join_asof_events",
    oracle=_ASOF_ORACLE,
    doc="As-of join: each click paired with the user's most recent prior "
    "error (union-merge formulation — single shuffle, no row explosion; "
    "reference analogue: none, SURVEY.md §2B As-of).",
)
def join_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts", "value"
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts"), F.col("event_id")
    )
    out = asof_join(
        clicks,
        errors,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["ts", "event_id"],
    )
    return out.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.col("ts_r").alias("error_ts"),
        F.col("event_id_r").alias("error_event_id"),
    )


# --- skew-mitigated join ----------------------------------------------------

_SALTED_ORACLE = f"""
SELECT c.c_nationkey,
       e.event_type,
       count(*) AS n_events,
       {sql_dsum("e.value", "total_value", 2)}
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_nationkey, e.event_type
"""


@register(
    "join_salted_skew",
    oracle=_SALTED_ORACLE,
    doc="Skew-mitigated fact-dim join via key salting "
    "(operators/skew.py): the fact side appends salt = "
    "xxhash64(event_id) mod 8 (deterministic on task retry — never "
    "rand()), the dim side explodes to all 8 salt values, and the "
    "join key becomes (user_id, salt) so a hot key's rows spread "
    "over 8 reducers. AQE skew-split handles oversized partitions; "
    "salting is the harder single-hot-KEY case a 100 TB fact table "
    "hits (celebrity id / null-ish tenant). Salt-invariance is the "
    "correctness contract: the oracle is the PLAIN join+agg, so any "
    "row lost or duplicated by the salting machinery breaks the hash "
    "match.",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:

    events = table(spark, sf_dir, "events")
    customer = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    joined = salted_join(
        events, customer, on="user_id", salt_from="event_id", salt_factor=8
    )
    return joined.groupBy("c_nationkey", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), "total_value", 2),
    )
