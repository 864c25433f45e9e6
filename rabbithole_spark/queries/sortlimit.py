"""Sort/limit, NULL-ordering, pivot, and subquery surfaces
(SURVEY.md §2B Sort/limit + the SQL-API subquery forms).

LIMIT under an order-insensitive hash compare is only meaningful when
the ordering is total — every query here tie-breaks on a unique key.

Scale notes: ORDER BY ... LIMIT k compiles to TakeOrderedAndProject —
a per-partition top-k plus a driver-side merge of k-sized heaps; no
global sort is materialized. A full ORDER BY is a range shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rabbithole_spark.catalog import register
from rabbithole_spark.functions.numeric import dsum, sql_dsum
from rabbithole_spark.session import table

_TOP_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@register(
    "sort_limit_top_orders",
    oracle=_TOP_ORACLE,
    doc="Global top-100 by multi-key total order (TakeOrderedAndProject).",
)
def sort_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


_NULLS_ORACLE = """
SELECT event_id, masked_value
FROM (
  SELECT event_id,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS masked_value
  FROM events
)
ORDER BY masked_value ASC NULLS FIRST, event_id
LIMIT 200
"""


@register(
    "sort_nulls_first",
    oracle=_NULLS_ORACLE,
    doc="Explicit NULLS FIRST ordering (Spark asc default is NULLS FIRST, "
    "DuckDB's is NULLS LAST — pinned on both sides, SURVEY.md §7 M1).",
)
def sort_nulls_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    masked = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("value")
    )
    return (
        ev.select("event_id", masked.alias("masked_value"))
        .orderBy(F.col("masked_value").asc_nulls_first(), F.col("event_id"))
        .limit(200)
    )


_PIVOT_TYPES = ["click", "view", "purchase", "error", "signup"]

_PIVOT_ORACLE = f"""
SELECT user_id,
       {", ".join(f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}" for t in _PIVOT_TYPES)}
FROM events
GROUP BY user_id
"""


@register(
    "pivot_event_counts",
    oracle=_PIVOT_ORACLE,
    doc="Pivot (wide counts per event type); oracle is the CASE-WHEN "
    "rewrite. Explicit pivot values keep the plan single-pass.",
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _PIVOT_TYPES)
    )


_UNPIVOT_ORACLE = """
-- UNION ALL, not UNPIVOT: DuckDB's UNPIVOT silently DROPS rows whose
-- value is NULL while Spark's unpivot keeps them (round-6
-- NULL-fixture pin); the explicit stack keeps both engines identical
SELECT c_custkey, 'acctbal' AS metric,
       CAST(c_acctbal AS DOUBLE) AS val FROM customer
UNION ALL
SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
"""


@register(
    "unpivot_customer_metrics",
    oracle=_UNPIVOT_ORACLE,
    doc="Unpivot / melt wide columns to long (DataFrame unpivot).",
)
def unpivot_customer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return c.unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "val")


_SCALAR_SUBQ_ORACLE = """
SELECT o_orderkey, o_totalprice,
       round(o_totalprice / (SELECT max(o_totalprice) FROM orders), 6) AS price_ratio
FROM orders
WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
"""


@register(
    "subquery_scalar",
    oracle=_SCALAR_SUBQ_ORACLE,
    doc="Uncorrelated scalar subqueries in projection and predicate "
    "(SQL API; Catalyst plans them as reused subquery broadcasts).",
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
               round(o_totalprice / (SELECT max(o_totalprice) FROM orders_sq), 6) AS price_ratio
        FROM orders_sq
        WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders_sq)
        """
    )


_CORR_SUBQ_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE o_totalprice > (
  SELECT 1.5 * avg(o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey
)
"""


@register(
    "subquery_correlated",
    oracle=_CORR_SUBQ_ORACLE,
    doc="Correlated subquery (per-customer average); Catalyst de-correlates "
    "to an aggregate + join.",
)
def subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_corr")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders_corr o
        WHERE o_totalprice > (
          SELECT 1.5 * avg(o_totalprice) FROM orders_corr i
          WHERE i.o_custkey = o.o_custkey
        )
        """
    )


_EXISTS_AGG_ORACLE = f"""
SELECT n_name,
       count(*) AS n_customers,
       {sql_dsum("c_acctbal", "nation_balance", 2)}
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY n_name
"""


@register(
    "subquery_in",
    oracle=_EXISTS_AGG_ORACLE,
    doc="IN subquery (planned as left semi join) feeding an aggregate.",
)
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    urgent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left_semi")
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal"), "nation_balance", 2),
        )
    )
