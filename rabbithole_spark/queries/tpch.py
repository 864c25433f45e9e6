"""TPC-H-shaped flagship analytics (beyond Q1/Q5 in core/joins),
adapted to the driver tables: Q3/Q10 (join-agg-rank), Q4 (EXISTS as
semi join), Q6 (pure pushdown), Q7/Q8 (nation-pair / market-share
multiway joins), Q13 (outer-join histogram), Q14 (conditional ratio),
Q15 (top-over-view without re-aggregation), Q17 (correlated avg as a
window), Q18 (HAVING-IN as agg-then-join), Q19 (disjunctive
pushdown), Q21 (multi-EXISTS as one grouped pass), Q22 (scalar
subquery + anti join). The driver schema has no partsupp table and no
l_shipmode/l_commitdate/c_phone columns, so Q2/Q9/Q11/Q12/Q16/Q20
cannot be expressed literally; their SHAPE analogs over a derived
part-supplier relation live in tpch_derived.py, completing all 22
shapes (Q1 ~ pricing_summary in core.py, Q5 ~ join_multiway_revenue
in joins.py). Common plan discipline at scale: broadcast every dim,
one shuffle per fact join key, partial aggs before every exchange,
TakeOrderedAndProject for top-k (no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from rabbithole_spark.catalog import register
from rabbithole_spark.functions.numeric import dsum, sql_dexpr, sql_dsum
from rabbithole_spark.session import table

_Q3_ORACLE = f"""
SELECT l_orderkey,
       {sql_dsum("l_extendedprice * (1 - l_discount)", "revenue", 4)},
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01'
  AND l_shipdate > TIMESTAMP '1997-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@register(
    "tpch_q3_shipping_priority",
    oracle=_Q3_ORACLE,
    doc="TPC-H Q3 shape: segment-filtered 3-way join, grouped revenue, "
    "top-10 by revenue (TakeOrderedAndProject, not a global sort).",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.to_timestamp(F.lit("1997-06-01"))
    customer = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    lineitem = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    )
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 4))
        .orderBy(
            F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey")
        )
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


_Q10_ORACLE = f"""
SELECT c_custkey, c_name,
       {sql_dsum("l_extendedprice * (1 - l_discount)", "revenue", 4)},
       round(c_acctbal, 2) AS c_acctbal,
       n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register(
    "tpch_q10_returned_items",
    oracle=_Q10_ORACLE,
    doc="TPC-H Q10 shape: returned-lineitem revenue per customer over a "
    "date window, broadcast nation dim, top-20.",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-07-01")))
    )
    lineitem = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    nation = table(spark, sf_dir, "nation")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 4))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
    )


_Q18_ORACLE = f"""
WITH big AS (
  SELECT l_orderkey, {sql_dsum("l_quantity", "total_qty", 2)}
  FROM lineitem GROUP BY l_orderkey
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
WHERE total_qty > 250
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""


@register(
    "tpch_q18_large_volume",
    oracle=_Q18_ORACLE,
    doc="TPC-H Q18 shape (large-volume customers): the classic "
    "IN-(grouped-HAVING-subquery) is expressed as agg -> filter -> "
    "join, so the per-order quantity sum is computed ONCE and carried "
    "through the join instead of re-aggregated after it; the filtered "
    "order set is small, so AQE broadcasts it against orders and "
    "customer joins stay shuffle-light. Decimal-exact sum per the "
    "numeric policy; deterministic tie-break on orderkey.",
)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), "total_qty", 2))
        .filter(F.col("total_qty") > 250)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(
            F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey"
        )
        .limit(100)
    )


_Q4_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "tpch_q4_exists_shape",
    oracle=_Q4_ORACLE,
    doc="TPC-H Q4 shape (correlated EXISTS): orders with at least one "
    "line shipped >30 days after the order date, counted by priority. "
    "The correlated subquery compiles to a LEFT SEMI join on "
    "(orderkey, date predicate) — one shuffle, no row multiplication "
    "from multi-line matches, which is why EXISTS-as-semi-join is the "
    "scalable translation (an inner join + distinct would shuffle the "
    "duplicated matches first).",
)
def tpch_q4_exists_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
        .orderBy("o_orderpriority")
    )


_Q6_ORACLE = f"""
SELECT {sql_dsum("l_extendedprice * l_discount", "revenue_delta", 4)},
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register(
    "tpch_q6_revenue_delta",
    oracle=_Q6_ORACLE,
    doc="TPC-H Q6 shape: the pure-pushdown probe — every predicate "
    "(shipdate range, discount band, quantity cap) reaches the "
    "parquet scan as PushedFilters, then a single partial-aggregated "
    "global sum. The canonical 'how much would revenue change' "
    "what-if; at 100 TB the plan is scan-local except one 1-row "
    "final-agg exchange.",
)
def tpch_q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue_delta", 4),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q14_ORACLE = f"""
SELECT CAST(month(l_shipdate) AS INTEGER) AS ship_month,
       {sql_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END", "promo_revenue", 4)},
       {sql_dsum("l_extendedprice * (1 - l_discount)", "total_revenue", 4)},
       -- lateral alias refs: the ratio divides the SAME two converted
       -- doubles Spark divides, not re-aggregated expressions
       round(100.0 * promo_revenue / total_revenue, 6) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY 1
"""


@register(
    "tpch_q14_promo_share",
    oracle=_Q14_ORACLE,
    doc="TPC-H Q14 shape: promo revenue share per ship month — "
    "part dim join, broadcast by size (fact never shuffles for it), "
    "conditional decimal-exact sums, ratio-of-sums in double. The "
    "conditional-aggregation-over-join pattern; plan at scale: "
    "pushed date range, one month-key exchange.",
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    part = table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    out = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.month("l_shipdate").cast("int").alias("ship_month"))
        .agg(
            dsum(promo, "promo_revenue", 4),
            dsum(rev, "total_revenue", 4),
        )
    )
    return out.select(
        "ship_month",
        "promo_revenue",
        "total_revenue",
        F.round(
            100.0 * F.col("promo_revenue") / F.col("total_revenue"), 6
        ).alias("promo_pct"),
    )


_Q7_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year, {sql_dsum("volume", "revenue", 4)}
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
) GROUP BY supp_nation, cust_nation, l_year
"""


@register(
    "tpch_q7_nation_volume",
    oracle=_Q7_ORACLE,
    doc="TPC-H Q7 shape (volume shipping between two nations): the "
    "nation pair filter is applied to supplier and customer BEFORE "
    "the fact joins — the selected-supplier side (8% of suppliers) "
    "broadcasts into lineitem so the fact is pruned at the scan side "
    "of the first join, then one orderkey shuffle and one custkey "
    "shuffle. The symmetric pair predicate runs on the two tiny "
    "nation-name columns after the joins.",
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = ["NATION_3", "NATION_7"]
    lo = F.to_timestamp(F.lit("1996-01-01"))
    hi = F.to_timestamp(F.lit("1998-01-01"))
    nation = table(spark, sf_dir, "nation").filter(F.col("n_name").isin(pair))
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        table(spark, sf_dir, "customer")
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .select("c_custkey", "cust_nation")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    ord_c = table(spark, sf_dir, "orders").join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        li.join(ord_c, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (
                (F.col("supp_nation") == pair[0])
                & (F.col("cust_nation") == pair[1])
            )
            | (
                (F.col("supp_nation") == pair[1])
                & (F.col("cust_nation") == pair[0])
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
                4,
            )
        )
    )


_Q8_ORACLE = f"""
SELECT o_year, nation_volume, total_volume,
       round(nation_volume / total_volume, 6) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         {sql_dsum(
             "CASE WHEN n2.n_name = 'NATION_3' "
             "THEN l_extendedprice * (1 - l_discount) ELSE 0 END",
             "nation_volume",
             4,
         )},
         {sql_dsum("l_extendedprice * (1 - l_discount)", "total_volume", 4)}
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY 1
)
"""


@register(
    "tpch_q8_market_share",
    oracle=_Q8_ORACLE,
    doc="TPC-H Q8 shape (national market share): ECONOMY-part filter "
    "broadcasts into lineitem first (the most selective prune, 1/6 of "
    "parts), supplier+nation broadcasts tag each line with its supply "
    "nation, then one orderkey shuffle against date-filtered orders "
    "and one custkey shuffle against ASIA customers. The share is a "
    "conditional-sum over total-sum ratio per order year — "
    "numerator and denominator in one grouped pass, no second scan.",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.to_timestamp(F.lit("1996-01-01"))
    hi = F.to_timestamp(F.lit("1998-01-01"))
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part_sel = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("s_nk"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            F.col("s_nationkey") == F.col("s_nk"),
        )
        .select("s_suppkey", "supp_nation")
    )
    cust_asia = (
        table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(
                    region, nation.n_regionkey == region.r_regionkey
                ).select(F.col("n_nationkey").alias("c_nk"))
            ),
            F.col("c_nationkey") == F.col("c_nk"),
        )
        .select("c_custkey")
    )
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .join(part_sel, F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_asia, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            dsum(
                F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                    F.lit(0.0)
                ),
                "nation_volume",
                4,
            ),
            dsum(vol, "total_volume", 4),
        )
    )
    return out.select(
        "o_year",
        "nation_volume",
        "total_volume",
        F.round(F.col("nation_volume") / F.col("total_volume"), 6).alias(
            "mkt_share"
        ),
    )


_Q13_ORACLE = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


@register(
    "tpch_q13_customer_distribution",
    oracle=_Q13_ORACLE,
    doc="TPC-H Q13 shape (customer order-count histogram): the filter "
    "on order priority lives in the OUTER JOIN condition, so "
    "customers whose every order is urgent still appear with "
    "c_count=0 — the semantics a WHERE clause would silently break. "
    "One custkey shuffle for join+count (the grouped count reuses the "
    "join's hash partitioning), then a tiny histogram exchange on the "
    "count value.",
)
def tpch_q13_customer_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_outer"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


_Q15_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {sql_dsum("l_extendedprice * (1 - l_discount)", "total_revenue", 4)}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@register(
    "tpch_q15_top_supplier",
    oracle=_Q15_ORACLE,
    doc="TPC-H Q15 shape (top supplier over a revenue view): the "
    "quarterly per-supplier revenue relation is aggregated ONCE, its "
    "1-row max broadcasts back against it (no re-aggregation, no "
    "global sort), and only the winners join the supplier dim. "
    "Equality on the max is cross-engine-exact because the revenue is "
    "a decimal-exact sum converted once to double. One suppkey "
    "shuffle total.",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01")))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "total_revenue",
                4,
            )
        )
        .localCheckpoint(eager=False)
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    top = rev.join(mx, F.col("total_revenue") == F.col("mx")).select(
        "supplier_no", "total_revenue"
    )
    return (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(top), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


_Q17_ORACLE = f"""
WITH sel AS (
  SELECT l_extendedprice, l_quantity,
         avg(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#3' AND p_size < 15
)
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       round({sql_dexpr("l_extendedprice", 2)} / 7.0, 6) AS avg_yearly
FROM sel WHERE l_quantity < 0.2 * avg_qty
"""


@register(
    "tpch_q17_small_quantity",
    oracle=_Q17_ORACLE,
    doc="TPC-H Q17 shape (small-quantity-order revenue): the classic "
    "correlated per-part AVG subquery is a window — avg(l_quantity) "
    "OVER (PARTITION BY l_partkey) computed on the brand-filtered "
    "lines, so the fact is read ONCE instead of once per correlation "
    "probe. The brand/size part filter broadcasts into the scan; one "
    "partkey shuffle feeds the window; the comparison divides "
    "exact-sum integers-in-doubles so the 0.2*avg boundary is "
    "bit-identical across engines.",
)
def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    part_sel = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#3") & (F.col("p_size") < 15))
        .select("p_partkey")
    )
    sel = table(spark, sf_dir, "lineitem").join(
        part_sel, F.col("l_partkey") == F.col("p_partkey")
    )
    w = Window.partitionBy("l_partkey")
    flt = sel.withColumn("avg_qty", F.avg("l_quantity").over(w)).filter(
        F.col("l_quantity") < 0.2 * F.col("avg_qty")
    )
    return flt.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice").cast(DecimalType(18, 2))).cast(
                "double"
            )
            / 7.0,
            6,
        ).alias("avg_yearly"),
    )


_Q19_ORACLE = f"""
SELECT {sql_dsum("l_extendedprice * (1 - l_discount)", "revenue", 4)},
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


@register(
    "tpch_q19_disjunctive_pushdown",
    oracle=_Q19_ORACLE,
    doc="TPC-H Q19 shape (discounted revenue, three OR'd "
    "brand/size/quantity bands): the disjunction mixes both tables' "
    "columns, so it evaluates after the join — but each side's "
    "derivable envelope is pushed: the part side is pre-filtered to "
    "the union of the three brand/size bands (broadcast, so the fact "
    "never shuffles) and the lineitem side to the overall quantity "
    "range [1,30], which reaches the parquet scan as a PushedFilter. "
    "Zero shuffles beyond the final 1-row agg.",
)
def tpch_q19_disjunctive_pushdown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    bands = [
        ("Brand#12", 1, 5, 1, 11),
        ("Brand#23", 1, 10, 10, 20),
        ("Brand#3", 1, 15, 20, 30),
    ]
    part_pred = None
    full_pred = None
    for brand, slo, shi, qlo, qhi in bands:
        p = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(slo, shi)
        )
        f = p & F.col("l_quantity").between(qlo, qhi)
        part_pred = p if part_pred is None else (part_pred | p)
        full_pred = f if full_pred is None else (full_pred | f)
    qlo_all = min(b[3] for b in bands)
    qhi_all = max(b[4] for b in bands)
    part_sel = table(spark, sf_dir, "part").filter(part_pred)
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(qlo_all, qhi_all)
    )
    return (
        li.join(part_sel, F.col("l_partkey") == F.col("p_partkey"))
        .filter(full_pred)
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                "revenue",
                4,
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q21_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
             THEN 1 ELSE 0 END) AS is_late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey
), per_order AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(is_late) AS n_late,
         max(CASE WHEN is_late = 1 THEN l_suppkey END) AS late_supp
  FROM li GROUP BY l_orderkey
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM per_order JOIN supplier ON s_suppkey = late_supp
WHERE n_supp >= 2 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


@register(
    "tpch_q21_waiting_suppliers",
    oracle=_Q21_ORACLE,
    doc="TPC-H Q21 shape (suppliers who kept orders waiting; 'late' = "
    "shipped >60 days after order date since the driver schema has no "
    "commit/receipt dates): the classic EXISTS(another supplier) AND "
    "NOT EXISTS(another LATE supplier) pair is ONE grouped pass — per "
    "(order, supplier) lateness, then per-order supplier/late counts; "
    "the blamed supplier is the unique late one in a multi-supplier "
    "order. At scale the fact join is an orderkey sort-merge join "
    "whose hash partitioning satisfies BOTH downstream groupBys "
    "(partitioning on l_orderkey clusters (l_orderkey, l_suppkey) "
    "too), so the fact shuffles ONCE plus the tiny s_name rollup; at "
    "small SF AQE broadcasts orders instead and the groupBys "
    "exchange on their own keys (the measured 3-exchange local "
    "plan). Either way the correlated-probe formulation would "
    "shuffle lineitem three times.",
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late_flag = F.when(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        1,
    ).otherwise(0)
    per_supp = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late_flag).alias("is_late"))
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("is_late").alias("n_late"),
        F.max(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias(
            "late_supp"
        ),
    )
    supplier = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(supplier, F.col("late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


_Q22_ORACLE = f"""
WITH avg_bal AS (
  SELECT {sql_dexpr("c_acctbal", 2)} / count(*) AS ab
  FROM customer WHERE c_acctbal > 0.0
)
SELECT n_name, CAST(count(*) AS BIGINT) AS numcust,
       {sql_dsum("c_acctbal", "totacctbal", 2)}
FROM customer
JOIN nation ON c_nationkey = n_nationkey
CROSS JOIN avg_bal
WHERE c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n_name
"""


@register(
    "tpch_q22_global_sales_opportunity",
    oracle=_Q22_ORACLE,
    doc="TPC-H Q22 shape (lapsed high-balance customers; the driver "
    "schema has no c_phone, so the country-code grouping becomes the "
    "nation dim and 'never ordered' becomes 'no order since "
    "2000-01-01'): the scalar AVG subquery is a 1-row broadcast "
    "cross join — decimal-exact sum over count so the threshold is "
    "bit-identical across engines — and the NOT EXISTS is a LEFT "
    "ANTI join against the date-pruned order keys (the date filter "
    "reaches the parquet scan, so the anti side is a fraction of "
    "orders). One custkey shuffle, then a 25-row histogram.",
)
def tpch_q22_global_sales_opportunity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    ab = (
        customer.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast(DecimalType(18, 2))).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("ab")
        )
    )
    recent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01")))
        .select("o_custkey")
    )
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        customer.crossJoin(ab)
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal"), "totacctbal", 2),
        )
    )
