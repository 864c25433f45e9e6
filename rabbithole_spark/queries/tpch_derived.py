"""The six TPC-H shapes (Q2/Q9/Q11/Q12/Q16/Q20) whose official text
needs a ``partsupp`` table or columns the driver schema lacks
(``l_shipmode``, complaint comments). Each is registered as a clearly
documented SHAPE ANALOG:

- the part-supplier relation is DERIVED from the fact table:
  ``ps = lineitem GROUP BY (l_partkey, l_suppkey)`` with
  ``ps_availqty  = SUM(l_quantity)``   (total quantity ever moved) and
  ``ps_supplycost = MIN(FLOOR(l_extendedprice * 100 / l_quantity) / 100)``
  (best observed unit price, truncated to cents). Deterministic on
  both engines: the sum of integer-valued doubles is exact in any
  order, and the cent truncation is multiply/divide/floor — each a
  correctly-rounded IEEE op that both engines evaluate bit-
  identically, unlike ROUND(x, 2), whose double implementation
  DuckDB evaluates through an inexact x*100 (measured divergence vs
  Spark's exact-HALF_UP round on this very column at sf0.01).
- Q12's ``l_shipmode`` grouping becomes ``l_returnflag`` (the only
  low-cardinality lineitem attribute in the driver schema);
- Q16's "customer complaints" supplier exclusion becomes
  ``s_acctbal < 0``;
- Q20's "availqty > half of one year's demand" keeps its correlated
  aggregate-vs-aggregate comparison with a multiplier calibrated to
  the ~7-year shipdate span of the synthetic data.

What matters for parity with the reference surface is the SHAPE —
min-over-group join-back (Q2), derived-dim multiway profit rollup
(Q9), scalar-subquery HAVING threshold (Q11), conditional counts
(Q12), distinct-count with anti-join exclusion (Q16), correlated
double-aggregate semi-join chain (Q20) — not the literal TPC-H
predicate constants. Reference behavior being mirrored: ad-hoc
SQL-style analytics over the batch tables, as in
/root/reference/README.md's query examples (the reference ships no
TPC-H queries; these shapes are the standard analytic coverage the
SURVEY mandates).

Scale discipline shared by all six: the ps derivation is ONE
partial-aggregated shuffle on (l_partkey, l_suppkey); every dim join
is broadcast; joins BACK to lineitem reuse the (partkey, suppkey)
hash partitioning where possible; thresholds are computed as 1-row
broadcast cross joins, never driver-side collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rabbithole_spark.catalog import register
from rabbithole_spark.functions.numeric import dsum, sql_dsum
from rabbithole_spark.session import table

#: Derived part-supplier relation (see module docstring).
_PS_SQL = """ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         SUM(l_quantity) AS ps_availqty,
         MIN(FLOOR(l_extendedprice * 100 / l_quantity) / 100)
             AS ps_supplycost
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
)"""


def _ps(
    spark: SparkSession,
    sf_dir: str,
    part_keys: DataFrame | None = None,
    supp_keys: DataFrame | None = None,
) -> DataFrame:
    """Spark twin of :data:`_PS_SQL`. ``part_keys`` (a small
    p_partkey relation) LEFT-SEMI-prunes the lineitem scan BEFORE the
    (partkey, suppkey) aggregation — when the consumer only needs ps
    rows for a selective part subset (Q9's widgets), deriving then
    discarding the rest would shuffle ~20x more rows than necessary
    (round-9 review). ``supp_keys`` (a small s_suppkey relation)
    does the same on the supplier key (Q11's Europe scope; round 12).
    Semantics-preserving: the group key contains both l_partkey and
    l_suppkey, so pruning input rows by either prunes whole groups —
    surviving groups keep every one of their rows, so their SUM/MIN
    aggregates are unchanged."""
    li = table(spark, sf_dir, "lineitem")
    if part_keys is not None:
        li = li.join(
            part_keys, F.col("p_partkey") == F.col("l_partkey"), "left_semi"
        )
    if supp_keys is not None:
        li = li.join(
            supp_keys, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
    return (
        li
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.sum("l_quantity").alias("ps_availqty"),
            F.min(
                F.floor(
                    F.col("l_extendedprice") * 100 / F.col("l_quantity")
                )
                / 100
            ).alias("ps_supplycost"),
        )
    )


def _supp_dim(
    spark: SparkSession, sf_dir: str, cols, region: str | None = None
) -> DataFrame:
    """supplier ⋈ nation (⋈ region scoped to ``region``) dimension
    block projected to ``cols`` — shared by Q2/Q9/Q11/Q20 (round-9
    review: the same three-table scaffold was hand-copied per query
    and could drift one-sided; tpch.py's Q8 keeps its own variant
    because it renames the nation columns per side). Callers wrap in
    F.broadcast at the use site."""
    supp = table(spark, sf_dir, "supplier").join(
        F.broadcast(table(spark, sf_dir, "nation")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    if region is not None:
        supp = supp.join(
            table(spark, sf_dir, "region").filter(F.col("r_name") == region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    return supp.select(*cols)


_Q2_ORACLE = f"""
WITH {_PS_SQL},
eligible AS (
  SELECT ps_partkey, ps_supplycost, p_name,
         s_name, round(s_acctbal, 2) AS s_acctbal, n_name
  FROM ps
  JOIN part ON p_partkey = ps_partkey
           AND p_type = 'STANDARD' AND p_size <= 25
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey AND r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name,
       ps_partkey AS p_partkey, p_name, ps_supplycost
FROM (SELECT *, min(ps_supplycost) OVER (PARTITION BY ps_partkey) AS mc
      FROM eligible)
WHERE ps_supplycost = mc
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@register(
    "tpch_q2_min_cost_supplier",
    oracle=_Q2_ORACLE,
    doc="TPC-H Q2 shape (minimum-cost supplier) over the derived "
    "part-supplier relation: for every STANDARD part (size <= 25) "
    "keep only the European supplier(s) offering the minimum unit "
    "cost — the classic correlated MIN subquery expressed as a "
    "window-min + equality filter, top-100 by account balance. The "
    "ps derivation is one partial-aggregated fact shuffle; the "
    "window-min re-shuffles only the dim-filtered survivors on "
    "ps_partkey; part and the region-scoped supplier dim are "
    "broadcast. The ORDER BY carries (n_name, s_name, p_partkey) "
    "tiebreaks so the limit cut is total-ordered on both engines.",
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 25))
        .select("p_partkey", "p_name")
    )
    supp = _supp_dim(
        spark,
        sf_dir,
        (
            "s_suppkey",
            "s_name",
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "n_name",
        ),
        region="EUROPE",
    )
    # part_keys prunes the lineitem scan below the ps aggregation: the
    # STANDARD/size filter keeps ~10% of parts, and deriving ps for the
    # other 90% only to discard them at the join aggregated ~10x more
    # rows than needed (round 12; guide §3.2 semi-join pre-filter —
    # same device Q9 already used). Group key contains l_partkey, so
    # surviving groups are byte-identical.
    eligible = (
        _ps(spark, sf_dir, part_keys=part.select("p_partkey"))
        .join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("ps_suppkey") == F.col("s_suppkey"))
    )
    w = Window.partitionBy("ps_partkey")
    return (
        eligible.withColumn("mc", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("mc"))
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "ps_partkey"
        )
        .limit(100)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "p_name",
            "ps_supplycost",
        )
    )


_Q9_ORACLE = f"""
WITH {_PS_SQL}
SELECT n_name,
       year(o_orderdate) AS o_year,
       {sql_dsum(
           "l_extendedprice * (1 - l_discount) - ps_supplycost * l_quantity",
           "profit",
           4,
       )}
FROM lineitem
JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
JOIN part ON p_partkey = l_partkey AND p_name LIKE '%widget%'
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
GROUP BY n_name, o_year
"""


@register(
    "tpch_q9_product_profit",
    oracle=_Q9_ORACLE,
    doc="TPC-H Q9 shape (product-type profit by nation and year): "
    "profit = revenue minus derived supply cost x quantity for every "
    "widget lineitem, rolled up by supplier nation and order year. "
    "ps joins BACK to lineitem on the same (partkey, suppkey) pair "
    "it was derived on — at scale both sides hash-partition on that "
    "compound key, so the self-derived dim costs one aligned "
    "shuffle; orders joins on orderkey (the one unavoidable second "
    "fact shuffle); part filter prunes before the join; supplier "
    "and nation broadcast. Decimal-exact profit sum (scale 4 covers "
    "the 2x2-decimal products).",
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("widget"))
        .select("p_partkey")
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    supp = F.broadcast(_supp_dim(spark, sf_dir, ("s_suppkey", "n_name")))
    # the selective widget filter prunes BOTH fact sides BEFORE the
    # heavy (partkey, suppkey) join — Spark does not reorder inner
    # joins by default, and the old shape ran the full li x ps join
    # first, processing ~20x more rows than the ~5%-selective part
    # filter leaves (round-9 review; inner joins on unique p_partkey
    # commute, so results are identical)
    ps = _ps(spark, sf_dir, part_keys=part)
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(
            ps,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(
            "n_name", F.year("o_orderdate").cast("long").alias("o_year")
        )
        .agg(dsum(profit, "profit", 4))
    )


_Q11_MULT = 2.0

_Q11_ORACLE = f"""
WITH {_PS_SQL},
scoped AS (
  SELECT ps_partkey, ps_supplycost * ps_availqty AS v
  FROM ps
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey AND r_name = 'EUROPE'
),
per_part AS (
  SELECT ps_partkey, {sql_dsum("v", "part_value", 2)}
  FROM scoped GROUP BY ps_partkey
),
total AS (
  SELECT {sql_dsum("v", "tv", 2)},
         CAST(count(DISTINCT ps_partkey) AS BIGINT) AS np
  FROM scoped
)
SELECT ps_partkey, part_value
FROM per_part CROSS JOIN total
WHERE part_value > {_Q11_MULT} * tv / np
"""


@register(
    "tpch_q11_important_stock",
    oracle=_Q11_ORACLE,
    doc="TPC-H Q11 shape (important stock identification): inventory "
    "value (supplycost x availqty) per part across European "
    "suppliers, keeping parts whose value exceeds 2x the mean "
    "per-part value — the scalar-subquery HAVING, with the "
    "threshold expressed RELATIVE to the scoped part count so the "
    "selectivity is scale-invariant (TPC-H's own Q11 divides its "
    "fraction by SF for the same reason; a fixed fraction returns "
    "empty above sf0.001). The (total, n_parts) pair is a 1-row "
    "broadcast cross join, never a collect; sums are decimal-exact "
    "then converted once to double, so the threshold comparison is "
    "bit-identical across engines. One ps shuffle + one ps_partkey "
    "rollup.",
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = F.broadcast(
        _supp_dim(spark, sf_dir, ("s_suppkey",), region="EUROPE")
    )
    # supp_keys prunes lineitem below the ps aggregation (guide §3.2):
    # the Europe scope keeps ~1/5 of suppliers, and s_suppkey is unique,
    # so the semi-prune IS the old inner join — scoped needs no second
    # join at all. Surviving (partkey, suppkey) groups keep every row,
    # so their aggregates are unchanged (round 12).
    scoped = _ps(spark, sf_dir, supp_keys=supp).select(
        "ps_partkey",
        (F.col("ps_supplycost") * F.col("ps_availqty")).alias("v"),
    )
    # ONE aggregation pass feeds both the per-part values and the
    # global threshold: the exact decimal per-part sums re-aggregate to
    # the exact global sum (integer arithmetic is associative), and the
    # distinct part count is simply the per-part row count — so the
    # old second branch (a full re-aggregation of `scoped` with a
    # count_distinct Expand) disappears. Bit-identical to the oracle:
    # sum-of-group-sums == global sum on exact decimals, and
    # count(ps_partkey) over groups == count(DISTINCT ps_partkey)
    # (the NULL group, if any, is excluded by both). Measured 1.91 s
    # -> ~1.1 s bench-cold at sf0.1 (round 12; guide §2.4 — share one
    # exchange instead of recomputing the subtree).
    from pyspark.sql.types import DecimalType

    pv = scoped.groupBy("ps_partkey").agg(
        F.sum(F.col("v").cast(DecimalType(18, 2))).alias("__pv")
    )
    per_part = pv.select(
        "ps_partkey", F.col("__pv").cast("double").alias("part_value")
    )
    total = pv.agg(
        F.sum("__pv").cast("double").alias("tv"),
        F.count(F.col("ps_partkey")).alias("np"),
    )
    return (
        per_part.crossJoin(total)
        .filter(
            F.col("part_value") > F.lit(_Q11_MULT) * F.col("tv") / F.col("np")
        )
        .select("ps_partkey", "part_value")
    )


_Q12_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
"""


@register(
    "tpch_q12_priority_lines",
    oracle=_Q12_ORACLE,
    doc="TPC-H Q12 shape (shipping mode vs order priority; the driver "
    "schema has no l_shipmode, so the grouping dimension is "
    "l_returnflag): conditional high/low-priority line counts per "
    "flag over one shipped-in-1997 year. The shipdate range reaches "
    "the parquet scan as a pushed filter; the orderkey join is the "
    "single fact shuffle (AQE broadcasts the pruned lineitem side "
    "at small SF); the conditional counts are partial-aggregated "
    "before the 3-row exchange.",
)
def tpch_q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            # ~high, NOT otherwise(1): a NULL o_orderpriority must count
            # as NEITHER (the oracle's CASE WHEN ... NOT IN yields NULL
            # -> ELSE 0), while when(high, 0).otherwise(1) would count
            # it low — the Q16 NULL-key class (round-9 review)
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


_Q16_SIZES = (1, 4, 9, 16, 25, 36, 49)

_Q16_ORACLE = f"""
WITH {_PS_SQL}
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM ps
JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#13'
  AND p_type <> 'MEDIUM'
  AND p_size IN ({', '.join(map(str, _Q16_SIZES))})
  -- NOT EXISTS, not NOT IN: the Spark side is a LEFT ANTI join, and
  -- NOT IN would collapse to zero rows if the subquery ever produced
  -- a NULL key (round-7 advice pin; same class as stats.py's
  -- NULL-safe-join switch in round 6)
  AND NOT EXISTS (SELECT 1 FROM supplier
                  WHERE s_acctbal < 0 AND s_suppkey = ps_suppkey)
GROUP BY p_brand, p_type, p_size
"""


@register(
    "tpch_q16_supplier_part_counts",
    oracle=_Q16_ORACLE,
    doc="TPC-H Q16 shape (parts/supplier relationship): distinct "
    "supplier count per (brand, type, size) bucket, excluding one "
    "brand, one type, off-list sizes, and suppliers in bad standing "
    "(s_acctbal < 0 stands in for the complaint-comment filter). "
    "The exclusion list is a broadcast LEFT ANTI join; count "
    "DISTINCT expands to the standard two-phase partial-distinct "
    "aggregate, so the (brand, type, size) shuffle carries "
    "(bucket, suppkey) pairs, not rows.",
)
def tpch_q16_supplier_part_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    part = (
        table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#13")
            & (F.col("p_type") != "MEDIUM")
            & (F.col("p_size").isin(*_Q16_SIZES))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad_supp = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    # part_keys prunes the lineitem scan below the ps aggregation (the
    # size list keeps ~1/7 of parts; guide §3.2, round 12) — same
    # group-key argument as Q2/Q9: surviving groups are unchanged.
    return (
        _ps(spark, sf_dir, part_keys=part.select("p_partkey"))
        .join(part, F.col("p_partkey") == F.col("ps_partkey"))
        .join(bad_supp, F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("ps_suppkey")).alias("supplier_cnt"))
    )


_Q20_MULT = 7.0

_Q20_ORACLE = f"""
WITH {_PS_SQL},
q97 AS (
  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty97
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey
),
cand AS (
  SELECT ps_suppkey
  FROM ps
  JOIN q97 ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
  WHERE ps_availqty > {_Q20_MULT} * qty97
    AND ps_partkey IN (SELECT p_partkey FROM part
                       WHERE p_name LIKE 'small%')
)
SELECT s_name, n_name,
       CAST(count(*) AS BIGINT) AS n_excess_parts
FROM cand
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey AND r_name = 'ASIA'
GROUP BY s_name, n_name
"""


@register(
    "tpch_q20_excess_stock",
    oracle=_Q20_ORACLE,
    doc="TPC-H Q20 shape (potential part promotion / excess stock): "
    "Asian suppliers of 'small' parts whose all-time moved quantity "
    "exceeds 7x their 1997 demand — the correlated "
    "aggregate-vs-aggregate comparison (availqty > k x one year's "
    "qty) that makes Q20 the classic nested-subquery stress. Both "
    "aggregates derive from lineitem grouped on the SAME "
    "(partkey, suppkey) key, so at scale the join between them is "
    "shuffle-aligned; the part name filter is a broadcast semi "
    "join; supplier/nation/region are broadcast; quantities are "
    "integer-valued doubles so both sums and the 7x threshold are "
    "exact on both engines.",
)
def tpch_q20_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    small_parts = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small"))
        .select("p_partkey")
    )
    sd = _supp_dim(
        spark, sf_dir, ("s_suppkey", "s_name", "n_name"), region="ASIA"
    )
    # Both lineitem aggregations are semi-pruned by the selective part
    # and supplier scopes BEFORE grouping (guide §3.2; round 12): the
    # final result only ever reads (partkey, suppkey) groups whose part
    # is 'small%' and whose supplier is Asian, and both prune keys are
    # group-key columns, so surviving groups keep every row and their
    # SUM/MIN aggregates are unchanged. Previously both aggregates ran
    # over the full fact table and discarded ~95% of their groups at
    # the joins below.
    supp_keys = F.broadcast(sd.select("s_suppkey"))
    q97 = (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
        )
        .join(small_parts, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .join(supp_keys, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty97"))
    )
    cand = (
        _ps(spark, sf_dir, part_keys=small_parts, supp_keys=supp_keys)
        .join(
            q97,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .filter(F.col("ps_availqty") > F.lit(_Q20_MULT) * F.col("qty97"))
    )
    supp = F.broadcast(sd)
    return (
        cand.join(supp, F.col("ps_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_excess_parts"))
    )
