"""Data-layout surface: Z-order clustering quality (zone-map stats).

At 100 TB the fastest query is the one that never reads most files:
multi-dimensional clustering (Z-order/Morton interleave, the layout
primitive behind Delta OPTIMIZE ZORDER BY and Iceberg sort orders)
gives *every* interleaved column file-level min/max locality, so
zone maps prune filters on any of them. The registered query computes
the Morton key as pure column algebra (operators/layout.py — 4
shift/mask steps, whole-stage codegen, no UDF) and reports per-bucket
zone-map extents; tests/test_scale_plans.py pins the
repartitionByRange write recipe's RangePartitioning exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rabbithole_spark.catalog import register
from rabbithole_spark.operators.layout import scale_to_16bit, zorder_key
from rabbithole_spark.session import table

__all__ = ["layout_zorder_clustering"]


def _duck_spread(v: str) -> str:
    """DuckDB replay of spread_bits16 — identical shift/mask ladder."""
    e = f"(({v}) & 65535)"
    for shift, mask in (
        (8, 0x00FF00FF),
        (4, 0x0F0F0F0F),
        (2, 0x33333333),
        (1, 0x55555555),
    ):
        e = f"((({e}) | (({e}) << {shift})) & {mask})"
    return e


_ZORDER_ORACLE = f"""
WITH bounds AS (
  SELECT max(l_partkey) + 1 AS mp, max(l_orderkey) + 1 AS mo FROM lineitem
), zed AS (
  SELECT l_partkey, l_orderkey,
         ({_duck_spread('CAST(floor(l_partkey * 65536 / mp) AS BIGINT)')}
          | ({_duck_spread('CAST(floor(l_orderkey * 65536 / mo) AS BIGINT)')} << 1)) AS z
  FROM lineitem CROSS JOIN bounds
)
SELECT z >> 22 AS z_bucket,
       count(*) AS n_rows,
       min(l_partkey) AS part_lo, max(l_partkey) AS part_hi,
       min(l_orderkey) AS order_lo, max(l_orderkey) AS order_hi
FROM zed GROUP BY z >> 22
"""


@register(
    "layout_zorder_clustering",
    oracle=_ZORDER_ORACLE,
    doc="Z-order (Morton) multi-column clustering audit: scale "
    "(l_partkey, l_orderkey) to 16-bit buckets, interleave bits via "
    "the shift/mask ladder (pure codegen arithmetic, no UDF), bucket "
    "the curve into 1024 z-ranges (the would-be files of a "
    "repartitionByRange-on-z write, operators/layout.py:zorder_write) "
    "and report each bucket's zone-map extents on BOTH keys — small "
    "per-bucket spans on both columns are exactly what lets file "
    "stats prune a filter on either key at 100 TB. Scale shape: one "
    "tiny bounds agg broadcast to the scan, one groupBy-z shuffle; "
    "the write recipe costs one RangePartitioning exchange "
    "(plan-pinned in tests/test_scale_plans.py).",
)
def layout_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        (F.max("l_partkey") + 1).alias("mp"),
        (F.max("l_orderkey") + 1).alias("mo"),
    )
    zed = li.crossJoin(bounds).select(
        "l_partkey",
        "l_orderkey",
        zorder_key(
            scale_to_16bit(F.col("l_partkey"), F.col("mp")),
            scale_to_16bit(F.col("l_orderkey"), F.col("mo")),
        ).alias("z"),
    )
    return zed.groupBy(
        F.shiftright("z", 22).alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_partkey").alias("part_lo"),
        F.max("l_partkey").alias("part_hi"),
        F.min("l_orderkey").alias("order_lo"),
        F.max("l_orderkey").alias("order_hi"),
    )
