"""Aggregation surface (SURVEY.md §2B Aggregation): grouped aggs,
distinct / count-distinct / approx, rollup, cube, grouping sets,
conditional aggregation, HAVING.

Scale notes: every groupBy here is a partial (map-side) aggregate before
the shuffle, so shuffled bytes are O(distinct keys). count(DISTINCT x)
expands to a two-phase aggregate under Catalyst; for 100 TB cardinality
estimation prefer approx_count_distinct (registered rows-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rabbithole_spark.catalog import register
from rabbithole_spark.functions.numeric import dsum, ravg, sql_dsum, sql_ravg
from rabbithole_spark.session import table

_EVENT_STATS_ORACLE = f"""
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       min(value) AS min_value,
       max(value) AS max_value,
       {sql_dsum("value", "total_value", 2)},
       {sql_ravg("value", "avg_value")}
FROM events
GROUP BY event_type
"""


@register(
    "agg_event_stats",
    oracle=_EVENT_STATS_ORACLE,
    doc="Grouped count/count-distinct/min/max/sum/avg per event type.",
)
def agg_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            dsum(F.col("value"), "total_value", 2),
            ravg(F.col("value"), "avg_value"),
        )
    )


_DISTINCT_ORACLE = "SELECT DISTINCT user_id, event_type FROM events"


@register(
    "agg_distinct_pairs",
    oracle=_DISTINCT_ORACLE,
    doc="DISTINCT projection (hash aggregate without agg functions).",
)
def agg_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events").select("user_id", "event_type").distinct()


_ROLLUP_ORACLE = f"""
SELECT r_name, n_name,
       count(*) AS customers,
       {sql_dsum("c_acctbal", "total_balance", 2)}
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


@register(
    "agg_rollup",
    oracle=_ROLLUP_ORACLE,
    doc="ROLLUP hierarchy region -> nation -> grand total.",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            dsum(F.col("c_acctbal"), "total_balance", 2),
        )
    )


_CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus, count(*) AS line_count
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@register(
    "agg_cube",
    oracle=_CUBE_ORACLE,
    doc="CUBE over returnflag x linestatus (all grouping combinations).",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("line_count"))
    )


_GSETS_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS orders,
       {sql_dsum("o_totalprice", "total_price", 2)}
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@register(
    "agg_grouping_sets",
    oracle=_GSETS_ORACLE,
    doc="GROUPING SETS via the SQL API over a temp view.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


_COND_ORACLE = f"""
SELECT c_mktsegment,
       count(*) AS customers,
       count(CASE WHEN c_acctbal > 5000 THEN 1 END) AS wealthy,
       {sql_dsum("CASE WHEN c_acctbal > 5000 THEN c_acctbal ELSE 0 END", "wealthy_balance", 2)},
       {sql_ravg("CASE WHEN c_acctbal > 5000 THEN c_acctbal END", "avg_wealthy_balance")}
FROM customer
GROUP BY c_mktsegment
"""


@register(
    "agg_conditional",
    oracle=_COND_ORACLE,
    doc="Filtered/conditional aggregation with CASE inside agg functions.",
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    wealthy = F.when(F.col("c_acctbal") > 5000, F.col("c_acctbal"))
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            F.count(F.when(F.col("c_acctbal") > 5000, F.lit(1))).alias("wealthy"),
            dsum(wealthy.otherwise(F.lit(0.0)), "wealthy_balance", 2),
            ravg(wealthy, "avg_wealthy_balance"),
        )
    )


_HAVING_ORACLE = """
SELECT o_custkey, count(*) AS order_count
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 15
"""


@register(
    "agg_having",
    oracle=_HAVING_ORACLE,
    doc="Post-aggregation predicate (HAVING).",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .filter(F.col("order_count") >= 15)
    )


def _hllpp_oracle() -> str:
    """Replays Spark's HyperLogLog++ estimator exactly, in its
    linear-counting regime.

    rsd=0.02 -> p = ceil(2*log2(1.106/0.02)) = 12 -> m = 4096
    registers; register(v) = hashLong(v, 42) >>> 52 (the same XXH64
    long fast path, now in functions/xxh64_sql.py). The driver corpus
    keeps every group's cardinality <= 1500 << m, so V = m - occupied
    registers is always > 0 and H = m*ln(m/V) <= THRESHOLD(p)=11500 —
    the estimator returns Math.round(H) = floor(H+0.5) without ever
    touching the raw-estimate/bias interpolation tables (verified at
    all three SFs; register occupancy, not ranks, fully determines the
    answer in this regime, so the oracle needs only DISTINCT register
    indexes). Outside that regime this oracle would diverge — the
    docstring pin is the same measured-regime contract class as the
    MinHash recall audit.
    """
    from rabbithole_spark.functions.xxh64_sql import xxh64_long_unsigned_sql

    m = 1 << 12
    return f"""
WITH regs AS (
  SELECT event_type, ({xxh64_long_unsigned_sql('user_id')}) >> 52 AS reg
  FROM (SELECT DISTINCT event_type, user_id FROM events
        WHERE user_id IS NOT NULL)
),
v AS (
  SELECT event_type, {m} - count(DISTINCT reg) AS nzero
  FROM regs GROUP BY event_type
)
SELECT event_type,
       CAST(floor({m} * ln({m}.0 / nzero) + 0.5) AS BIGINT) AS approx_users
FROM v
"""


@register(
    "agg_approx_count_distinct",
    oracle=_hllpp_oracle(),
    doc="HLL-sketch distinct estimation (the 100 TB-scale path for "
    "cardinality; exact count-distinct shuffles every distinct value). "
    "Hash-green since round 6: the oracle replays the HLL++ estimator "
    "itself — XXH64-long register mapping + linear counting + "
    "Math.round — value-exact, not tolerance-checked (see "
    "_hllpp_oracle for the linear-counting-regime pin). Tolerance vs "
    "exact additionally hash-verified every round by "
    "sketch_tolerance_audit.",
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("approx_users"))
    )


_HLL_UNION_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS approx_users
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL' AS event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS approx_users
FROM events
"""


@register(
    "agg_hll_sketch_union",
    oracle=_HLL_UNION_ORACLE,
    doc="Mergeable Datasketches HLL: per-group sketches built in one "
    "pass then UNIONED into a corpus-wide estimate without rescanning "
    "— the re-aggregatable cardinality primitive (persist sketches "
    "per partition/day, merge on demand) that approx_count_distinct "
    "alone cannot express. Oracle-backed since round 8 (was "
    "rows-only): at lgConfigK=14 the Datasketches sketch stays in "
    "coupon (LIST/SET) mode below k/4 = 4096 distinct values per "
    "sketch, where the rounded estimate equals the exact count as "
    "long as no 26-bit coupon hash collision occurs — a property of "
    "the CONCRETE value set, not a regime guarantee (round-9 "
    "measurement: collisions flip the estimate off-by-one from "
    "~1.5k distinct on synthetic ids). The driver corpus tops out at "
    "1500 distinct users per group and overall and is MEASURED "
    "collision-free (estimate == exact at all three SFs), so the "
    "oracle is the exact distinct count; that precondition is "
    "asserted loudly per SF by tests/test_llm_operators.py::"
    "test_hll_union_estimate_exact_on_driver_corpus, and the "
    "divergence outside it is pinned by "
    "test_hll_union_regime_crossing_diverges (5000 distinct ids -> "
    "estimate != exact), so a data-gen change fails at the "
    "precondition test, not as a silent oracle mismatch. "
    "Accuracy-vs-exact at scale additionally hash-verified every "
    "round by sketch_tolerance_audit.",
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    sk = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id", 14).alias("sketch"))
    )
    # round(), not a truncating cast: in coupon mode the estimate is a
    # collision-corrected interpolation of the coupon count, not a raw
    # count — it lands *near* the exact integer, and an unlucky
    # interpolation at n.9999 would truncate to n-1 while rounding is
    # exact across the whole regime (ADVICE r8). The regime itself
    # (<= 4096 distinct per sketch) is asserted loudly on the driver
    # corpus by tests/test_llm_operators.py::test_hll_union_regime_*.
    per_group = sk.select(
        "event_type",
        F.round(F.hll_sketch_estimate("sketch"))
        .cast("long")
        .alias("approx_users"),
    )
    overall = sk.agg(
        F.hll_union_agg("sketch").alias("u")
    ).select(
        F.lit("ALL").alias("event_type"),
        F.round(F.hll_sketch_estimate("u")).cast("long").alias("approx_users"),
    )
    return per_group.unionByName(overall)


def _kll_fold(sketches: DataFrame, col: str):
    """Fold a relation of per-group KLL sketches into ONE merged sketch
    column via reduce over collect_list — safe because the input is a
    handful of ~KB sketches, never data rows. Shared by
    agg_kll_quantile_sketch (the registered merge-fold path) and
    sketch_tolerance_audit (which exists to verify THAT path — a
    private copy could silently stop testing what the query runs;
    round-9 review). The slice(2, 1_000_000) + element_at(1) shape
    seeds the fold with the first sketch so an empty tail still types.
    """
    return sketches.agg(F.collect_list(col).alias("arr")).select(
        F.reduce(
            F.slice("arr", 2, 1_000_000),
            F.element_at("arr", 1),
            lambda acc, x: F.kll_sketch_merge_double(acc, x),
        ).alias("m")
    )


@register(
    "agg_kll_quantile_sketch",
    oracle=None,  # sketch-library specific binary — rows-only
    doc="Mergeable KLL quantile sketches (k=200): per-group sketches "
    "built in one pass, then FOLDED into a corpus-wide p50/p95 with "
    "kll_sketch_merge (no rescan) — the re-aggregatable quantile "
    "primitive percentile_approx alone cannot express (persist "
    "sketches per partition/day, merge on demand). The cross-group "
    "fold is a reduce over collect_list, safe because its input is "
    "one ~KB sketch per group, not data rows. Tolerance vs exact "
    "percentiles is asserted in tests/test_llm_operators.py AND "
    "externally hash-verified every round by sketch_tolerance_audit.",
)
def agg_kll_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    sk = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.kll_sketch_agg_double("value", F.lit(200)).alias("sk"))
    )
    per_group = sk.select(
        "event_type",
        F.round(
            F.kll_sketch_get_quantile_double("sk", F.lit(0.5)), 6
        ).alias("p50"),
        F.round(
            F.kll_sketch_get_quantile_double("sk", F.lit(0.95)), 6
        ).alias("p95"),
    )
    merged = _kll_fold(sk, "sk")
    overall = merged.select(
        F.lit("ALL").alias("event_type"),
        F.round(
            F.kll_sketch_get_quantile_double("m", F.lit(0.5)), 6
        ).alias("p50"),
        F.round(
            F.kll_sketch_get_quantile_double("m", F.lit(0.95)), 6
        ).alias("p95"),
    )
    return per_group.unionByName(overall)


_MEDIAN_ORACLE = """
SELECT event_type,
       ROUND(median(value), 6) AS median_value,
       ROUND(quantile_cont(value, 0.25), 6) AS q1,
       ROUND(quantile_cont(value, 0.75), 6) AS q3
FROM events GROUP BY event_type
"""


@register(
    "agg_median_iqr",
    oracle=_MEDIAN_ORACLE,
    doc="Exact grouped median + interquartile bounds "
    "(percentile(0.5/0.25/0.75), interpolated — matches DuckDB "
    "quantile_cont). Exact percentiles buffer each group's values, so "
    "this is documented group-bounded; the KLL sketch twin "
    "(agg_kll_quantile_sketch) is the unbounded-cardinality path.",
)
def agg_median_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # ONE array-form percentile buffer instead of three scalar calls
    # (round 12, guide §1.2): each scalar aggregate buffered and sorted
    # every group value independently; per-point values are bit-equal.
    pcts = F.percentile(
        "value", F.array(F.lit(0.5), F.lit(0.25), F.lit(0.75))
    )
    return ev.groupBy("event_type").agg(pcts.alias("__p")).select(
        "event_type",
        F.round(F.col("__p")[0], 6).alias("median_value"),
        F.round(F.col("__p")[1], 6).alias("q1"),
        F.round(F.col("__p")[2], 6).alias("q3"),
    )


_THETA_ORACLE = """
-- user_id IS NOT NULL: a NULL is not a set member — theta_sketch_agg
-- and count_distinct both skip it, while count(*)/INTERSECT over the
-- distinct pairs would count it (round-6 NULL-fixture pin)
WITH u AS (SELECT DISTINCT event_type, user_id FROM events
           WHERE user_id IS NOT NULL),
c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS exact_n FROM u GROUP BY 1)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST((SELECT count(DISTINCT user_id) FROM u x
             WHERE x.event_type IN (a.event_type, b.event_type)) AS BIGINT)
         AS est_union,
       CAST((SELECT count(*) FROM
              (SELECT user_id FROM u WHERE event_type = a.event_type
               INTERSECT
               SELECT user_id FROM u WHERE event_type = b.event_type))
            AS BIGINT) AS est_intersection,
       CAST((SELECT count(*) FROM
              (SELECT user_id FROM u WHERE event_type = a.event_type
               EXCEPT
               SELECT user_id FROM u WHERE event_type = b.event_type))
            AS BIGINT) AS est_difference,
       a.exact_n AS exact_a, b.exact_n AS exact_b
FROM c a JOIN c b ON a.event_type < b.event_type
"""


@register(
    "agg_theta_sketch_setops",
    oracle=_THETA_ORACLE,
    doc="Theta-sketch set algebra over user sets: one sketch per event "
    "type (single shuffle, map-side partial agg), then union/"
    "intersection/difference ESTIMATES between every type pair from "
    "the 5-row sketch table — the mergeable-sketch way to answer "
    "audience-overlap questions without re-scanning the fact table "
    "per pair. The oracle holds while per-set cardinality stays under "
    "the sketch's nominal capacity (4096 entries; <= 1500 at every "
    "test SF) where DataSketches theta is EXACT; beyond that the "
    "operator is approximate by design and the rows-only HLL/KLL "
    "sketch queries model that regime.",
)
def agg_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.theta_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_n"),
    )
    a, b = sk.alias("a"), sk.alias("b")
    est = F.theta_sketch_estimate
    return a.join(b, F.col("a.event_type") < F.col("b.event_type")).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        est(F.theta_union(F.col("a.sk"), F.col("b.sk")))
        .cast("bigint")
        .alias("est_union"),
        est(F.theta_intersection(F.col("a.sk"), F.col("b.sk")))
        .cast("bigint")
        .alias("est_intersection"),
        est(F.theta_difference(F.col("a.sk"), F.col("b.sk")))
        .cast("bigint")
        .alias("est_difference"),
        F.col("a.exact_n").alias("exact_a"),
        F.col("b.exact_n").alias("exact_b"),
    )


_SKETCH_AUDIT_ORACLE = """
SELECT 'approx_cd' AS sketch,
       CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS grp,
       CAST(count(DISTINCT user_id) AS DOUBLE) AS exact_value,
       true AS within_tol
FROM events GROUP BY ROLLUP(event_type)
UNION ALL
SELECT 'hll_union', 'ALL', CAST(count(DISTINCT user_id) AS DOUBLE), true
FROM events
UNION ALL
SELECT 'kll_fold_p50', 'ALL', ROUND(quantile_cont(value, 0.5), 6), true
FROM events
UNION ALL
SELECT 'kll_fold_p95', 'ALL', ROUND(quantile_cont(value, 0.95), 6), true
FROM events
UNION ALL
SELECT 'gk_price_p50', l_returnflag, ROUND(quantile_cont(l_extendedprice, 0.5), 6), true
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT 'gk_price_p90', l_returnflag, ROUND(quantile_cont(l_extendedprice, 0.9), 6), true
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT 'kll_p50',
       CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END,
       ROUND(quantile_cont(value, 0.5), 6), true
FROM events GROUP BY ROLLUP(event_type)
UNION ALL
SELECT 'kll_p95',
       CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END,
       ROUND(quantile_cont(value, 0.95), 6), true
FROM events GROUP BY ROLLUP(event_type)
"""


@register(
    "sketch_tolerance_audit",
    oracle=_SKETCH_AUDIT_ORACLE,
    doc="Externally hash-verified tolerance contract for the three "
    "approximate-sketch operators (the queries themselves stay "
    "rows-only because no oracle can replay HLL++/Datasketches "
    "binaries): each row carries the EXACT value (cross-engine "
    "hash-checked) plus a within_tol boolean the oracle pins to true "
    "— approx_count_distinct(rsd=0.02) within 5% of exact per group "
    "and overall; the per-group-HLL-union estimate within 5% of "
    "overall exact; KLL(k=200) p50/p95 inside the exact "
    "[q-0.05, q+0.05] percentile band (the rank-error guarantee "
    "KLL actually makes, for BOTH the one-shot whole-corpus sketch "
    "and the registered merge-fold path — per-group sketches folded "
    "with kll_sketch_merge, the kll_fold_* rows); "
    "agg_approx_percentile's exact "
    "configuration (accuracy=10000 on l_extendedprice by "
    "l_returnflag) inside the exact [q-0.01, q+0.01] band — a 100x "
    "margin over its 1/accuracy rank-error bound. A drifting sketch "
    "flips the boolean and "
    "fails the external hash check — promoting the pytest-only "
    "tolerance tests to the driver's per-round gate. One rollup "
    "pass computes sketch and exact sides together (no extra scan "
    "vs the sketches alone); at 100 TB the audit runs on a sampled "
    "partition, the production queries keep the sketch-only plans.",
)
def sketch_tolerance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    grp = F.when(F.grouping("event_type") == 1, F.lit("ALL")).otherwise(
        F.col("event_type")
    )
    # ONE array-form exact percentile instead of six scalar calls
    # (round 12, guide §1.2/§2.3): each scalar `percentile` aggregate
    # buffers EVERY value in its own counts map and sorts it
    # independently — six full copies + six sorts of the same column
    # per rollup group. The array form keeps one buffer and one sort,
    # queried at all six points; per-point values are computed by the
    # identical interpolation from the identical multiset, so results
    # are bit-equal (measured on the lineitem twin below: 8.78 s ->
    # 1.78 s for the branch).
    base = ev.rollup("event_type").agg(
        grp.alias("grp"),
        F.approx_count_distinct("user_id", 0.02).alias("acd"),
        F.countDistinct("user_id").alias("ecd"),
        F.kll_sketch_agg_double("value", F.lit(200)).alias("ks_roll"),
        F.percentile(
            "value",
            F.array(*[F.lit(p) for p in (0.5, 0.95, 0.45, 0.55, 0.90, 1.0)]),
        ).alias("__pcts"),
    ).select(
        "*",
        F.col("__pcts")[0].alias("ex_p50"),
        F.col("__pcts")[1].alias("ex_p95"),
        F.col("__pcts")[2].alias("p50_lo"),
        F.col("__pcts")[3].alias("p50_hi"),
        F.col("__pcts")[4].alias("p95_lo"),
        F.col("__pcts")[5].alias("p95_hi"),
    ).drop("__pcts").withColumns(
        # ONE sketch per group queried at both quantiles (round-9
        # review: two kll_sketch_agg_double calls built — and paid for
        # — two independent sketches per rollup group)
        {
            "kll_p50": F.kll_sketch_get_quantile_double(
                "ks_roll", F.lit(0.5)
            ),
            "kll_p95": F.kll_sketch_get_quantile_double(
                "ks_roll", F.lit(0.95)
            ),
        }
    ).drop("ks_roll").localCheckpoint(eager=False)
    # ^ the 6-row rollup result is consumed by two branches (the
    # explode rows + the hll_union exact side); materialize it once
    # instead of re-executing the events scan + rollup per branch
    # (NOTES.md lesson 9).
    # One rollup pass feeds all three per-group families via an
    # explode-of-structs unpivot — NOT a 3-way union of selects over
    # `base`, which would re-execute the events scan + rollup once per
    # branch (the NOTES.md lesson-9 DAG-reuse disease).
    rows = base.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("approx_cd").alias("sketch"),
                    F.col("grp").alias("grp"),
                    F.col("ecd").cast("double").alias("exact_value"),
                    (
                        F.abs(F.col("acd") - F.col("ecd"))
                        <= 0.05 * F.col("ecd")
                    ).alias("within_tol"),
                ),
                F.struct(
                    F.lit("kll_p50").alias("sketch"),
                    F.col("grp").alias("grp"),
                    F.round("ex_p50", 6).alias("exact_value"),
                    F.col("kll_p50")
                    .between(F.col("p50_lo"), F.col("p50_hi"))
                    .alias("within_tol"),
                ),
                F.struct(
                    F.lit("kll_p95").alias("sketch"),
                    F.col("grp").alias("grp"),
                    F.round("ex_p95", 6).alias("exact_value"),
                    F.col("kll_p95")
                    .between(F.col("p95_lo"), F.col("p95_hi"))
                    .alias("within_tol"),
                ),
            )
        ).alias("r")
    ).select("r.sketch", "r.grp", "r.exact_value", "r.within_tol")
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("s"),
        F.kll_sketch_agg_double("value", F.lit(200)).alias("ks"),
    ).localCheckpoint(eager=False)
    # ^ consumed by BOTH the kll-fold and hll-union branches below —
    # materialize the handful of sketch rows once (lesson 9)
    # the registered merge-FOLD path (agg_kll_quantile_sketch's overall
    # row): per-group sketches folded with kll_sketch_merge — audited
    # separately from the rollup's one-shot whole-corpus sketch above
    folded = _kll_fold(sk, "ks")
    all_row_plain = base.filter(F.col("grp") == "ALL")
    all_row = F.broadcast(all_row_plain)
    kll_fold = folded.crossJoin(all_row).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("kll_fold_p50").alias("sketch"),
                    F.lit("ALL").alias("grp"),
                    F.round("ex_p50", 6).alias("exact_value"),
                    F.kll_sketch_get_quantile_double("m", F.lit(0.5))
                    .between(F.col("p50_lo"), F.col("p50_hi"))
                    .alias("within_tol"),
                ),
                F.struct(
                    F.lit("kll_fold_p95").alias("sketch"),
                    F.lit("ALL").alias("grp"),
                    F.round("ex_p95", 6).alias("exact_value"),
                    F.kll_sketch_get_quantile_double("m", F.lit(0.95))
                    .between(F.col("p95_lo"), F.col("p95_hi"))
                    .alias("within_tol"),
                ),
            )
        ).alias("r")
    ).select("r.sketch", "r.grp", "r.exact_value", "r.within_tol")
    hll_union = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("s")).alias("est")
    ).crossJoin(
        # exact overall distinct already sits in the rollup's ALL row
        # (same filtered relation as all_row — one sentinel definition)
        F.broadcast(all_row_plain.select(F.col("ecd").alias("exact")))
    ).select(
        F.lit("hll_union").alias("sketch"),
        F.lit("ALL").alias("grp"),
        F.col("exact").cast("double").alias("exact_value"),
        (F.abs(F.col("est") - F.col("exact")) <= 0.05 * F.col("exact")).alias(
            "within_tol"
        ),
    )
    li = table(spark, sf_dir, "lineitem")
    # same array-form consolidation as the rollup above (round 12):
    # ONE exact-percentile buffer + sort for all six points (was six,
    # each holding all 600k prices at sf0.1 — measured 8.78 s -> 1.78 s
    # for this branch) and ONE GK summary for both approx points. The
    # exact values are bit-equal; the approx summary is built from the
    # same data either way and only feeds within_tol booleans that
    # carry a 100x margin over the rank-error bound.
    gk_base = li.groupBy("l_returnflag").agg(
        F.approx_percentile(
            "l_extendedprice",
            F.array(F.lit(0.5), F.lit(0.9)),
            F.lit(10000),
        ).alias("__ap"),
        F.percentile(
            "l_extendedprice",
            F.array(*[F.lit(p) for p in (0.5, 0.9, 0.49, 0.51, 0.89, 0.91)]),
        ).alias("__ex"),
    ).select(
        "l_returnflag",
        F.col("__ap")[0].alias("ap50"),
        F.col("__ap")[1].alias("ap90"),
        F.col("__ex")[0].alias("ex_p50"),
        F.col("__ex")[1].alias("ex_p90"),
        F.col("__ex")[2].alias("p50_lo"),
        F.col("__ex")[3].alias("p50_hi"),
        F.col("__ex")[4].alias("p90_lo"),
        F.col("__ex")[5].alias("p90_hi"),
    )
    gk_rows = gk_base.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("gk_price_p50").alias("sketch"),
                    F.col("l_returnflag").alias("grp"),
                    F.round("ex_p50", 6).alias("exact_value"),
                    F.col("ap50")
                    .between(F.col("p50_lo"), F.col("p50_hi"))
                    .alias("within_tol"),
                ),
                F.struct(
                    F.lit("gk_price_p90").alias("sketch"),
                    F.col("l_returnflag").alias("grp"),
                    F.round("ex_p90", 6).alias("exact_value"),
                    F.col("ap90")
                    .between(F.col("p90_lo"), F.col("p90_hi"))
                    .alias("within_tol"),
                ),
            )
        ).alias("r")
    ).select("r.sketch", "r.grp", "r.exact_value", "r.within_tol")
    return rows.unionByName(hll_union).unionByName(kll_fold).unionByName(
        gk_rows
    )
