"""Statistical aggregation surface (SURVEY.md §2B Aggregation — extended):
moments, correlation/regression, percentiles, arg-min/max, ordered
string/array collection, and positional explode (lateral unnest).

Cross-engine notes:

- Spark ``skewness``/``kurtosis`` are *population* moments (g1, excess
  g2); DuckDB's builtins apply sample bias correction, so the oracle
  computes the explicit population formula from avg() moments instead.
- ``max_by``/``min_by`` tie-break through a zero-padded sortable string
  key (DuckDB's max_by cannot order by a struct), making the arg-max
  deterministic even with duplicate values.
- All float results are rounded per the policy in
  ``rabbithole_spark/functions/numeric.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rabbithole_spark.catalog import register
from rabbithole_spark.session import table

# --- moments -----------------------------------------------------------------

_MOMENTS_ORACLE = """
WITH mu AS (
  SELECT l_returnflag AS g, avg(l_quantity) AS m FROM lineitem GROUP BY 1
)
SELECT l_returnflag,
       round(stddev_samp(l_quantity), 6) AS qty_stddev,
       round(var_samp(l_quantity), 6) AS qty_var,
       round(stddev_pop(l_quantity), 6) AS qty_stddev_pop,
       round(var_pop(l_quantity), 6) AS qty_var_pop,
       -- zero-variance guard: Spark's skewness/kurtosis return NULL
       -- when the central second moment is EXACTLY 0, which in its
       -- streaming recurrence happens iff every value in the group is
       -- identical — min < max is that predicate exactly. The old
       -- avg(pow(x - m, 2)) > 0 guard could pass on 1-ulp float noise
       -- for a constant non-dyadic group (two-pass mean != the value),
       -- emitting skew ~ -1 where Spark yields NULL (round-9 review;
       -- round-6 NULL-fixture pin covers the 0/0 -> NaN case)
       CASE WHEN min(l_quantity) < max(l_quantity)
            THEN round(avg(pow(l_quantity - m, 3))
                       / pow(avg(pow(l_quantity - m, 2)), 1.5), 6)
       END AS qty_skew,
       CASE WHEN min(l_quantity) < max(l_quantity)
            THEN round(avg(pow(l_quantity - m, 4))
                       / pow(avg(pow(l_quantity - m, 2)), 2) - 3, 6)
       END AS qty_kurt
-- IS NOT DISTINCT FROM: an equi-join on the group key silently drops
-- the NULL-flag group that Spark's groupBy emits (same pin)
FROM lineitem JOIN mu ON l_returnflag IS NOT DISTINCT FROM g
GROUP BY l_returnflag, m
"""


@register(
    "agg_stats_moments",
    oracle=_MOMENTS_ORACLE,
    doc="Grouped stddev/variance (sample+population), skewness, kurtosis "
    "— one partial-aggregable shuffle; Spark's population moment "
    "definitions pinned against an explicit-formula oracle.",
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp(q), 6).alias("qty_stddev"),
        F.round(F.var_samp(q), 6).alias("qty_var"),
        F.round(F.stddev_pop(q), 6).alias("qty_stddev_pop"),
        F.round(F.var_pop(q), 6).alias("qty_var_pop"),
        F.round(F.skewness(q), 6).alias("qty_skew"),
        F.round(F.kurtosis(q), 6).alias("qty_kurt"),
    )


# --- correlation / regression ------------------------------------------------

_CORR_ORACLE = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
       round(covar_pop(l_quantity, l_extendedprice), 4) AS qty_price_covar_pop,
       round(regr_slope(l_extendedprice, l_quantity), 6) AS price_per_qty,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS price_intercept
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "agg_corr_regression",
    oracle=_CORR_ORACLE,
    doc="Pearson correlation, covariance, and least-squares regression "
    "aggregates — all single-pass partial-aggregable built-ins.",
)
def agg_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr(q, p), 6).alias("qty_price_corr"),
        F.round(F.covar_samp(q, p), 4).alias("qty_price_covar"),
        F.round(F.covar_pop(q, p), 4).alias("qty_price_covar_pop"),
        F.round(F.regr_slope(p, q), 6).alias("price_per_qty"),
        F.round(F.regr_intercept(p, q), 4).alias("price_intercept"),
    )


# --- percentiles -------------------------------------------------------------

_PCT_ORACLE = """
SELECT l_returnflag,
       round(median(l_quantity), 6) AS qty_median,
       round(quantile_cont(l_quantity, 0.25), 6) AS qty_q25,
       round(quantile_cont(l_quantity, 0.75), 6) AS qty_q75,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS price_p90
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "agg_percentiles",
    oracle=_PCT_ORACLE,
    doc="Exact interpolated percentiles (median/q25/q75/p90). Exact "
    "percentile needs per-group sorted values; at 100 TB swap in "
    "approx_percentile (t-digest sketch, partial-aggregable) and "
    "compare with tolerance instead of hashes.",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # q25/q75 share ONE array-form percentile buffer (round 12, guide
    # §1.2 — the scalar calls each buffered and sorted every group's
    # quantities; per-point values are bit-equal). F.median keeps its
    # own aggregate deliberately: it is the declared API surface here.
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_quantity"), 6).alias("qty_median"),
        F.percentile(
            "l_quantity", F.array(F.lit(0.25), F.lit(0.75))
        ).alias("__q"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias("price_p90"),
    ).select(
        "l_returnflag",
        "qty_median",
        F.round(F.col("__q")[0], 6).alias("qty_q25"),
        F.round(F.col("__q")[1], 6).alias("qty_q75"),
        "price_p90",
    )


# --- arg-min / arg-max -------------------------------------------------------

#: Zero-padded "nullflag|price|key" string whose lexicographic order
#: equals (price IS NOT NULL, price, key) numeric order — a
#: deterministic tie-break both engines sort identically (values are
#: non-negative and fixed-width). The leading flag pins NULL prices as
#: LOWEST on both engines: without it, a group whose every price is
#: NULL diverges (Spark max_by formats a NULL key and still elects a
#: row; DuckDB arg_max ignores NULL keys and returns NULL) — found by
#: the round-6 NULL-fixture probe.
_SORTKEY_FMT = "%d|%020.2f|%019d"
_SORTKEY_SQL = (
    "printf('%d|%020.2f|%019d', CASE WHEN o_totalprice IS NULL THEN 0 "
    "ELSE 1 END, coalesce(o_totalprice, 0.0), o_orderkey)"
)

_MINMAX_ORACLE = f"""
SELECT o_orderpriority,
       max_by(o_orderkey, {_SORTKEY_SQL}) AS biggest_order,
       min_by(o_orderkey, {_SORTKEY_SQL}) AS smallest_order,
       round(max(o_totalprice), 2) AS max_price,
       round(min(o_totalprice), 2) AS min_price
FROM orders
GROUP BY o_orderpriority
"""


@register(
    "agg_minmax_by",
    oracle=_MINMAX_ORACLE,
    doc="Deterministic arg-max/arg-min per group: max_by/min_by over a "
    "zero-padded composite sort key (unique tie-break), single shuffle.",
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    key = F.format_string(
        _SORTKEY_FMT,
        F.when(F.col("o_totalprice").isNull(), 0).otherwise(1),
        F.coalesce(F.col("o_totalprice"), F.lit(0.0)),
        F.col("o_orderkey"),
    )
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", key).alias("biggest_order"),
        F.min_by("o_orderkey", key).alias("smallest_order"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
    )


# --- boolean / conditional counting ------------------------------------------

_BOOL_ORACLE = """
SELECT event_type,
       CAST(count_if(value > 50) AS BIGINT) AS n_big,
       bool_and(value IS NOT NULL) AS all_valued,
       bool_or(value > 99) AS any_huge,
       count(*) AS n
FROM events
GROUP BY event_type
"""


@register(
    "agg_bool_countif",
    oracle=_BOOL_ORACLE,
    doc="count_if / bool_and / bool_or conditional aggregates.",
)
def agg_bool_countif(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_if(F.col("value") > 50).alias("n_big"),
        F.bool_and(F.col("value").isNotNull()).alias("all_valued"),
        F.bool_or(F.col("value") > 99).alias("any_huge"),
        F.count(F.lit(1)).alias("n"),
    )


# --- ordered collection ------------------------------------------------------

_COLLECT_ORACLE = """
SELECT c_nationkey,
       -- coalesce: with zero non-NULL names in a group, Spark's
       -- collect_list -> array_join yields '' while string_agg yields
       -- NULL (round-6 NULL-fixture pin)
       coalesce(string_agg(c_name, '|' ORDER BY c_name), '') AS names,
       count(*) AS n_customers
FROM customer
WHERE c_custkey <= 500
GROUP BY c_nationkey
"""


@register(
    "agg_string_collect",
    oracle=_COLLECT_ORACLE,
    doc="Ordered string aggregation (listagg): collect_list -> array_sort "
    "-> array_join pins a deterministic order. collect_list is NOT "
    "partial-aggregable on value count — bound group sizes (or switch "
    "to an ordered window concat) before running it on 100 TB groups.",
)
def agg_string_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_list("c_name")), "|").alias("names"),
        F.count(F.lit(1)).alias("n_customers"),
    )


# --- positional explode (lateral unnest) -------------------------------------

_POSEXPLODE_ORACLE = """
SELECT p_partkey, u.pos, u.word
FROM (
  SELECT p_partkey,
         unnest(list_transform(string_split(p_type, ' '),
                               (w, i) -> {'pos': CAST(i - 1 AS INTEGER), 'word': w})) AS u
  FROM part
  WHERE p_partkey <= 200
)
"""


@register(
    "lateral_posexplode_words",
    oracle=_POSEXPLODE_ORACLE,
    doc="Positional explode (LATERAL VIEW posexplode / UNNEST WITH "
    "ORDINALITY): one generator row per array element with its index.",
)
def lateral_posexplode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    return p.select(
        "p_partkey",
        F.posexplode(F.split(F.col("p_type"), " ")).alias("pos", "word"),
    )


#: Deterministic coordinated-sample predicate for the approximate
#: percentile: keep a row iff a multiplicative hash of its UNIQUE row
#: key (l_orderkey*8 + l_linenumber — l_linenumber is 1..7) lands in
#: the bottom 25% of the 32-bit bucket space. (key % 2^31) * odd32 =
#: (2^31-1) * 2654435761 ~ 5.7e18 < 2^63, so the arithmetic is
#: ANSI-overflow-safe on both engines (int64, NOT under 2^62 — do not
#: widen the fold or the multiplier without rechecking this bound);
#: 2654435761 is the Knuth 32-bit multiplier, a different
#: family member from the doc samplers so the selections are
#: uncorrelated.
_APCT_SAMPLE_SQL = (
    "(((l_orderkey * 8 + l_linenumber) % 2147483648) * 2654435761)"
    " % 4294967296 % 100 < 25"
)

_APPROX_PCT_ORACLE = f"""
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS price_p50_approx,
       ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS price_p90_approx
FROM lineitem
WHERE {_APCT_SAMPLE_SQL}
GROUP BY l_returnflag
"""


@register(
    "agg_approx_percentile",
    oracle=_APPROX_PCT_ORACLE,
    doc="Approximate grouped percentiles via a DETERMINISTIC mergeable "
    "quantile summary: a hash-coordinated row sample (keep iff "
    "multiplicative-hash(row key) falls in the bottom 25% of bucket "
    "space) followed by exact interpolated percentiles over the "
    "sample. Rank error is O(1/sqrt(sample)), same regime as a GK/ "
    "t-digest sketch at equivalent size — but unlike Spark's builtin "
    "approx_percentile (GK, whose compaction depends on shuffle-fetch "
    "merge order and is genuinely nondeterministic run-to-run, NOTES "
    "r6), this summary is a pure function of the data multiset: the "
    "sample-of-a-union IS the union-of-samples, so partial aggregates "
    "merge in any order to the identical result and the DuckDB oracle "
    "replays it hash-exactly. Scale shape: the sample predicate is "
    "scan-local (row-key arithmetic, no shuffle, pushes past nothing "
    "it needs to), only sampled rows reach the group agg, and the "
    "keep-rate is the accuracy/memory dial — at 100 TB set it to "
    "~m/n_group. The builtin GK path stays tolerance-audited every "
    "round by sketch_tolerance_audit's gk_price_* rows.",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # ONE array-form percentile buffer for both points (round 12,
    # guide §1.2); per-point values are bit-equal to the scalar calls.
    return (
        li.filter(F.expr(_APCT_SAMPLE_SQL))
        .groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9))
            ).alias("__p")
        )
        .select(
            "l_returnflag",
            F.round(F.col("__p")[0], 6).alias("price_p50_approx"),
            F.round(F.col("__p")[1], 6).alias("price_p90_approx"),
        )
    )


_PROFILE_ORACLE = """
WITH s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) - count(o_custkey) AS BIGINT) AS nc_custkey,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd_custkey,
         printf('%d', min(o_custkey)) AS mn_custkey,
         printf('%d', max(o_custkey)) AS mx_custkey,
         CAST(count(*) - count(o_orderstatus) AS BIGINT) AS nc_status,
         CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd_status,
         min(o_orderstatus) AS mn_status,
         max(o_orderstatus) AS mx_status,
         CAST(count(*) - count(o_totalprice) AS BIGINT) AS nc_price,
         CAST(count(DISTINCT o_totalprice) AS BIGINT) AS nd_price,
         printf('%.2f', min(o_totalprice)) AS mn_price,
         printf('%.2f', max(o_totalprice)) AS mx_price,
         CAST(count(*) - count(o_orderdate) AS BIGINT) AS nc_date,
         CAST(count(DISTINCT o_orderdate) AS BIGINT) AS nd_date,
         strftime(min(o_orderdate), '%Y-%m-%d') AS mn_date,
         strftime(max(o_orderdate), '%Y-%m-%d') AS mx_date
  FROM orders
)
SELECT 'o_custkey' AS col_name, n_rows, nc_custkey AS null_count,
       nd_custkey AS n_distinct, mn_custkey AS min_value, mx_custkey AS max_value
FROM s
UNION ALL
SELECT 'o_orderstatus', n_rows, nc_status, nd_status, mn_status, mx_status FROM s
UNION ALL
SELECT 'o_totalprice', n_rows, nc_price, nd_price, mn_price, mx_price FROM s
UNION ALL
SELECT 'o_orderdate', n_rows, nc_date, nd_date, mn_date, mx_date FROM s
"""


@register(
    "profile_orders_columns",
    oracle=_PROFILE_ORACLE,
    doc="Data-quality column profiling in ONE scan: per-column null "
    "count, exact distinct count, and format-pinned min/max for four "
    "orders columns, computed as a single wide aggregate row and "
    "unpivoted with stack() — the ingestion-gate profile a pipeline "
    "runs before accepting a new data drop. Multiple exact distincts "
    "expand the aggregate (Spark's Expand), still one pass over the "
    "table; swap count_distinct for approx_count_distinct when the "
    "profile itself must stay cheap at 100 TB.",
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    wide = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("bigint")).alias("nc_custkey"),
        F.count_distinct("o_custkey").alias("nd_custkey"),
        F.format_string("%d", F.min("o_custkey")).alias("mn_custkey"),
        F.format_string("%d", F.max("o_custkey")).alias("mx_custkey"),
        F.sum(F.col("o_orderstatus").isNull().cast("bigint")).alias("nc_status"),
        F.count_distinct("o_orderstatus").alias("nd_status"),
        F.min("o_orderstatus").alias("mn_status"),
        F.max("o_orderstatus").alias("mx_status"),
        F.sum(F.col("o_totalprice").isNull().cast("bigint")).alias("nc_price"),
        F.count_distinct("o_totalprice").alias("nd_price"),
        F.format_string("%.2f", F.min("o_totalprice")).alias("mn_price"),
        F.format_string("%.2f", F.max("o_totalprice")).alias("mx_price"),
        F.sum(F.col("o_orderdate").isNull().cast("bigint")).alias("nc_date"),
        F.count_distinct("o_orderdate").alias("nd_date"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("mn_date"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("mx_date"),
    )
    return wide.select(
        F.expr(
            "stack(4, "
            "'o_custkey', n_rows, nc_custkey, nd_custkey, mn_custkey, mx_custkey, "
            "'o_orderstatus', n_rows, nc_status, nd_status, mn_status, mx_status, "
            "'o_totalprice', n_rows, nc_price, nd_price, mn_price, mx_price, "
            "'o_orderdate', n_rows, nc_date, nd_date, mn_date, mx_date) "
            "AS (col_name, n_rows, null_count, n_distinct, min_value, max_value)"
        )
    )


# --- robust outlier gate (round 6) ---------------------------------------------

#: Scale factor making MAD a consistent sigma estimator for normal
#: data (1 / Phi^-1(3/4)); 3 sigma-equivalents is the conventional cut.
_MAD_K = 3 * 1.4826

_MAD_ORACLE = f"""
WITH d AS (
  SELECT lang, n_chars FROM documents
  WHERE lang IS NOT NULL AND n_chars IS NOT NULL
), med AS (
  SELECT lang, quantile_cont(n_chars, 0.5) AS med FROM d GROUP BY lang
), dev AS (
  SELECT d.lang, abs(n_chars - med) AS adev, med
  FROM d JOIN med USING (lang)
), mad AS (
  SELECT lang, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY lang
)
SELECT v.lang, CAST(count(*) AS BIGINT) AS n_docs,
       round(v.med, 6) AS median_chars,
       round(q.mad, 6) AS mad_chars,
       CAST(sum(CASE WHEN v.adev > {_MAD_K} * q.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       round(sum(CASE WHEN v.adev > {_MAD_K} * q.mad THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS outlier_rate
FROM dev v JOIN mad q USING (lang)
GROUP BY v.lang, v.med, q.mad
"""


@register(
    "stats_mad_outliers",
    oracle=_MAD_ORACLE,
    doc="Robust document-length outlier gate: per-language median and "
    "median-absolute-deviation of n_chars, flagging documents whose "
    "absolute deviation exceeds 3 sigma-equivalents (MAD x 1.4826) — "
    "the data-quality filter that survives the heavy-tailed length "
    "distributions where mean/stddev gates break. Three passes over "
    "ONE localCheckpointed 2-column projection (median, MAD of "
    "deviations, outlier count), each a groupBy on the same lang key "
    "with the tiny per-lang result broadcast back between passes; the "
    "deviation relation is checkpointed so the median subtree is "
    "computed once, not re-derived per consumer. "
    "Exact percentile buffers each group's values (documented "
    "group-bounded, as agg_median_iqr); at open cardinality swap in "
    "approx_percentile/KLL — the MAD shape is unchanged. The "
    "comparison adev > k*mad is multiply-then-compare on doubles in "
    "one fixed operand order, bit-identical across engines.",
)
def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull() & F.col("n_chars").isNotNull())
        .select("lang", "n_chars")
        .localCheckpoint(eager=False)
    )
    med = d.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.5)).alias("med")
    )
    # checkpointed: dev feeds BOTH the MAD aggregate and the final
    # outlier count — without the cut, Spark re-derives the median
    # subtree (a whole extra corpus pass) under the second consumer
    dev = (
        d.join(med, "lang")
        .select(
            "lang",
            F.abs(F.col("n_chars") - F.col("med")).alias("adev"),
            "med",
        )
        .localCheckpoint(eager=False)
    )
    mad = dev.groupBy("lang").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    is_out = F.col("adev") > F.lit(_MAD_K) * F.col("mad")
    return (
        dev.join(mad, "lang")
        .groupBy("lang", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(is_out, 1).otherwise(0)).alias("n_outliers"),
        )
        .select(
            "lang",
            "n_docs",
            F.round(F.col("med"), 6).alias("median_chars"),
            F.round(F.col("mad"), 6).alias("mad_chars"),
            "n_outliers",
            F.round(
                F.col("n_outliers") / F.col("n_docs").cast("double"), 6
            ).alias("outlier_rate"),
        )
    )
