"""SparkSession factory and parquet table registry.

Scale notes (100 TB design, tested on local[32]):

- AQE is on: runtime partition coalescing, skew-join splitting, and
  dynamic broadcast conversion replace hand-tuned shuffle counts.
- ``spark.sql.shuffle.partitions`` is a *hint* only; AQE coalesces it.
  At cluster scale you'd set it ~2-3x total cores and let AQE shrink.
- Session timezone is pinned to UTC so timestamp semantics are
  engine-independent (parquet micros == wall values everywhere).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: The driver-generated tables (TESTDATA.md). One parquet file per table.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: The directory holding the ``rabbithole_spark`` package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "rabbithole-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    local[$SPARK_GRAFT_CPUS] by default; on a real cluster the master
    comes from spark-submit and these configs still apply.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    shuffle = int(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Default openCostInBytes (4 MiB) floors split size, so a
        # single ~10 MiB parquet file scans as 3 tasks and an agg uses
        # 3 of 32 cores. 1 MiB splits mid-size files ~10-wide while
        # leaving sub-MiB dimension files as one task; at cluster scale
        # totalBytes/defaultParallelism dominates the split-size
        # formula and this floor is irrelevant.
        .config("spark.sql.files.openCostInBytes", "1048576")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Reused Python workers skip the per-task re-read of Spark's own
        # archives (worker_daemon.py); the daemon, like the sinks'
        # closures, needs this package importable on the workers.
        .config("spark.python.daemon.module", "rabbithole_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    return builder.getOrCreate()


def prepare(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs on a session we did not create.

    The driver hands ``queries()`` callables an arbitrary session; UTC
    timezone keeps Spark's TIMESTAMP_LTZ numerically identical to the
    oracle's naive timestamps. Idempotent — and deliberately re-pinned
    on EVERY call (~1.8 ms of py4j per call, ~0.2 s per bench run):
    a round-12 review of a once-per-session flag found it traded the
    self-healing contract (external code mutating the shared session's
    timezone between queries silently breaks oracle parity) and a
    poisoned-flag failure mode (flag set, conf.set throws mid-way) for
    a saving that is noise next to the table-resolution cache below.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet stores TIMESTAMP(NANOS); Spark has no nanosecond
    # timestamp type, so read as int64 and convert (see table()).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Full-width scans for small single-file tables (see get_spark note).
    spark.conf.set("spark.sql.files.openCostInBytes", "1048576")
    # sql_recursive_gapfill_days recurses once per CALENDAR DAY of the
    # events span; the Spark 4 default cteRecursionLevelLimit=100 would
    # throw RECURSION_LEVEL_LIMIT_EXCEEDED on any corpus spanning over
    # ~3 months while the DuckDB oracle sailed on (round-9 review).
    # 40000 levels ≈ a 109-year span — still a loud guard against a
    # genuinely runaway recursive CTE, never a cliff for real data.
    spark.conf.set("spark.sql.cteRecursionLevelLimit", "40000")
    return spark


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan of one registry table (pushdown + pruning apply).

    ``events.ts`` is parquet TIMESTAMP(NANOS): with nanosAsLong it scans
    as int64 nanos; truncate to micros exactly like the DuckDB reader.

    Resolved relations are CACHED per session, exactly like a
    metastore-backed ``spark.table()``: ``spark.read.parquet`` costs
    ~120 ms of driver-side file listing + footer schema read PER CALL,
    and the registry's query functions touch up to six tables each —
    round-12 profiling measured ~6 s of a ~13 s cold headline run
    going to this re-resolution, pure metadata overhead Spark's own
    catalog would never re-pay. The cache holds the immutable logical
    relation only (no data): every query still plans, optimizes, and
    executes from scratch. Like a real catalog, the file listing is
    pinned at first resolution — callers that REWRITE a table under
    the same path must call :func:`refresh_tables` (the
    ``REFRESH TABLE`` analogue); the driver testdata is immutable and
    test fixtures use unique per-test dirs, so neither ever needs to.
    """
    prepare(spark)
    cache = getattr(spark, "_rh_table_cache", None)
    if cache is None:
        cache = {}
        spark._rh_table_cache = cache
    key = (os.path.abspath(sf_dir), name)
    df = cache.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        cache[key] = df
    return df


def refresh_tables(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Drop :func:`table`'s cached relations (``REFRESH TABLE``
    analogue) — required before re-reading a table whose parquet files
    were REPLACED under the same path; ``sf_dir=None`` drops all."""
    cache = getattr(spark, "_rh_table_cache", None)
    if not cache:
        return
    if sf_dir is None:
        cache.clear()
        return
    prefix = os.path.abspath(sf_dir)
    for key in [k for k in cache if k[0] == prefix]:
        del cache[key]

