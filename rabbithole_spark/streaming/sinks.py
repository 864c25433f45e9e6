"""Sinks + message decode with the reference's error policy.

- decode_messages: content-type check + JSON validation; malformed
  deliveries are *marked*, not crashed on (amqp.py:101-109 parity —
  nack-without-requeue becomes a dead-letter split).
- sql_sink: parameterized-SQL foreachBatch sink; SQL errors are logged
  and the batch dropped, the stream continues (sql.py:99-105 parity,
  at-most-once per batch — documented).
- parquet/dead-letter writers: the durable, replayable upgrades.
"""

from __future__ import annotations

import logging
import re
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rabbithole_spark.streaming.batcher import BatchPolicy

LOGGER = logging.getLogger(__name__)

JSON_CONTENT_TYPE = "application/json"


def _is_valid_json(body: Column) -> Column:
    # get_json_object('$') is NULL for unparseable bodies. The JSON
    # literal `null` also maps to NULL — treated as invalid; the
    # reference would deliver payload=None, an edge we document away.
    return F.get_json_object(body, "$").isNotNull()


def decode_messages(
    df: DataFrame,
    body_col: str = "body",
    content_type_col: str = "content_type",
) -> DataFrame:
    """Add ``payload`` (the validated JSON body) + ``dead_reason``.

    dead_reason is NULL for good rows; bad rows keep the raw body for
    the dead-letter sink. Content-type mismatch only *warns* in the
    reference (amqp.py:101-103) — it still tries to parse; we mirror
    that: only parse failure kills a row.
    """
    body = F.col(body_col)
    valid = _is_valid_json(body)
    return df.withColumn(
        "payload", F.when(valid, body)
    ).withColumn(
        "dead_reason",
        F.when(~valid, F.lit("undecodable body")),
    ).withColumn(
        "content_type_ok",
        F.coalesce(F.col(content_type_col) == JSON_CONTENT_TYPE, F.lit(False)),
    )


def dead_letter_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, dead) — the streaming analogue of ack vs nack(requeue=False)."""
    good = df.filter(F.col("dead_reason").isNull())
    dead = df.filter(F.col("dead_reason").isNotNull())
    return good, dead


def _batch_params(batch_df: DataFrame, positional: bool) -> list:
    """Micro-batch rows as executemany parameters (dicts or tuples).

    Arrow transfer (``toArrow().to_pylist()`` — native Python values,
    None for NULL: byte-identical to what collect()/asDict() binds),
    with row-at-a-time collect() as the fallback for types Arrow can't
    carry. The Arrow path is not just faster: driver-side ``collect()``
    called from the foreachBatch callback thread DEGRADES across a
    JVM's lifetime (round-10 measurement: identical 400k-row batches
    went 10.7 -> 18.1 -> 38.6 -> 47.5 s run-over-run, all of it inside
    addBatch, while plain driver collect stayed at 1.5 s and the Arrow
    path held 1.9-2.2 s with zero drift over 5 runs), so the fallback
    is a correctness escape hatch, not an equivalent choice.

    Two value-parity details (round-10 review): Arrow returns
    timestamps tz-AWARE (UTC) where collect() returns naive
    driver-local datetimes — sqlite's default adapter would serialize
    those differently — so aware datetimes are normalized to the
    collect() form; and positional tuples are built column-wise, not
    through per-row dicts, so duplicate column names keep their arity
    (dict construction would silently drop one binding)."""
    if not batch_df.columns:
        # Zero-column edge (ADVICE r10): Spark's toArrow() drops the
        # row count for a no-column relation (0x0 table where collect()
        # yields one empty Row per row), so the Arrow path cannot
        # represent this batch — bind through collect() for parity.
        # Unreachable from compile_pipeline (the mapper always selects
        # >=1 column), but the two paths must agree for direct callers.
        rows = batch_df.collect()
        return [tuple(row) if positional else row.asDict() for row in rows]
    try:
        tbl = batch_df.toArrow()
    except Exception as exc:
        # The fallback is a correctness escape hatch with a documented
        # 10-25x lifetime degradation — a stream living on it must say
        # so (ADVICE r10): warn per batch with the exception type so an
        # operator can see both that it engaged and why.
        LOGGER.warning(
            "Arrow transfer failed (%s: %s) — falling back to collect(); "
            "sustained use of this path degrades across the JVM lifetime",
            type(exc).__name__,
            exc,
        )
        rows = batch_df.collect()
        return [tuple(row) if positional else row.asDict() for row in rows]
    return _arrow_params(tbl, positional)


def _arrow_params(tbl, positional: bool) -> list:
    """Arrow table -> executemany parameter sets (shared by the
    driver-funnel path and the executor-side sharded writer).

    to_pylist() yields native Python values (None for NULL) —
    byte-identical to what collect()/asDict() binds — except
    timestamps, which Arrow hands back tz-AWARE (UTC) where collect()
    returns naive driver-local datetimes: normalize to the collect()
    form so both paths serialize identically. Positional tuples are
    built column-wise so duplicate column names keep their arity."""
    import pyarrow as pa

    cols = [c.to_pylist() for c in tbl.columns]
    for i, field in enumerate(tbl.schema):
        if pa.types.is_timestamp(field.type):
            cols[i] = [
                v.astimezone().replace(tzinfo=None)
                if v is not None and v.tzinfo is not None
                else v
                for v in cols[i]
            ]
    if positional:
        return list(zip(*cols))
    names = tbl.schema.names
    return [dict(zip(names, vals)) for vals in zip(*cols)]


def _sqlite_path(url: str) -> str:
    """Absolute database path of a ``sqlite:///<path>`` sink URL.

    ``sqlite:///:memory:`` is rejected: every sink opens a fresh
    connection per batch (or per task), so an in-memory database would
    be born empty each time and silently drop every row. A relative
    path resolves DRIVER-side, here at construction: a callback
    resolving it per batch follows later cwd changes, and an executor
    task's cwd is an unpredictable scratch dir on a real cluster, where
    the driver-side fold_sqlite_shards glob never looks."""
    import os

    if not url.startswith("sqlite:///"):
        raise ValueError(f"sqlite sinks support sqlite:/// URLs, got {url!r}")
    db_path = url[len("sqlite:///") :]
    if db_path == ":memory:":
        raise ValueError(
            "sqlite:///:memory: cannot work with per-batch connections "
            "(every micro-batch would see a brand-new empty database "
            "and silently drop its rows) — use a file path"
        )
    return os.path.abspath(db_path)


def sql_sink(
    url: str,
    query: str,
    policy: BatchPolicy | None = None,
    positional: bool = False,
    setup: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch callable executing a parameterized SQL statement.

    The incoming micro-batch is already mapped to parameter columns
    (plans.mapper). Rows bind as named dicts (``:name`` placeholders)
    or positional tuples (``?``), executemany'd in chunks of
    ``policy.size_limit`` (write-amplification parity with sql.py:98).
    Rows reach the driver via Arrow (see :func:`_batch_params`).

    Error policy = reference sql.py:99-105: log the query and the
    error, drop the batch, keep the stream alive.

    ``setup`` (optional DDL, e.g. ``CREATE TABLE IF NOT EXISTS ...``)
    runs on each batch connection before the insert — the same
    contract as :func:`sharded_sql_sink`, so a YAML flow can move
    between shards=1 and shards=N without its ``setup:`` silently
    stopping to apply (round-11 review finding).

    Supported URLs: ``sqlite:///<path>`` (stdlib sqlite3, FILE paths
    only; see :func:`_sqlite_path`). For server databases use
    jdbc_table_sink — per-partition JDBC appends, the scale path.
    """
    policy = policy or BatchPolicy()
    db_path = _sqlite_path(url)

    def callback(batch_df: DataFrame, batch_id: int) -> None:
        import sqlite3

        params = _batch_params(batch_df, positional)
        if not params:
            return
        try:
            con = sqlite3.connect(db_path)
            try:
                if setup:
                    con.executescript(setup)
                    con.commit()
                with con:
                    for chunk in policy.chunks(params):
                        con.executemany(query, chunk)
            finally:
                con.close()
        except Exception as exc:  # reference: log twice, swallow, continue
            LOGGER.error("Query execution error (batch %s dropped):\n%s", batch_id, query)
            LOGGER.error(str(exc))

    return callback


def sharded_sql_sink(
    url: str,
    query: str,
    shards: int = 8,
    policy: BatchPolicy | None = None,
    positional: bool = False,
    setup: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Partition-parallel parameterized-SQL sink over N sqlite shard
    files — the scale (and steal-robust) upgrade of :func:`sql_sink`.

    sql_sink funnels every row through ONE driver-side connection and
    executemany loop (reference parity with sql.py:41-46's single
    shared SQLAlchemy connection) — a single Python thread whose
    throughput collapses under host CPU steal (VERDICT r10: the same
    probe recorded 20.9k rows/s under the driver vs 84-114k on quiet
    windows). This sink keeps sqlite's single-writer-per-file
    constraint but shards it: the micro-batch is round-robin
    repartitioned N ways and each executor task writes its partition
    to ``<db>.shard-NNNN`` over its own connection via Arrow batches
    (``mapInArrow`` — no rows ever cross the driver). N concurrent
    writers mean one stalled thread no longer gates the whole batch,
    and the write path scales with executors instead of the driver.

    Per-shard semantics match the reference contract:

    - ``query`` executes executemany in ``policy.size_limit`` chunks
      (write-amplification parity with sql.py:98);
    - a shard whose SQL fails is rolled back atomically (one
      transaction per shard per batch), logged, and DROPPED while the
      stream continues — sql.py:99-105's at-most-once error swallow
      at shard granularity;
    - ``setup`` (optional DDL, e.g. ``CREATE TABLE IF NOT EXISTS ...``)
      runs on every shard connection first, since shard files are
      created on demand.

    Readers union the shards (``ATTACH`` or glob + UNION ALL) or fold
    them off the hot path (:func:`fold_sqlite_shards`). On a real
    cluster the shard files land on executor-local disks — use
    :func:`jdbc_table_sink` (server database) when a single queryable
    target is required.

    Delivery (round-12, closes the ADVICE r11 speculation caveat): the
    write is an executor-side TASK, so a retried task (crash between
    commit and task completion) or a speculative duplicate attempt
    re-enters the shard. Two mechanisms make duplicate attempts safe:

    - each shard file carries a ``_shard_done(batch_id)`` marker
      committed in the SAME transaction as its rows, so an attempt
      that re-enters AFTER a commit skips instead of re-running the
      executemany — repartition(N) sorts before round-robin
      (spark.sql.execution.sortBeforeRepartition), so the retried
      partition is identical and the skip loses nothing;
    - an attempt that collides with a CONCURRENT in-flight attempt
      (speculation) hits sqlite's file lock, and lock/busy errors are
      the ONE error class the per-shard swallow re-raises: the losing
      attempt FAILS its task (Spark arbitrates — if the other attempt
      commits, the failure is moot; if not, the retry re-enters and
      the marker decides). Swallowing the lock error instead would
      record an empty success and silently LOSE the shard whenever
      the lock-holding attempt is subsequently killed (round-12
      review finding).

    Net: per-shard exactly-once under retry and speculation — no
    duplicates from the marker, no loss from the lock re-raise.
    Corollary: restarting a flow against existing shard files with a
    FRESH checkpoint replays batch ids from 0 and the markers will
    skip them — shard files share their checkpoint's lifetime (the
    same contract as every batch-id-keyed sink here).
    """
    policy = policy or BatchPolicy()
    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")
    db_path = _sqlite_path(url)

    def callback(batch_df: DataFrame, batch_id: int) -> None:
        chunks = policy.chunks

        def write_partition(batches):
            import logging
            import sqlite3

            import pyarrow as pa

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            shard_path = f"{db_path}.shard-{pid:04d}"
            written = 0
            con = None
            # connect() sits INSIDE the swallowing try (round-11 review):
            # an unwritable shard path must drop-and-continue like any
            # other shard failure, not fail the task and kill the stream
            # — sql_sink wraps its connect the same way.
            try:
                con = sqlite3.connect(shard_path)
                if setup:
                    con.executescript(setup)
                    con.commit()
                con.execute(
                    "CREATE TABLE IF NOT EXISTS _shard_done "
                    "(batch_id INTEGER PRIMARY KEY)"
                )
                con.commit()
                try:
                    # marker FIRST: its PK conflict aborts a duplicate
                    # attempt before any row is re-written, and it
                    # commits atomically with the rows it covers
                    with con:  # one transaction: fail -> atomic drop
                        con.execute(
                            "INSERT INTO _shard_done (batch_id) VALUES (?)",
                            (batch_id,),
                        )
                        for rb in batches:
                            params = _arrow_params(
                                pa.Table.from_batches([rb]), positional
                            )
                            for chunk in chunks(params):
                                con.executemany(query, chunk)
                                written += len(chunk)
                except sqlite3.IntegrityError:
                    if con.execute(
                        "SELECT 1 FROM _shard_done WHERE batch_id = ?",
                        (batch_id,),
                    ).fetchone():
                        # another attempt already committed this
                        # (batch, shard): task retry or speculative
                        # duplicate — skip, rows are already durable
                        logging.getLogger(__name__).info(
                            "batch %s shard %s already committed — "
                            "duplicate attempt skipped",
                            batch_id,
                            pid,
                        )
                        written = 0
                    else:  # a USER-data constraint violation: rolled
                        raise  # back -> the per-shard swallow below
            except Exception as exc:  # sql.py:99-105 parity, per shard
                # ONE error class re-raises instead of swallowing:
                # "database is locked/busy" means a CONCURRENT attempt
                # holds this shard's write lock (speculation), and
                # recording an empty SUCCESS here would silently LOSE
                # the shard if Spark then kills the lock-holding
                # attempt pre-commit. Fail this attempt instead and
                # let Spark arbitrate (docstring, round-12 review).
                if isinstance(exc, sqlite3.OperationalError) and (
                    "locked" in str(exc) or "busy" in str(exc)
                ):
                    raise
                logging.getLogger(__name__).error(
                    "Query execution error (batch %s shard %s dropped):\n%s",
                    batch_id,
                    pid,
                    query,
                )
                logging.getLogger(__name__).error(str(exc))
                written = 0
            finally:
                if con is not None:
                    con.close()
            yield pa.RecordBatch.from_pydict({"rows": [written]})

        # repartition(N) round-robins the micro-batch across exactly N
        # tasks (even shards, one small shuffle); the collect drives the
        # job and brings back N one-row counts — no data crosses the
        # driver, and no extra stage runs just to sum them
        batch_df.repartition(shards).mapInArrow(write_partition, "rows long").collect()

    return callback


def fold_sqlite_shards(db_path: str, table: str, setup: str | None = None) -> int:
    """Merge ``<db_path>.shard-*`` files (written by
    :func:`sharded_sql_sink`) into one queryable ``db_path`` — the
    off-hot-path consolidation for consumers that want a single file
    instead of a shard union. Driver-side single-threaded by design
    (sqlite is single-writer-per-file); run it after the stream
    quiesces, not per batch. Returns rows copied THIS call. ``setup``
    (DDL) runs on the target first; shard files are left in place
    (delete them after validating the fold).

    Restart-safe for real (round-11 review): each shard's copy and its
    row in the ``_fold_done(shard, tbl)`` bookkeeping table commit in
    ONE transaction, and already-recorded (shard, table) pairs are
    skipped — re-running after a crash resumes at the first unfolded
    shard instead of duplicating the folded ones."""
    import glob
    import os
    import sqlite3

    if not _SQL_IDENT.match(table):
        raise ValueError(f"invalid SQL identifier: {table!r}")
    shards = sorted(glob.glob(db_path + ".shard-*"))
    con = sqlite3.connect(db_path)
    copied = 0
    try:
        if setup:
            con.executescript(setup)
            con.commit()
        con.execute(
            "CREATE TABLE IF NOT EXISTS _fold_done "
            "(shard TEXT, tbl TEXT, PRIMARY KEY (shard, tbl))"
        )
        con.commit()
        for shard in shards:
            key = os.path.basename(shard)
            done = con.execute(
                "SELECT 1 FROM _fold_done WHERE shard = ? AND tbl = ?",
                (key, table),
            ).fetchone()
            if done:
                continue
            # ATTACH/DETACH must run outside a transaction (sqlite
            # rejects them mid-transaction); the copy + its done-marker
            # are one transaction, so an interrupted fold resumes at
            # the first shard whose marker never committed
            con.execute("ATTACH DATABASE ? AS shard", (shard,))
            try:
                with con:
                    cur = con.execute(
                        f"INSERT INTO main.{table} SELECT * FROM shard.{table}"
                    )
                    con.execute(
                        "INSERT INTO _fold_done (shard, tbl) VALUES (?, ?)",
                        (key, table),
                    )
                    copied += cur.rowcount
            finally:
                con.execute("DETACH DATABASE shard")
    finally:
        con.close()
    return copied


def jdbc_table_sink(
    url: str, table: str, options: dict | None = None
) -> Callable[[DataFrame, int], None]:
    """foreachBatch JDBC append — executors write partitions in parallel
    (connection per partition; no single-connection bottleneck like the
    reference's shared SQLAlchemy connection, SURVEY.md §3.4)."""

    def callback(batch_df: DataFrame, batch_id: int) -> None:
        writer = batch_df.write.format("jdbc").option("url", url).option(
            "dbtable", table
        )
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        try:
            writer.mode("append").save()
        except Exception as exc:
            LOGGER.error("JDBC write error (batch %s dropped): %s", batch_id, table)
            LOGGER.error(str(exc))

    return callback


_SQL_IDENT = re.compile(r"^[A-Za-z][A-Za-z0-9_]*$")


def idempotent_jdbc_table_sink(
    url: str,
    table: str,
    columns: list[str],
    driver: str | None = None,
    options: dict | None = None,
) -> Callable[[DataFrame, int], None]:
    """DISTRIBUTED exactly-once JDBC sink: batch-id-keyed transactional
    publish with no driver-side ``collect()`` anywhere in the path.

    Shape (the classic staging-table two-step):

    1. The micro-batch lands in a per-target staging table via Spark's
       parallel JDBC writer in ``overwrite`` mode — executors write
       partitions concurrently, and overwrite makes a replayed (or
       task-retried) attempt self-cleaning: whatever a crashed earlier
       attempt left in the stage is dropped before the rewrite.
    2. The driver publishes server-side in ONE transaction over a
       metadata-weight JDBC connection (via the JVM's DriverManager —
       no rows cross it): ``DELETE FROM target WHERE __batch_id = ?``
       then ``INSERT INTO target SELECT *, ? FROM stage``. A replay
       after a crash between commit and checkpoint re-runs both
       statements against identical staged rows — idempotent; a crash
       mid-transaction rolls back, leaving the previous commit intact.

    The target table needs a ``__batch_id`` column, created
    ANSI-QUOTED lowercase (strict engines like Derby reject bare
    leading-underscore identifiers). Identifier
    case: Spark's JDBC writer creates the stage's columns quoted in
    the DataFrame's exact case, so the publish SELECT quotes them
    verbatim; the target's data columns are emitted UNQUOTED so the
    engine applies its own case folding — i.e. create the target with
    unquoted (engine-folded) data column names + the quoted
    ``"__batch_id"``. One sink instance per target table: the stage
    name is derived from the target, so two streams sharing a target
    would race each other's stages (they would also race the target
    itself). The final DROP of the stage is best-effort cosmetic
    cleanup — step 1's overwrite, not the drop, is what replays rely
    on.
    """
    for ident in [table, *columns]:
        if not _SQL_IDENT.match(ident):
            raise ValueError(f"invalid SQL identifier: {ident!r}")
    stage = f"{table}__stage"
    col_list = ", ".join(columns)
    stage_col_list = ", ".join(f'"{c}"' for c in columns)

    def callback(batch_df: DataFrame, batch_id: int) -> None:
        writer = (
            batch_df.select(*columns)
            .write.format("jdbc")
            .option("url", url)
            .option("dbtable", stage)
        )
        if driver:
            writer = writer.option("driver", driver)
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        writer.mode("overwrite").save()

        jvm = batch_df.sparkSession._jvm
        if driver:
            # make sure the driver is registered with DriverManager in
            # the JVM (Spark's writer loads it through its own loader)
            jvm.java.lang.Class.forName(driver)
        # the publish connection authenticates like the stage writer:
        # every option (user, password, ssl, ...) goes into the
        # java.util.Properties the driver reads
        props = jvm.java.util.Properties()
        for k, v in (options or {}).items():
            props.setProperty(str(k), str(v))
        con = jvm.java.sql.DriverManager.getConnection(url, props)
        try:
            con.setAutoCommit(False)
            st = con.createStatement()
            try:
                # ANSI-quoted: leading-underscore identifiers need
                # quoting on strict engines (Derby rejects them bare)
                st.executeUpdate(
                    f'DELETE FROM {table} WHERE "__batch_id" = {int(batch_id)}'
                )
                st.executeUpdate(
                    f'INSERT INTO {table} ({col_list}, "__batch_id") '
                    f"SELECT {stage_col_list}, {int(batch_id)} FROM {stage}"
                )
                con.commit()
            except Exception:
                try:  # a dead connection's rollback must not mask the
                    con.rollback()  # original publish error
                except Exception:
                    pass
                raise  # exactly-once sinks must FAIL the batch, not drop it
            finally:
                st.close()
            try:
                # cosmetic stage cleanup on the SAME connection (a
                # per-batch extra connection would be pure churn);
                # failure is fine — the next overwrite recreates it
                st2 = con.createStatement()
                try:
                    st2.executeUpdate(f"DROP TABLE {stage}")
                    con.commit()
                finally:
                    st2.close()
            except Exception:
                pass
        finally:
            con.close()

    return callback


def cdc_upsert_sink(path: str) -> Callable[[DataFrame, int], None]:
    """CDC merge sink, LSM-style: each micro-batch APPENDS its change
    rows (tagged with the batch id) instead of rewriting the table.

    Upsert-by-rewrite costs a full table scan per batch; at 100 TB the
    scalable shape is append-only deltas + merge-on-read
    (:func:`cdc_current_state`) + periodic compaction
    (:func:`cdc_compact`) — the pattern Delta/Iceberg/Hudi implement,
    expressed on plain parquet. Appends are also replay-idempotent at
    read time: a replayed batch re-appends identical rows with the
    same batch id, and last-write-wins resolution collapses them.
    """

    def callback(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(path)
        )

    return callback


def cdc_current_state(
    spark,
    path: str,
    key_cols: list[str],
    seq_cols: list[str] | None = None,
    op_col: str | None = None,
) -> DataFrame:
    """Merge-on-read resolution of a CDC delta log: latest row per key
    wins (ordered by __batch_id then ``seq_cols``); rows whose
    ``op_col`` is 'd' are deletions and drop out of the state.

    One window shuffle on the key columns — the same cost profile as
    the MERGE a table format would run, but pay-per-query instead of
    pay-per-ingest-batch."""
    from pyspark.sql import Window

    order = [F.col("__batch_id").desc()] + [
        F.col(c).desc() for c in (seq_cols or [])
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    latest = (
        spark.read.parquet(path)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__batch_id")
    )
    if op_col is not None:
        latest = latest.filter(
            F.coalesce(F.col(op_col), F.lit("u")) != "d"
        ).drop(op_col)
    return latest


def cdc_compact(
    spark,
    path: str,
    key_cols: list[str],
    seq_cols: list[str] | None = None,
    op_col: str | None = None,
) -> int:
    """Fold the delta log into one resolved snapshot (batch id 0).

    Writes the current state to a sibling directory, then swaps it in
    with two adjacent renames (old -> trash, snapshot -> path) and
    removes the old log only after the swap — so a crash at any point
    leaves either the full old log or the full snapshot recoverable
    on disk, never neither (plain rmtree-then-rename would delete the
    only copy first). Returns the number of rows in the snapshot.
    Read cost returns to a plain scan until new deltas accumulate.

    QUIESCE THE WRITER FIRST: compaction folds a point-in-time
    snapshot, so deltas appended by a concurrently running
    cdc_upsert_sink between the snapshot read and the swap would be
    dropped from the table (their checkpoint entries will not
    replay). Run it between micro-batches or with the stream stopped
    — the same contract as table-format compaction without a
    transaction log. An object store would commit a new manifest
    instead of renaming.
    """
    state = cdc_current_state(spark, path, key_cols, seq_cols, op_col)
    if op_col is not None:
        state = state.withColumn(op_col, F.lit("u"))
    compacted = state.withColumn("__batch_id", F.lit(0))
    return _swap_in_parquet(spark, compacted, path, tag="compact")


def _swap_in_parquet(spark, df: DataFrame, path: str, tag: str) -> int:
    """Crash-safe replacement of a parquet directory with ``df``
    (shared by :func:`cdc_compact` and :func:`fold_parquet_shards` —
    one place to fix the swap, round-12 review): write the new copy to
    a sibling ``__<tag>_tmp``, then two adjacent renames (old ->
    trash, tmp -> path) and remove the trash LAST — a crash at any
    point leaves either the complete old tree or the complete new one
    recoverable on disk, never neither (rmtree-then-rename would
    delete the only copy first). Returns the written row count. An
    object store would commit a new manifest instead of renaming."""
    import os
    import shutil
    import uuid

    tmp = path.rstrip("/") + f"__{tag}_tmp"
    df.write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    trash = path.rstrip("/") + f"__{tag}_old_{uuid.uuid4().hex[:8]}"
    os.rename(path, trash)
    os.replace(tmp, path)
    shutil.rmtree(trash, ignore_errors=True)
    return n


#: Partition column of :func:`sharded_parquet_sink` output: one
#: ``__batch_id=<id>`` directory per micro-batch.
_BATCH_COL = "__batch_id"


def sharded_parquet_sink(
    path: str, shards: int = 8
) -> Callable[[DataFrame, int], None]:
    """Columnar twin of :func:`sharded_sql_sink` — N executor-parallel
    parquet writers per micro-batch, for readers that want a scan-able
    column store downstream instead of the reference-parity SQL target
    (sql.py:98's executemany contract).

    Where the sqlite twin had to hand-build per-shard writers around
    sqlite's single-writer-per-file constraint, parquet has no such
    constraint — so the Spark-FIRST implementation is the built-in
    parallel parquet writer, not mapInArrow: ``repartition(shards)``
    fixes the task (= part-file) count, and every task streams its
    partition straight from the executor (no rows cross the driver,
    whole path JVM-side columnar).

    Delivery is *exactly-once*, one grade stronger than the sqlite
    twin's marker-keyed skip: each batch lands in its own
    ``__batch_id=<batch_id>`` directory via DYNAMIC partition
    overwrite, which replaces only the partitions present in the
    incoming data — so a replayed or task-retried batch atomically
    supersedes its own earlier (possibly partial) attempt and touches
    no other batch. Idempotence without a transaction log or key
    lookup: the object-store-native pattern for append-mostly streams.
    Speculation is safe here for free: Spark's file commit protocol
    already arbitrates duplicate task attempts.

    Reader contract mirrors the sqlite fold/union pair:
    :func:`read_parquet_shards` is the union (one partition-pruned
    scan), :func:`fold_parquet_shards` the off-hot-path compaction of
    the per-batch directory tree into a flat table.
    """
    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")

    def callback(batch_df: DataFrame, batch_id: int) -> None:
        # per-WRITER option, not the session conf: mutating the global
        # partitionOverwriteMode races concurrent queries in the same
        # session (another callback's restore could flip this write to
        # STATIC overwrite, deleting every previously committed
        # partition) and leaks the mode to unrelated writes
        (
            batch_df.withColumn(_BATCH_COL, F.lit(batch_id))
            .repartition(shards)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(_BATCH_COL)
            .parquet(path)
        )

    return callback


def read_parquet_shards(spark, path: str) -> DataFrame:
    """Union reader for :func:`sharded_parquet_sink` output: one scan
    over the batch-partitioned tree with the bookkeeping column
    dropped. Incremental consumers instead filter on ``__batch_id``
    and get directory-level partition pruning for free."""
    return spark.read.parquet(path).drop(_BATCH_COL)


def fold_parquet_shards(spark, path: str, target_files: int | None = None) -> int:
    """Compact a :func:`sharded_parquet_sink` tree (one directory per
    micro-batch, ``shards`` part-files each) into a FLAT parquet
    directory — the columnar analogue of :func:`fold_sqlite_shards`,
    for consumers that want a plain table and for reclaiming the
    small-file overhead a long-running stream accumulates.

    Same crash-safe swap as :func:`cdc_compact` (shared
    :func:`_swap_in_parquet`): write the folded copy to a sibling,
    rename old -> trash, move the copy in, remove trash last — a
    crash at any point leaves a complete tree or a complete snapshot
    on disk, never neither. QUIESCE THE WRITER FIRST: batches
    appended between the snapshot read and the swap would be lost, and
    a post-fold stream restart needs a fresh checkpoint (the flat
    layout no longer has per-batch partitions to overwrite). Returns
    the folded row count."""
    flat = read_parquet_shards(spark, path)
    if target_files is not None:
        flat = flat.coalesce(target_files)
    return _swap_in_parquet(spark, flat, path, tag="fold")
