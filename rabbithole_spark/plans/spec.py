"""YAML pipeline spec -> compiled Structured Streaming flows.

The reference's config model (SURVEY.md §1.3; docs/usage.rst:16-57):
top-level ``size_limit``/``time_limit``, ``blocks`` (named typed
endpoints), ``flows`` ([input-ref, output-ref] pairs). The same YAML
shape compiles here to one StreamingQuery per flow:

    readStream (block) -> exchange demux -> decode
      -> payload + _dead_letter projection -> ParametersMapper select
         (keeps _dead_letter) -> output, trigger(policy)
           sql: per sink task, good rows -> sqlite and dead rows ->
                one parquet file per (batch, partition)
           jdbc, parquet, memory, spool: a mapInArrow passthrough
                writes the same files and hands the good rows on

The dead rows leave from the first Python task that holds the batch,
so one source read, one parse and one offset log serve both sides, and
every output lays its dead rows out as
``<dead_letter_dir>/<flow>/batch-<id>-part-<pid>.parquet``. Without a
dead-letter dir the flow maps the good side of ``dead_letter_split``
and drops the dead rows.

Unlike the reference (side effects while instantiating blocks,
cli.py:97-106), compilation is fully lazy — nothing connects until
``FlowRunner.start()``. Config errors raise PipelineError; the CLI
maps that to exit code 1 (cli.py parity).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any

import yaml

from pyspark.sql import DataFrame, SparkSession

from rabbithole_spark.plans.mapper import ParametersMapper
from rabbithole_spark.streaming.batcher import BatchPolicy
from rabbithole_spark.streaming.sinks import (
    DEAD_LETTER_COL,
    dead_letter_column,
    dead_letter_passthrough,
    dead_letter_split,
    decode_messages,
    idempotent_jdbc_table_sink,
    jdbc_table_sink,
    sharded_parquet_sink,
    # keep module-global: perfbench/run.py swaps it to time each callback
    sharded_sql_sink,
    sql_sink,
)
from rabbithole_spark.streaming.sources import (
    read_spool_stream,
    register_amqp_source,
)

INPUT_TYPES = ("spool", "amqp")
OUTPUT_TYPES = ("sql", "jdbc", "parquet", "memory", "spool")


class PipelineError(ValueError):
    """Invalid pipeline configuration (reference exits 1, cli.py:97-106)."""


@dataclass
class Block:
    name: str
    type: str
    kwargs: dict = field(default_factory=dict)


@dataclass
class FlowEndpoint:
    name: str
    kwargs: dict = field(default_factory=dict)


@dataclass
class PipelineSpec:
    blocks: dict[str, Block]
    flows: list[tuple[FlowEndpoint, FlowEndpoint]]
    policy: BatchPolicy

    @classmethod
    def from_dict(cls, cfg: dict) -> PipelineSpec:
        policy = BatchPolicy(
            size_limit=cfg.get("size_limit", BatchPolicy.size_limit),
            time_limit=cfg.get("time_limit", BatchPolicy.time_limit),
        )
        blocks: dict[str, Block] = {}
        for raw in cfg.get("blocks", []):
            block = Block(
                name=raw["name"], type=raw["type"], kwargs=raw.get("kwargs", {})
            )
            if block.type not in INPUT_TYPES + OUTPUT_TYPES:
                raise PipelineError(f"Unknown block type: {block.type!r}")
            if block.name in blocks:
                raise PipelineError(f"Duplicate block name: {block.name!r}")
            blocks[block.name] = block

        flows = []
        for raw_flow in cfg.get("flows", []):
            if len(raw_flow) != 2:
                raise PipelineError(f"Flow must be [input, output]: {raw_flow!r}")
            endpoints = []
            for raw_ep in raw_flow:
                if isinstance(raw_ep, str):
                    raw_ep = {"name": raw_ep}
                name = raw_ep.get("name")
                if name not in blocks:
                    raise PipelineError(f"Unknown block reference: {name!r}")
                endpoints.append(
                    FlowEndpoint(name=name, kwargs=raw_ep.get("kwargs", {}))
                )
            flows.append((endpoints[0], endpoints[1]))
        return cls(blocks=blocks, flows=flows, policy=policy)

    @classmethod
    def from_yaml(cls, path_or_text: str) -> PipelineSpec:
        if os.path.exists(path_or_text):
            with open(path_or_text, encoding="utf-8") as fh:
                cfg = yaml.safe_load(fh)
        else:
            cfg = yaml.safe_load(path_or_text)
        if not isinstance(cfg, dict):
            raise PipelineError("Pipeline config must be a YAML mapping")
        return cls.from_dict(cfg)


def _amqp_reader_options(src: Block, src_ref: FlowEndpoint, policy) -> dict:
    """Flat option map for the rabbithole-amqp reader from one flow.

    Reference parity (amqp.py:55-72, docs/usage.rst:120-133): any flow
    kwargs beyond ``exchange`` (e.g. ``exchange_type``, ``durable``)
    pass straight through to ``exchange_declare``, JSON-encoded because
    Spark DataSource options are flat strings. ``url`` is emitted only
    when configured — an unconditional empty string would shadow the
    reader's documented localhost default with an unparseable value.
    """
    options = {
        "exchanges": src_ref.kwargs.get("exchange", ""),
        "max_messages_per_batch": str(
            src.kwargs.get("max_messages_per_batch", policy.size_limit)
        ),
    }
    declare_kwargs = {
        k: v for k, v in src_ref.kwargs.items() if k != "exchange"
    }
    if declare_kwargs:
        try:
            options["exchange_declare_kwargs"] = json.dumps(declare_kwargs)
        except TypeError as exc:
            # YAML can produce values JSON cannot carry (e.g. an
            # unquoted date) — that is a CONFIG error and must surface
            # as PipelineError (the CLI's clean exit-1 contract), not
            # a TypeError traceback
            raise PipelineError(
                "flow input kwargs must be JSON-encodable to pass "
                f"through to exchange_declare: {exc}"
            ) from exc
    if src.kwargs.get("url"):
        options["url"] = src.kwargs["url"]
    return options


def _require(kwargs: dict, key: str, block: str) -> Any:
    """Required block kwarg — a missing key is a CONFIG error and must
    surface as PipelineError (the CLI's documented clean exit-1 path),
    not a raw KeyError traceback."""
    try:
        return kwargs[key]
    except KeyError:
        raise PipelineError(
            f"Block {block!r} is missing required kwarg {key!r}"
        ) from None


@dataclass
class FlowRunner:
    """One compiled flow (SURVEY.md §1.1 Flow): one StreamingQuery."""

    name: str
    stream: DataFrame  # mapped rows
    writer_factory: Any  # (DataFrame) -> DataStreamWriter
    checkpoint_dir: str

    def start(self, available_now: bool = False):
        writer = self.writer_factory(self.stream)
        writer = writer.option(
            "checkpointLocation", os.path.join(self.checkpoint_dir, self.name)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return [writer.queryName(self.name).start()]


def _check_one_query_flow(
    flow_name: str, mapper: ParametersMapper, dead_path: str | None
) -> None:
    """Config errors of the one-query flow shape."""
    if any(name.startswith(DEAD_LETTER_COL) for name, _ in mapper.items or []):
        raise PipelineError(
            f"flow {flow_name!r}: parameter names starting with "
            f"{DEAD_LETTER_COL!r} are reserved for the dead-letter columns"
        )
    if dead_path and os.path.isdir(os.path.join(dead_path, "_spark_metadata")):
        # Spark reads a dir holding _spark_metadata through that log
        # only, so the per-batch files written from now on would be
        # silently hidden from every reader
        raise PipelineError(
            f"dead-letter dir {dead_path!r} holds a _spark_metadata log "
            "from a separate dead-letter query; flows now write their "
            "dead rows as plain per-batch files there. Move the old "
            "directory aside (or choose another --dead-letter-dir)"
        )


def compile_pipeline(
    spark: SparkSession,
    spec: PipelineSpec,
    checkpoint_dir: str,
    dead_letter_dir: str | None = None,
) -> list[FlowRunner]:
    """Build (lazily) one FlowRunner per flow."""
    runners = []
    for idx, (src_ref, dst_ref) in enumerate(spec.flows):
        src = spec.blocks[src_ref.name]
        dst = spec.blocks[dst_ref.name]
        flow_name = f"flow{idx}_{src.name}_to_{dst.name}"

        # --- source -> envelope stream -----------------------------------
        if src.type == "spool":
            # Source admission control: the count half of the reference's
            # count-or-time batcher (SURVEY.md §4.3.2). The block-level
            # knob overrides the global size_limit so one slow flow can
            # be throttled without capping every other flow. NOTE the
            # granularity: maxFilesPerTrigger counts FILES, so a spool
            # file holding N messages admits N messages per unit — the
            # exact per-message cap lives in the AMQP reader
            # (max_messages_per_batch) and the sink-side chunking; for
            # strict parity write one message per spool file.
            env = read_spool_stream(
                spark,
                _require(src.kwargs, "path", src.name),
                exchange=src_ref.kwargs.get("exchange"),
                max_files_per_trigger=int(
                    src.kwargs.get(
                        "max_files_per_trigger", spec.policy.size_limit
                    )
                ),
            )
        elif src.type == "amqp":
            if not register_amqp_source(spark):
                raise PipelineError("AMQP source needs the Python DataSource API")
            reader = spark.readStream.format("rabbithole-amqp")
            for key, val in _amqp_reader_options(
                src, src_ref, spec.policy
            ).items():
                reader = reader.option(key, val)
            env = reader.load()
            exchange = src_ref.kwargs.get("exchange")
            if exchange:
                from pyspark.sql import functions as F

                env = env.filter(F.col("exchange") == exchange)
        else:
            raise PipelineError(f"Block {src.name!r} is not an input type")

        # --- decode + map: one query, whatever the output ---------------
        decoded = decode_messages(env)
        mapper = ParametersMapper(dst_ref.kwargs.get("parameters"))
        dead_path = (
            os.path.join(dead_letter_dir, flow_name) if dead_letter_dir else None
        )
        _check_one_query_flow(flow_name, mapper, dead_path)
        if dead_path is None:
            good, _ = dead_letter_split(decoded)
            mapped = mapper.apply(good, payload_col="payload")
        else:
            mapped = mapper.apply(
                dead_letter_column(decoded),
                payload_col="payload",
                keep=[DEAD_LETTER_COL],
            )
            if dst.type != "sql":
                # the sql sinks split the dead rows off in their own task
                mapped = dead_letter_passthrough(mapped, dead_path)

        # --- sink ----------------------------------------------------------
        # the time half of the count-or-time policy applies to every
        # sink type (batcher.py's documented trigger mapping), reusing
        # BatchPolicy.trigger instead of hand-building the string here
        trigger_kwargs = spec.policy.trigger
        # foreachBatch outputs only build their per-batch callback; one
        # writer_factory below wraps whichever one the branch chose
        callback = None

        if dst.type == "sql":
            query = dst_ref.kwargs.get("query")
            if not query:
                raise PipelineError(f"sql output {dst.name!r} needs a query")
            # ``shards: N`` (block- or flow-level; flow wins) upgrades
            # the driver-funnel single-connection sink to the
            # partition-parallel sharded writer — same query/parameter
            # contract, N sqlite shard files written executor-side
            # (sinks.sharded_sql_sink; ``setup`` DDL runs per shard).
            # setup applies to the funnel too — a flow moving from
            # shards=N to shards=1 must not silently lose its DDL and
            # have the error-swallow drop every batch on a missing table
            merged_sql = {**dst.kwargs, **dst_ref.kwargs}
            shards = int(merged_sql.get("shards", 1))
            sql_kwargs = dict(
                policy=spec.policy,
                positional=mapper.positional,
                setup=merged_sql.get("setup"),
                dead_letter_dir=dead_path,
            )
            sql_url = _require(dst.kwargs, "url", dst.name)
            if shards > 1:
                callback = sharded_sql_sink(
                    sql_url, query, shards=shards, **sql_kwargs
                )
            else:
                callback = sql_sink(sql_url, query, **sql_kwargs)

        elif dst.type == "jdbc":
            # server-database sink, the scale path past sqlite: plain
            # per-partition parallel appends (at-least-once under
            # replay), or with ``idempotent: true`` the staging-table
            # exactly-once publish (batch-id-keyed transactional swap,
            # no driver-side collect — see
            # sinks.idempotent_jdbc_table_sink for the target-table
            # contract)
            merged = {**dst.kwargs, **dst_ref.kwargs}
            jdbc_url = _require(dst.kwargs, "url", dst.name)
            jdbc_table = _require(merged, "table", dst.name)
            # every remaining kwarg (user, password, ssl, ...) is a
            # JDBC option, forwarded to BOTH the Spark writer and (on
            # the idempotent path) the publish connection's Properties
            _reserved = {"url", "table", "idempotent", "parameters"}
            jdbc_options = {
                k: v for k, v in merged.items() if k not in _reserved
            }
            if merged.get("idempotent"):
                # the mapper has already resolved the stream's schema,
                # so reading its columns here connects to nothing
                callback = idempotent_jdbc_table_sink(
                    jdbc_url,
                    jdbc_table,
                    list(mapped.columns),
                    driver=merged.get("driver"),
                    options={
                        k: v for k, v in jdbc_options.items() if k != "driver"
                    },
                )
            else:
                callback = jdbc_table_sink(
                    jdbc_url, jdbc_table, options=jdbc_options
                )

        elif dst.type == "parquet":
            # ``shards: N`` (block- or flow-level; flow wins) mirrors
            # the sql sink's knob for columnar targets: the micro-batch
            # is written by N executor-parallel parquet writers into a
            # per-batch partition directory with dynamic overwrite
            # (sinks.sharded_parquet_sink — exactly-once under replay);
            # without it, the plain streaming file sink (WAL-tracked
            # exactly-once, file count follows source parallelism).
            merged_pq = {**dst.kwargs, **dst_ref.kwargs}
            pq_shards = int(merged_pq.get("shards", 1))
            pq_path = _require(dst.kwargs, "path", dst.name)
            if pq_shards > 1:
                callback = sharded_parquet_sink(pq_path, shards=pq_shards)
            else:

                def writer_factory(df: DataFrame, _path=pq_path):
                    return (
                        df.writeStream.format("parquet")
                        .option("path", _path)
                        .trigger(**trigger_kwargs)
                    )

        elif dst.type == "memory":

            def writer_factory(df: DataFrame):
                return (
                    df.writeStream.format("memory")
                    .outputMode("append")
                    .trigger(**trigger_kwargs)
                )

        elif dst.type == "spool":
            # relay flow: re-envelope the mapped projection and publish
            # it to another spool under the output ref's exchange — the
            # exchange-to-exchange bridge shape, with the exactly-once
            # two-phase-commit spool DataSource as the transport
            from rabbithole_spark.streaming.sources import register_spool_sink

            if not register_spool_sink(spark):
                raise PipelineError(
                    "spool sink needs the Python DataSource API"
                )
            out_exchange = dst_ref.kwargs.get("exchange", "relay")

            def writer_factory(
                df: DataFrame,
                _path=_require(dst.kwargs, "path", dst.name),
                _ex=out_exchange,
            ):
                from pyspark.sql import functions as F

                env_df = df.select(
                    F.lit(_ex).alias("exchange"),
                    F.lit("application/json").alias("content_type"),
                    F.to_json(F.struct(*df.columns)).alias("body"),
                )
                return (
                    env_df.writeStream.format("rabbithole-spool")
                    .option("path", _path)
                    .trigger(**trigger_kwargs)
                )

        else:
            raise PipelineError(f"Block {dst.name!r} is not an output type")

        if callback is not None:

            def writer_factory(df: DataFrame, _cb=callback):
                return df.writeStream.foreachBatch(_cb).trigger(
                    **trigger_kwargs
                )

        runners.append(
            FlowRunner(
                name=flow_name,
                stream=mapped,
                writer_factory=writer_factory,
                checkpoint_dir=checkpoint_dir,
            )
        )
    return runners
