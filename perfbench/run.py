"""Benchmark runner for the rabbithole_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see WORKLOADS and perfbench/README.md), checks its
outputs, and prints one JSON result as the last line of stdout. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the same protocol runs with spans and counters on and prints the
per-layer metrics instead. Every file it writes lives under
``perfbench/work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from tracing import (  # noqa: E402
    PeakRss,
    Tracer,
    covered,
    descendants,
    job_counts,
    make_progress_listener,
    median,
    steal_jiffies,
)

OPERATOR_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_edit_distance_prefix",
    "dedup_jaccard_prefix_filter",
    "dedup_components",
    "similarity_kmeans_clusters",
    "contamination_ngram_overlap",
    "stream_count_or_time_sizes",
    "stream_stream_interval_join",
)
WORKLOADS = ("etl_drain", "query_operators")

#: ETL backlog: 5 micro-batches of 10 files x 1000 messages each
BACKLOG_MESSAGES = 50_000
BACKLOG_FILES = 50
FILES_PER_TRIGGER = 10
#: warm-up drain: two micro-batches, enough to load every code path
WARMUP_MESSAGES = 2_000
WARMUP_FILES = 2 * FILES_PER_TRIGGER
#: rows per sqlite executemany chunk (bench.py's ETL probe uses 500 too;
#: the reference's default of 5 is a latency setting)
SINK_CHUNK = 500
#: no new pass starts this long after the process started, so that a
#: run on a slow machine still ends within 180 s
PASS_DEADLINE_S = 120

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "pass_s": "s",
    "cold_pass_s": "s",
    "rows_per_s": "rows/s",
}
COUNT_KEYS = ("construct_jobs", "construct_stages", "execute_jobs", "execute_stages", "execute_tasks")


def per_layer_names() -> list[str]:
    names = [
        "session.get_spark_s", "catalog.load_all_s", "plans.compile_s",
        "queries.construct_s", "queries.construct_jobs", "queries.construct_stages",
        "spark.execute_s", "spark.execute_jobs", "spark.execute_stages",
        "spark.execute_tasks", "queries.cold_extra_s",
    ]
    for name in OPERATOR_QUERIES:
        names += [f"queries.{name}.construct_s", f"queries.{name}.execute_s"]
    return names + [
        "streaming.batches", "streaming.rows_per_batch", "streaming.busy_share",
        "streaming.sources.offset_ms", "streaming.plan_ms", "streaming.commit_ms",
        "streaming.add_batch_ms", "streaming.sinks.callback_ms",
        "streaming.sources.scan_decode_s", "plans.mapper_s", "streaming.sinks.write_s",
        "streaming.sinks.rows_written", "streaming.sinks.dead_rows",
        "oracle.check_s", "bench.tracing_overhead", "bench.fail_rate",
    ]


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name in ("streaming.busy_share", "bench.tracing_overhead", "bench.fail_rate"):
        return "ratio"
    return "count"


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    started = int(stat[stat.rfind(")") + 2 :].split()[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - started


class Run:
    """One benchmark run: its clocks, operation counts, tracer and results."""

    def __init__(self, args) -> None:
        self.args = args
        self.t0 = time.perf_counter() - process_age_s()
        self.tracer = Tracer(enabled=bool(args.trace))
        self.nproc = os.cpu_count() or 1
        self.name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        self.dir = os.path.join(WORK, self.name)
        self.gen_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = dict.fromkeys(per_layer_names(), 0)
        self.e2e: dict[str, float] = {}
        self.notes: list[str] = []
        self.started_ops = False
        self.peak = PeakRss()
        self.spark_version = None
        self.pass_walls: list[float] = []

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0

    def is_traced(self, i: int) -> bool:
        """Which passes of a traced run record spans and counts. Pass 0
        (cold) is traced; warm passes go untraced, traced, traced,
        untraced, so that the two kinds see the same amount of warm-up
        on average and their difference is the tracing overhead."""
        return bool(self.args.trace) and (i == 0 or (i - 1) % 4 in (1, 2))

    def more_passes(self, walls: dict[bool, list[float]]) -> bool:
        if self.elapsed() >= PASS_DEADLINE_S:
            return False
        if self.args.trace:
            return len(walls[False]) + len(walls[True]) < 4
        return sum(walls[False]) < self.args.seconds

    def first_op(self) -> None:
        """setup_s ends here: process start to the first timed
        operation, less the time spent generating inputs."""
        if not self.started_ops:
            self.started_ops = True
            self.e2e["setup_s"] = self.elapsed() - self.gen_s

    def generate(self, script: str, *argv: str) -> str:
        """Run an input or expected-output generator as its own process;
        returns its stdout. The time is not part of setup_s."""
        start = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, script), *argv],
            check=True, capture_output=True, text=True,
        ).stdout
        self.gen_s += time.perf_counter() - start
        return out


def prepare_environment(run: Run) -> None:
    """Keep every file Spark and its workers write inside the run dir."""
    shutil.rmtree(run.dir, ignore_errors=True)
    tmp = os.path.join(run.dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp}" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # sized for local[nproc] at sf0.01; a 1 GB heap also keeps the JVM's
    # share of peak_rss_mb from swinging with heap-expansion timing
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # the engine's defaults apply, whatever the calling shell sets
    for tuning in ("SPARK_GRAFT_SHUFFLE", "RABBITHOLE_STREAM_STATE_PARTITIONS"):
        os.environ.pop(tuning, None)
    os.chdir(run.dir)


def start_spark(run: Run):
    from rabbithole_spark.session import get_spark

    with run.tracer.span("session.get_spark"):
        start = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{run.args.workload}", cpus=run.nproc)
        run.layers["session.get_spark_s"] = time.perf_counter() - start
    spark.sparkContext.setLogLevel("ERROR")
    run.spark_version = spark.version
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def add_listener(run: Run, spark):
    """In traced runs, a progress listener on the session; else None."""
    if not run.args.trace:
        return None
    listener = make_progress_listener(run.tracer)
    spark.streams.addListener(listener)
    return listener


def settle(listener, spark) -> list[dict]:
    """Progress events reach the listener after a query ends; wait
    until no more arrive, then take them."""
    taken: list[dict] = []
    while True:
        time.sleep(0.3)
        more = listener.take()
        if not more and not spark.streams.active:
            return taken
        taken.extend(more)


def streaming_layers(
    run: Run, per_pass: list[list[dict]], walls: list[float], query: str | None = None
) -> None:
    """Per-batch phase medians from the listener's progress reports,
    over every streaming query or only the one named ``query``."""
    if query is not None:
        per_pass = [[b for b in p if b["query"] == query] for p in per_pass]
    batches = [b for p in per_pass for b in p]
    if not batches:
        return
    ms = [b["ms"] for b in batches]
    run.layers["streaming.batches"] = median([len(p) for p in per_pass])
    run.layers["streaming.rows_per_batch"] = median([b["rows"] for b in batches])
    run.layers["streaming.busy_share"] = median(
        [covered([(b["start"], b["end"]) for b in p]) / w for p, w in zip(per_pass, walls)]
    )
    run.layers["streaming.sources.offset_ms"] = median(
        [m.get("latestOffset", 0) + m.get("getBatch", 0) for m in ms]
    )
    run.layers["streaming.plan_ms"] = median([m.get("queryPlanning", 0) for m in ms])
    run.layers["streaming.commit_ms"] = median(
        [m.get("walCommit", 0) + m.get("commitOffsets", 0) for m in ms]
    )
    run.layers["streaming.add_batch_ms"] = median([m.get("addBatch", 0) for m in ms])


# --- etl_drain ------------------------------------------------------------------


def make_backlog(run: Run) -> dict:
    """The seeded backlog, and a small warm-up spool from another seed."""
    spool = os.path.join(run.dir, "spool")
    manifest = json.loads(run.generate(
        "gen.py", "backlog", "--out", spool, "--seed", str(run.args.seed),
        "--messages", str(BACKLOG_MESSAGES), "--files", str(BACKLOG_FILES),
    ))
    warmup = os.path.join(run.dir, "warmup-spool")
    run.generate(
        "gen.py", "backlog", "--out", warmup, "--seed", str(run.args.seed + 1_000_003),
        "--messages", str(WARMUP_MESSAGES), "--files", str(WARMUP_FILES),
    )
    return {**manifest, "spool": spool, "warmup": warmup}


def etl_drain(run: Run, backlog: dict) -> None:
    """Drain the backlog through the YAML flow with availableNow into
    the sharded sqlite sink: once cold, then warm for ``--seconds``,
    each drain with a fresh checkpoint and database."""
    import rabbithole_spark.plans.spec as spec_mod
    from rabbithole_spark.plans.spec import PipelineSpec, compile_pipeline

    tracer = run.tracer
    callback_ms: list[float] = []
    real_sink = spec_mod.sharded_sql_sink

    def timed_sink(*args, **kwargs):
        # traced drains only: times each sink callback from outside
        callback = real_sink(*args, **kwargs)

        def timed(batch_df, batch_id):
            start = time.perf_counter()
            try:
                callback(batch_df, batch_id)
            finally:
                end = time.perf_counter()
                callback_ms.append((end - start) * 1000)
                tracer.add("streaming.sinks.callback", start, end)

        return timed

    def compile_flow(source: str, base: str, traced: bool):
        cfg = {
            "size_limit": SINK_CHUNK,
            "time_limit": 1,
            "blocks": [
                {"name": "in", "type": "spool",
                 "kwargs": {"path": source, "max_files_per_trigger": FILES_PER_TRIGGER}},
                {"name": "out", "type": "sql",
                 "kwargs": {"url": f"sqlite:///{os.path.join(base, 'out.db')}"}},
            ],
            "flows": [[
                {"name": "in", "kwargs": {"exchange": gen.EXCHANGE}},
                {"name": "out", "kwargs": {
                    "query": gen.SINK_QUERY, "parameters": gen.PARAMS,
                    "shards": run.nproc, "setup": gen.SINK_DDL,
                }},
            ]],
        }
        spec_mod.sharded_sql_sink = timed_sink if traced else real_sink
        try:
            with tracer.span("plans.compile"):
                start = time.perf_counter()
                (runner,) = compile_pipeline(
                    spark, PipelineSpec.from_dict(cfg),
                    os.path.join(base, "ckpt"), os.path.join(base, "dead"),
                )
                took = time.perf_counter() - start
        finally:
            spec_mod.sharded_sql_sink = real_sink
        return runner, took

    def drain(runner) -> bool:
        ok = True
        for query in runner.start(available_now=True):
            ok = query.awaitTermination(150) and query.exception() is None and ok
        return ok

    spark = start_spark(run)
    listener = add_listener(run, spark)
    runner, run.layers["plans.compile_s"] = compile_flow(
        backlog["warmup"], os.path.join(run.dir, "warmup"), False
    )
    with tracer.span("bench.warmup"):
        if not drain(runner):
            raise RuntimeError("warm-up drain failed")
    if listener is not None:
        settle(listener, spark)

    walls: dict[bool, list[float]] = {False: [], True: []}
    traced_batches: list[list[dict]] = []
    traced_walls: list[float] = []
    i = 0
    while i == 0 or run.more_passes(walls):
        traced = run.is_traced(i)
        tracer.enabled = traced
        base = os.path.join(run.dir, f"drain{i}")
        runner, _ = compile_flow(backlog["spool"], base, traced)
        tracer.trace(f"drain{i}")
        run.first_op()
        run.attempted += 1
        with tracer.span("bench.drain"):
            start = time.perf_counter()
            ok = drain(runner)
            wall = time.perf_counter() - start
        db = os.path.join(base, "out.db")
        written = checks.sink_counts(db, gen.SINK_TABLE)
        dead = checks.dead_letter_count(os.path.join(base, "dead", runner.name))
        if not (ok and written == backlog["good"] and dead == backlog["bad"]):
            run.failed += 1
            run.notes.append(f"drain{i}: ok={ok} written={written} dead={dead}")
        run.pass_walls.append(wall)
        if i == 0:
            run.e2e["cold_pass_s"] = wall
        else:
            walls[traced].append(wall)
        if listener is not None:
            batches = settle(listener, spark)
            if traced:
                traced_batches.append(batches)
                traced_walls.append(wall)
        i += 1
    tracer.enabled = bool(run.args.trace)
    run.peak.stop()

    warm = walls[False]
    if warm:
        run.e2e["pass_s"] = median(warm)
        run.e2e["rows_per_s"] = median([backlog["good"] / w for w in warm])

    tracer.trace("checks")
    with tracer.span("oracle.check"):
        start = time.perf_counter()
        rows = checks.sink_rows(db, gen.SINK_TABLE, list(gen.PARAMS))
        if gen.rows_hash(rows) != backlog["hash"]:
            run.failed += 1
            run.notes.append(f"drain{i - 1}: sink rows differ from the expected projection")
        run.layers["oracle.check_s"] = time.perf_counter() - start
    run.layers["streaming.sinks.rows_written"] = written
    run.layers["streaming.sinks.dead_rows"] = dead

    if run.args.trace:
        streaming_layers(run, traced_batches, traced_walls, runner.name)
        if callback_ms:
            run.layers["streaming.sinks.callback_ms"] = median(callback_ms)
        if walls[True] and warm:
            run.layers["bench.tracing_overhead"] = median(walls[True]) / median(warm) - 1
        batch_twin(run, spark, backlog["spool"])
    stop_spark(spark)


def batch_twin(run: Run, spark, spool: str) -> None:
    """Split a drain's work by layer on the batch twin of the flow:
    scan + decode, then the mapper, then the sink callback, each
    materialised before the next so each is timed on its own."""
    from rabbithole_spark.plans.mapper import ParametersMapper
    from rabbithole_spark.streaming.batcher import BatchPolicy
    from rabbithole_spark.streaming.sinks import (
        dead_letter_split,
        decode_messages,
        sharded_sql_sink,
    )
    from rabbithole_spark.streaming.sources import read_spool_batch

    tracer = run.tracer
    tracer.trace("batch_twin")
    with tracer.span("streaming.sources.scan_decode"):
        start = time.perf_counter()
        env = read_spool_batch(spark, spool, gen.EXCHANGE)
        good, _ = dead_letter_split(decode_messages(env))
        good = good.cache()
        good.count()
        run.layers["streaming.sources.scan_decode_s"] = time.perf_counter() - start
    with tracer.span("plans.mapper"):
        start = time.perf_counter()
        mapped = ParametersMapper(gen.PARAMS).apply(good, payload_col="payload").cache()
        mapped.count()
        run.layers["plans.mapper_s"] = time.perf_counter() - start
    db = os.path.join(run.dir, "twin", "out.db")
    os.makedirs(os.path.dirname(db))
    callback = sharded_sql_sink(
        f"sqlite:///{db}", gen.SINK_QUERY, shards=run.nproc,
        policy=BatchPolicy(size_limit=SINK_CHUNK, time_limit=1), setup=gen.SINK_DDL,
    )
    with tracer.span("streaming.sinks.write"):
        start = time.perf_counter()
        callback(mapped, 0)
        run.layers["streaming.sinks.write_s"] = time.perf_counter() - start
    mapped.unpersist()
    good.unpersist()


# --- query workloads ------------------------------------------------------------


ORACLE_CACHE = os.path.join(WORK, "oracle-summaries.json")


def prepare_tables(run: Run, names: tuple[str, ...]) -> str:
    """The registry tables, generated once per checkout, and the DuckDB
    summaries of the queries' oracle SQL over them."""
    tables = os.path.join(WORK, "tables")
    if not os.path.exists(os.path.join(tables, "_done")):
        tmp = tables + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        run.generate("gen.py", "tables", "--out", tmp)
        open(os.path.join(tmp, "_done"), "w").close()
        shutil.rmtree(tables, ignore_errors=True)
        os.replace(tmp, tables)
    run.generate("checks.py", "oracle", tables, ORACLE_CACHE, *names)
    return tables


def query_workload(run: Run, tables: str, names: tuple[str, ...]) -> None:
    """One closed-loop client: each pass calls every query's ``fn`` in a
    seeded order and writes its result to the noop sink. Pass 0 is the
    cold pass; warm passes repeat for ``--seconds``."""
    tracer = run.tracer
    spark = start_spark(run)
    from rabbithole_spark import catalog

    with tracer.span("catalog.load_all"):
        start = time.perf_counter()
        specs = catalog.load_all()
        run.layers["catalog.load_all_s"] = time.perf_counter() - start
    with tracer.span("bench.warmup"):
        spark.range(1 << 16).selectExpr("sum(id)").collect()
    listener = add_listener(run, spark)

    rng = random.Random(run.args.seed)
    sc = spark.sparkContext
    results: dict[str, object] = {}
    succeeded = dict.fromkeys(names, 0)
    walls: dict[bool, list[float]] = {False: [], True: []}
    per_query = {n: {"construct": [], "execute": []} for n in names}
    traced_counts: list[dict[str, float]] = []
    traced_batches: list[list[dict]] = []
    traced_walls: list[float] = []
    cold_pass = None
    p = 0
    while p == 0 or run.more_passes(walls):
        traced = run.is_traced(p)
        tracer.enabled = traced
        # the cold pass runs in registry order, as a first verify would;
        # the seed shuffles every warm pass
        order = list(names)
        if p > 0:
            rng.shuffle(order)
        tracer.trace(f"pass{p}")
        run.first_op()
        totals = dict.fromkeys(COUNT_KEYS + ("construct_s", "execute_s"), 0)
        with tracer.span("bench.pass"):
            pass_start = time.perf_counter()
            for name in order:
                run.attempted += 1
                try:
                    with tracer.span(f"queries.{name}.construct"):
                        if traced:
                            sc.setJobGroup(f"c{p}-{name}", name)
                        start = time.perf_counter()
                        df = specs[name].fn(spark, tables)
                        mid = time.perf_counter()
                    with tracer.span(f"spark.{name}.execute"):
                        if traced:
                            sc.setJobGroup(f"x{p}-{name}", name)
                        df.write.format("noop").mode("overwrite").save()
                        end = time.perf_counter()
                except Exception as exc:  # a failing query is counted, not fatal
                    run.failed += 1
                    run.notes.append(f"pass{p} {name}: {type(exc).__name__}: {exc}"[:300])
                    continue
                finally:
                    if traced:
                        sc.setLocalProperty("spark.jobGroup.id", None)
                results[name] = df
                succeeded[name] += 1
                if traced and p > 0:
                    per_query[name]["construct"].append(mid - start)
                    per_query[name]["execute"].append(end - mid)
                    totals["construct_s"] += mid - start
                    totals["execute_s"] += end - mid
                    c = job_counts(spark, f"c{p}-{name}")
                    x = job_counts(spark, f"x{p}-{name}")
                    totals["construct_jobs"] += c["jobs"]
                    totals["construct_stages"] += c["stages"]
                    totals["execute_jobs"] += x["jobs"]
                    totals["execute_stages"] += x["stages"]
                    totals["execute_tasks"] += x["tasks"]
            wall = time.perf_counter() - pass_start
        run.pass_walls.append(wall)
        if p == 0:
            cold_pass = wall
        else:
            walls[traced].append(wall)
            if traced:
                traced_counts.append(totals)
        if listener is not None:
            batches = settle(listener, spark)
            if traced and p > 0:
                traced_batches.append(batches)
                traced_walls.append(wall)
        p += 1
    tracer.enabled = bool(run.args.trace)
    run.peak.stop()

    tracer.trace("checks")
    rows_per_pass = 0
    with tracer.span("oracle.check"):
        start = time.perf_counter()
        oracle = checks.OracleSummaries(ORACLE_CACHE, tables)
        for name in names:
            if name not in results:
                continue
            got = checks.spark_summary(results[name])
            rows_per_pass += got["rows"]
            want = oracle.summary(specs[name].oracle)
            if not checks.summaries_match(got, want):
                # the results are deterministic: every call was wrong
                run.failed += succeeded[name]
                run.notes.append(f"{name}: spark {got} != oracle {want}"[:800])
        run.layers["oracle.check_s"] = time.perf_counter() - start

    warm = walls[False]
    run.e2e["cold_pass_s"] = cold_pass
    if warm:
        run.e2e["pass_s"] = median(warm)
        run.e2e["rows_per_s"] = rows_per_pass / median(warm)

    if run.args.trace and traced_counts:
        for key in COUNT_KEYS:
            layer = ("queries." if key.startswith("construct") else "spark.") + key
            run.layers[layer] = median([c[key] for c in traced_counts])
        run.layers["queries.construct_s"] = median([c["construct_s"] for c in traced_counts])
        run.layers["spark.execute_s"] = median([c["execute_s"] for c in traced_counts])
        for name in names:
            for phase in ("construct", "execute"):
                if per_query[name][phase]:
                    run.layers[f"queries.{name}.{phase}_s"] = median(per_query[name][phase])
        run.layers["queries.cold_extra_s"] = cold_pass - median(walls[True])
        if warm:
            run.layers["bench.tracing_overhead"] = median(walls[True]) / median(warm) - 1
        streaming_layers(run, traced_batches, traced_walls)
    stop_spark(spark)


# --- result ---------------------------------------------------------------------


def context(run: Run, steal0: int, load0: list[float]) -> dict:
    """Where and how the run happened; recorded, never used as a gate."""
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "workload": run.args.workload,
        "seed": run.args.seed,
        "trace": run.args.trace,
        "nproc": run.nproc,
        "master": f"local[{run.nproc}]",
        "spark": run.spark_version,
        "pyspark": pyspark.__version__,
        "git_commit": commit,
        "loadavg_start": load0,
        "loadavg_end": list(os.getloadavg()),
        "steal_jiffies": steal_jiffies() - steal0,
        "generators_s": round(run.gen_s, 3),
        "pass_walls_s": [round(w, 3) for w in run.pass_walls],
        "peak_rss_breakdown_mb": {k: round(v) for k, v in run.peak.breakdown.items()},
        "wall_s": round(run.elapsed(), 3),
        "notes": run.notes,
    }


def finish(run: Run, steal0: int, load0: list[float]) -> None:
    ctx = context(run, steal0, load0)
    if run.args.trace:
        run.layers["bench.fail_rate"] = run.failed / max(run.attempted, 1)
        run.tracer.adopt_orphans()
        run.tracer.dump(os.path.join(WORK, "traces", run.name + ".spans.jsonl"))
        self_s = sorted(run.tracer.self_times().items(), key=lambda kv: -kv[1])
        ctx["self_s"] = {k: round(v, 4) for k, v in self_s}
        for span_name, secs in self_s[:15]:
            print(f"self {secs:9.3f} s  {span_name}", file=sys.stderr)
        print(f"tracing overhead {run.layers['bench.tracing_overhead']:+.3f}", file=sys.stderr)
        metrics = {n: {"value": v, "unit": layer_unit(n)} for n, v in run.layers.items()}
    else:
        run.e2e["peak_rss_mb"] = run.peak.peak_mb
        missing = [n for n in END_TO_END if run.e2e.get(n) is None]
        if missing:
            run.failed = max(run.failed, 1)
            run.notes.append(f"not measured: {missing}")
        metrics = {n: {"value": run.e2e.get(n) or 0.0, "unit": u} for n, u in END_TO_END.items()}
    result = {
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": metrics,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", run.name + ".json"), "w") as fh:
        json.dump({"result": result, "context": ctx}, fh, indent=1)
    print("context " + json.dumps(ctx))
    print(json.dumps(result))


def main(argv: list[str]) -> int:
    parser = argparse.ArgumentParser(description="rabbithole_spark benchmark")
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rabbithole_spark")):
        print(f"no rabbithole_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run = Run(args)
    steal0, load0 = steal_jiffies(), list(os.getloadavg())
    prepare_environment(run)
    try:
        # inputs are generated before the RSS sampler starts: the
        # generator is not part of the system under test
        if args.workload == "etl_drain":
            backlog = make_backlog(run)
            with run.peak:
                etl_drain(run, backlog)
        else:
            tables = prepare_tables(run, OPERATOR_QUERIES)
            with run.peak:
                query_workload(run, tables, OPERATOR_QUERIES)
        finish(run, steal0, load0)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run.dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
