"""Query/operator registry — the surface the driver's harness reads.

Every implemented operator from SURVEY.md §2B registers here with

- a Spark callable ``(spark, sf_dir) -> DataFrame``, and
- (when SQL-expressible) an equivalent DuckDB oracle SQL string.

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over this
registry. Column names are aliased identically on both sides: the driver
sorts columns by name before hashing values.

Emission order is the external-verification window. The external
harness hash-checks the first 50 names of the registry per round and
records them in ``CORRECTNESS_r{N}.json`` next to this package, so
:func:`load_all` emits names sorted by (latest round with a CORRECTNESS
row, name): never-checked names lead, then the stalest block, each
block alphabetical. The window therefore rotates by itself whenever a
new CORRECTNESS file lands. At 50 checks per round, 200 registered
queries is the most the rule can keep within a 4-round staleness
horizon; a 201st registration needs a retirement or a longer horizon.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from rabbithole_spark.session import prepare

QueryFn = Callable[[SparkSession, str], DataFrame]

#: Query modules whose import populates the registry.
_QUERY_MODULES = (
    "rabbithole_spark.queries.llm.dedup",
    "rabbithole_spark.queries.llm.similarity",
    "rabbithole_spark.queries.llm.text",
    "rabbithole_spark.queries.llm.contamination",
    "rabbithole_spark.queries.llm.mixture",
    "rabbithole_spark.queries.llm.pack",
    "rabbithole_spark.queries.llm.multimodal",
    "rabbithole_spark.queries.llm.pipelines",
    "rabbithole_spark.queries.tpch",
    "rabbithole_spark.queries.tpch_derived",
    "rabbithole_spark.queries.temporal",
    "rabbithole_spark.queries.stats",
    "rabbithole_spark.queries.udfs",
    "rabbithole_spark.queries.pipeline",
    "rabbithole_spark.queries.core",
    "rabbithole_spark.queries.joins",
    "rabbithole_spark.queries.aggregates",
    "rabbithole_spark.queries.windows",
    "rabbithole_spark.queries.setops",
    "rabbithole_spark.queries.sortlimit",
    "rabbithole_spark.queries.scalars",
    "rabbithole_spark.queries.sqlsurface",
    "rabbithole_spark.queries.layout",
)

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB ANSI SQL; None -> driver's rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator registering a query; wraps the fn to pin session confs."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str, *args, **kwargs) -> DataFrame:
            prepare(spark)
            return fn(spark, sf_dir, *args, **kwargs)

        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=wrapped, oracle=oracle, doc=doc)
        return wrapped

    return deco


@functools.cache
def _correctness_history() -> dict[str, int]:
    """Query name -> latest round with an external CORRECTNESS row."""
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            for name in json.load(f):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (registration is an import side effect)
    and return the registry in window order (see module docstring)."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    latest = _correctness_history()
    order = sorted(_REGISTRY, key=lambda name: (latest.get(name, 0), name))
    return {name: _REGISTRY[name] for name in order}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in load_all().items() if spec.oracle
    }
