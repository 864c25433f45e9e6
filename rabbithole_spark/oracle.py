"""Local oracle-differential harness mirroring the driver's correctness gate.

Runs a catalog query on Spark and its oracle SQL on DuckDB over the same
parquet tables, then compares row count, schema (names), and an
order-insensitive canonicalization of the values. Stricter than needed
locally so the driver's hash-compare never surprises us.
"""

from __future__ import annotations

import datetime
import math
import os
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any

import duckdb

from pyspark.sql import DataFrame

from rabbithole_spark.session import TABLES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with the registry tables pre-registered as views,
    exactly like the driver (__spark_entry__.py docstring)."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm_spark_type(dt) -> str:
    """Normalize a Spark DataType to a cross-engine token."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return f"list<{_norm_spark_type(dt.elementType)}>"
    if isinstance(dt, T.StructType):
        inner = ",".join(f"{f.name}:{_norm_spark_type(f.dataType)}" for f in dt.fields)
        return f"struct<{inner}>"
    if isinstance(dt, T.DecimalType):
        return f"dec({dt.precision},{dt.scale})"
    return {
        T.ByteType: "i8",
        T.ShortType: "i16",
        T.IntegerType: "i32",
        T.LongType: "i64",
        T.FloatType: "f32",
        T.DoubleType: "f64",
        T.StringType: "str",
        T.BooleanType: "bool",
        T.DateType: "date",
        T.TimestampType: "ts",
        T.TimestampNTZType: "ts",
        T.BinaryType: "bin",
    }.get(type(dt), dt.simpleString())


def _norm_arrow_type(at) -> str:
    """Normalize a pyarrow DataType (from DuckDB) to the same tokens."""
    import pyarrow as pa

    if pa.types.is_list(at) or pa.types.is_large_list(at):
        return f"list<{_norm_arrow_type(at.value_type)}>"
    if pa.types.is_struct(at):
        inner = ",".join(
            f"{at.field(i).name}:{_norm_arrow_type(at.field(i).type)}"
            for i in range(at.num_fields)
        )
        return f"struct<{inner}>"
    if pa.types.is_decimal(at):
        return f"dec({at.precision},{at.scale})"
    if pa.types.is_timestamp(at):
        return "ts"
    if pa.types.is_date(at):
        return "date"
    if pa.types.is_string(at) or pa.types.is_large_string(at):
        return "str"
    if pa.types.is_binary(at) or pa.types.is_large_binary(at):
        return "bin"
    return {
        "int8": "i8",
        "int16": "i16",
        "int32": "i32",
        "int64": "i64",
        "float": "f32",
        "double": "f64",
        "bool": "bool",
    }.get(str(at), str(at))


def _is_row(value: Any) -> bool:
    from pyspark.sql import Row

    return isinstance(value, Row)


def _canon(value: Any) -> tuple:
    """Canonicalize one cell to a uniformly sortable (typecode, payload)
    tuple — NULLs, mixed types, and nested lists all order totally."""
    if value is None:
        return ("0null", "")
    if isinstance(value, bool):
        return ("bool", "1" if value else "0")
    if isinstance(value, Decimal):
        return ("dec", str(value))
    if isinstance(value, float):
        if math.isnan(value):
            return ("f", "nan")
        if value == 0.0:
            # fold signed zeros: Spark's BigDecimal round can yield
            # +0.0 where DuckDB computes -0.0 for the same value
            return ("f", "0")
        # floats that survive our stability policy agree to ~1e-12;
        # canonicalize at 9 significant-ish digits.
        return ("f", f"{value:.9g}")
    if isinstance(value, int):
        return ("i", str(value))
    if isinstance(value, datetime.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return ("ts", value.isoformat())
    if isinstance(value, datetime.date):
        return ("d", value.isoformat())
    if _is_row(value):
        # Spark struct cells arrive as Row (a tuple subclass) while
        # DuckDB/pyarrow structs arrive as dicts — canonicalize both
        # to the map form or struct columns always falsely mismatch
        return (
            "map",
            tuple(sorted((k, _canon(v)) for k, v in value.asDict().items())),
        )
    if isinstance(value, (list, tuple)):
        return ("list", tuple(_canon(v) for v in value))
    if isinstance(value, dict):
        return ("map", tuple(sorted((k, _canon(v)) for k, v in value.items())))
    if isinstance(value, (bytes, bytearray)):
        # PySpark returns bytearray for BinaryType, DuckDB bytes
        return ("bin", bytes(value).hex())
    if isinstance(value, str):
        return ("s", value)
    return ("other", repr(value))


@dataclass
class CompareReport:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    mismatches: list[str] = field(default_factory=list)

    def __str__(self) -> str:  # pragma: no cover - debugging aid
        status = "OK " if self.ok else "FAIL"
        extra = "" if self.ok else f" :: {'; '.join(self.mismatches[:5])}"
        return f"[{status}] {self.name} rows={self.spark_rows}/{self.oracle_rows}{extra}"


def compare(
    name: str,
    spark_df: DataFrame,
    oracle_query: str,
    con: duckdb.DuckDBPyConnection,
) -> CompareReport:
    spark_rows = spark_df.collect()
    spark_cols = spark_df.columns
    spark_types = {
        f.name: _norm_spark_type(f.dataType) for f in spark_df.schema.fields
    }

    arrow = con.execute(oracle_query).arrow()
    oracle_cols = arrow.schema.names
    oracle_types = {
        f.name: _norm_arrow_type(f.type) for f in arrow.schema
    }
    _cols_py = [c.to_pylist() for c in arrow.columns]
    oracle_rows = list(zip(*_cols_py)) if _cols_py else [() for _ in range(arrow.num_rows)]

    mismatches: list[str] = []
    if sorted(spark_cols) != sorted(oracle_cols):
        mismatches.append(
            f"columns differ: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}"
        )
    else:
        type_diffs = [
            f"{c}: spark={spark_types[c]} oracle={oracle_types[c]}"
            for c in spark_cols
            if spark_types[c] != oracle_types[c]
        ]
        if type_diffs:
            mismatches.append("types differ: " + "; ".join(type_diffs))
    if len(spark_rows) != len(oracle_rows):
        mismatches.append(f"row count {len(spark_rows)} != {len(oracle_rows)}")

    if not mismatches:
        s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
        o_order = sorted(range(len(oracle_cols)), key=lambda i: oracle_cols[i])
        s_set = sorted(
            tuple(_canon(row[i]) for i in s_order) for row in spark_rows
        )
        o_set = sorted(
            tuple(_canon(row[i]) for i in o_order) for row in oracle_rows
        )
        if s_set != o_set:
            diffs = [
                f"row {idx}: spark={s} oracle={o}"
                for idx, (s, o) in enumerate(zip(s_set, o_set))
                if s != o
            ]
            mismatches.append(f"{len(diffs)} differing canonical rows")
            mismatches.extend(diffs[:3])

    return CompareReport(
        name=name,
        ok=not mismatches,
        spark_rows=len(spark_rows),
        oracle_rows=len(oracle_rows),
        mismatches=mismatches,
    )

