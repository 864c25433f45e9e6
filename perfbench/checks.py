"""Output checks, run once per run outside the timed region.

Queries: a collect of every result does not scale (a full Python-side
compare of these queries at sf0.1 ran for minutes at gigabytes of RSS),
so both engines reduce each result to a summary in-engine: the row
count, and per column the non-null count and a sum (numbers as double,
text as total length, timestamps as epoch seconds, arrays as total
size). Spark summarises the query's DataFrame, DuckDB the query's
oracle SQL over the same parquet files.

ETL: the sink's row and dead-letter counts against the generator's
good and bad counts, and an order-insensitive hash of the sink rows
against the generator's expected projection.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import sqlite3
import sys

#: relative tolerance for summed doubles: the engines add in different orders
SUM_RTOL = 1e-9

#: per value category, the summed expression in Spark SQL and in DuckDB
_SUM_EXPR = {
    "bool": ("CAST({} AS INT)", "CAST({} AS INTEGER)"),
    "num": ("CAST({} AS DOUBLE)", "CAST({} AS DOUBLE)"),
    "text": ("length({})", "length({})"),
    "time": ("unix_micros(CAST({} AS TIMESTAMP)) / 1e6", "epoch_us({}) / 1e6"),
    "date": ("unix_date({})", "CAST({} AS DATE) - DATE '1970-01-01'"),
    "list": ("size({})", "len({})"),
}


def spark_category(data_type) -> str | None:
    from pyspark.sql import types as T

    for kinds, category in (
        (T.BooleanType, "bool"),
        (T.NumericType, "num"),
        (T.StringType, "text"),
        ((T.TimestampType, T.TimestampNTZType), "time"),
        (T.DateType, "date"),
        (T.ArrayType, "list"),
    ):
        if isinstance(data_type, kinds):
            return category
    return None


def duckdb_category(type_name: str) -> str | None:
    t = type_name.upper()
    if t.endswith("[]") or t.startswith(("LIST", "ARRAY")):
        return "list"
    if t == "BOOLEAN":
        return "bool"
    if t.startswith("TIMESTAMP"):
        return "time"
    if t == "DATE":
        return "date"
    if t.startswith(("VARCHAR", "STRING", "TEXT")):
        return "text"
    if t.startswith((
        "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
        "USMALLINT", "UINTEGER", "UBIGINT", "FLOAT", "DOUBLE", "DECIMAL", "REAL",
    )):
        return "num"
    return None


def _summary(columns, run_query, engine: int) -> dict:
    """``columns``: (name, quoted name, category) sorted by name;
    ``run_query`` evaluates a list of aggregate expressions to one row."""
    exprs = ["count(*)"]
    for _, quoted, category in columns:
        exprs.append(f"count({quoted})")
        exprs.append(
            "sum(" + _SUM_EXPR[category][engine].format(quoted) + ")" if category else "NULL"
        )
    row = run_query(exprs)
    summary = {"columns": [c[0] for c in columns], "rows": int(row[0])}
    for i, (name, _, category) in enumerate(columns):
        total = row[2 + 2 * i]
        summary[name] = [category, int(row[1 + 2 * i]), None if total is None else float(total)]
    return summary


def spark_summary(df) -> dict:
    columns = [
        (f.name, f"`{f.name}`", spark_category(f.dataType))
        for f in sorted(df.schema.fields, key=lambda f: f.name)
    ]
    return _summary(columns, lambda exprs: tuple(df.selectExpr(*exprs).collect()[0]), 0)


def duckdb_summary(con, oracle_sql: str) -> dict:
    con.execute(
        "CREATE OR REPLACE TEMP VIEW bench_oracle AS " + oracle_sql.strip().rstrip(";")
    )
    described = con.execute("DESCRIBE bench_oracle").fetchall()
    columns = [
        (name, '"' + name.replace('"', '""') + '"', duckdb_category(type_name))
        for name, type_name, *_ in sorted(described)
    ]
    return _summary(
        columns,
        lambda exprs: con.execute(f"SELECT {', '.join(exprs)} FROM bench_oracle").fetchone(),
        1,
    )


def summaries_match(a: dict, b: dict) -> bool:
    """Same columns, row count, and per column the same value category
    and non-null count, with sums equal to within SUM_RTOL."""
    if a["columns"] != b["columns"] or a["rows"] != b["rows"]:
        return False
    for name in a["columns"]:
        (ca, na, sa), (cb, nb, sb) = a[name], b[name]
        if ca != cb or na != nb or (sa is None) != (sb is None):
            return False
        if sa is not None and not math.isclose(sa, sb, rel_tol=SUM_RTOL, abs_tol=1e-6):
            return False
    return True


class OracleSummaries:
    """DuckDB summaries of the registry's oracle SQL, kept in a JSON file.

    The oracles are slow (tens of seconds for the dedup queries on four
    cores) and their inputs fixed, so each summary is computed once per
    (oracle SQL, DuckDB version, table bytes), before Spark starts, and
    reused by later runs in the same checkout. The Spark side is
    summarised afresh on every run."""

    def __init__(self, path: str, tables: str) -> None:
        import duckdb

        self.path = path
        self.tables = tables
        digest = hashlib.sha256(duckdb.__version__.encode())
        for name in sorted(os.listdir(tables)):
            if name.endswith(".parquet"):
                with open(os.path.join(tables, name), "rb") as fh:
                    digest.update(name.encode() + fh.read())
        self.data_key = digest.hexdigest()
        self.cache: dict = {}
        if os.path.exists(path):
            with open(path) as fh:
                self.cache = json.load(fh)

    def key(self, oracle_sql: str) -> str:
        return hashlib.sha256(f"{self.data_key}\0{oracle_sql}".encode()).hexdigest()

    def fill(self, oracle_sqls) -> None:
        """Compute and store the summaries not yet in the file."""
        missing = [sql for sql in oracle_sqls if self.key(sql) not in self.cache]
        if not missing:
            return
        from rabbithole_spark.oracle import duckdb_connect

        con = duckdb_connect(self.tables)
        try:
            for sql in missing:
                self.cache[self.key(sql)] = duckdb_summary(con, sql)
        finally:
            con.close()
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.cache, fh)
        os.replace(tmp, self.path)

    def summary(self, oracle_sql: str) -> dict:
        self.fill([oracle_sql])
        return self.cache[self.key(oracle_sql)]


# --- ETL ----------------------------------------------------------------------


def sink_counts(db_path: str, table: str) -> int:
    """Rows across the sharded sink's ``<db>.shard-NNNN`` files."""
    total = 0
    for shard in sorted(glob.glob(db_path + ".shard-*")):
        con = sqlite3.connect(shard)
        try:
            total += con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
        finally:
            con.close()
    return total


def sink_rows(db_path: str, table: str, columns) -> list[tuple]:
    rows: list[tuple] = []
    select = f"SELECT {', '.join(columns)} FROM {table}"
    for shard in sorted(glob.glob(db_path + ".shard-*")):
        con = sqlite3.connect(shard)
        try:
            rows.extend(con.execute(select).fetchall())
        finally:
            con.close()
    return rows


def dead_letter_count(path: str) -> int:
    """Rows in the dead-letter parquet directory (0 if none were written)."""
    if not os.path.isdir(path):
        return 0
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


def main(argv: list[str]) -> int:
    """Usage: checks.py oracle TABLES CACHE NAME...

    Fills CACHE with the DuckDB summaries of the named queries' oracle
    SQL over TABLES, as a process of its own."""
    if len(argv) < 3 or argv[0] != "oracle":
        print(main.__doc__, file=sys.stderr)
        return 2
    from rabbithole_spark import catalog

    specs = catalog.load_all()
    OracleSummaries(argv[2], argv[1]).fill([specs[n].oracle for n in argv[3:]])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
