"""Self-test of the benchmark's own helpers (no Spark session needed).

    python3 perfbench/selftest.py        # or: python3 -m pytest perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
from tracing import Tracer, covered, median  # noqa: E402


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5


def test_covered_merges_overlaps():
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([]) == 0


def test_self_time_subtracts_children_once():
    tracer = Tracer(enabled=True)
    root = tracer.add("pass", 0.0, 10.0)
    tracer.add("query", 1.0, 4.0, root.id)
    tracer.add("query", 3.0, 6.0, root.id)  # overlaps the first child
    tracer.add("batch", 7.0, 8.0)  # parentless: adopted by "pass"
    tracer.adopt_orphans()
    self_s = tracer.self_times()
    assert self_s["pass"] == 10.0 - 5.0 - 1.0
    assert self_s["query"] == 6.0
    assert self_s["batch"] == 1.0


def test_disabled_tracer_records_nothing():
    tracer = Tracer(enabled=False)
    with tracer.span("x"):
        pass
    assert tracer.add("y", 0, 1) is None
    assert tracer.spans == []


def test_rows_hash_ignores_order_but_not_duplicates():
    rows = [("1", "a", None), ("2", "b", "x")]
    assert gen.rows_hash(rows) == gen.rows_hash(list(reversed(rows)))
    assert gen.rows_hash(rows) != gen.rows_hash(rows + rows[:1])
    assert gen.rows_hash([("a", None)]) != gen.rows_hash([("a", "")])


def test_backlog_manifest_matches_messages():
    with tempfile.TemporaryDirectory() as out:
        manifest = gen.write_backlog(out, seed=5, messages=2000, files=4, bad_share=0.05)
        again = gen.write_backlog(out + "-2", seed=5, messages=2000, files=4, bad_share=0.05)
    assert manifest == again
    assert manifest["good"] + manifest["bad"] == 2000
    assert 40 < manifest["bad"] < 160


def test_summary_check_catches_planted_mismatch():
    import duckdb

    con = duckdb.connect()
    try:
        base = "SELECT * FROM (VALUES (1, 'ab', 0.5), (2, NULL, 1.25)) t(k, name, v)"
        planted = "SELECT * FROM (VALUES (1, 'ab', 0.5), (2, NULL, 1.5)) t(k, name, v)"
        renamed = "SELECT k, name AS label, v FROM (" + base + ")"
        retyped = "SELECT CAST(k AS VARCHAR) AS k, name, v FROM (" + base + ")"
        want = checks.duckdb_summary(con, base)
        assert want["rows"] == 2 and want["name"] == ["text", 1, 2.0]
        assert checks.summaries_match(want, checks.duckdb_summary(con, base))
        for wrong in (planted, renamed, retyped):
            assert not checks.summaries_match(want, checks.duckdb_summary(con, wrong))
    finally:
        con.close()


def test_engine_type_categories_agree():
    from pyspark.sql import types as T

    pairs = [
        (T.LongType(), "BIGINT"), (T.IntegerType(), "INTEGER"), (T.DoubleType(), "DOUBLE"),
        (T.DecimalType(18, 2), "DECIMAL(18,2)"), (T.StringType(), "VARCHAR"),
        (T.BooleanType(), "BOOLEAN"), (T.TimestampType(), "TIMESTAMP WITH TIME ZONE"),
        (T.TimestampNTZType(), "TIMESTAMP"), (T.DateType(), "DATE"),
        (T.ArrayType(T.FloatType()), "FLOAT[]"),
    ]
    for spark_type, duck_type in pairs:
        assert checks.spark_category(spark_type) == checks.duckdb_category(duck_type)
    assert checks.spark_category(T.MapType(T.StringType(), T.LongType())) is None


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    for test in tests:
        test()
        print(f"ok  {test.__name__}")
    print(f"{len(tests)} passed")
