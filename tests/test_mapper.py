"""Dotted-path mapper goldens transliterated from the reference test
suite (tests/test_sql.py:53-146; FIXTURES.md §A1)."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from rabbithole_spark.plans.mapper import ParametersMapper

MESSAGE = {
    "message": "<message>",
    "count": 42,
    "nested": {"message": "<nested_message>"},
}

PATHS = [
    "message",
    "count",
    "nested",
    "nested.message",
    "unknown",
    "nested.unknown",
    "message.unknown",
    "count.unknown",
]

# Reference expectations (tests/test_sql.py:82-89); in schemaless mode
# scalars come back as strings (dynamic JSON -> string binding).
EXPECTED_SCHEMALESS = [
    "<message>",
    "42",
    {"message": "<nested_message>"},  # JSON-stringified — compare parsed
    "<nested_message>",
    None,
    None,
    None,
    None,
]


def _payload_df(spark):
    return spark.createDataFrame(
        [(json.dumps(MESSAGE),)], ["payload"]
    )


def test_list_parameters_golden(spark):
    mapper = ParametersMapper(PATHS)
    row = mapper.apply(_payload_df(spark)).collect()[0]
    for i, (path, expected) in enumerate(zip(PATHS, EXPECTED_SCHEMALESS)):
        got = row[f"param_{i}"]
        if isinstance(expected, dict):
            assert json.loads(got) == expected, path
        else:
            assert got == expected, path


def test_dict_parameters_golden(spark):
    mapper = ParametersMapper({f"p{i}": p for i, p in enumerate(PATHS)})
    row = mapper.apply(_payload_df(spark)).collect()[0]
    for i, expected in enumerate(EXPECTED_SCHEMALESS):
        got = row[f"p{i}"]
        if isinstance(expected, dict):
            assert json.loads(got) == expected
        else:
            assert got == expected


def test_typed_struct_payload(spark):
    df = spark.createDataFrame([(MESSAGE["message"], MESSAGE["count"], MESSAGE["nested"])],
                               "message string, count int, nested struct<message:string>")
    payload = df.select(F.struct("message", "count", "nested").alias("payload"))
    mapper = ParametersMapper(
        {"m": "message", "c": "count", "n": "nested", "nm": "nested.message",
         "u": "unknown", "nu": "nested.unknown"}
    )
    row = mapper.apply(payload).collect()[0]
    assert row["m"] == "<message>"
    assert row["c"] == 42  # typed mode keeps types
    assert json.loads(row["n"]) == {"message": "<nested_message>"}
    assert row["nm"] == "<nested_message>"
    assert row["u"] is None
    assert row["nu"] is None


def test_none_parameters_passthrough(spark):
    mapper = ParametersMapper(None)
    row = mapper.apply(_payload_df(spark)).collect()[0]
    assert json.loads(row["payload"]) == MESSAGE


def test_invalid_parameters_type_raises():
    # Reference: ValueError on unexpected type (tests/test_sql.py:137-146).
    with pytest.raises(ValueError):
        ParametersMapper("not-a-list-or-dict")  # type: ignore[arg-type]


def test_positional_tracks_declaration_form_not_name_prefix():
    """A dict whose keys all start with 'param_' must stay NAMED —
    inferring positional from the name prefix would make sql_sink bind
    tuples against named placeholders and silently drop every batch."""
    from rabbithole_spark.plans.mapper import ParametersMapper

    assert ParametersMapper(["a.b", "c"]).positional is True
    assert ParametersMapper({"param_id": "id", "param_ts": "ts"}).positional is False
    assert ParametersMapper({}).positional is False
    assert ParametersMapper(None).positional is False


def test_json_text_in_a_string_is_not_walked(spark):
    """A string value holding JSON text is a scalar: walking into it is
    NULL, as the reference's dict.get walk stops at a str."""
    df = spark.createDataFrame([('{"a":"{\\"b\\":1}"}',)], ["payload"])
    # a.b read from the parsed struct, where a is a struct-typed node
    assert ParametersMapper({"ab": "a.b"}).apply(df).collect()[0].ab is None
    # a.b read by get_json_object, because a is mapped too
    row = ParametersMapper({"a": "a", "ab": "a.b"}).apply(df).collect()[0]
    assert (row.a, row.ab) == ('{"b":1}', None)


def test_case_variant_keys_are_distinct(spark):
    """``Seq`` and ``seq`` are two keys, as in a Python dict; mapping
    both must neither merge them nor raise an ambiguous reference."""
    df = spark.createDataFrame(
        [('{"Seq":1,"seq":2,"n":{"Seq":"x","seq":"y"}}',)], ["payload"]
    )
    mapper = ParametersMapper(
        {"upper": "Seq", "lower": "seq", "n_upper": "n.Seq", "n_lower": "n.seq"}
    )
    row = mapper.apply(df).collect()[0]
    assert (row.upper, row.lower, row.n_upper, row.n_lower) == ("1", "2", "x", "y")
