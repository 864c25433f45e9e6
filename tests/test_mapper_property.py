"""Property-based check (hypothesis): the JVM-side schemaless dotted-path
mapper agrees with a pure-Python transliteration of the reference's
semantics (rabbithole sql.py:145-166) on arbitrary nested payloads:
missing -> NULL, traversal through scalars -> NULL, dict/list values ->
compact JSON string.

The generated payloads hold the mapper's hazards: string values that
are JSON object or array text, keys with ``$``, ``[``, ``*`` or a space,
case-variant sibling keys (``Seq`` and ``seq``), and non-ASCII and
escaped strings. Special-character keys sit only on paths that the
parsed struct serves; a path below a node that is itself mapped (``a``
and ``a.b``) goes through ``get_json_object``'s path syntax, so its
keys are plain (see plans/mapper.py)."""

from __future__ import annotations

import json
import re

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from rabbithole_spark.plans.mapper import ParametersMapper

_KEYS = ["a", "b", "c", "Seq", "seq", "x y", "$k", "k[0]", "*"]
_PATHS = [
    # a, b and c are mapped and also prefixes of deeper mapped paths
    "a", "b", "c", "a.b", "a.b.c", "b.a", "c.missing", "missing",
    # exact keys, including case variants, read from the parsed struct
    "Seq", "seq", "x y", "*",
    # $k and k[0] are only prefixes: struct-typed nodes
    "$k.a", "$k.Seq", "$k.seq", "k[0].x y", "k[0].*.b", "k[0].*.$k",
]

_scalars = st.one_of(
    st.integers(min_value=-(10**9), max_value=10**9),
    st.booleans(),
    st.text(alphabet='xyz 1é😀"\\\n\t{}[]', max_size=8),
    st.sampled_from(['{"b":1}', '[1,2]', '{"a": {"b": "x"}}', "{}", "null"]),
    st.none(),
)


def _payloads(depth: int):
    if depth == 0:
        return _scalars
    return st.one_of(
        _scalars,
        st.lists(_scalars, max_size=3),
        st.dictionaries(
            st.sampled_from(_KEYS), _payloads(depth - 1), max_size=3
        ),
    )


def _surrogate_escape(match: re.Match) -> str:
    high, low = divmod(ord(match.group()) - 0x10000, 0x400)
    return f"\\u{0xD800 + high:04X}\\u{0xDC00 + low:04X}"


def _ref_extract(payload: dict, path: str):
    """The reference's mapping rules, transliterated (sql.py:145-166),
    projected into the schemaless engine's string-typed value space."""
    current: object = payload
    for seg in path.split("."):
        if isinstance(current, dict):
            current = current.get(seg)
        else:
            return None
    if current is None:
        return None
    if isinstance(current, (dict, list)):
        text = json.dumps(current, separators=(",", ":"), ensure_ascii=False)
        # Spark's JSON writer escapes characters outside the BMP as a
        # surrogate pair with upper-case hex
        return re.sub("[\U00010000-\U0010FFFF]", _surrogate_escape, text)
    if isinstance(current, bool):
        return "true" if current else "false"
    return str(current)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.dictionaries(st.sampled_from(_KEYS), _payloads(2), max_size=3),
        min_size=1,
        max_size=6,
    )
)
def test_schemaless_mapper_matches_reference_semantics(spark, payloads):
    df = spark.createDataFrame(
        [(i, json.dumps(p, separators=(",", ":"), ensure_ascii=False))
         for i, p in enumerate(payloads)],
        ["i", "payload"],
    )
    mapper = ParametersMapper({f"p{j}": path for j, path in enumerate(_PATHS)})
    got = {
        r["i"]: [r[f"p{j}"] for j in range(len(_PATHS))]
        for r in mapper.apply(df, keep=["i"]).collect()
    }
    for i, payload in enumerate(payloads):
        expected = [_ref_extract(payload, path) for path in _PATHS]
        assert got[i] == expected, (payload, _PATHS, got[i], expected)


def test_list_form_positional_naming(spark):
    df = spark.createDataFrame(
        [(json.dumps({"a": 1, "b": {"c": "x"}}),)], ["payload"]
    )
    mapper = ParametersMapper(["a", "b.c", "missing"])
    out = mapper.apply(df)
    assert out.columns == ["param_0", "param_1", "param_2"]
    row = out.collect()[0]
    assert (row.param_0, row.param_1, row.param_2) == ("1", "x", None)


def test_duplicate_json_keys_last_wins_like_reference(spark):
    """Raw JSON may repeat a key ({"k":1,"k":2}). The reference parses
    with Python's json.loads, which keeps the LAST occurrence, and the
    mapper's single from_json parse does the same. Paths below a node
    that is itself mapped (``k`` and ``k.x``) still go through
    get_json_object, where the FIRST occurrence wins."""
    df = spark.createDataFrame([('{"k":1,"k":2}',)], ["payload"])
    out = ParametersMapper({"k": "k"}).apply(df).collect()[0]
    assert out.k == "2"
    nested = spark.createDataFrame([('{"k":{"x":1},"k":{"x":2}}',)], ["payload"])
    row = ParametersMapper({"k": "k", "kx": "k.x"}).apply(nested).collect()[0]
    assert (row.k, row.kx) == ('{"x":2}', "1")


def test_list_traversal_yields_null_like_reference(spark):
    """A dotted path into a list value ('a.0' where a=[1,2,3]) is NULL:
    the reference's dict.get traversal returns None for non-dict
    intermediates (sql.py:145-166), and the mapper's struct/JSON walk
    must agree — '0' is only a real key when the payload holds an
    object with that string key."""
    df = spark.createDataFrame(
        [('{"a":[1,2,3]}',), ('{"a":{"0":"zero"}}',), ('{"a":5}',)],
        ["payload"],
    )
    rows = (
        ParametersMapper({"a0": "a.0", "ab": "a.b"})
        .apply(df)
        .collect()
    )
    got = [(r.a0, r.ab) for r in rows]
    assert got.count((None, None)) == 2 and got.count(("zero", None)) == 1
