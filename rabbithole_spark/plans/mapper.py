"""Dotted-path parameter mapping with the reference's exact semantics.

Reference contract (rabbithole sql.py:110-215, verified by the goldens in
tests/test_sql.py:53-134 — see FIXTURES.md §A1):

- a dotted path walks nested objects (``"nested.message"``),
- a missing key yields NULL, never an error (sql.py:159-163),
- traversing *through* a scalar (``"count.unknown"`` where count=42)
  also yields NULL,
- a dict/list value binds as its JSON-serialized string (sql.py:164-165),
- ``parameters`` may be a list (positional) or dict (named); anything
  else raises ValueError (sql.py:83-90),
- ``parameters=None`` passes the raw message through.

This engine evaluates the mapping as Spark columns (JVM-side JSON
parsing and struct access inside codegen, no Python in the hot path),
in two payload modes:

- **schemaless** (payload is a JSON string column): values come back as
  strings (numbers unquoted, objects/arrays as compact JSON), the
  dynamic-typing analogue of the reference's ``dict`` messages;
- **typed** (payload is a StructType column, declared per flow): values
  keep their Spark types; nested structs/arrays serialize via
  ``to_json``.

Schemaless payloads are parsed once per row. The mapped paths form a
tree of key segments; it becomes a StructType whose mapped values are
``StringType`` leaves, and a single ``from_json`` in its own projection
parses the payload against it (built in the same select as the
parameter columns, the optimizer would split it into one parse per
top-level key). Consequences of reading keys from a parsed struct:

- a repeated key keeps its **last** occurrence, as the reference's
  ``json.loads`` does;
- keys are matched exactly, so ``$``, ``[``, ``*``, spaces and
  case-variant siblings (``Seq`` and ``seq``) are plain keys, as in
  the reference's ``dict.get``. Fields are projected by position, so
  case variants never make an ambiguous reference;
- a struct-typed node is NULL when the payload holds anything but an
  object there, including a string of JSON text
  (``{"a": "{\\"b\\": 1}"}`` maps ``a.b`` to NULL).

A node that is both a mapped value and a prefix of another mapped path
(``count`` and ``count.unknown``) parses as text, and the deeper paths
fall back to ``get_json_object`` on the payload. That path syntax
returns the **first** of repeated keys and reads ``$``, ``[`` and
``*`` as operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["ParametersMapper"]

#: The parser features of ``get_json_object``, which decides a body's
#: validity: NaN/Infinity tokens are malformed, raw control characters
#: inside strings are accepted.
_JSON_OPTIONS = {"allowNonNumericNumbers": "false", "allowUnquotedControlChars": "true"}

#: Column holding the parsed payload between the two projections.
_PARSED = "__mapper_parsed"


class _Node:
    """One key segment of the mapped paths."""

    def __init__(self) -> None:
        self.mapped = False  # some path ends here
        self.children: dict[str, _Node] = {}


def _path_tree(paths) -> _Node:
    root = _Node()
    for path in paths:
        node = root
        for segment in path.split("."):
            node = node.children.setdefault(segment, _Node())
        node.mapped = True
    return root


def _schema(node: _Node, positional: bool = False) -> T.StructType:
    """The payload schema below ``node``: mapped nodes are text, the
    others structs of their children. ``positional`` names the fields
    ``_0, _1, ...`` instead of by key."""
    return T.StructType(
        [
            T.StructField(
                f"_{i}" if positional else key,
                T.StringType() if child.mapped else _schema(child, positional),
            )
            for i, (key, child) in enumerate(node.children.items())
        ]
    )


def _parsed_path(parsed: Column, root: _Node, path: str) -> Column | None:
    """``path``'s field of the parsed payload, or None when the path
    runs below a mapped node (which parsed as text)."""
    node, column = root, parsed
    for segment in path.split("."):
        if node.mapped:
            return None
        column = column[f"_{list(node.children).index(segment)}"]
        node = node.children[segment]
    return column


def _typed_path(payload: Column, path: str, dtype: T.DataType) -> Column:
    """Typed dotted-path walk over a StructType payload column."""
    current = payload
    current_type = dtype
    for segment in path.split("."):
        if not isinstance(current_type, T.StructType) or segment not in current_type.fieldNames():
            return F.lit(None).cast("string")
        current = current[segment]
        current_type = current_type[segment].dataType
    if isinstance(current_type, (T.StructType, T.ArrayType, T.MapType)):
        return F.to_json(current)
    return current


class ParametersMapper:
    """Compile a reference-style ``parameters`` declaration to a select list.

    list form  -> positional columns named ``param_0 .. param_{n-1}``
    dict form  -> named columns
    None       -> the raw payload as a single ``payload`` column
    """

    def __init__(self, parameters: list[str] | dict[str, str] | None):
        if parameters is None:
            self.items: list[tuple[str, str]] | None = None
            self._positional = False
        elif isinstance(parameters, list):
            self.items = [(f"param_{i}", p) for i, p in enumerate(parameters)]
            self._positional = True
        elif isinstance(parameters, dict):
            self.items = list(parameters.items())
            self._positional = False
        else:
            raise ValueError(
                f"Unexpected parameters type: {type(parameters).__name__!r}"
            )

    def apply(
        self,
        df: DataFrame,
        payload_col: str = "payload",
        keep: list[str] | None = None,
    ) -> DataFrame:
        """Project ``df`` to the mapped parameter columns (plus ``keep``)."""
        prefix = [F.col(c) for c in (keep or [])]
        payload = F.col(payload_col)
        if self.items is None:
            return df.select(*prefix, payload.alias("payload"))
        payload_type = df.schema[payload_col].dataType
        if isinstance(payload_type, T.StructType):
            return df.select(
                *prefix,
                *[
                    _typed_path(payload, path, payload_type).alias(name)
                    for name, path in self.items
                ],
            )
        root = _path_tree(path for _, path in self.items)
        parsed = F.from_json(payload, _schema(root), _JSON_OPTIONS)
        df = df.withColumn(_PARSED, parsed.cast(_schema(root, positional=True)))
        cols = []
        for name, path in self.items:
            col = _parsed_path(F.col(_PARSED), root, path)
            if col is None:
                col = F.get_json_object(payload, "$." + path)
            cols.append(col.alias(name))
        return df.select(*prefix, *cols)

    @property
    def positional(self) -> bool:
        # recorded at construction from the declaration FORM (list vs
        # dict) — inferring it from a name prefix would misclassify a
        # dict whose keys all happen to start with "param_" (binding
        # tuples against its named placeholders, which the sql sink's
        # error policy would then silently swallow batch after batch)
        return self._positional
