"""Seeded input generators for the benchmark.

Two kinds of input, both written to disk before the system under test
starts, so generation never competes with it for CPU:

- ``tables``: the ten registry tables (TESTDATA.md schemas) at the
  sf0.01 row counts, from one fixed seed. The query workloads draw
  their run-to-run variation from the query order, not the data, so
  every run checks the same results.
- ``backlog``: a spool directory of nested JSON envelopes for the ETL
  flow (FIXTURES.md A1/A2 shape, about 1% undecodable bodies) plus a
  manifest with the good and bad counts and an order-insensitive hash
  of the rows the flow must write.

Run as a separate process::

    python3 perfbench/gen.py backlog --out DIR --seed N --messages M --files F
    python3 perfbench/gen.py tables --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

import numpy as np

TABLE_SEED = 42

#: sf0.01 row counts of the registry tables (TESTDATA.md).
TABLE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

#: The flow's dotted-path projection: nested scalars, one object-valued
#: path (``nested.meta``), a missing key and a walk through a scalar.
PARAMS = {
    "seq": "seq",
    "ts": "timestamp",
    "text": "message.text",
    "level": "message.level",
    "count": "count",
    "value": "value",
    "nested_msg": "nested.message",
    "meta": "nested.meta",
    "missing": "nested.unknown",
    "through": "count.unknown",
}

EXCHANGE = "bench"
SINK_TABLE = "bench_out"
SINK_DDL = (
    f"CREATE TABLE IF NOT EXISTS {SINK_TABLE} ("
    + ", ".join(f"{name} TEXT" for name in PARAMS)
    + ")"
)
SINK_QUERY = (
    f"INSERT INTO {SINK_TABLE} VALUES ("
    + ", ".join(f":{name}" for name in PARAMS)
    + ")"
)

_WORDS = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part merge "
    "window order column join vector"
).split()
_LEVELS = ("debug", "info", "warn", "error")


def row_digest(values) -> int:
    """64-bit digest of one projected row; ``None`` is distinct from text."""
    raw = "\x1f".join("\x00" if v is None else str(v) for v in values)
    return int.from_bytes(
        hashlib.blake2b(raw.encode("utf-8"), digest_size=8).digest(), "little"
    )


def rows_hash(rows) -> str:
    """Order-insensitive hash of rows: the sum of row digests mod 2**64,
    so duplicated or missing rows change it, and row order does not."""
    total = 0
    for row in rows:
        total = (total + row_digest(row)) & 0xFFFFFFFFFFFFFFFF
    return f"{total:016x}"


# --- ETL backlog --------------------------------------------------------------


def _messages(rng: np.random.Generator, start: int, n: int, bad_share: float):
    """Yield (spool line, projected row or None) for ``n`` messages."""
    bad = (rng.random(n) < bad_share).tolist()
    counts = rng.integers(0, 1000, n).tolist()
    values = rng.integers(1, 100000, n).tolist()
    users = rng.integers(0, 5000, n).tolist()
    levels = rng.integers(0, len(_LEVELS), n).tolist()
    words = rng.integers(0, len(_WORDS), (n, 6)).tolist()
    millis = (1704067200000 + np.cumsum(rng.integers(1, 50, n))).tolist()
    seconds: dict[int, str] = {}
    for i in range(n):
        seq = start + i
        if bad[i]:
            yield (
                f'{{"exchange": "{EXCHANGE}", "content_type": "text/plain", '
                f'"body": "<<undecodable {seq}>>"}}'
            ), None
            continue
        w = [_WORDS[k] for k in words[i]]
        secs, ms = divmod(millis[i], 1000)
        if secs not in seconds:
            seconds[secs] = np.datetime64(secs, "s").astype(str)
        ts = f"{seconds[secs]}.{ms:03d}Z"
        text = " ".join(w[:4])
        nested_msg = " ".join(w[4:])
        level = _LEVELS[levels[i]]
        meta = f'{{"user":{users[i]},"tags":"{w[0]} {w[5]}"}}'
        value = f"{values[i] // 100}.{values[i] % 100:02d}".rstrip("0").rstrip(".")
        body = (
            f'{{"timestamp":"{ts}","message":{{"text":"{text}",'
            f'"level":"{level}"}},"count":{counts[i]},'
            f'"value":{value},"nested":{{"message":"{nested_msg}",'
            f'"meta":{meta}}},"seq":{seq}}}'
        )
        # bodies hold no backslashes or control characters, so escaping
        # the quotes is the whole JSON string encoding
        escaped = body.replace('"', '\\"')
        line = (
            f'{{"exchange": "{EXCHANGE}", "content_type": "application/json", '
            f'"body": "{escaped}"}}'
        )
        row = (
            str(seq), ts, text, level, str(counts[i]), value,
            nested_msg, meta, None, None,
        )
        yield line, row


def write_backlog(
    out: str, seed: int, messages: int, files: int, bad_share: float = 0.01
) -> dict:
    """Write ``messages`` envelopes across ``files`` JSON-lines files."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    per_file = -(-messages // files)
    good = bad = 0
    total = 0
    written = 0
    for f in range(files):
        n = min(per_file, messages - written)
        if n <= 0:
            break
        lines = []
        for line, row in _messages(rng, written, n, bad_share):
            lines.append(line)
            if row is None:
                bad += 1
            else:
                good += 1
                total = (total + row_digest(row)) & 0xFFFFFFFFFFFFFFFF
        with open(os.path.join(out, f"part-{f:05d}.jsonl"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        written += n
    return {
        "messages": written,
        "files": files,
        "good": good,
        "bad": bad,
        "hash": f"{total:016x}",
    }


# --- registry tables ----------------------------------------------------------


def write_tables(out: str, seed: int = TABLE_SEED) -> None:
    """Write the ten registry tables as one parquet file each."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts_us = pa.timestamp("us")

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def day(lo: str, hi: str, n: int) -> np.ndarray:
        days = rng.integers(
            np.datetime64(lo, "D").astype(int), np.datetime64(hi, "D").astype(int), n
        )
        return days.astype("datetime64[D]").astype("datetime64[us]")

    _table = pa.Table.from_pydict
    tables = {}
    tables["region"] = _table(
        {
            "r_regionkey": list(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        pa.schema([("r_regionkey", i32), ("r_name", s)]),
    )
    tables["nation"] = _table(
        {
            "n_nationkey": list(range(25)),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": [k % 5 for k in range(25)],
        },
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
    )
    n = TABLE_ROWS["customer"]
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = _table(
        {
            "c_custkey": np.arange(n),
            "c_name": [f"Customer#{k:09d}" for k in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n),
            "c_mktsegment": segments[rng.integers(0, 5, n)],
        },
        pa.schema(
            [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
             ("c_acctbal", f64), ("c_mktsegment", s)]
        ),
    )
    n = TABLE_ROWS["supplier"]
    tables["supplier"] = _table(
        {
            "s_suppkey": np.arange(n),
            "s_name": [f"Supplier#{k:09d}" for k in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n),
        },
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]),
    )
    n = TABLE_ROWS["part"]
    adjectives = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    nouns = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    retail = np.round(900 + (np.arange(n) % 1000) / 10, 2)
    tables["part"] = _table(
        {
            "p_partkey": np.arange(n),
            "p_name": np.char.add(
                np.char.add(adjectives[rng.integers(0, 8, n)], " "),
                nouns[rng.integers(0, 8, n)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
            "p_type": ptypes[rng.integers(0, 6, n)],
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": retail,
        },
        pa.schema(
            [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
             ("p_size", i32), ("p_retailprice", f64)]
        ),
    )
    n = TABLE_ROWS["orders"]
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orderdate = day("1995-01-01", "2001-08-02", n)
    tables["orders"] = _table(
        {
            "o_orderkey": np.arange(n),
            "o_custkey": rng.integers(0, TABLE_ROWS["customer"], n),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": money(1000, 500000, n),
            "o_orderdate": orderdate,
            "o_orderpriority": priorities[rng.integers(0, 5, n)],
        },
        pa.schema(
            [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
             ("o_totalprice", f64), ("o_orderdate", ts_us), ("o_orderpriority", s)]
        ),
    )
    lines = rng.integers(1, 8, n)
    m = int(lines.sum())
    orderkey = np.repeat(np.arange(n), lines)
    linenumber = np.arange(m) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    partkey = rng.integers(0, TABLE_ROWS["part"], m)
    quantity = rng.integers(1, 51, m).astype(np.float64)
    tables["lineitem"] = _table(
        {
            "l_orderkey": orderkey,
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, TABLE_ROWS["supplier"], m),
            "l_linenumber": linenumber.astype(np.int32),
            "l_quantity": quantity,
            "l_extendedprice": np.round(quantity * retail[partkey], 2),
            "l_discount": rng.integers(0, 11, m) / 100,
            "l_tax": rng.integers(0, 9, m) / 100,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
            "l_shipdate": orderdate[orderkey]
            + rng.integers(1, 122, m).astype("timedelta64[D]"),
        },
        pa.schema(
            [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
             ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
             ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
             ("l_linestatus", s), ("l_shipdate", ts_us)]
        ),
    )
    n = TABLE_ROWS["events"]
    # strictly increasing micros: as-of joins and running windows see no ties
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
        rng.integers(1_000_000, 360_000_000, n)
    ).astype("timedelta64[us]")
    tables["events"] = _table(
        {
            "event_id": np.arange(n),
            "ts": ts,
            "user_id": rng.integers(0, 150, n),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n)
            ],
            "value": money(0.01, 490.0, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        },
        pa.schema(
            [("event_id", i64), ("ts", ts_us), ("user_id", i64), ("event_type", s),
             ("value", f64), ("props", s)]
        ),
    )
    n = TABLE_ROWS["documents"]
    texts = []
    for k in range(n):
        if k >= 20 and rng.random() < 0.15:
            # near duplicate of an earlier document: one word replaced
            w = texts[int(rng.integers(0, k))].split()
            w[int(rng.integers(0, len(w)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            w = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(w))
    tables["documents"] = _table(
        {
            "doc_id": np.arange(n),
            "text": texts,
            "lang": np.array(["de", "en", "en", "en", "es", "fr", "zh"])[rng.integers(0, 7, n)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": [len(t) for t in texts],
        },
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]),
    )
    n = TABLE_ROWS["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = _table(
        {"vec_id": np.arange(n), "embedding": list(vecs), "label": labels.astype(np.int32)},
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]),
    )
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))


def main(argv: list[str]) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = parser.add_subparsers(dest="kind", required=True)
    b = sub.add_parser("backlog")
    b.add_argument("--out", required=True)
    b.add_argument("--seed", type=int, required=True)
    b.add_argument("--messages", type=int, required=True)
    b.add_argument("--files", type=int, required=True)
    t = sub.add_parser("tables")
    t.add_argument("--out", required=True)
    args = parser.parse_args(argv)
    if args.kind == "backlog":
        manifest = write_backlog(args.out, args.seed, args.messages, args.files)
        print(json.dumps(manifest))
    else:
        write_tables(args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
