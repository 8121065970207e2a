"""Seeded inputs for the benchmark.

The benchmark reads nothing outside its own checkout, so it writes its own
fixture: the TPC-H-shaped star schema plus the ``events``, ``documents``
and ``embeddings`` tables the engine's queries read, one parquet file per
table, with the column names and types the queries expect. Sizes follow
the sf0.01 fixture (60k lineitem rows).

The table contents come from ``DATA_SEED`` alone, so the stored expected
result hashes stay valid for every ``--seed``; the run seed drives what
varies between runs (query order, tick payloads, redelivery positions and
request vectors).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
EMBED_DIM = 64

SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "green", "large", "cold", "dark"]
_NOUN = ["ring", "widget", "bolt", "gear", "spring", "valve", "pipe", "nut"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _unit_rows(rng: np.random.Generator, n: int, n_labels: int = 10):
    """(vectors, labels): unit-norm float32 rows around ``n_labels``
    cluster centres, every tenth row a near copy of an earlier one so
    the corpus holds planted near-neighbour pairs."""
    centres = rng.normal(0.0, 1.0, (n_labels, EMBED_DIM))
    labels = rng.integers(0, n_labels, n)
    vecs = centres[labels] + rng.normal(0.0, 1.2, (n, EMBED_DIM))
    for i in range(10, n, 10):
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(0.0, 0.02, EMBED_DIM)
        labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels.astype(np.int32)


def write_embeddings(out_dir: str, n: int) -> np.ndarray:
    """Write ``embeddings.parquet`` with ``n`` rows; return the matrix."""
    os.makedirs(out_dir, exist_ok=True)
    vecs, labels = _unit_rows(np.random.default_rng(DATA_SEED + 7), n)
    _write(
        out_dir,
        "embeddings",
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels,
        },
        pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
    )
    return vecs


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Word-salad documents over a small vocabulary; about a fifth are
    near copies of an earlier document (a few words swapped, a ``dup``
    marker added) so the dedup operators have clusters to find."""
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            words.append("dup")
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
        texts.append(" ".join(words))
    return texts


def write_tables(out_dir: str) -> None:
    """Write every table the analytics queries read into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n = SIZES
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(
        out_dir, "region",
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS},
        pa.schema([("r_regionkey", i32), ("r_name", s)]),
    )
    _write(
        out_dir, "nation",
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        },
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
    )
    _write(
        out_dir, "customer",
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": list(rng.choice(_SEGMENTS, n["customer"])),
        },
        pa.schema(
            [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
             ("c_acctbal", f64), ("c_mktsegment", s)]
        ),
    )
    _write(
        out_dir, "supplier",
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        },
        pa.schema(
            [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]
        ),
    )
    n_part = n["part"]
    _write(
        out_dir, "part",
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": list(rng.choice(_PTYPES, n_part)),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        },
        pa.schema(
            [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
             ("p_size", i32), ("p_retailprice", f64)]
        ),
    )
    n_ord = n["orders"]
    _write(
        out_dir, "orders",
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n_ord).astype(np.int64),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": list(rng.choice(_PRIORITIES, n_ord)),
        },
        pa.schema(
            [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
             ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]
        ),
    )
    n_li = n["lineitem"]
    _write(
        out_dir, "lineitem",
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": list(rng.choice(["F", "O"], n_li)),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        },
        pa.schema(
            [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
             ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
             ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
             ("l_linestatus", s), ("l_shipdate", ts)]
        ),
    )
    n_ev = n["events"]
    gaps_us = rng.exponential(259_200_000.0, n_ev).astype(np.int64)
    _write(
        out_dir, "events",
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us),
            "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
            "event_type": list(rng.choice(_EVENT_TYPES, n_ev)),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        },
        pa.schema(
            [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
             ("value", f64), ("props", s)]
        ),
    )
    texts = _documents(rng, n["documents"])
    _write(
        out_dir, "documents",
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": texts,
            "lang": list(rng.choice(_LANGS, len(texts), p=[0.44, 0.14, 0.14, 0.14, 0.14])),
            "source": [f"src{i % 20}" for i in range(len(texts))],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        pa.schema(
            [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]
        ),
    )
    write_embeddings(out_dir, n["embeddings"])


def posts_payload(rng: np.random.Generator, first_id: int, n: int) -> bytes:
    """One extract payload in the reference's record shape: a JSON array
    of ``n`` posts (``userId, id, title, body``) with ids from
    ``first_id``, as the posts API returns it."""
    vocab = np.array(_VOCAB)
    users = rng.integers(1, 1001, n)
    title_words = vocab[rng.integers(0, len(vocab), (n, 5))]
    body_words = vocab[rng.integers(0, len(vocab), (n, 16))]
    posts = [
        {
            "userId": int(users[i]),
            "id": first_id + i,
            "title": " ".join(title_words[i]),
            "body": " ".join(body_words[i, :8]) + "\n" + " ".join(body_words[i, 8:]),
        }
        for i in range(n)
    ]
    return json.dumps(posts).encode()
