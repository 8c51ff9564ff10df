"""Seeded input generation for the benchmark.

The engine reads the ten driver tables of ``schemas.TESTDATA_CONTRACT``
(TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``). This module writes them from a seed alone, with the
value distributions of the sf0.1 test tables (TESTDATA.md): the same key ranges,
categorical domains, 30-word document vocabulary with ~5% "dup"
near-copies, unit-norm 64-d embeddings over 10 labels, and 30 days of
time-ordered events.

Scale-up follows ``tools/build_replica.py`` volume mode: a base set is
generated and then copied with shifted fact keys, and every document /
embedding copy after the first gets a word shuffle / dimension
permutation. The permutation seeds are derived from the workload seed,
so the same seed gives byte-identical files.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
ADJ = "red hot blue old large small new cold".split()
NOUN = "ring bolt plate rod anvil gear nut pipe".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000
ORDER_EPOCH_US = 788_918_400_000_000  # 1995-01-01
EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01
EVENT_SPAN_US = 30 * DAY_US
EMBED_DIM = 64
TS = pa.timestamp("us")


@dataclass(frozen=True)
class Scale:
    """Base row counts; ``copies`` volume copies multiply the facts."""

    customers: int = 1500
    suppliers: int = 100
    parts: int = 2000
    orders: int = 15000
    events: int = 10000
    users: int = 150
    documents: int = 500
    embeddings: int = 500
    copies: int = 1


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def dimensions(seed: int, s: Scale) -> dict[str, pa.Table]:
    r = _rng(seed, "dims")
    cust = np.arange(s.customers, dtype=np.int64)
    supp = np.arange(s.suppliers, dtype=np.int64)
    part = np.arange(s.parts, dtype=np.int64)
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": cust,
                "c_name": [f"Customer#{i:09d}" for i in cust],
                "c_nationkey": r.integers(0, 25, s.customers, dtype=np.int32),
                "c_acctbal": _money(r, -999.99, 9999.99, s.customers),
                "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, s.customers)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": supp,
                "s_name": [f"Supplier#{i:09d}" for i in supp],
                "s_nationkey": r.integers(0, 25, s.suppliers, dtype=np.int32),
                "s_acctbal": _money(r, -999.99, 9999.99, s.suppliers),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": part,
                "p_name": [
                    f"{ADJ[a]} {NOUN[b]}"
                    for a, b in zip(r.integers(0, 8, s.parts), r.integers(0, 8, s.parts))
                ],
                "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, s.parts)],
                "p_type": np.array(PTYPES)[r.integers(0, 6, s.parts)],
                "p_size": r.integers(1, 51, s.parts, dtype=np.int32),
                "p_retailprice": np.round(900.0 + (part % 1000) / 10.0, 1),
            }
        ),
    }


def orders_lineitem(seed: int, s: Scale) -> tuple[pa.Table, pa.Table]:
    r = _rng(seed, "orders")
    n = s.orders
    okey = np.arange(n, dtype=np.int64)
    odate = ORDER_EPOCH_US + r.integers(0, 2405, n) * DAY_US
    orders = pa.table(
        {
            "o_orderkey": okey,
            "o_custkey": r.integers(0, s.customers, n, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
            "o_totalprice": _money(r, 1000.0, 500000.0, n),
            "o_orderdate": pa.array(odate, TS),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n)],
        }
    )
    lines = 1 + r.poisson(3.07, n)
    m = int(lines.sum())
    l_okey = np.repeat(okey, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(m) - starts + 1).astype(np.int32)
    lineitem = pa.table(
        {
            "l_orderkey": l_okey,
            "l_partkey": r.integers(0, s.parts, m, dtype=np.int64),
            "l_suppkey": r.integers(0, s.suppliers, m, dtype=np.int64),
            "l_linenumber": linenumber,
            "l_quantity": r.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, m),
            "l_discount": r.integers(0, 11, m) / 100.0,
            "l_tax": r.integers(0, 9, m) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, m)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, m)],
            "l_shipdate": pa.array(
                np.repeat(odate, lines) + r.integers(1, 122, m) * DAY_US, TS
            ),
        }
    )
    # rows arrive unsorted in the test tables too
    perm = r.permutation(m)
    return orders, lineitem.take(pa.array(perm))


def events(seed: int, s: Scale) -> pa.Table:
    r = _rng(seed, "events")
    n = s.events
    ts = np.sort(EVENT_EPOCH_US + r.integers(0, EVENT_SPAN_US, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, TS),
            "user_id": r.integers(0, s.users, n, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
            "value": np.round(r.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }
    )


def documents(seed: int, s: Scale) -> pa.Table:
    r = _rng(seed, "documents")
    n = s.documents
    vocab = np.array(VOCAB)
    lens = r.integers(10, 101, n)
    texts = [" ".join(vocab[r.integers(0, len(VOCAB), k)]) for k in lens]
    # ~5% near-duplicates ("dup" spliced into a copy of an earlier doc)
    # and ~0.2% exact copies, as in the test tables' documents
    for i in np.flatnonzero(r.random(n) < 0.05):
        if i == 0:
            continue
        words = texts[int(r.integers(0, i))].split(" ")
        words.insert(int(r.integers(0, len(words) + 1)), "dup")
        texts[i] = " ".join(words)
    for i in np.flatnonzero(r.random(n) < 0.002):
        if i > 0:
            texts[i] = texts[int(r.integers(0, i))]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(seed: int, s: Scale) -> pa.Table:
    r = _rng(seed, "embeddings")
    n = s.embeddings
    labels = r.integers(0, 10, n, dtype=np.int32)
    centers = r.normal(0.0, 1.0, (10, EMBED_DIM))
    mat = r.normal(0.0, 1.0, (n, EMBED_DIM)) + 0.6 * centers[labels]
    mat = (mat / np.linalg.norm(mat, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(mat), pa.list_(pa.float32())),
            "label": labels,
        }
    )


SHIFTED = {
    "documents": "doc_id",
    "embeddings": "vec_id",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
}


def _volume_copy(name: str, t: pa.Table, seed: int, i: int) -> pa.Table:
    """``tools/build_replica.py`` volume perturbation of copy ``i > 0``,
    with its permutation seeds derived from the workload seed."""
    if name == "documents":
        out = []
        for doc_id, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
            words = text.split(" ")
            random.Random((seed << 40) ^ (i << 32) ^ doc_id).shuffle(words)
            out.append(" ".join(words))
        return t.set_column(t.schema.get_field_index("text"), "text", pa.array(out))
    if name == "embeddings":
        mat = np.stack(t["embedding"].to_numpy(zero_copy_only=False))
        perm = np.random.default_rng([seed, 1000 + i]).permutation(mat.shape[1])
        col = pa.array(list(mat[:, perm]), pa.list_(pa.float32()))
        return t.set_column(t.schema.get_field_index("embedding"), "embedding", col)
    return t


def replicate(tables: dict[str, pa.Table], copies: int, seed: int) -> dict[str, pa.Table]:
    """Volume replica: fact keys shift by one stride per copy (order keys
    of orders and lineitem together), dimensions stay as they are."""
    if copies <= 1:
        return tables
    stride = max(
        int(np.max(tables[name][key].to_numpy())) + 1 for name, key in SHIFTED.items()
    )
    out = dict(tables)
    for name, key in SHIFTED.items():
        base = tables[name]
        parts = []
        for i in range(copies):
            c = base.set_column(
                base.schema.get_field_index(key),
                key,
                pa.array(base[key].to_numpy() + i * stride),
            )
            parts.append(_volume_copy(name, c, seed, i) if i else c)
        out[name] = pa.concat_tables(parts)
    return out


def generate(seed: int, s: Scale) -> dict[str, pa.Table]:
    tables = dimensions(seed, s)
    tables["orders"], tables["lineitem"] = orders_lineitem(seed, s)
    tables["events"] = events(seed, s)
    tables["documents"] = documents(seed, s)
    tables["embeddings"] = embeddings(seed, s)
    return replicate(tables, s.copies, seed)


def write(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """Write one parquet file per table; returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
