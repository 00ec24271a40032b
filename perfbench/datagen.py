"""Seeded input tables for the benchmark.

Writes the ten fixture tables the engine's queries read (``region nation
customer supplier part orders lineitem events documents embeddings``)
as single-row-group Parquet files with the same schemas, key ranges and
value domains as the shipped sf fixtures (TESTDATA.md), scaled linearly
by ``sf``. Everything is drawn from one ``numpy`` generator seeded by
the benchmark's ``--seed``, so the same seed gives byte-identical files.
Prices and amounts are whole cents, so integer-cent sums are exact on
every engine.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_ADJ = ["large", "small", "hot", "cold", "old", "new", "blue", "red"]
P_NOUN = ["ring", "bolt", "plate", "screw", "wheel", "gear", "widget"]
P_TYPES = ["LARGE", "STANDARD", "MEDIUM", "ECONOMY", "SMALL", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["de", "es", "fr", "zh"]

_DAY_US = 86_400 * 1_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us, type=pa.timestamp("us"))


def _cents(rng, lo: float, span_cents: int, n: int) -> np.ndarray:
    return np.round(lo + rng.integers(0, span_cents, n) / 100.0, 2)


def _pick(rng, options: list[str], n: int) -> np.ndarray:
    return np.array(options, dtype=object)[rng.integers(0, len(options), n)]


def generate(out: str, sf: float, seed: int) -> dict[str, int]:
    """Write the tables under ``out``; returns ``{table: rows}``."""
    rng = np.random.default_rng(seed)
    s = lambda n: max(1, int(n * sf))  # noqa: E731
    n_cust, n_supp, n_part, n_ord = s(150_000), s(10_000), s(200_000), s(1_500_000)
    n_ev, n_users, n_docs, n_emb = s(1_000_000), s(15_000), s(50_000), s(20_000)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -1000.0, 1_100_000, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -1000.0, 1_100_000, n_supp),
    })
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, P_ADJ, n_part) + " " + _pick(rng, P_NOUN, n_part),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _cents(rng, 900.0, 10_000, n_part),
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], n_ord),
        "o_totalprice": _cents(rng, 1000.0, 49_900_000, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })

    lines = rng.integers(1, 8, n_ord)
    n_line = int(lines.sum())
    tables["lineitem"] = pa.table({
        "l_orderkey": np.repeat(np.arange(n_ord, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 10_410_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line) * _DAY_US),
    })

    ev_offsets = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", ev_offsets),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    vocab = np.array(WORDS, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), k)]) for k in rng.integers(10, 100, n_docs)]
    for i in range(0, n_docs - 1, 250):  # a few exact duplicates, as crawls have
        texts[i + 1] = texts[i]
    langs = np.where(rng.random(n_docs) < 0.4, "en", _pick(rng, LANGS, n_docs)).astype(object)
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)).astype(object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    v = rng.uniform(-1.0, 1.0, (n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })

    os.makedirs(out, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, f"{out}/{name}.parquet", row_group_size=1 << 30)
    return {name: t.num_rows for name, t in tables.items()}
