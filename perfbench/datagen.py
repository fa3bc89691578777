"""Seeded input generators for the benchmark.

Two kinds of input:

- ``write_tables``: the repo's ten test tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``) in the shapes and value
  ranges TESTDATA.md describes, written as one parquet file each.
  The headline workload reads these at a fixed seed.
- ``etl_corpus`` / ``write_files``: the document corpus the ``etl_*``
  workloads ingest, as ``{filename: text}`` plus the files themselves.

Everything is a pure function of the seed: the same seed writes
byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the test corpus's vocabulary (31 words, "a" and "the" included)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
_MKT = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("cold", "small", "large", "red", "green", "shiny", "dull")
_NOUN = ("widget", "bolt", "gear", "spring", "valve")
_PRIO = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000
_EPOCH_2024_US = 1_704_067_200 * 1_000_000


def _text(rng: np.random.Generator, lo: int = 10, hi: int = 100) -> str:
    return " ".join(rng.choice(VOCAB, size=int(rng.integers(lo, hi + 1))))


def _near_copy(rng: np.random.Generator, text: str, edits: int) -> str:
    words = text.split()
    for _ in range(edits):
        words[int(rng.integers(len(words)))] = str(rng.choice(VOCAB))
    return " ".join(words)


def documents(rng: np.random.Generator, n: int, hi: int = 100) -> list[str]:
    """``n`` texts of 10..``hi`` words: mostly fresh, ~5% exact and ~10%
    near duplicates."""
    out: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            out.append(out[int(rng.integers(i))])
        elif i > 10 and r < 0.15:
            out.append(_near_copy(rng, out[int(rng.integers(i))], 2))
        else:
            out.append(_text(rng, hi=hi))
    return out


def write_tables(
    d: str, seed: int, n_orders: int = 1500, n_docs: int = 500, n_emb: int = 500
) -> None:
    """The ten test tables at roughly sf0.001 size (``n_orders`` orders,
    ``n_docs`` documents, ``n_emb`` embeddings)."""
    rng = np.random.default_rng(seed)
    os.makedirs(d, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust, n_supp, n_part = n_orders // 10, max(n_orders // 150, 4), n_orders // 7
    put("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(_MKT, n_cust).tolist(),
    })
    put("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    put("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    # 200 distinct order days, so dates collide the way the test tables' do
    day_slots = np.sort(rng.integers(0, 2400, 200))
    odate = _EPOCH_1995_US + rng.choice(day_slots, n_orders) * _DAY_US
    put("orders", {
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        # the last 5 customers never order
        "o_custkey": pa.array(rng.integers(0, n_cust - 5, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(list("FOP"), n_orders).tolist(),
        "o_totalprice": np.round(rng.uniform(100, 100000, n_orders), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIO, n_orders).tolist(),
    })
    per_order = rng.integers(1, 8, n_orders)
    lk = np.repeat(np.arange(n_orders), per_order)
    ln = np.concatenate([rng.permutation(8)[:k] for k in per_order])
    n_lines = len(lk)
    disc = np.round(rng.uniform(0, 0.1, n_lines), 2)
    edge = rng.random(n_lines)
    disc[edge < 0.1] = 0.0
    disc[edge > 0.9] = 0.1
    put("lineitem", {
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(100, 50000, n_lines), 2),
        "l_discount": disc,
        "l_tax": np.round(rng.uniform(0, 0.08, n_lines), 2),
        "l_returnflag": rng.choice(list("ANR"), n_lines).tolist(),
        "l_linestatus": rng.choice(list("FO"), n_lines).tolist(),
        "l_shipdate": pa.array(odate[lk] + rng.integers(1, 121, n_lines) * _DAY_US, pa.timestamp("us")),
    })
    n_ev = n_orders * 2 // 3
    ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n_ev))
    put("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.uniform(0, 200, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = documents(rng, n_docs)
    put("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # ten clusters, so near-neighbour and clustering queries find structure
    centres = rng.normal(0, 0.15, (10, 64))
    label = rng.integers(0, 10, n_emb)
    emb = (centres[label] + rng.normal(0, 0.05, (n_emb, 64))).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


#: ETL documents stay under the converter's 800-char page size (80 words of
#: at most 8 letters), so a file converts to exactly its text
ETL_MAX_WORDS = 80


def etl_corpus(seed: int, n: int) -> dict[str, str]:
    """``n`` documents as ``{filename: text}``; a third are ``.md``."""
    rng = np.random.default_rng(seed)
    texts = documents(rng, n, hi=ETL_MAX_WORDS)
    return {
        f"doc_{i:05d}.{'md' if i % 3 == 0 else 'txt'}": t
        for i, t in enumerate(texts)
    }


def write_files(d: str, docs: dict[str, str]) -> None:
    os.makedirs(d, exist_ok=True)
    for name, text in docs.items():
        with open(os.path.join(d, name), "w", encoding="utf-8") as f:
            f.write(text)


def write_rejects(d: str, tag: str, n: int) -> list[str]:
    """``n`` files the pipeline must drop: disallowed extensions and
    ``.txt`` payloads that are not UTF-8."""
    os.makedirs(d, exist_ok=True)
    names = []
    for i in range(n):
        if i % 2:
            name, payload = f"reject_{tag}_{i}.csv", b"a,b\n1,2\n"
        else:
            name, payload = f"reject_{tag}_{i}.txt", b"\xff\xfe\x00bad utf-8 \xc3\x28"
        with open(os.path.join(d, name), "wb") as f:
            f.write(payload)
        names.append(name)
    return names
