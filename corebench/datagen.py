"""Seeded input generator.

Every table is drawn from its own numpy stream keyed by (seed, table), so
a workload that needs only some tables gets the same bytes for them as one
that needs all. Tables are written with pyarrow as single parquet files
named ``<table>.parquet`` — the layout ``bambooai_spark.io.load_table`` and
the suite specs read — and the same seed gives byte-identical files.

Shapes follow the TPC-H-ish star schema plus the ``events``, ``documents``
and ``embeddings`` tables the suite was written against; row counts scale
linearly with ``sf`` (sf 1 = 6M lineitem rows).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_IDS = {
    "region": 1, "nation": 2, "customer": 3, "supplier": 4, "part": 5,
    "orders": 6, "lineitem": 7, "events": 8, "documents": 9,
    "embeddings": 10, "corpus": 11, "corpus_warm": 12,
}
ROWS_AT_SF1 = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch index"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), TABLE_IDS[table]])


def _rows(table: str, sf: float) -> int:
    return max(10, int(round(ROWS_AT_SF1[table] * sf)))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def region(seed, sf):
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": names,
    })


def nation(seed, sf):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def customer(seed, sf):
    rng, n = _rng(seed, "customer"), _rows("customer", sf)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": segs[rng.integers(0, 5, n)],
    })


def supplier(seed, sf):
    rng, n = _rng(seed, "supplier"), _rows("supplier", sf)
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def part(seed, sf):
    rng, n = _rng(seed, "part"), _rows("part", sf)
    adj = np.array(["large", "hot", "blue", "small", "red", "green", "cold",
                    "dark"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "plate",
                     "spring"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    a, b = rng.integers(0, 8, n), rng.integers(0, 8, n)
    keys = np.arange(n)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[a], " "), noun[b]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": types[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })


def orders(seed, sf):
    rng, n = _rng(seed, "orders"), _rows("orders", sf)
    ncust = _rows("customer", sf)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    days = rng.integers(0, 2404, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ncust, n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(_EPOCH_1995 + days * _US_PER_DAY),
        "o_orderpriority": prio[rng.integers(0, 5, n)],
    })


def lineitem(seed, sf):
    rng, n = _rng(seed, "lineitem"), _rows("lineitem", sf)
    days = rng.integers(1, 2499, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, _rows("orders", sf), n),
                               pa.int64()),
        "l_partkey": pa.array(rng.integers(0, _rows("part", sf), n),
                              pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, _rows("supplier", sf), n),
                              pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(_EPOCH_1995 + days * _US_PER_DAY),
    })


def events(seed, sf):
    rng, n = _rng(seed, "events"), _rows("events", sf)
    users = max(10, int(round(15_000 * sf)))
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n)) + _EPOCH_2024
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n)
                                    .astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": kinds[rng.integers(0, 5, n)],
        "value": np.round(rng.gamma(2.0, 30.0, n), 2),
        "props": props,
    })


def _texts(rng, n: int, lo: int = 8, hi: int = 96) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    return out


def _doc_table(ids, texts, langs) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def documents(seed, sf):
    """Random-word documents plus ~1% exact and ~1% near duplicates (one
    word appended), so the dedup and pair specs find real pairs."""
    rng, n = _rng(seed, "documents"), _rows("documents", sf)
    n_dup = max(1, n // 100)
    base = n - 2 * n_dup
    texts = _texts(rng, base)
    src = rng.integers(0, base, 2 * n_dup)
    texts += [texts[i] for i in src[:n_dup]]
    texts += [texts[i] + " " + VOCAB[int(w)]
              for i, w in zip(src[n_dup:], rng.integers(0, len(VOCAB),
                                                         n_dup))]
    langs = np.array(LANGS)[rng.choice(5, n, p=LANG_P)]
    return _doc_table(list(range(n)), texts, langs)


def embeddings(seed, sf):
    rng, n = _rng(seed, "embeddings"), _rows("embeddings", sf)
    dim, k = 64, 10
    cent = rng.standard_normal((k, dim))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    labels = rng.integers(0, k, n)
    v = cent[labels] + 0.15 * rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


GENERATORS = {
    "region": region, "nation": nation, "customer": customer,
    "supplier": supplier, "part": part, "orders": orders,
    "lineitem": lineitem, "events": events, "documents": documents,
    "embeddings": embeddings,
}


@dataclass
class CorpusBatch:
    batch_id: int
    table: pa.Table
    survivors: int  # base documents — what the gates must let through
    survivors_by_lang: dict[str, int]
    text_bytes: int


def corpus_batches(seed: int, sf: float, n_batches: int,
                   stream: str = "corpus") -> list[CorpusBatch]:
    """Append batches for the corpus lifecycle: per batch 80% new unique
    documents, 10% exact copies and 10% near copies (one word appended to
    a source of 30+ words) of earlier new documents. Copies carry ids
    above every new document's id, so the exact ledger's and the near-dup
    gate's keep-the-smaller-id rules both keep the original; the expected
    survivors are therefore exactly the new documents. ``stream`` names an
    independent sequence (the warm-up corpus draws from its own)."""
    rng = _rng(seed, stream)
    size = max(40, int(round(25_000 * sf)))
    n_new = size * 8 // 10
    n_copy = (size - n_new) // 2
    seen: set[str] = set()
    pool: list[str] = []  # earlier new documents, copy sources
    long_pool: list[str] = []
    next_id, copy_id = 0, 1_000_000_000
    out = []
    for b in range(1, n_batches + 1):
        texts: list[str] = []
        while len(texts) < n_new:
            for t in _texts(rng, n_new - len(texts)):
                if t not in seen:
                    seen.add(t)
                    texts.append(t)
        ids = list(range(next_id, next_id + n_new))
        next_id += n_new
        langs = list(np.array(LANGS)[rng.choice(5, n_new, p=LANG_P)])
        by_lang = {lg: langs.count(lg) for lg in LANGS}
        pool += texts
        long_pool += [t for t in texts if t.count(" ") >= 29]
        for i in rng.integers(0, len(pool), n_copy):
            texts.append(pool[i])
        for i, w in zip(rng.integers(0, len(long_pool), n_copy),
                        rng.integers(0, len(VOCAB), n_copy)):
            texts.append(long_pool[i] + " " + VOCAB[int(w)])
        ids += list(range(copy_id, copy_id + 2 * n_copy))
        copy_id += 2 * n_copy
        langs += list(np.array(LANGS)[rng.choice(5, 2 * n_copy, p=LANG_P)])
        out.append(CorpusBatch(
            b, _doc_table(ids, texts, langs), n_new, by_lang,
            sum(len(t.encode()) for t in texts),
        ))
    return out


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_tables(seed: int, sf: float, names, out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name in names:
        path = os.path.join(out_dir, f"{name}.parquet")
        write_table(GENERATORS[name](seed, sf), path)
        paths[name] = path
    return paths


def sha256_files(paths) -> str:
    """One digest over the files' names and bytes, in name order."""
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
