"""Seeded input generation for the benchmark.

Everything the library reads comes from here: the TPC-H-shaped star
schema plus ``events``, ``documents`` and ``embeddings`` that
``sidemantic_spark.models.tpch.register_tables`` expects, written as one
parquet file per table. The same seed always gives the same bytes of
data; nothing is read from outside the benchmark's own directory.

``write_tables`` mirrors the shape of the sf0.1 test data (row counts,
key ranges, value domains). ``write_corpus`` replaces the documents and
embeddings with a dedup corpus: unrelated documents over a large
vocabulary plus planted duplicate groups, so the near-duplicate
structure is known by construction.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# sf0.1 row counts of the test data the catalogue entries were written for
SF01_ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}

_BASE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400 * 1_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per table, so adding a table never shifts
    the others' values for the same seed."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _dims(out_dir: str, seed: int, scale: float) -> None:
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = max(int(SF01_ROWS["customer"] * scale), 25)
    rng = _rng(seed, "customer")
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
        ),
    })
    n = max(int(SF01_ROWS["supplier"] * scale), 10)
    rng = _rng(seed, "supplier")
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = max(int(SF01_ROWS["part"] * scale), 20)
    rng = _rng(seed, "part")
    adj = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
    noun = ["ring", "bolt", "plate", "gear", "pipe", "nut", "valve", "rod"]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n
        ),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
    })


def _facts(out_dir: str, seed: int, scale: float) -> None:
    n_cust = max(int(SF01_ROWS["customer"] * scale), 25)
    n_part = max(int(SF01_ROWS["part"] * scale), 20)
    n_supp = max(int(SF01_ROWS["supplier"] * scale), 10)
    n_ord = max(int(SF01_ROWS["orders"] * scale), 100)
    rng = _rng(seed, "orders")
    order_day = rng.integers(0, 2405, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _EPOCH_1995 + order_day.astype("timedelta64[D]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    n_li = max(int(SF01_ROWS["lineitem"] * scale), 400)
    rng = _rng(seed, "lineitem")
    okey = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": okey.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _EPOCH_1995 + (
            order_day[okey] + rng.integers(1, 122, n_li)
        ).astype("timedelta64[D]"),
    })
    n_ev = max(int(SF01_ROWS["events"] * scale), 100)
    rng = _rng(seed, "events")
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _EPOCH_2024 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })


def _embeddings(out_dir: str, seed: int, n: int, planted: int = 0) -> None:
    """Unit vectors in 64 dims; ``planted`` of them are small
    perturbations of earlier vectors (semantic near-duplicates)."""
    rng = _rng(seed, "embeddings")
    v = rng.standard_normal((n, 64))
    if planted:
        src = rng.integers(0, n - planted, planted)
        v[n - planted:] = v[src] + 0.15 * rng.standard_normal((planted, 64))
        v = v[rng.permutation(n)]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def _documents(out_dir: str, texts: list[str], seed: int) -> None:
    n = len(texts)
    rng = _rng(seed, "documents.meta")
    _write(out_dir, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> None:
    """The ten tables at ``scale`` x the sf0.1 row counts."""
    os.makedirs(out_dir, exist_ok=True)
    _dims(out_dir, seed, scale)
    _facts(out_dir, seed, scale)
    rng = _rng(seed, "documents")
    n_docs = max(int(SF01_ROWS["documents"] * scale), 100)
    words = np.array(_BASE_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        for _ in range(n_docs)
    ]
    _documents(out_dir, texts, seed)
    _embeddings(out_dir, seed, max(int(SF01_ROWS["embeddings"] * scale), 100))


# ----------------------------------------------------------------------
# dedup corpus
# ----------------------------------------------------------------------

def _vocabulary(size: int = 4000) -> np.ndarray:
    """Fixed pseudo-word vocabulary (not seeded: the seed picks which
    words a document uses, not what words exist)."""
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    syll = [c + v for c in cons for v in vows]  # 85 syllables
    words = {w for w in _BASE_WORDS}
    i = 0
    while len(words) < size:
        a, b, c = syll[i % 85], syll[(i // 85) % 85], syll[(i * 7 + 3) % 85]
        words.add(a + b + (c if i % 3 else ""))
        i += 1
    return np.array(sorted(words))


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int,
                 dup_groups: int) -> list[list[int]]:
    """Replace ``documents`` and ``embeddings`` in ``out_dir`` with a
    dedup corpus whose duplicate structure is known by construction.

    ``dup_groups`` base documents each get one exact copy (the same text
    in upper case) and one near copy (one word replaced). Every other
    document draws its words independently from a 4,000-word
    vocabulary, so unrelated documents share no word 5-gram run and have
    character-shingle Jaccard far below the operators' thresholds. Ids
    are a seeded permutation, so group members are scattered across the
    id range and some land in the decontamination eval slice (ids < 50).
    A tenth of the embeddings are small perturbations of others.

    Returns the planted groups (lists of doc ids).
    """
    rng = _rng(seed, "corpus")
    vocab = _vocabulary()
    n_free = n_docs - 3 * dup_groups
    if n_free < 0:
        raise ValueError("corpus too small for the requested duplicate groups")
    lengths = rng.integers(60, 121, n_free + dup_groups)
    bodies = [list(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    texts: list[str] = []
    planted: list[list[int]] = []
    for g in range(dup_groups):
        base = bodies[n_free + g]
        near = list(base)
        pos = int(rng.integers(0, len(near)))
        near[pos] = vocab[(np.searchsorted(vocab, near[pos]) + 1 + int(rng.integers(0, 50))) % len(vocab)]
        planted.append([len(texts), len(texts) + 1, len(texts) + 2])
        texts += [" ".join(base), " ".join(base).upper(), " ".join(near)]
    texts.extend(" ".join(b) for b in bodies[:n_free])
    perm = rng.permutation(n_docs)  # perm[old] = new id
    shuffled = [""] * n_docs
    for old, new in enumerate(perm):
        shuffled[new] = texts[old]
    _documents(out_dir, shuffled, seed)
    _embeddings(out_dir, seed, n_vecs, planted=n_vecs // 10)
    return [sorted(int(perm[m]) for m in members) for members in planted]
