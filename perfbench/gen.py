"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the registry queries read (the TPC-H-style star
schema plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each, with the same column names, types and value domains as the
engine's test data. Row counts follow the TPC-H scale factor. The values
come from a fixed base seed, so every run does the same work; the run's
seed permutes the row order of every table but ``region`` and ``nation``.
The same ``(seed, sf)`` always gives byte-identical files.

The incremental workload's micro-batch feed (event changes and new
embeddings) is built here too, one parquet file per batch, so the
streaming paths see only generated files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
PART_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
EMB_DIM = 64
DAY_US = 86_400_000_000


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"))


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return _ts(rng.integers(lo, hi + 1, n) * DAY_US)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


BASE_SEED = 20_241_016


def _write(out_dir: str, name: str, cols: dict, perm: np.random.Generator | None = None) -> None:
    table = pa.table(cols)
    if perm is not None:
        table = table.take(perm.permutation(table.num_rows))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _texts(rng: np.random.Generator, n: int, dup_frac: float = 0.05) -> list[str]:
    """Bag-of-words documents of 10-99 words; ``dup_frac`` of them are
    near-copies (an earlier document plus one word), the near-duplicate
    population the dedup operators exist to find."""
    lengths = rng.integers(10, 100, n)
    word_idx = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts, pos = [], 0
    for i, ln in enumerate(lengths):
        texts.append(" ".join(WORDS[j] for j in word_idx[pos : pos + ln]))
        pos += ln
    for i in np.flatnonzero(rng.random(n) < dup_frac):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def _documents(rng: np.random.Generator, n: int, id_base: int = 0) -> dict:
    texts = _texts(rng, n)
    return {
        "doc_id": pa.array(np.arange(id_base, id_base + n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, centers: np.ndarray, n: int, id_base: int = 0) -> dict:
    labels = rng.integers(0, len(centers), n)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(id_base, id_base + n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    }


def _centers(rng: np.random.Generator) -> np.ndarray:
    c = rng.normal(0.0, 1.0, (10, EMB_DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _events(rng: np.random.Generator, n: int, n_users: int, id_base: int = 0, t0_us: int = 0) -> dict:
    span = 30 * DAY_US
    # strictly increasing, so latest-per-key never ties on ts
    ts = np.sort(rng.integers(0, span - n, n)) + np.arange(n) + np.datetime64("2024-01-01", "us").astype(np.int64) + t0_us
    return {
        "event_id": pa.array(np.arange(id_base, id_base + n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def table_rows(sf: float) -> dict[str, int]:
    orders = max(int(1_500_000 * sf), 100)
    docs = max(int(50_000 * sf), 200)
    return {
        "customer": max(int(150_000 * sf), 10),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 20),
        "orders": orders,
        "lineitem": 4 * orders,
        "events": max(int(1_000_000 * sf), 100),
        "documents": docs,
        "embeddings": max(int(20_000 * sf), 500),
    }


def generate_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)
    perm = np.random.default_rng([seed, 1])
    n = table_rows(sf)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    }, perm)
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    }, perm)
    np_ = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, np_), rng.choice(PART_NOUN, np_))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": pa.array(rng.choice(PART_TYPES, np_)),
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1)),
    }, perm)
    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "P", "F"], no)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
    }, perm)
    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, np_, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], nl)),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    }, perm)
    ne = n["events"]
    _write(out_dir, "events", _events(rng, ne, max(ne * 3 // 200, 2)), perm)
    _write(out_dir, "documents", _documents(rng, n["documents"]), perm)
    _write(out_dir, "embeddings", _embeddings(rng, _centers(rng), n["embeddings"]), perm)
    return {"region": 5, "nation": 25, **n}


def generate_feed(out_dir: str, seed: int, batches: int, rows: dict[str, int]) -> dict:
    """The incremental workload's micro-batch feed: ``batches`` parquet
    files each of event changes (``out_dir/events``, the CDC stream's
    source directory) and of new embeddings, plus the IVF seed corpus.

    Event batches re-touch a fixed user population, so the CDC state keeps
    being updated, not only appended; each batch's event times are later
    than the previous batch's. Embedding batches continue the vector id
    space past the seed corpus. As for the tables, the values come from
    the fixed base seed and ``seed`` permutes the rows of each batch, so
    every seed feeds the same work."""
    rng = np.random.default_rng([BASE_SEED, 2])
    perm = np.random.default_rng([seed, 2])
    centers = _centers(rng)
    events_dir, emb_dir = os.path.join(out_dir, "events"), os.path.join(out_dir, "embeddings")
    os.makedirs(events_dir)
    os.makedirs(emb_dir)
    ne, nv = rows["events"], rows["embeddings"]
    seed_path = os.path.join(out_dir, "ivf_seed.parquet")
    pq.write_table(pa.table(_embeddings(rng, centers, rows["ivf_seed"])), seed_path)
    events, embeddings = [], []
    for b in range(batches):
        ev = _events(rng, ne, rows["users"], id_base=b * ne, t0_us=b * 31 * DAY_US)
        emb = _embeddings(rng, centers, nv, id_base=rows["ivf_seed"] + b * nv)
        for cols, d, acc in ((ev, events_dir, events), (emb, emb_dir, embeddings)):
            path = os.path.join(d, f"batch_{b:03d}.parquet")
            table = pa.table(cols)
            pq.write_table(table.take(perm.permutation(table.num_rows)), path)
            # the file stream source orders files by modification time
            os.utime(path, (1_600_000_000 + b, 1_600_000_000 + b))
            acc.append(path)
    return {"events_dir": events_dir, "events": events, "embeddings": embeddings,
            "ivf_seed": seed_path, "rows": rows}
