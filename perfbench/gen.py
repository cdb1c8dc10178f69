"""Seeded input generator for the benchmark.

Builds corpora with the schemas and value domains the engine's tables
have (TPC-H-ish star schema, an ``events`` stream table and the
``documents``/``embeddings`` LLM tables), from a seed alone: the same
seed and size give byte-identical parquet files.  A run generates its
corpus afresh (well under a second at the benchmark's sizes), so no
input outlives the code that made it.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "old", "small", "new", "red", "hot", "large", "cold")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "view", "purchase", "error")
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
EMBED_DIM = 64
#: doc_id / vec_id offset of copy k in a ×N corpus; base ids stay below
#: the offsets some dedup keys use to plant derived duplicates
DOC_COPY_STRIDE = 1_000_000
VEC_COPY_STRIDE = 2_000

_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    """Midnight timestamps drawn uniformly between two dates."""
    lo_us, hi_us = _epoch_us(*lo), _epoch_us(*hi)
    days = rng.integers(0, (hi_us - lo_us) // _US_PER_DAY + 1, n)
    return pa.array(lo_us + days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _tpch(out: str, rng: np.random.Generator, sf: float) -> None:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, tuple(names), n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _days(rng, n_line, (1995, 1, 2), (2001, 11, 4)),
    })


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Append-only events over 30 days, event_id in event-time order."""
    lo = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(lo, lo + 30 * _US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Texts over a small vocabulary; ~4% exact and ~6% one-word-edit
    copies of earlier documents so dedup keys have work to find."""
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.10:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    return texts


def _embeddings(rng: np.random.Generator, n: int) -> np.ndarray:
    """Unit vectors; ~6% are small perturbations of earlier rows."""
    vecs = rng.normal(size=(n, EMBED_DIM))
    for i in np.nonzero(rng.random(n) < 0.06)[0]:
        if i > 10:
            vecs[i] = vecs[rng.integers(0, i)] + rng.normal(scale=0.05, size=EMBED_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32)


def _remap(word: str, seed: int, copy: int) -> str:
    return hashlib.md5(f"{word}:{seed}:{copy}".encode()).hexdigest()[:8]


def _llm(out: str, rng: np.random.Generator, seed: int, n_docs: int, n_vecs: int, copies: int) -> None:
    """documents/embeddings, ×copies: copy k renames every vocabulary
    word by a seed-salted hash and rotates every vector by a
    seed-salted offset, so copies share structure but no tokens."""
    texts = _documents(rng, n_docs)
    langs = _pick(rng, LANGS, n_docs, p=LANG_P).to_pylist()
    vecs = _embeddings(rng, n_vecs)
    labels = rng.integers(0, 10, n_vecs, dtype=np.int32)
    doc_id, text, lang, source = [], [], [], []
    vec_id, emb, label = [], [], []
    for k in range(copies):
        table = {w: (w if k == 0 else _remap(w, seed, k)) for w in VOCAB}
        shift = 0 if k == 0 else 1 + (seed + k) % (EMBED_DIM - 1)
        for i, t in enumerate(texts):
            doc_id.append(i + k * DOC_COPY_STRIDE)
            text.append(" ".join(table[w] for w in t.split(" ")))
            lang.append(langs[i])
            source.append(f"src{i % 20}")
        rotated = np.roll(vecs, -shift, axis=1)
        vec_id.extend(range(k * VEC_COPY_STRIDE, k * VEC_COPY_STRIDE + n_vecs))
        emb.extend(rotated)
        label.extend(labels)
    _write(out, "documents", {
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(text),
        "lang": pa.array(lang),
        "source": pa.array(source),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    flat = np.concatenate(emb).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(vec_id, pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, len(flat) + 1, EMBED_DIM, dtype=np.int32)), pa.array(flat)
        ),
        "label": pa.array(np.asarray(label, dtype=np.int32)),
    })


def split_events(events: pa.Table, out_dir: str, n_files: int) -> list[str]:
    """Write ``events`` as ``n_files`` time-ordered parquet files with
    increasing modification times (the file-stream source replays in
    mtime order)."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, events.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(events.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(path)
    return paths


def corpus(out: str, seed: int, sf: float, n_docs: int, n_vecs: int, copies: int = 1,
           stream_files: int = 0) -> str:
    """Generate the corpus for these parameters into the new directory
    ``out`` and return it.  Tables are single parquet files named like
    the engine's catalog; ``stream_files`` > 0 also writes ``events``
    split into that many time-ordered files under ``events_stream/``."""
    os.makedirs(out)
    tpch_rng, ev_rng, llm_rng = (np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(3))
    _tpch(out, tpch_rng, sf)
    events = events_table(ev_rng, int(1_000_000 * sf))
    pq.write_table(events, os.path.join(out, "events.parquet"))
    _llm(out, llm_rng, seed, n_docs, n_vecs, copies)
    if stream_files:
        split_events(events, os.path.join(out, "events_stream"), stream_files)
    return out
