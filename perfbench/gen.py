"""Seeded generator for the benchmark's sf0.1 input tables.

The engine's fixtures are a TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings`` (schemas in FIXTURES.md).  This module
re-creates tables with the same schemas, row counts and value shapes
from a seed, so the benchmark never reads anything outside its own
checkout and two runs with one seed see byte-identical inputs.

Shapes mirrored from the sf0.1 fixtures:

* dense surrogate keys ``0..n-1``; foreign keys uniform over the parent;
* ``documents.text``: 10..100 words drawn from a 30-word vocabulary, 8
  exact duplicate docs and 250 near duplicates (another doc's text plus
  the token ``dup``); ``n_chars = len(text)``;
* ``embeddings``: 64-dim unit-norm float32 vectors, labels 0..9.

Tables are written in the multi-file layout the repo's ``bench.py``
benches on: each table is a directory of up to 16 order-preserving
slices, written by the shared ``tools/make_layout_fixtures.write_sliced``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import inspect
import os

import numpy as np
import pyarrow as pa

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}


def _days(rng, n, lo: dt.date, hi: dt.date) -> pa.Array:
    span = (hi - lo).days
    d = rng.integers(0, span + 1, n)
    base = np.datetime64(lo.isoformat(), "us")
    return pa.array(base + d.astype("timedelta64[D]"), pa.timestamp("us"))


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All ten fixture tables for ``seed`` (deterministic)."""
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    n = ROWS["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), i64),
            "c_name": _names("Customer", n),
            "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )
    n = ROWS["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), i64),
            "s_name": _names("Supplier", n),
            "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n = ROWS["part"]
    keys = np.arange(n)
    pnames = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, i64),
            "p_name": _pick(rng, pnames, n),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
            "p_type": _pick(rng, PTYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
        }
    )
    n = ROWS["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), i64),
            "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )
    n = ROWS["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), i64),
            "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), i64),
            "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    n = ROWS["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), i64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), i64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    t["documents"] = _documents(rng, ROWS["documents"])
    n = ROWS["embeddings"]
    e = rng.standard_normal((n, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n), i64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32)),
                pa.array(e.ravel()),
            ),
            "label": pa.array(rng.integers(0, 10, n), i32),
        }
    )
    return t


def _documents(rng, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    lens = rng.integers(10, 101, n)
    text = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # 5% near duplicates (source text + " dup") and 0.16% exact copies
    # (250 and 8 at sf0.1); targets and sources are disjoint so each
    # planted pair stays a pair
    n_near, n_exact = n // 20, max(1, n // 625)
    picks = rng.permutation(n)
    near, exact = picks[:n_near], picks[n_near : n_near + n_exact]
    sources = picks[n_near + n_exact : 2 * (n_near + n_exact)]
    for i, j in zip(near, sources[:n_near]):
        text[i] = text[j] + " dup"
    for i, j in zip(exact, sources[n_near:]):
        text[i] = text[j]
    ids = np.arange(n)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": text,
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": pa.array([len(s) for s in text], pa.int64()),
        }
    )


def slices_for(nrows: int) -> int:
    """File count per table: bench.py's multi16 rule (tiny dims stay
    few-file, everything else is 16 order-preserving slices)."""
    return min(16, max(1, nrows // 200))


def fingerprint() -> str:
    """Short hash of the generator: this file, the slicing writer and
    the pyarrow version that writes the parquet.  Part of the cache
    path, so inputs cached by another version of the generator are
    never reused."""
    from make_layout_fixtures import write_sliced

    h = hashlib.sha256()
    with open(__file__, "rb") as f:
        h.update(f.read())
    h.update(inspect.getsource(write_sliced).encode())
    h.update(pa.__version__.encode())
    return h.hexdigest()[:12]


def write_dataset(seed: int, data: str) -> str:
    """Write every table for ``seed`` under
    ``<data>/seed<seed>-sf0.1-<fingerprint>/`` as
    ``<table>.parquet/part-NN.parquet`` and return that directory; an
    existing one is reused.  Written to a sibling temp dir and renamed,
    so a crashed run never leaves a half-written dataset behind a
    complete-looking path."""
    from make_layout_fixtures import write_sliced

    dst = os.path.join(data, f"seed{seed}-sf0.1-{fingerprint()}")
    if os.path.isdir(dst):
        return dst
    tmp = f"{dst}.tmp{os.getpid()}"
    for name, tbl in make_tables(seed).items():
        write_sliced(tbl, os.path.join(tmp, f"{name}.parquet"), slices_for(len(tbl)))
    os.replace(tmp, dst)
    return dst
