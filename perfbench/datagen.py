"""Deterministic synthetic input tables for the benchmark.

The engine's queries read a TPC-H-shaped star schema plus ``events``,
``documents`` and ``embeddings`` (see FIXTURES.md). This module writes
the same schema -- column names, physical types, value ranges and the
planted near-duplicate documents the dedup/graph queries feed on -- from
a fixed numpy seed, so the benchmark builds its inputs inside its own
checkout instead of reading a dataset from elsewhere.

The tables depend only on the scale factor, never on the workload seed:
one build serves every run, and the workload seed only permutes query
order and serving arrivals.

Usage: python3 perfbench/datagen.py <out_dir> [scale]
"""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_SEED = 42
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
_ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
_NOUN = ["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"]
_PTYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(n: int, rng) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    vocab = np.array(_VOCAB, dtype=object)
    texts = []
    pos = 0
    for ln in lengths:
        texts.append(" ".join(vocab[words[pos : pos + ln]]))
        pos += ln
    # 5% planted near-duplicates: another document's text plus one token
    # (the shape the MinHash/LSH dedup and the duplicate-graph kernels find)
    dup_ids = rng.choice(n, size=n // 20, replace=False)
    for i in dup_ids:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(n: int, rng, dim: int = 64, n_labels: int = 10) -> pa.Table:
    centroids = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    vecs = centroids[labels] + 1.5 * rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def build_tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_evt = max(1_000, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    n_users = max(15, n_cust // 10)
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    keys = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["R", "A", "N"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_evt),
            "ts": np.sort(start + rng.integers(0, span, n_evt)).astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_evt),
            "event_type": rng.choice(_EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    t["documents"] = _documents(n_doc, rng)
    t["embeddings"] = _embeddings(n_emb, rng)
    return t


def write_dataset(out_dir: str, scale: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def derive_sf1(base_dir: str, out_dir: str, env: dict) -> None:
    """The sf1.0 dataset: ``scripts/gen_sf1.py`` (FK-consistent 10x
    replication) run over the sf0.1 tables in ``base_dir``, in a Spark
    session of its own. The script reads its sf0.1 input from the module
    constant ``SF_BASE``, which is pointed at ``base_dir`` first."""
    code = (
        "import runpy, sys\n"
        f"g = runpy.run_path({os.path.join(ROOT, 'scripts', 'gen_sf1.py')!r}, run_name='gen_sf1')\n"
        "g['replicate'].__globals__['SF_BASE'] = sys.argv[1]\n"
        "sys.argv = ['gen_sf1.py', sys.argv[2]]\n"
        "g['main']()\n"
    )
    subprocess.run([sys.executable, "-c", code, base_dir, out_dir], env=env, check=True,
                   stdout=sys.stderr)


def dataset_digest(data_dir: str) -> str:
    """sha256 over every table, in table order; a table is one parquet
    file or a directory of part files (hashed in name order)."""
    h = hashlib.sha256()
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        parts = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
        h.update(name.encode())
        for part in parts:
            with open(part, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


if __name__ == "__main__":
    write_dataset(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
    print(dataset_digest(sys.argv[1]))
