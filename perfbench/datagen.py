"""Deterministic synthetic fixtures for the benchmark.

Writes the ten tables the engine reads (``sources.tables.TABLES``), one
parquet file each, with the column names, types and value distributions
of the engine's reference fixtures: a TPC-H-like star schema, an
``events`` click stream, a ``documents`` corpus with 5% near-duplicates,
and unit-norm 64-d ``embeddings``. The same ``(sf, seed)`` always gives
byte-identical files, so the benchmark's seed can vary the queries asked
while the data stays fixed.

Usage:  python3 perfbench/datagen.py PARENT_DIR SF
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
EMBEDDING_DIM = 64

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_PART_ADJ = "small red blue hot old large new cold".split()
_PART_NOUN = "ring widget bolt gear gizmo plate anvil rod".split()
_PART_TYPES = "ECONOMY SMALL MEDIUM PROMO STANDARD LARGE".split()
_SEGMENTS = "HOUSEHOLD MACHINERY FURNITURE BUILDING AUTOMOBILE".split()
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = "signup error click view purchase".split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _rows(sf: float) -> dict[str, int]:
    """Row counts per table; the text and vector tables step, as in the
    reference fixtures, instead of scaling linearly."""
    return {
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": 5000 if sf >= 0.1 else 500,
        "embeddings": 2000 if sf >= 0.1 else 500,
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, span, n).astype(
        "timedelta64[D]"
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, len(texts))] + " dup")
        else:
            words = rng.integers(0, len(_VOCAB), rng.integers(10, 100))
            texts.append(" ".join(_VOCAB[w] for w in words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(len(_LANGS), n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Build every fixture table in memory."""
    rng = np.random.default_rng(seed)
    n = _rows(sf)
    i32 = pa.int32()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", 2404, no),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, npart, nl),
            "l_suppkey": rng.integers(0, ns, nl),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, "1995-01-02", 2499, nl),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(30 * 86400 / ne, ne)
    micros = np.cumsum(np.round(gaps * 1e6)).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(1, ne // 66), ne),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBEDDING_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), i32),
        }
    )
    return out


def fingerprint() -> str:
    """Short hash of this generator's source."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def generate(parent: str, sf: float) -> str:
    """Write the fixtures for ``sf`` into a directory under ``parent``
    named after ``sf`` and the generator's source hash, so a changed
    generator writes new files (once: an existing complete directory is
    reused), and return the directory."""
    out_dir = os.path.join(parent, f"sf{sf}-{fingerprint()}")
    if os.path.isdir(out_dir):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, tbl in tables(sf).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out_dir)  # a half-written directory is never used
    return out_dir


if __name__ == "__main__":
    print(generate(sys.argv[1], float(sys.argv[2])))
