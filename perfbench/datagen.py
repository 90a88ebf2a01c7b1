"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine reads (``<dir>/<table>.parquet``) with the
schema and value distributions of the project's fixtures (FIXTURES.md):
independent uniform columns over the documented domains, money rounded to
cents, monotone event timestamps with jitter, word-soup documents with 5 %
planted near-duplicates and a few exact duplicates, and L2-normalised 64-d
embeddings with a weak per-label centroid.

The same ``(sf, seed)`` always gives byte-identical values, so a directory
can be reused across runs and its oracle answers cached by fingerprint.
"""

from __future__ import annotations

import hashlib
import json
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.145, 0.15, 0.145, 0.15]
_VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()

_DAY_US = 86_400 * 10**6
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def table_rows(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (FIXTURES.md ladder)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: int, span: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + (first + rng.integers(0, span + 1, n)) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, round(sf * 1_000_000)])
    n = table_rows(sf)
    out: dict[str, pa.Table] = {}
    i32, i64 = pa.int32(), pa.int64()

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
    })

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, ns),
    })

    npart = n["part"]
    keys = np.arange(npart)
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": names[rng.integers(0, len(names), npart)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, npart)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
    })

    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, no),
        # 1995-01-01 .. 2001-08-01
        "o_orderdate": _days(rng, 0, 2404, no),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
    })

    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105_000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        # 1995-01-02 .. 2001-11-04
        "l_shipdate": _days(rng, 1, 2498, nl),
    })

    ne = n["events"]
    users = max(15, round(15_000 * sf))
    gaps = rng.uniform(0.0, 2.0, ne) * (30 * _DAY_US / ne)
    ts = _EPOCH_2024 + np.cumsum(gaps).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, ne), i64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(nd)]
    # 5 % near-duplicates (an earlier text plus a trailing "dup" token) and,
    # at bench scale, 8 exact duplicates: ground truth for the dedup operators.
    for i in rng.choice(np.arange(1, nd), nd // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    if nd > 500:
        for i in rng.choice(np.arange(1, nd), 8, replace=False):
            texts[i] = texts[rng.integers(0, i)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)],
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (nv, 64)) + 0.6 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return out


def generate(out_dir: Path, sf: float, seed: int) -> str:
    """Write the tables for ``(sf, seed)`` into ``out_dir`` unless a complete
    copy is already there; return the inputs' fingerprint."""
    stamp = out_dir / "FINGERPRINT"
    if stamp.exists():
        return stamp.read_text().strip()
    out_dir.mkdir(parents=True, exist_ok=True)
    digest = hashlib.sha256(json.dumps({"sf": sf, "seed": seed}).encode())
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
        digest.update((out_dir / f"{name}.parquet").read_bytes())
    fingerprint = digest.hexdigest()[:16]
    tmp = stamp.with_suffix(".tmp")
    tmp.write_text(fingerprint + "\n")
    os.replace(tmp, stamp)
    return fingerprint
