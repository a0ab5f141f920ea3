"""Seeded benchmark inputs: the engine's ten fixture tables, generated
locally so a run needs nothing outside its checkout.

The table *content* is fixed (generated from ``CONTENT_SEED``) and
matches the sf0.1 fixture tier in schema, row counts and value domains:
lineitem 600k, orders 150k, customer 15k, part 20k, supplier 1k,
events 100k, documents 5k, embeddings 2k. The workload ``--seed`` only
permutes row order (and, for the crawl, which archive a document lands
in), so every seed does the same amount of work and every output check
has one expected answer per seed.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240301

SIZES = {
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

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en"] * 11 + ["es", "es", "es", "es", "zh", "zh", "zh", "zh", "de", "de",
                       "de", "de", "fr", "fr", "fr", "fr"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
PART_WORDS = (["large", "hot", "blue", "old", "cold"], ["ring", "bolt", "plate", "gear"])
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_US_PER_DAY = 86_400 * 1_000_000


def _days_since_epoch(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _US_PER_DAY, type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate_content() -> dict[str, pa.Table]:
    """The fixed table content (independent of the workload seed)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n["customer"])],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    adj, noun = PART_WORDS
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [
            f"{adj[a]} {noun[b]}"
            for a, b in zip(rng.integers(0, len(adj), n["part"]),
                            rng.integers(0, len(noun), n["part"]))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n["part"])],
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2),
    })

    d0, d1 = _days_since_epoch(1995, 1, 1), _days_since_epoch(2001, 8, 1)
    order_days = rng.integers(d0, d1 + 1, n["orders"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n["orders"])],
        "o_totalprice": _money(rng, 1000, 500_000, n["orders"]),
        "o_orderdate": _ts_days(order_days),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n["orders"])],
    })

    nl = n["lineitem"]
    okey = rng.integers(0, n["orders"], nl)
    okey.sort(kind="stable")
    first = np.r_[True, okey[1:] != okey[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(nl), 0))
    linenumber = np.arange(nl) - run_start + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = order_days[okey] + rng.integers(1, 122, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts_days(ship),
    })

    ne = n["events"]
    e0 = _days_since_epoch(2024, 1, 1) * _US_PER_DAY
    ts = np.sort(e0 + rng.integers(0, 30 * _US_PER_DAY, ne))
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(80.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), k)])
        for k in rng.integers(10, 101, nd)
    ]
    # ~5% near-duplicates (an earlier document plus one marker token)
    # and a handful of exact duplicates, so the dedup tiers have work
    for i in rng.choice(np.arange(100, nd), 250, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(100, nd), 8, replace=False):
        texts[i] = texts[int(rng.integers(0, 100))]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })

    nv, dim = n["embeddings"], 64
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] * 0.6 + rng.normal(0, 1, (nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def seed_permutation(seed: int, n_rows: int, table: str) -> np.ndarray:
    """The row order a seed gives one table (stable per (seed, table))."""
    key = sum(ord(c) * (i + 1) for i, c in enumerate(table))
    return np.random.default_rng([seed, key]).permutation(n_rows)


def archive_assignment(seed: int, n_docs: int, n_archives: int) -> np.ndarray:
    """Archive number per document (balanced; the seed picks which)."""
    return seed_permutation(seed, n_docs, "archives") % n_archives


def derive_inputs(seed: int, root: Path) -> Path:
    """Write the seed's tables as ``<root>/seed-<seed>/<table>.parquet``
    (one file, one row group each, like the engine's fixtures) and
    return the directory. Reuses a complete earlier derivation."""
    dest = Path(root) / f"seed-{seed}"
    marker = dest / "_SIZES.json"
    if marker.exists():
        return dest
    tmp = Path(root) / f".seed-{seed}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    content = generate_content()
    for name, table in content.items():
        perm = seed_permutation(seed, table.num_rows, name)
        pq.write_table(
            table.take(pa.array(perm)), tmp / f"{name}.parquet",
            row_group_size=max(table.num_rows, 1),
        )
    (tmp / "_SIZES.json").write_text(
        json.dumps({k: v.num_rows for k, v in content.items()}, sort_keys=True)
    )
    shutil.rmtree(dest, ignore_errors=True)
    os.replace(tmp, dest)
    return dest
