"""Seeded input generator: fixture-schema parquet from numpy and pyarrow.

The tables have the column names and types of the repository's test
fixtures (see FIXTURES.md), so every registered query runs on them
unchanged. Three properties are controlled:

- size: the row count of each table, set by the workload's profile;
- near-duplicate share: that share of `documents` are copies of an
  earlier document with one to three words replaced;
- key skew: that share of `lineitem` rows land on a few hot orders whose
  weights follow a Zipf law, the rest spread uniformly.

The output is byte-identical for a given (seed, profile): every value
comes from one PCG64 stream per table, and parquet is written without
timestamps or pandas metadata. `ensure_inputs` caches a generated set
under a key made of the seed and the profile's sizes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROFILES: dict[str, dict[str, float]] = {
    # ~5·10^4 rows across the four loops' inputs: lineitem feeds the
    # regression loop and the co-purchase graph, embeddings feed k-means,
    # cc_edges feed connected components.
    "iterate": dict(
        customer=1_500, supplier=100, part=2_000, orders=15_000,
        lineitem=40_000, events=1_000, documents=200, embeddings=2_000,
        cc_nodes=6_000, dup_share=0.2, hot_share=0.0,
    ),
    "corpus_scan": dict(
        customer=8_000, supplier=500, part=10_000, orders=80_000,
        lineitem=400_000, events=1_000, documents=2_000, embeddings=500,
        cc_nodes=0, dup_share=0.2, hot_share=0.1,
    ),
    # orders is the base of the versioned table; events the base of the
    # append-only feed the stream drains
    "table_ingest": dict(
        customer=1_500, supplier=100, part=2_000, orders=20_000,
        lineitem=6_000, events=500, documents=200, embeddings=200,
        cc_nodes=0, dup_share=0.2, hot_share=0.0,
    ),
}

EMBED_DIM = 64
N_HOT_ORDERS = 8
ZIPF_S = 1.2
CC_FANIN = 1

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_RETURNFLAG = np.array(["A", "N", "R"])
_LINESTATUS = np.array(["F", "O"])
_P_ADJ = ["red", "blue", "hot", "new", "small", "large", "old", "cold"]
_P_NOUN = ["bolt", "ring", "rod", "plate", "anvil", "gear", "nut", "pipe"]
_P_TYPE = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_LANGS = np.array(["de", "en", "es", "fr", "zh"])
_BASE_WORDS = (
    "a the agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window and of der die und el la los le les et"
).split()
_VOCAB = np.array(_BASE_WORDS + [f"w{i:03d}" for i in range(400)])

_DAY0 = np.datetime64("1995-01-01", "D")
_N_DAYS = 2_400  # through mid-2001


def _rng(seed: int, table: str) -> np.random.Generator:
    salt = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "little")
    return np.random.Generator(np.random.PCG64([seed, salt]))


def _days(rng: np.random.Generator, n: int) -> pa.Array:
    d = _DAY0 + rng.integers(0, _N_DAYS, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def gen_region(seed: int, sizes: dict) -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })


def gen_nation(seed: int, sizes: dict) -> pa.Table:
    k = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": pa.array(k),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(k % 5),
    })


def gen_customer(seed: int, sizes: dict) -> pa.Table:
    n, rng = int(sizes["customer"]), _rng(seed, "customer")
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": _names("Customer", n),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(_SEGMENTS[rng.integers(0, 5, n)]),
    })


def gen_supplier(seed: int, sizes: dict) -> pa.Table:
    n, rng = int(sizes["supplier"]), _rng(seed, "supplier")
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": _names("Supplier", n),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })


def gen_part(seed: int, sizes: dict) -> pa.Table:
    n, rng = int(sizes["part"]), _rng(seed, "part")
    adj, noun = rng.integers(0, 8, n), rng.integers(0, 8, n)
    k = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": pa.array(k),
        "p_name": [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": pa.array(_P_TYPE[rng.integers(0, 6, n)]),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (k % 1000) / 10.0, 2)),
    })


def orders_rows(rng: np.random.Generator, keys: np.ndarray, n_cust: int) -> pa.Table:
    """Orders-schema rows for the given keys (also the ingest batches)."""
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys.astype(np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
        "o_orderstatus": pa.array(_STATUS[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _days(rng, n),
        "o_orderpriority": pa.array(_PRIORITY[rng.integers(0, 5, n)]),
    })


def gen_orders(seed: int, sizes: dict) -> pa.Table:
    return orders_rows(
        _rng(seed, "orders"), np.arange(int(sizes["orders"])), int(sizes["customer"])
    )


def gen_lineitem(seed: int, sizes: dict) -> pa.Table:
    n, rng = int(sizes["lineitem"]), _rng(seed, "lineitem")
    n_orders, n_parts = int(sizes["orders"]), int(sizes["part"])
    orderkey = rng.integers(0, n_orders, n)
    hot = rng.random(n) < sizes["hot_share"]
    if hot.any():
        w = 1.0 / np.arange(1, N_HOT_ORDERS + 1) ** ZIPF_S
        hot_keys = rng.choice(n_orders, N_HOT_ORDERS, replace=False)
        orderkey[hot] = hot_keys[rng.choice(N_HOT_ORDERS, hot.sum(), p=w / w.sum())]
    partkey = rng.integers(0, n_parts, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    unit = 900.0 + (partkey % 200) * 6.0
    price = np.round(qty * unit + rng.normal(0.0, 500.0, n), 2)
    return pa.table({
        "l_orderkey": pa.array(orderkey.astype(np.int64)),
        "l_partkey": pa.array(partkey.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, int(sizes["supplier"]), n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.abs(price)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(_RETURNFLAG[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(_LINESTATUS[rng.integers(0, 2, n)]),
        "l_shipdate": _days(rng, n),
    })


def events_rows(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    """Events-schema rows for the given event ids (also the feed batches)."""
    n = len(keys)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + (keys.astype(np.int64) * 60_000_000 + rng.integers(0, 59_000_000, n))
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(keys.astype(np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 500, n).astype(np.int64)),
        "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0.0, 100.0, n), 3)),
        "props": [f'{{"k": {x}}}' for x in k],
    })


def gen_events(seed: int, sizes: dict) -> pa.Table:
    return events_rows(_rng(seed, "events"), np.arange(int(sizes["events"])))


def gen_documents(seed: int, sizes: dict) -> pa.Table:
    n, rng = int(sizes["documents"]), _rng(seed, "documents")
    lengths = rng.integers(15, 90, n)
    words = [_VOCAB[rng.integers(0, len(_VOCAB), ln)] for ln in lengths]
    dup = rng.random(n) < sizes["dup_share"]
    dup[0] = False
    for i in np.flatnonzero(dup):
        src = words[int(rng.integers(0, i))].copy()
        for _ in range(int(rng.integers(1, 4))):
            src[int(rng.integers(0, len(src)))] = _VOCAB[rng.integers(0, len(_VOCAB))]
        words[i] = src
    text = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": text,
        "lang": pa.array(_LANGS[rng.integers(0, 5, n)]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })


def gen_embeddings(seed: int, sizes: dict) -> pa.Table:
    n, rng = int(sizes["embeddings"]), _rng(seed, "embeddings")
    centers = rng.normal(0.0, 3.0, (4, EMBED_DIM))
    vec = centers[rng.integers(0, 4, n)] + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    flat = pa.array(vec.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def gen_cc_edges(seed: int, sizes: dict) -> pa.Table:
    """A forest of 50-node trees: every node links to one of the first
    CC_FANIN nodes of its tree (CC_FANIN = 1 makes stars). Node ids are
    shuffled so component minima are not the roots."""
    n, rng = int(sizes["cc_nodes"]), _rng(seed, "cc_edges")
    block = 50
    idx = np.arange(n)
    first = (idx // block) * block
    child = idx[idx % block != 0]
    reach = np.minimum(child - first[child], CC_FANIN)
    parent = first[child] + (rng.random(len(child)) * reach).astype(np.int64)
    perm = rng.permutation(n).astype(np.int64)
    return pa.table({"u": pa.array(perm[child]), "v": pa.array(perm[parent])})


GENERATORS = {
    "region": gen_region,
    "nation": gen_nation,
    "customer": gen_customer,
    "supplier": gen_supplier,
    "part": gen_part,
    "orders": gen_orders,
    "lineitem": gen_lineitem,
    "events": gen_events,
    "documents": gen_documents,
    "embeddings": gen_embeddings,
    "cc_edges": gen_cc_edges,
}


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def generate(out_dir: str, seed: int, sizes: dict) -> dict[str, int]:
    """Write every table of the profile under out_dir as <name>.parquet;
    returns the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, fn in GENERATORS.items():
        if name == "cc_edges" and not sizes.get("cc_nodes"):
            continue
        t = fn(seed, sizes)
        write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


def cache_key(seed: int, sizes: dict) -> str:
    blob = json.dumps(sizes, sort_keys=True).encode()
    return f"s{seed}-{hashlib.sha256(blob).hexdigest()[:10]}"


def ensure_inputs(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Generated input directory for (seed, profile), built on first use.
    Returns (directory, row counts)."""
    sizes = PROFILES[workload]
    out = os.path.join(cache_root, f"{workload}-{cache_key(seed, sizes)}")
    manifest = os.path.join(out, "rows.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return out, json.load(f)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    rows = generate(tmp, seed, sizes)
    with open(os.path.join(tmp, "rows.json"), "w") as f:
        json.dump(rows, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, rows
