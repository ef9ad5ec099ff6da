"""Seeded inputs for the benchmark.

The base tables (a TPC-H-like star plus a document corpus and an embedding
table) come from a fixed seed, so every run measures the same data. What
``--seed`` varies is what the engine is asked to do: the operation sequence,
the lineitem restatement batches and the corpus batches.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

N_REGION, N_NATION, N_SUPP, N_CUST, N_PART, N_ORDERS = 5, 25, 200, 3000, 4000, 30000
N_DOCS = 3000
N_EMB = 2000
EMB_DIM = 64
N_EVENTS = 1000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

#: a minhash op samples this share of the corpus (percent)
BATCH_PCT = 50
#: a restatement batch holds this share of the lineitem rows
DELTA_FRAC = 0.01

#: hierarchy attributes an ``aggregate`` may group by, from every level of
#: every dimension
AGG_ATTRS = [
    "supplier.r_name", "supplier.n_name", "orders.cr_name", "orders.cn_name",
    "orders.c_mktsegment", "orders.o_orderpriority", "orders.d_year",
    "orders.d_quarter", "orders.d_month", "part.p_brand", "part.p_type",
    "part.p_size",
]


def _dates(rng, n, lo="1992-01-01", hi="1998-12-31"):
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    return (lo_d + days).astype("datetime64[us]")


def _money(x):
    return np.round(x, 2)


def base_tables(cache_root: str) -> tuple[str, dict]:
    """The base tables, generated once per checkout and version of the
    generator and of the checks (which cache their corpus index beside the
    tables), then reused read-only by later runs: (directory, info)."""
    digest = hashlib.sha1()
    for name in ("gen.py", "oracle.py"):
        with open(os.path.join(os.path.dirname(__file__), name), "rb") as f:
            digest.update(f.read())
    out = os.path.join(cache_root, f"base-{digest.hexdigest()[:12]}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp-{os.getpid()}"
        write_base(tmp)
        try:
            os.rename(tmp, out)
        except OSError:  # a concurrent run got there first
            shutil.rmtree(tmp)
    docs = pq.read_table(f"{out}/documents.parquet", columns=["text"])
    emb = pq.read_table(f"{out}/embeddings.parquet", columns=["embedding"])
    return out, {
        "texts": docs.column("text").to_pylist(),
        "emb": np.array(emb.column("embedding").to_pylist(), dtype=np.float64),
        "lineitem_rows": pq.ParquetFile(f"{out}/lineitem.parquet").metadata.num_rows,
        "lineitem_bytes": os.path.getsize(f"{out}/lineitem.parquet"),
    }


def write_base(out: str) -> None:
    """Write the base parquet tables into ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(N_REGION), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(N_NATION), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATION)],
        "n_regionkey": pa.array([i % N_REGION for i in range(N_NATION)], pa.int32()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPP, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(rng.integers(0, N_NATION, N_SUPP), pa.int32()),
        "s_acctbal": _money(rng.uniform(-999, 9999, N_SUPP)),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUST, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": pa.array(rng.integers(0, N_NATION, N_CUST), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999, 9999, N_CUST)),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUST),
    })
    price = _money(900 + rng.uniform(0, 1100, N_PART))
    t["part"] = pa.table({
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(N_PART)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(TYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": price,
    })
    odate = _dates(rng, N_ORDERS)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUST, N_ORDERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng.uniform(1000, 500000, N_ORDERS)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })
    per = rng.integers(1, 8, N_ORDERS)
    n = int(per.sum())
    okey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), per)
    pkey = rng.integers(0, N_PART, n)
    qty = rng.integers(1, 51, n).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, N_SUPP, n),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, p + 1) for p in per]),
                                 pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * price[pkey]),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 122, n).astype("timedelta64[D]"),
                               pa.timestamp("us")),
    })
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + np.sort(rng.integers(0, 86_400_000_000, N_EVENTS)).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, 100, N_EVENTS),
        "event_type": rng.choice(["click", "view", "error", "purchase"], N_EVENTS),
        "value": _money(rng.uniform(0, 100, N_EVENTS)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    texts = _documents(rng)
    t["documents"] = pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": [f"src{i % 7}" for i in range(len(texts))],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    emb = _embeddings(rng)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, N_EMB), pa.int32()),
    })
    for name, table in t.items():
        pq.write_table(table, f"{out}/{name}.parquet")


def _documents(rng) -> list[str]:
    """Unrelated random-word documents plus exact and one-word-edited
    copies. A one-word edit of an 80+ token document keeps 3-shingle
    Jaccard above 0.92, where MinHash-LSH with 16 bands of 4 misses a
    pair with probability below 1e-7; unrelated documents share almost
    no shingles. So the near-duplicate answer is unambiguous."""
    vocab = np.array(["".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), k))
                      for k in rng.integers(3, 9, 4000)])
    n_base = int(N_DOCS / 1.3)
    docs = [list(rng.choice(vocab, rng.integers(80, 160))) for _ in range(n_base)]
    exact = rng.choice(n_base, int(0.15 * n_base), replace=False)
    near = rng.choice(n_base, N_DOCS - n_base - len(exact), replace=False)
    out = [" ".join(d) for d in docs] + [" ".join(docs[i]) for i in exact]
    for i in near:
        d = list(docs[i])
        j = int(rng.integers(0, len(d)))
        d[j] = d[j] + "x"
        out.append(" ".join(d))
    order = rng.permutation(len(out))
    return [out[i] for i in order]


def _embeddings(rng) -> np.ndarray:
    """Points scattered around 200 random unit centres: cosine is ~0.8
    inside a cluster and ~0 across clusters."""
    centres = rng.standard_normal((200, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    pts = centres[rng.integers(0, 200, N_EMB)] + 0.06 * rng.standard_normal((N_EMB, EMB_DIM))
    return pts


# -- per-seed inputs ---------------------------------------------------------

def batch_salt(rng) -> tuple[int, int]:
    """(a, b) of the batch filter ``pmod(id * a + b, P) % 100 < BATCH_PCT``;
    the engine receives the filter, the check evaluates the same formula."""
    return int(rng.integers(1, 2**30)), int(rng.integers(0, 2**30))


BATCH_P = 2147483647


def in_batch(ids: np.ndarray, salt: tuple[int, int]) -> np.ndarray:
    a, b = salt
    return ((ids.astype(np.int64) * a + b) % BATCH_P) % 100 < BATCH_PCT


def restatement(lineitem: pa.Table, rng, path: str) -> int:
    """Write a restatement batch: ~1% of lineitem rows at their existing
    grain with corrected quantities, as rows of the stored cube's fact
    schema. Decimal scales match the cube's measures (money 2, revenue 4,
    charge 6), so merging and retracting stay exact."""
    n = lineitem.num_rows
    idx = np.sort(rng.choice(n, int(n * DELTA_FRAC), replace=False))
    li = lineitem.take(pa.array(idx)).to_pydict()
    rows = {"o_orderkey": li["l_orderkey"], "p_partkey": li["l_partkey"],
            "s_suppkey": li["l_suppkey"], "sum_qty": [], "revenue": [],
            "sum_charge": [], "n_lines": [1] * len(idx)}
    bump = rng.integers(1, 6, len(idx))
    for q, e, d, t, k in zip(li["l_quantity"], li["l_extendedprice"],
                             li["l_discount"], li["l_tax"], bump):
        q2 = Decimal(int(q) + int(k))
        e2 = (Decimal(str(e)) / Decimal(int(q)) * q2).quantize(Decimal("0.01"))
        disc, tax = Decimal(str(d)), Decimal(str(t))
        rows["sum_qty"].append(q2.quantize(Decimal("0.01")))
        rows["revenue"].append(e2 * (1 - disc))
        rows["sum_charge"].append(e2 * (1 - disc) * (1 + tax))
    table = pa.table({
        "o_orderkey": pa.array(rows["o_orderkey"], pa.int64()),
        "p_partkey": pa.array(rows["p_partkey"], pa.int64()),
        "s_suppkey": pa.array(rows["s_suppkey"], pa.int64()),
        "sum_qty": pa.array(rows["sum_qty"], pa.decimal128(18, 2)),
        "revenue": pa.array(rows["revenue"], pa.decimal128(18, 4)),
        "sum_charge": pa.array(rows["sum_charge"], pa.decimal128(18, 6)),
        "n_lines": pa.array(rows["n_lines"], pa.int64()),
    })
    pq.write_table(table, path)
    return len(idx)
