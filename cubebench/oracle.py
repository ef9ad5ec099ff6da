"""Independent answers for every benchmark operation.

Cube operations are recomputed by DuckDB SQL over the same parquet files
(plus the restatement batches applied so far). Corpus operations are
recomputed exactly in Python: content hashes, 3-shingle Jaccard and cosine.
Nothing here calls the engine.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from collections import defaultdict
from decimal import Decimal

import duckdb
import numpy as np

MEASURES = ["sum_qty", "revenue", "sum_charge", "n_lines"]

DIM_KEY = {"supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey"}

_VIEWS = """
CREATE VIEW li AS SELECT l_orderkey AS o_orderkey, l_partkey AS p_partkey,
    l_suppkey AS s_suppkey, CAST(l_quantity AS DECIMAL(18,2)) AS q,
    CAST(l_extendedprice AS DECIMAL(18,2)) AS e, CAST(l_discount AS DECIMAL(18,2)) AS d,
    CAST(l_tax AS DECIMAL(18,2)) AS t FROM '{d}/lineitem.parquet';
CREATE VIEW base_fact AS SELECT o_orderkey, p_partkey, s_suppkey, q AS sum_qty,
    e * (1 - d) AS revenue, e * (1 - d) * (1 + t) AS sum_charge, 1 AS n_lines FROM li;
CREATE VIEW supplier_dim AS SELECT s_suppkey, s_name, n_nationkey, n_name, n_regionkey, r_name
    FROM '{d}/supplier.parquet' JOIN '{d}/nation.parquet' ON s_nationkey = n_nationkey
    JOIN '{d}/region.parquet' ON n_regionkey = r_regionkey;
CREATE VIEW orders_dim AS SELECT o_orderkey, o_orderstatus, o_orderpriority, c_custkey,
    c_name, c_mktsegment, n.n_name AS cn_name, r.r_name AS cr_name,
    CAST(o_orderdate AS DATE) AS d_date, year(o_orderdate) AS d_year,
    quarter(o_orderdate) AS d_quarter, month(o_orderdate) AS d_month
    FROM '{d}/orders.parquet' JOIN '{d}/customer.parquet' ON o_custkey = c_custkey
    JOIN '{d}/nation.parquet' n ON c_nationkey = n.n_nationkey
    JOIN '{d}/region.parquet' r ON n.n_regionkey = r.r_regionkey;
CREATE VIEW part_dim AS SELECT p_partkey, p_brand, p_type, p_size FROM '{d}/part.parquet';
"""

_SUMS = ", ".join(f"SUM({m}) AS {m}" for m in MEASURES)


class CubeOracle:
    """DuckDB answers for cube operations over ``data_dir``; ``deltas`` are
    restatement parquet files to add to the base fact."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect(config={"threads": 2})
        self.con.execute(_VIEWS.format(d=data_dir))

    def fact(self, deltas=()) -> str:
        parts = ["SELECT o_orderkey, p_partkey, s_suppkey, sum_qty, revenue, sum_charge, "
                 "n_lines FROM base_fact"]
        parts += [f"SELECT o_orderkey, p_partkey, s_suppkey, sum_qty, revenue, sum_charge, "
                  f"n_lines FROM '{p}'" for p in deltas]
        return "(" + " UNION ALL ".join(parts) + ")"

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def answer(self, spec: dict, deltas=()) -> list[tuple]:
        return self.rows(cube_sql(spec, self.fact(deltas)))

    def fact_mismatches(self, saved_fact_dir: str, deltas) -> int:
        """Grain rows where a stored cube's fact differs from the base fact
        plus ``deltas`` aggregated to grain (exact decimal comparison)."""
        keys = "o_orderkey, p_partkey, s_suppkey"
        cond = " OR ".join(f"w.{m} IS DISTINCT FROM g.{m}" for m in MEASURES)
        sql = (f"WITH w AS (SELECT {keys}, {_SUMS} FROM {self.fact(deltas)} GROUP BY {keys}), "
               f"g AS (SELECT * FROM read_parquet('{saved_fact_dir}/*.parquet')) "
               f"SELECT count(*) FROM w FULL OUTER JOIN g USING ({keys}) WHERE {cond}")
        return self.rows(sql)[0][0]


def _in(col: str, values) -> str:
    return f"{col} IN ({', '.join(_lit(v) for v in values)})"


def _lit(v) -> str:
    return f"'{v}'" if isinstance(v, str) else str(v)


def _wide(fact: str) -> str:
    return (f"{fact} f JOIN supplier_dim USING (s_suppkey) JOIN orders_dim USING (o_orderkey) "
            f"JOIN part_dim USING (p_partkey)")


def _bare(attr: str) -> str:
    return attr.split(".")[-1]


def cube_sql(spec: dict, fact: str) -> str:
    """SQL whose rows are the expected answer of a cube operation, in the
    column order the benchmark collects."""
    kind = spec["kind"]
    if kind == "dice_key":
        key = DIM_KEY[spec["dim"]]
        return (f"SELECT {key}, {_SUMS} FROM {fact} WHERE {_in(key, spec['keys'])} "
                f"GROUP BY {key}")
    if kind in ("dice_attr", "dice_anyof", "collapse"):
        if kind == "collapse":
            dim, key = "orders", "s_suppkey"
            where = _in(spec["attr"], spec["values"])
        else:
            dim, key = spec["dim"], DIM_KEY[spec["dim"]]
            where = " OR ".join(_in(a, v) for a, v in spec["alts"])
        return (f"SELECT {key}, {_SUMS} FROM {fact} JOIN {dim}_dim USING ({DIM_KEY[dim]}) "
                f"WHERE {where} GROUP BY {key}")
    if kind in ("aggregate", "to_array"):
        cols = ", ".join(_bare(a) for a in spec["attrs"])
        sums = _SUMS if kind == "aggregate" else f"SUM({spec['measure']})"
        return f"SELECT {cols}, {sums} FROM {_wide(fact)} GROUP BY {cols}"
    if kind in ("rollup", "rollup_cube"):
        cols = ", ".join(_bare(a) for a in spec["attrs"])
        where = f"WHERE {_in('r_name', spec['regions'])}" if spec.get("regions") else ""
        return (f"SELECT {cols}, {_SUMS}, bit_count(GROUPING({cols})) AS grouping_level "
                f"FROM {_wide(fact)} {where} GROUP BY ROLLUP({cols})")
    if kind == "apply":
        key = DIM_KEY[spec["margin"]]
        if spec["fun"] is None:
            return f"SELECT {key}, {_SUMS} FROM {fact} GROUP BY {key}"
        grain = "o_orderkey, p_partkey, s_suppkey"
        maxes = ", ".join(f"MAX({m}) AS {m}" for m in MEASURES)
        return (f"SELECT {key}, {maxes} FROM (SELECT {grain}, {_SUMS} FROM {fact} "
                f"GROUP BY {grain}) GROUP BY {key}")
    raise ValueError(f"unknown cube operation {kind!r}")


def _norm(v):
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    return v


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, Decimal)) and isinstance(b, (int, Decimal)):
        return a == b
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)


def compare(got: list[tuple], want: list[tuple], n_keys: int) -> str | None:
    """None when the row sets agree (keys exactly, values exactly for
    decimals and integers, to 1e-9 for floats), else what differs."""
    g = {tuple(_norm(v) for v in r[:n_keys]): r[n_keys:] for r in got}
    w = {tuple(_norm(v) for v in r[:n_keys]): r[n_keys:] for r in want}
    if len(g) != len(got):
        return f"duplicate keys in {len(got)} rows"
    if g.keys() != w.keys():
        return f"{len(g.keys() - w.keys())} unexpected and {len(w.keys() - g.keys())} missing keys"
    for k, vals in g.items():
        if len(vals) != len(w[k]) or not all(_same(a, b) for a, b in zip(vals, w[k])):
            return f"values differ at {k}: {vals} vs {w[k]}"
    return None


# -- corpus ------------------------------------------------------------------

def shingles(text: str, k: int = 3) -> frozenset:
    toks = text.split()
    return frozenset(zip(*(toks[i:] for i in range(k))))


class CorpusOracle:
    """Exact answers over the generated corpus and embeddings."""

    #: pairs at or above this exact Jaccard must be found; returned pairs
    #: must reach SANE_J. The corpus has no pair in between (see gen).
    MUST_J = 0.8
    SANE_J = 0.3

    def __init__(self, texts: list[str], emb: np.ndarray, cache: str):
        self.texts = texts
        self.unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
        if os.path.exists(cache):
            with open(cache) as f:
                self.jaccard = {(a, b): j for a, b, j in json.load(f)}
            return
        self.jaccard = self._near_duplicates(texts)
        with open(f"{cache}.tmp-{os.getpid()}", "w") as f:
            json.dump([[a, b, j] for (a, b), j in self.jaccard.items()], f)
        os.rename(f"{cache}.tmp-{os.getpid()}", cache)

    @classmethod
    def _near_duplicates(cls, texts: list[str]) -> dict:
        """Every document pair with exact Jaccard >= SANE_J -> its Jaccard,
        from an inverted shingle index."""
        sets = [shingles(t) for t in texts]
        index = defaultdict(list)
        for i, s in enumerate(sets):
            for sh in s:
                index[sh].append(i)
        shared = defaultdict(int)
        for ids in index.values():
            for x in range(len(ids)):
                for y in range(x + 1, len(ids)):
                    shared[ids[x], ids[y]] += 1
        out = {}
        for (a, b), n in shared.items():
            j = n / (len(sets[a]) + len(sets[b]) - n)
            if j >= cls.SANE_J:
                out[a, b] = j
        return out

    def check_pairs(self, got: set, left: np.ndarray, right: np.ndarray | None) -> str | None:
        """MinHash pairs among ``left`` (or between ``left`` and ``right``):
        every returned pair is a real near-duplicate and every pair above
        MUST_J is returned."""
        lset = set(left.tolist())
        rset = lset if right is None else set(right.tolist())
        got = {(min(a, b), max(a, b)) for a, b in got}
        must = set()
        for (a, b), j in self.jaccard.items():
            inside = (a in lset and b in rset) or (a in rset and b in lset)
            if inside and j >= self.MUST_J:
                must.add((a, b))
        bad = [p for p in got if p not in self.jaccard]
        if bad:
            return f"{len(bad)} returned pairs below Jaccard {self.SANE_J}, e.g. {bad[0]}"
        stray = [p for p in got if not ((p[0] in lset and p[1] in rset)
                                        or (p[1] in lset and p[0] in rset))]
        if stray:
            return f"{len(stray)} pairs outside the batch, e.g. {stray[0]}"
        missed = must - got
        if missed:
            return f"{len(missed)} pairs with Jaccard >= {self.MUST_J} missed, e.g. {min(missed)}"
        return None

    def check_exact(self, got: list[int], batch: np.ndarray) -> str | None:
        """Survivors of exact dedup: the smallest id of each content group."""
        keep = {}
        for i in batch.tolist():
            h = hashlib.md5(self.texts[i].encode()).digest()
            keep[h] = min(keep.get(h, i), i)
        want = set(keep.values())
        if len(got) != len(set(got)) or set(got) != want:
            return f"{len(set(got) - want)} unexpected and {len(want - set(got))} missing survivors"
        return None

    def check_cosine(self, got: set, batch: np.ndarray, threshold: float) -> str | None:
        """Near pairs: every returned pair clears the threshold and every
        pair clearing it by more than 1e-6 is returned."""
        ids = np.sort(batch)
        cos = np.triu(self.unit[ids] @ self.unit[ids].T, 1)
        a, b = np.nonzero(cos >= threshold + 1e-6)
        must = set(zip(ids[a].tolist(), ids[b].tolist()))
        got = {(min(a, b), max(a, b)) for a, b in got}
        pos = {v: i for i, v in enumerate(ids.tolist())}
        low = [p for p in got if p[0] not in pos or p[1] not in pos
               or cos[pos[p[0]], pos[p[1]]] < threshold - 1e-6]
        if low:
            return f"{len(low)} returned pairs below cosine {threshold} or outside the batch"
        if must - got:
            return f"{len(must - got)} pairs above cosine {threshold} missed"
        return None
