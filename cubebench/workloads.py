"""The workloads. Each drives the engine only through its public functions,
one operation at a time (closed loop, one client).

A workload provides ``setup`` (the set-up a session pays once), ``round``
(seeded operation specs holding every kind a fixed number of times, so the
mix is the same for every seed), ``run`` (the timed call into the engine),
``check`` (the independent answer, outside the timed interval) and
``corrupt`` (a wrong answer the check must reject, for the self-test).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from oracle import DIM_KEY, MEASURES, CorpusOracle, CubeOracle, compare

from data_cube_spark import AnyOf, C, Collapse, RollupOp
from data_cube_spark.export import denormalize, to_array
from data_cube_spark.groupingsets import rollup_cube
from data_cube_spark.operators import dedup, similarity
from data_cube_spark.sources.star import tpch_cube
from data_cube_spark.sources.store import load_cube, save_cube

DIMS = ("orders", "part", "supplier")

#: attributes a dice may filter on, per dimension, with their value pools
DICE_ATTRS = {
    "supplier": {"r_name": gen.REGIONS, "n_name": [f"NATION_{i}" for i in range(gen.N_NATION)]},
    "part": {"p_brand": [f"Brand#{i}" for i in range(1, 26)], "p_type": gen.TYPES,
             "p_size": list(range(1, 51))},
}
COLLAPSE_ATTRS = {"o_orderpriority": gen.PRIORITIES, "c_mktsegment": gen.SEGMENTS,
                  "cr_name": gen.REGIONS, "d_year": list(range(1992, 1999))}
ROLLUP_PAIRS = [("supplier.r_name", "supplier.n_name"), ("orders.d_year", "orders.d_quarter"),
                ("orders.cr_name", "orders.cn_name"), ("part.p_type", "part.p_size")]
#: low-cardinality attributes for the dense ``to_array`` export
ARRAY_ATTRS = {"supplier": ["supplier.r_name"], "part": ["part.p_type"],
               "orders": ["orders.d_year", "orders.c_mktsegment", "orders.o_orderpriority"]}


def _pick(rng, seq, k=None):
    if k is None:
        return seq[int(rng.integers(len(seq)))]
    return [seq[i] for i in sorted(rng.choice(len(seq), k, replace=False))]


def _draw_aggregate(rng) -> list[str]:
    return _pick(rng, gen.AGG_ATTRS, int(rng.integers(1, 3)))


def _rows(df, tr) -> list[tuple]:
    tr.plan(df)
    with tr.span("spark.collect"):
        rows = [tuple(r) for r in df.collect()]
    tr.count("driver.result_rows", len(rows))
    return rows


def _bare(attr: str) -> str:
    return attr.split(".")[-1]


def _corrupt_rows(rows: list[tuple], n_keys: int) -> list[tuple]:
    if not rows:
        return [(0,) * (n_keys + 1)]
    first = list(rows[0])
    first[n_keys] = (first[n_keys] or 0) + 1
    return [tuple(first)] + rows[1:]


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class Workload:
    """Hooks only the stored-cube workload needs; the others keep these."""

    def prepare(self, s: dict) -> None:
        """Resolve a spec against the current state, outside the timed
        interval."""

    def failed(self, s: dict) -> None:
        """Undo what a failed operation left behind."""

    def counts(self, s: dict, result) -> dict:
        """Per-operation counters measured after the operation."""
        return {}

    def live_bytes(self) -> int:
        return 0


class CubeQuery(Workload):
    """Interactive queries over the persisted star cube."""

    name = "cube_query"
    kinds = ("dice_key", "dice_attr", "dice_anyof", "collapse", "aggregate", "rollup",
             "rollup_cube", "apply", "to_array")

    def __init__(self, spark, data_dir: str, work: str, info: dict):
        self.spark, self.data_dir, self.work = spark, data_dir, work
        self.oracle = CubeOracle(data_dir)
        self.dc = None

    def setup(self) -> dict:
        t0 = time.perf_counter()
        self.dc = tpch_cube(self.spark, self.data_dir).persist()
        self.dc.fact.df.count()
        for d in self.dc.dims.values():
            d.base.count()
        return {"cube_build_s": time.perf_counter() - t0}

    def round(self, rng) -> list[dict]:
        specs = []
        for kind in self.kinds:
            s = {"kind": kind}
            if kind == "dice_key":
                s["dim"] = _pick(rng, ["supplier", "part"])
                n = gen.N_SUPP if s["dim"] == "supplier" else gen.N_PART
                s["keys"] = sorted(int(k) for k in rng.choice(n, int(rng.integers(3, 20)), replace=False))
            elif kind in ("dice_attr", "dice_anyof"):
                s["dim"] = _pick(rng, ["supplier", "part"])
                attrs = DICE_ATTRS[s["dim"]]
                names = _pick(rng, list(attrs), 2 if kind == "dice_anyof" else 1)
                s["alts"] = [(a, _pick(rng, attrs[a], 1 if kind == "dice_anyof" else 2))
                             for a in names]
            elif kind == "collapse":
                s["attr"] = _pick(rng, list(COLLAPSE_ATTRS))
                s["values"] = _pick(rng, COLLAPSE_ATTRS[s["attr"]], int(rng.integers(1, 3)))
            elif kind == "aggregate":
                s["attrs"] = _draw_aggregate(rng)
            elif kind == "rollup":
                s["attrs"] = ["n_regionkey", "n_nationkey", "s_suppkey"]
                s["regions"] = _pick(rng, [None, _pick(rng, gen.REGIONS, 2)])
            elif kind == "rollup_cube":
                s["attrs"] = list(_pick(rng, ROLLUP_PAIRS))
            elif kind == "apply":
                s["margin"] = _pick(rng, ["supplier", "part"])
                s["fun"] = _pick(rng, [None, "max"])
            elif kind == "to_array":
                dims = _pick(rng, list(ARRAY_ATTRS), 2)
                s["attrs"] = [_pick(rng, ARRAY_ATTRS[d]) for d in dims]
                s["measure"] = _pick(rng, ["revenue", "sum_qty"])
            specs.append(s)
        return [specs[i] for i in rng.permutation(len(specs))]

    def run(self, s: dict, tr):
        dc, kind = self.dc, s["kind"]
        if kind == "dice_key":
            sel = {d: Collapse() for d in DIMS if d != s["dim"]}
            with tr.span("model.build"):
                df = dc.q(**{s["dim"]: C(*s["keys"])}, **sel).fact.df.select(
                    DIM_KEY[s["dim"]], *MEASURES)
        elif kind in ("dice_attr", "dice_anyof"):
            if kind == "dice_attr":
                (attr, values), = s["alts"]
                sel = C(**{attr: values})
            else:
                sel = AnyOf(*({a: v} for a, v in s["alts"]))
            others = {d: Collapse() for d in DIMS if d != s["dim"]}
            with tr.span("model.build"):
                df = dc.q(**{s["dim"]: sel}, **others).fact.df.select(DIM_KEY[s["dim"]], *MEASURES)
        elif kind == "collapse":
            with tr.span("model.build"):
                df = dc.q(orders=Collapse(**{s["attr"]: s["values"]}),
                          part=Collapse()).fact.df.select("s_suppkey", *MEASURES)
        elif kind == "aggregate":
            with tr.span("model.build"):
                df = dc.aggregate(s["attrs"]).select(*map(_bare, s["attrs"]), *MEASURES)
        elif kind == "rollup":
            sel = RollupOp(r_name=s["regions"]) if s["regions"] else RollupOp()
            with tr.span("groupingsets.build"):
                df = dc.q(supplier=sel, part=Collapse(), orders=Collapse()).fact.df.select(
                    *s["attrs"], *MEASURES, "grouping_level")
        elif kind == "rollup_cube":
            with tr.span("groupingsets.build"):
                rc = rollup_cube(dc, s["attrs"])
            with tr.span("export.denormalize"):
                df = denormalize(rc).select(*map(_bare, s["attrs"]), *MEASURES, "grouping_level")
        elif kind == "apply":
            with tr.span("model.build"):
                df = dc.apply([s["margin"]], s["fun"]).fact.df.select(
                    DIM_KEY[s["margin"]], *MEASURES)
        elif kind == "to_array":
            with tr.span("model.build"):
                cap = dc.capply(s["attrs"])
            with tr.span("export.to_array"):
                arr, names = to_array(cap, s["measure"])
            tr.count("driver.result_rows", arr.size)
            return arr, names
        return _rows(df, tr)

    def n_keys(self, s: dict) -> int:
        return len(s.get("attrs", [None])) + (s["kind"] in ("rollup", "rollup_cube"))

    def rows_of(self, s: dict, result) -> list[tuple]:
        if s["kind"] != "to_array":
            return result
        arr, names = result
        members = list(names.values())
        return [tuple(members[d][i] for d, i in enumerate(ix)) + (float(arr[ix]),)
                for ix in np.ndindex(arr.shape) if not np.isnan(arr[ix])]

    def check(self, s: dict, result) -> str | None:
        want = self.oracle.answer(s)
        got = self.rows_of(s, result)
        if s["kind"] in ("rollup", "rollup_cube"):
            # the grouping level joins the key; measures stay in front of it
            n = len(s["attrs"])
            got = [r[:n] + r[-1:] + r[n:-1] for r in got]
            want = [r[:n] + r[-1:] + r[n:-1] for r in want]
        return compare(got, want, self.n_keys(s))

    def corrupt(self, s: dict, result):
        if s["kind"] == "to_array":
            arr, names = result
            bad = arr.copy()
            bad.flat[0] = (0 if np.isnan(bad.flat[0]) else bad.flat[0]) + 1
            return bad, names
        return _corrupt_rows(result, self.n_keys(s) - (s["kind"] in ("rollup", "rollup_cube")))


class CubeMaintain(Workload):
    """A stored cube under restatement batches: one write in four operations,
    the rest load the current version and aggregate."""

    name = "cube_maintain"
    kinds = ("write", "read")

    def __init__(self, spark, data_dir: str, work: str, info: dict):
        self.spark, self.data_dir, self.work = spark, data_dir, work
        self.oracle = CubeOracle(data_dir)
        self.lineitem = pq.read_table(f"{data_dir}/lineitem.parquet")
        self.row_bytes = info["lineitem_bytes"] / info["lineitem_rows"]
        self.store = f"{work}/store"
        self.current: str | None = None
        self.applied: list[str] = []
        self.version = 0
        self.n_deltas = 0

    def setup(self) -> dict:
        t0 = time.perf_counter()
        dc = tpch_cube(self.spark, self.data_dir)
        built = time.perf_counter() - t0
        self.current = self._next_version()
        save_cube(dc, self.current)
        return {"cube_build_s": built}

    def _next_version(self) -> str:
        self.version += 1
        return f"{self.store}/v{self.version}"

    def round(self, rng) -> list[dict]:
        return [{"kind": "write", "coin": float(rng.random()), "pick": int(rng.integers(1 << 30)),
                 "seed": int(rng.integers(1 << 30))}] + [
            {"kind": "read", "attrs": _draw_aggregate(rng)} for _ in range(3)]

    def prepare(self, s: dict) -> None:
        """Resolve a write against the current state, outside the timed
        interval: retract an applied batch or write a new one."""
        if s["kind"] != "write":
            return
        if self.applied and s["coin"] < 0.5:
            s["action"], s["delta"] = "remove", self.applied[s["pick"] % len(self.applied)]
            s["delta_rows"] = pq.ParquetFile(s["delta"]).metadata.num_rows
        else:
            self.n_deltas += 1
            s["action"], s["delta"] = "merge", f"{self.work}/delta{self.n_deltas}.parquet"
            s["delta_rows"] = gen.restatement(self.lineitem, np.random.default_rng(s["seed"]),
                                              s["delta"])
        s["path"] = self._next_version()

    def run(self, s: dict, tr):
        with tr.span("store.load"):
            dc = load_cube(self.spark, self.current)
        if s["kind"] == "read":
            with tr.span("model.build"):
                df = dc.aggregate(s["attrs"]).select(*map(_bare, s["attrs"]), *MEASURES)
            return {"rows": _rows(df, tr), "deltas": list(self.applied)}
        delta = self.spark.read.parquet(s["delta"])
        with tr.span("model.merge"):
            out = dc.merge_delta(delta) if s["action"] == "merge" else dc.remove_delta(delta)
        with tr.span("store.save"):
            save_cube(out, s["path"])
        with tr.span("store.retire"):
            shutil.rmtree(self.current)
        self.current = s["path"]
        if s["action"] == "merge":
            self.applied.append(s["delta"])
        else:
            self.applied.remove(s["delta"])
        return {"path": s["path"], "deltas": list(self.applied)}

    def failed(self, s: dict) -> None:
        """Drop what a failed write left behind; the old version stays."""
        if s["kind"] == "write" and s["path"] != self.current:
            shutil.rmtree(s["path"], ignore_errors=True)

    def check(self, s: dict, result) -> str | None:
        if s["kind"] == "read":
            return compare(result["rows"], self.oracle.answer(
                {"kind": "aggregate", "attrs": s["attrs"]}, result["deltas"]), len(s["attrs"]))
        bad = self.oracle.fact_mismatches(f"{result['path']}/fact", result["deltas"])
        return f"{bad} grain rows differ from base + applied batches" if bad else None

    def corrupt(self, s: dict, result):
        if s["kind"] == "read":
            return {"rows": _corrupt_rows(result["rows"], len(s["attrs"])),
                    "deltas": result["deltas"]}
        deltas = [d for d in result["deltas"] if d != s["delta"]]
        if len(deltas) == len(result["deltas"]):
            deltas.append(s["delta"])
        return {"path": result["path"], "deltas": deltas}

    def counts(self, s: dict, result) -> dict:
        if s["kind"] != "write":
            return {}
        size, files = _du(s["path"])
        return {"store.bytes_written": size, "store.files_written": files,
                "delta_bytes": s["delta_rows"] * self.row_bytes}

    def live_bytes(self) -> int:
        return _du(self.store)[0]


class CorpusDedup(Workload):
    """Near-duplicate and exact dedup over seeded halves of the corpus."""

    name = "corpus_dedup"
    kinds = ("minhash_pairs", "dedup_exact", "incremental_pairs", "near_pairs")
    #: MinHash estimate threshold; the corpus has no pair between 0.3 and 0.9
    JACCARD = 0.5
    COSINE = 0.75

    def __init__(self, spark, data_dir: str, work: str, info: dict):
        self.spark, self.data_dir, self.work = spark, data_dir, work
        self.oracle = CorpusOracle(info["texts"], info["emb"], f"{data_dir}/near_duplicates.json")
        self.doc_ids = np.arange(len(info["texts"]))
        self.vec_ids = np.arange(len(info["emb"]))

    def setup(self) -> dict:
        self.docs = self.spark.read.parquet(f"{self.data_dir}/documents.parquet").persist()
        self.emb = self.spark.read.parquet(f"{self.data_dir}/embeddings.parquet").persist()
        self.docs.count()
        self.emb.count()
        #: the signature index holds the even documents, batches come from the odd
        self.sigs = dedup.minhash_signatures(self.docs.where(F.col("doc_id") % 2 == 0)).persist()
        self.sigs.count()
        return {}

    def round(self, rng) -> list[dict]:
        # MinHash dedup of a fresh batch, the pipeline's main step, runs twice
        # per round. Two kinds take ~0.3 s and two ~1.2 s, so in an even mix
        # the median latency would sit in the gap between them and jump
        # between the clusters from run to run.
        specs = [{"kind": k, "salt": gen.batch_salt(rng)}
                 for k in (*self.kinds, "minhash_pairs")]
        return [specs[i] for i in rng.permutation(len(specs))]

    @staticmethod
    def _filter(col: str, salt) -> F.Column:
        a, b = salt
        return F.pmod(F.col(col) * a + b, F.lit(gen.BATCH_P)) % 100 < gen.BATCH_PCT

    def run(self, s: dict, tr):
        kind = s["kind"]
        batch = self.docs.where(self._filter("doc_id", s["salt"]))
        if kind == "minhash_pairs":
            with tr.span("dedup.build"):
                df = dedup.minhash_dedup_pairs(batch, threshold=self.JACCARD).select("id_a", "id_b")
        elif kind == "dedup_exact":
            with tr.span("dedup.build"):
                df = dedup.dedup_exact(batch).select("doc_id")
        elif kind == "incremental_pairs":
            incoming = batch.where(F.col("doc_id") % 2 == 1)
            with tr.span("dedup.build"):
                df = dedup.incremental_minhash_pairs(
                    incoming, self.sigs, threshold=self.JACCARD).select("batch_id", "corpus_id")
        else:
            vecs = self.emb.where(self._filter("vec_id", s["salt"]))
            n = int(gen.in_batch(self.vec_ids, s["salt"]).sum())
            with tr.span("similarity.build"):
                df = similarity.near_pairs(vecs, threshold=self.COSINE, corpus_rows=n).select(
                    "id_a", "id_b")
        return _rows(df, tr)

    def check(self, s: dict, result) -> str | None:
        kind = s["kind"]
        if kind == "near_pairs":
            batch = self.vec_ids[gen.in_batch(self.vec_ids, s["salt"])]
            return self.oracle.check_cosine(set(result), batch, self.COSINE)
        batch = self.doc_ids[gen.in_batch(self.doc_ids, s["salt"])]
        if kind == "dedup_exact":
            return self.oracle.check_exact([r[0] for r in result], batch)
        if kind == "minhash_pairs":
            return self.oracle.check_pairs(set(result), batch, None)
        return self.oracle.check_pairs(set(result), batch[batch % 2 == 1],
                                       self.doc_ids[self.doc_ids % 2 == 0])

    def corrupt(self, s: dict, result):
        if result:
            return result[1:]
        return [(0,)] if s["kind"] == "dedup_exact" else [(0, 1)]


WORKLOADS = {w.name: w for w in (CubeQuery, CubeMaintain, CorpusDedup)}
