"""Seeded closed-loop benchmark of the data_cube_spark engine.

    python3 cubebench/run.py --workload cube_query --seed 1 --seconds 6 --trace 0

Run from the repository root. One client issues one operation at a time to a
Spark ``local[nproc]`` session; every answer is checked outside its timed
interval. The last line of standard output is the result object; the line
before it is a report with every end-to-end figure of the workload, the host
calibration scalars and whether the run is comparable. ``--trace 1`` adds
spans and Spark job-group metrics and reports the per-layer metrics instead
of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))

#: a run still looping after this many wall seconds stops early and is
#: marked non-comparable, so the process ends well inside 180 s
WALL_GUARD_S = 130

E2E = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s"}


def _unit(name: str) -> str:
    base = name.removesuffix(".total")
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_frac", "fraction"), ("_ratio", "fraction"),
                         ("_mb", "MB"), ("_bytes", "bytes"), ("bytes_written", "bytes")):
        if base.endswith(suffix):
            return unit
    return "count"


def per_layer_names() -> list[str]:
    from spans import LAYERS, OP_METRICS
    from workloads import WORKLOADS

    names = ["setup.session_s", "setup.cube_build_s", "setup.prepare_s", "setup.warm_s"]
    for m in OP_METRICS:
        names += [m, m + ".total"]
    names += ["store.live_bytes", "cache.scan_hit_ratio", "cache.storage_mb",
              "kernel.python_stage_frac"]
    names += [f"self.{k}_frac" for k in LAYERS] + ["trace.unattributed_frac"]
    names += [f"op.{k}.p50_s" for w in WORKLOADS.values() for k in w.kinds]
    names += ["host.python_loop_s", "host.gemm_s", "host.spark_fixed_job_s",
              "trace.overhead_frac"]
    return names


def _pin_environment(work: str) -> int:
    """Fix what moves timings between hosts and runs: core count, BLAS
    threads in the driver, and where Spark and Python put scratch files."""
    cpus = len(os.sched_getaffinity(0))
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return cpus


def _start_spark(work: str, cpus: int):
    from data_cube_spark.session import get_spark

    spark = get_spark(app_name="cubebench", cpus=cpus, shuffle_partitions=2 * cpus, extra_conf={
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it started, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _storage_mb(spark) -> float:
    """Memory and disk held by the program's own persisted data."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def calibrate(spark) -> dict:
    """Host scalars for diagnosis; nothing is normalized by them."""
    import numpy as np

    def py_loop():
        t0 = time.perf_counter()
        s = 0
        for i in range(300_000):
            s += i * i
        return time.perf_counter() - t0

    rng = np.random.default_rng(0)
    a, b = rng.standard_normal((512, 512)), rng.standard_normal((512, 512))
    (a @ b).sum()

    def gemm():
        t0 = time.perf_counter()
        (a @ b).sum()
        return time.perf_counter() - t0

    def spark_job():
        t0 = time.perf_counter()
        spark.range(0, 200_000, 1, 8).selectExpr("id % 97 AS k", "id AS v") \
            .groupBy("k").sum("v").count()
        return time.perf_counter() - t0

    return {"host.python_loop_s": statistics.median(py_loop() for _ in range(3)),
            "host.gemm_s": statistics.median(gemm() for _ in range(5)),
            "host.spark_fixed_job_s": statistics.median(spark_job() for _ in range(3))}


class Runner:
    """Executes and checks operations, keeping the records and failures."""

    def __init__(self, wl, tracer):
        self.wl, self.tr = wl, tracer
        self.records = []
        self.attempted = self.failed = 0
        self.selftested: set[str] = set()
        self.selftest_ok = True
        self.next_id = 0
        self.traced_first = False

    def execute(self, spec: dict, traced: bool):
        from spans import OpRecord

        rec = OpRecord(self.next_id, spec["kind"], 0.0, traced)
        self.next_id += 1
        self.attempted += 1
        self.tr.enabled = traced
        t0 = time.perf_counter()
        try:
            with self.tr.op(rec.op):
                result = self.wl.run(spec, self.tr)
            rec.seconds = time.perf_counter() - t0
            if traced:
                self.tr.collect(rec)
            rec.counts.update(self.wl.counts(spec, result))
            err = self.wl.check(spec, result)
            if err is None and spec["kind"] not in self.selftested:
                self.selftested.add(spec["kind"])
                if self.wl.check(spec, self.wl.corrupt(spec, result)) is None:
                    self.selftest_ok = False
                    print(f"self-test: a wrong {spec['kind']} answer passed the check",
                          file=sys.stderr)
        except Exception:
            rec.seconds = rec.seconds or time.perf_counter() - t0
            err = traceback.format_exc()
            self.wl.failed(spec)
        if err is not None:
            rec.ok = False
            self.failed += 1
            print(f"operation {rec.op} ({spec}) failed: {err}", file=sys.stderr)
        self.records.append(rec)
        return rec

    def run_spec(self, spec: dict, trace: bool) -> list:
        """One operation; in a traced run a read-only operation also runs
        untraced, in alternating order, to measure the tracing overhead."""
        self.wl.prepare(spec)
        if not trace:
            return [self.execute(spec, False)]
        if spec["kind"] == "write":
            return [self.execute(spec, True)]
        self.traced_first = not self.traced_first
        order = (True, False) if self.traced_first else (False, True)
        return [self.execute(spec, t) for t in order]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wall0 = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, "data_cube_spark")):
        print(f"cubebench: no data_cube_spark package under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".cubebench-work", f"{args.workload}-{os.getpid()}")
    cpus = _pin_environment(work)
    sys.path[:0] = [HERE, ROOT]

    import numpy as np

    import gen
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"cubebench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    spark = None
    try:
        t0 = time.perf_counter()
        data, info = gen.base_tables(os.path.dirname(work))
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        spark = _start_spark(work, cpus)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, data, work, info)
        tracer = Tracer(spark, enabled=False)
        runner = Runner(wl, tracer)
        rng = np.random.default_rng(args.seed)

        t0 = time.perf_counter()
        build_s = wl.setup().get("cube_build_s", 0.0)
        prepare_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        # the warm pass runs each kind once: the first operation of a kind
        # runs 2-3x slower than later ones
        warmed: set[str] = set()
        for spec in wl.round(rng):
            if spec["kind"] not in warmed:
                warmed.add(spec["kind"])
                runner.run_spec(spec, False)
        warm_s = time.perf_counter() - t0
        phases = {"generate_s": gen_s, "session_s": session_s, "prepare_s": prepare_s,
                  "warm_s": warm_s}
        setup = {"setup.session_s": session_s, "setup.cube_build_s": build_s,
                 "setup.prepare_s": prepare_s, "setup.warm_s": warm_s}
        cache_mb = _storage_mb(spark)
        t0 = time.perf_counter()
        host = calibrate(spark)
        phases["calibrate_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()

        measured, rounds, stopped_early = 0.0, [], False
        while True:
            done = [r for spec in wl.round(rng) for r in runner.run_spec(spec, bool(args.trace))]
            rounds.append(done)
            measured += sum(r.seconds for r in done)
            if measured + measured / len(rounds) / 2 >= args.seconds:
                break
            if time.perf_counter() - wall0 > WALL_GUARD_S:
                stopped_early = True
                break
        phases["loop_s"] = time.perf_counter() - t0
        tracer.records = runner.records
        if args.trace:
            tracer.write(os.path.join(os.path.dirname(work),
                                      f"spans-{args.workload}-{args.seed}.json"))
        report, metrics = summarize(args, wl, runner, rounds, setup, cache_mb, host,
                                    stopped_early, tracer)
        t0 = time.perf_counter()
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases["stop_s"] = time.perf_counter() - t0
    phases["wall_s"] = time.perf_counter() - wall0
    report["phases"] = phases

    correct = runner.failed == 0 and runner.selftest_ok
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": correct, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


def _p50(values) -> float:
    return statistics.median(values) if values else 0.0


def summarize(args, wl, runner, rounds, setup, cache_mb, host, stopped_early, tracer):
    """End-to-end figures come from untraced executions only: in a traced
    run, from the untraced twins of the read-only operations."""
    from workloads import WORKLOADS

    timed = [r for done in rounds for r in done]
    plain = [r for r in timed if not r.traced]
    lat = [r.seconds for r in plain]
    # throughput of each round (every round holds the same mix), then the
    # median round, so one slow stretch of the host moves it less
    per_round = [len(d) / sum(r.seconds for r in d) for d in
                 ([r for r in done if not r.traced] for done in rounds) if d]
    setup_s = setup["setup.session_s"] + setup["setup.prepare_s"] + setup["setup.warm_s"]
    e2e = {"setup_s": setup_s, "ops_per_s": statistics.median(per_round), "op_p50_s": _p50(lat)}
    writes = [r for r in timed if r.kind == "write"]
    extra = {
        "op_p90_s": (statistics.quantiles(lat, n=10)[-1], "s") if len(lat) >= 100 else None,
        "write_p50_s": (_p50([r.seconds for r in writes]), "s") if writes else None,
        "write_amp": (sum(r.counts["store.bytes_written"] for r in writes)
                      / sum(r.counts["delta_bytes"] for r in writes), "bytes/byte")
        if writes else None,
        "cache_mb": (cache_mb, "MB"),
        "failed_frac": (runner.failed / runner.attempted, "fraction"),
    }
    reasons = []
    if stopped_early:
        reasons.append("stopped early at the wall-clock guard")
    if runner.failed:
        reasons.append(f"{runner.failed} failed or wrong operations")
    if not runner.selftest_ok:
        reasons.append("the answer check accepted an injected wrong answer")
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "comparable": not reasons, "non_comparable_reasons": reasons,
        "timed_ops": len(timed), "rounds": len(rounds), "ops_by_kind": {k: sum(r.kind == k for r in timed)
                                                for k in wl.kinds},
        "end_to_end": {**{k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()},
                       **{k: {"value": v[0], "unit": v[1]} for k, v in extra.items() if v}},
        "latency_s_by_kind": {k: [round(r.seconds, 4) for r in plain if r.kind == k]
                              for k in wl.kinds},
        "host": host, "selftest_kinds": sorted(runner.selftested),
    }
    if not args.trace:
        return report, {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}

    layer = dict(setup)
    layer.update(tracer.summary(timed))
    layer["store.live_bytes"] = wl.live_bytes()
    layer["cache.storage_mb"] = cache_mb
    for w in WORKLOADS.values():
        for k in w.kinds:
            layer[f"op.{k}.p50_s"] = _p50([r.seconds for r in timed if r.kind == k and r.traced])
    layer.update(host)
    twins_t = [r.seconds for r in timed if r.traced and r.kind != "write"]
    twins_u = [r.seconds for r in plain if r.kind != "write"]
    layer["trace.overhead_frac"] = (_p50(twins_t) - _p50(twins_u)) / _p50(twins_u)
    report["self_time"] = {k: v for k, v in layer.items()
                           if k.startswith("self.") or k == "trace.unattributed_frac"}
    return report, {k: {"value": layer[k], "unit": _unit(k)} for k in per_layer_names()}


if __name__ == "__main__":
    sys.exit(main())
