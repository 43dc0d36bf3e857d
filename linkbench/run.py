#!/usr/bin/env python3
"""Link-graph benchmark of the giraph_spark engine.

Run from the root of a checkout:

    python3 linkbench/run.py --workload web-graph --seed 1 --seconds 25 --trace 0

One run sets up once, as the program does on every start (a new JVM and
session, input built from ``--seed``, warm-up), then makes timed passes
over the workload (see ``linkbench/workloads.py``) while the next pass is
expected to end within ``--seconds``, always at least one. Every call's
output is checked against ``linkbench/reference.py``; a call that raises
fails the run. Each metric is printed as ``<name> <value> <unit>`` and
each check as ``check <call> ok|FAIL <detail>``; the last line is one
JSON object with the ``end_to_end`` metrics of BENCHMARK.json
(``--trace 0``) or its ``per_layer`` metrics (``--trace 1``).

A traced run makes one pass, in the place an untraced run times, and
tags every call in it with a Spark job group that is read back from
Spark's status stores after the call returns. ``trace.overhead_ms`` is
the time this adds to the pass: waiting for the listener bus, setting
the group and reading the stores, all outside the calls' own wall times.
All scratch files live under ``.linkbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RATIOS = ("task_skew", "busy_ratio", "active_ratio", "edge_yield", "error_rate")


def unit(name: str) -> str:
    """Unit of a metric, from its name."""
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_per_s"):
        return "1/s"
    if leaf == "cpu_ns_per_edge_step":
        return "ns"
    if leaf in RATIOS:
        return "ratio"
    if "_ms" in leaf:
        return "ms"
    for suffix, u in (("_s", "s"), ("bytes", "bytes"), ("_mb", "MiB")):
        if leaf.endswith(suffix):
            return u
    return "count"


def isolate(work: str) -> None:
    """Send every scratch file of Spark, the JVM, Python and DuckDB to ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


class Calls:
    """Times each call into the engine and samples the process tree's
    peak RSS after it; with ``stores`` it also reads the call's engine
    metrics from Spark's status stores."""

    def __init__(self, spark, stores=None):
        self.spark = spark
        self.stores = stores
        self.wall: dict[str, float] = {}
        self.layers: dict[str, dict[str, float]] = {}
        self.peak_rss_mb = 0.0

    def __call__(self, name: str, fn, python: bool = False):
        from linkbench.probe import tree_hwm_mb

        group = self.stores.begin(name) if self.stores else None
        t0 = time.perf_counter()
        out = fn()
        self.wall[name] = time.perf_counter() - t0
        if group is not None:
            self.layers[name] = self.stores.end(group, self.wall[name], python)
        self.peak_rss_mb = max(self.peak_rss_mb, tree_hwm_mb(os.getpid()))
        return out


def start_session(work: str):
    from giraph_spark.session import get_spark

    spark = get_spark(
        app_name="linkbench",
        cores=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(workload, seed: int, work: str):
    """Start the session, build the input and warm up. Returns the
    session, the input and the (start, input, warm-up) seconds."""
    t0 = time.perf_counter()
    spark = start_session(work)
    t1 = time.perf_counter()
    inp = workload.build_input(spark, seed, os.path.join(work, "input"))
    t2 = time.perf_counter()
    workload.warm_up(spark, inp)
    t3 = time.perf_counter()
    return spark, inp, (t1 - t0, t2 - t1, t3 - t2)


def shut_down() -> None:
    """Stop the session and the gateway JVM, and wait for the JVM and
    every Python worker it started to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from linkbench.probe import process_tree, wait_gone

    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = process_tree(os.getpid())[1:]
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None  # the next session starts a new JVM
    wait_gone(started)


def run(workload, seed: int, seconds: float, traced: bool, work: str) -> dict:
    """One benchmark run; returns metrics, checks and operation counts."""
    from linkbench.probe import StatusStores

    try:
        spark, inp, phases = set_up(workload, seed, work)

        stores = StatusStores(spark) if traced else None
        passes = []
        start = time.perf_counter()
        while True:
            t0 = time.perf_counter()
            calls = Calls(spark, stores)
            passes.append((calls, workload.run_pass(calls, inp)))
            now = time.perf_counter()
            if traced or now - start + (now - t0) > seconds:
                break

        outputs = [out for _, out in passes]
        checks = run_checks(workload, inp, outputs, work)
        attempted = len(checks)
        failed = sum(not ok for _, ok, _ in checks)
        metrics = end_to_end(inp, phases, passes)
        if traced:
            metrics.update(per_layer(phases, passes[0]))
        metrics["error_rate"] = failed / attempted
        return {"metrics": metrics, "checks": checks, "attempted": attempted,
                "failed": failed, "passes": len(passes), "setup": phases, "input": inp,
                "outputs": outputs}
    finally:
        shut_down()


def run_checks(workload, inp: dict, outputs: list[dict], work: str) -> list[tuple]:
    """(call, ok, detail) for every call of every pass."""
    import duckdb

    con = duckdb.connect(config={"temp_directory": os.path.join(work, "duckdb")})
    try:
        return [(call, ok, detail) for out in outputs
                for call, (ok, detail) in workload.check(con, inp, out).items()]
    finally:
        con.close()


def end_to_end(inp: dict, phases, passes) -> dict[str, float]:
    per = defaultdict(list)
    for calls, out in passes:
        per["workload_s"].append(sum(calls.wall.values()))
        for call, s in calls.wall.items():
            per[f"{call}_s"].append(s)
        # supersteps x input edges per second: the superstep count to
        # convergence depends on the seed, the cost per edge-step does not
        work = {algo: out[algo][0].supersteps * out["n_edges"]
                for algo in ("pagerank", "wcc", "lpa") if algo in out}
        for algo, edge_steps in work.items():
            per[f"{algo}_edges_per_s"].append(edge_steps / calls.wall[algo])
        per["pregel_edges_per_s"].append(
            sum(work.values()) / sum(calls.wall[algo] for algo in work))
        if "corpus" in calls.wall:
            per["corpus_pages_per_s"].append(inp["pages"] / calls.wall["corpus"])
    m = {k: statistics.median(v) for k, v in per.items()}
    m["setup_s"] = sum(phases)
    m["peak_rss_mb"] = max(calls.peak_rss_mb for calls, _ in passes)
    return m


def per_layer(phases, traced_pass) -> dict[str, float]:
    calls, out = traced_pass
    m: dict[str, float] = {}
    for phase, s in zip(("start_ms", "input_ms", "warmup_ms"), phases):
        m[f"session.{phase}"] = s * 1e3
    for call, layer in calls.layers.items():
        if call != "resume":
            m.update({f"{call}.{k}": v for k, v in layer.items()})
            m[f"{call}.wall_ms"] = calls.wall[call] * 1e3
    snaps = out.get("snapshots", [])
    for algo in ("pagerank", "wcc", "lpa"):
        if algo not in out:
            continue
        run, table = out[algo]
        wall_ms = calls.wall[algo] * 1e3
        secs = [h["seconds"] * 1e3 for h in run.history]
        snap_ms = sum(s["write_ms"] for s in snaps) if algo == "pagerank" else 0.0
        m[f"{algo}.supersteps"] = float(run.supersteps)
        m[f"{algo}.superstep_ms_p50"] = statistics.median(secs)
        m[f"{algo}.superstep0_ms"] = secs[0]
        m[f"{algo}.loop_setup_ms"] = wall_ms - sum(secs) - snap_ms
        m[f"{algo}.busy_ratio"] = calls.layers[algo]["busy_ms"] / wall_ms
        m[f"{algo}.cpu_ns_per_edge_step"] = (
            calls.layers[algo]["executor_cpu_ms"] * 1e6 / (out["n_edges"] * run.supersteps))
        if algo == "wcc":
            m["wcc.active_ratio"] = (
                sum(h["changed"] for h in run.history) / (len(table) * run.supersteps))
    if "corpus.links_raw" in m:
        m["corpus.edge_yield"] = out["n_edges"] / m["corpus.links_raw"]
    if "resume" in calls.wall:
        m["checkpoint.snapshots"] = float(len(snaps))
        m["checkpoint.write_ms"] = sum(s["write_ms"] for s in snaps)
        m["checkpoint.bytes"] = sum(s["bytes"] for s in snaps)
        m["checkpoint.resume_ms"] = calls.wall["resume"] * 1e3
    m["trace.overhead_ms"] = calls.stores.spent_s * 1e3
    return m


def report(result: dict, spec: dict, traced: bool) -> dict:
    """The result line: the BENCHMARK.json metrics of this kind of run."""
    listed = spec["per_layer" if traced else "end_to_end"]
    metrics = result["metrics"]
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {s["name"]: {"value": metrics[s["name"]], "unit": s["unit"]} for s in listed},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from linkbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".linkbench_work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    try:
        result = run(WORKLOADS[args.workload](), args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    start, build, warm = result["setup"]
    print(f"workload {args.workload} seed {args.seed} passes {result['passes']} "
          f"trace {args.trace}")
    print(f"setup start_s {start!r} input_s {build!r} warmup_s {warm!r}")
    for call, ok, detail in result["checks"]:
        print(f"check {call} {'ok' if ok else 'FAIL'} {detail}")
    for name in sorted(result["metrics"]):
        print(f"{name} {result['metrics'][name]!r} {unit(name)}")
    print(json.dumps(report(result, spec, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
