#!/usr/bin/env python3
"""Self-test of the benchmark's own code. From the root of a checkout:

    python3 linkbench/selftest.py

Runs a tiny traced pass of every workload and requires every metric the
benchmark names to be reported with its unit, every check to pass and
the engine counters to be plausible. Then it feeds a perturbed PageRank
result and a perturbed WCC result through the checks and requires each
to be counted as a failure. Exits 0 when all of that holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from linkbench import run as bench  # noqa: E402

TINY = {
    "web-graph": {"pages": 600, "warm_pages": 200},
    "hub-graph": {"vertices": 1_500, "warm_edges": 2_000},
}
ENGINE = ("wall_ms", "jobs", "stages", "tasks", "busy_ms", "driver_gap_ms", "executor_run_ms",
          "executor_cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
          "spill_bytes", "task_skew")
LOOP = ("supersteps", "superstep_ms_p50", "superstep0_ms", "loop_setup_ms", "busy_ratio",
        "cpu_ns_per_edge_step")
NAMED = {
    "web-graph": (
        ["workload_s", "setup_s", "peak_rss_mb", "error_rate", "pagerank_s",
         "pagerank_edges_per_s", "wcc_s", "lpa_s", "corpus_s", "corpus_pages_per_s"]
        + [f"{c}.{k}" for c in ("corpus", "pagerank", "wcc", "lpa") for k in ENGINE]
        + [f"{a}.{k}" for a in ("pagerank", "wcc", "lpa") for k in LOOP]
        + [f"corpus.{k}" for k in ("python_run_ms", "python_start_ms", "arrow_sent_bytes",
                                   "arrow_returned_bytes", "links_raw", "edge_yield")]
    ),
    "hub-graph": (
        ["workload_s", "setup_s", "peak_rss_mb", "error_rate", "pagerank_s",
         "pagerank_edges_per_s", "wcc_s", "triangles_s"]
        + [f"{c}.{k}" for c in ("pagerank", "wcc", "triangles") for k in ENGINE]
        + [f"{a}.{k}" for a in ("pagerank", "wcc") for k in LOOP]
        + [f"checkpoint.{k}" for k in ("snapshots", "write_ms", "bytes", "resume_ms")]
    ),
}
COMMON = ["wcc.active_ratio", "session.start_ms", "session.input_ms", "session.warmup_ms",
          "trace.overhead_ms"]
# counters that may read zero on a tiny input
MAY_BE_ZERO = ("gc_ms", "spill_bytes", "driver_gap_ms", "error_rate", "python_start_ms",
               "shuffle_read_bytes")


def _perturbed(out: dict, key: str, col: str) -> dict:
    run, table = out[key]
    table = table.copy()
    table.loc[table.index[0], col] += 1e-3 if col == "rank" else 1
    return {**out, key: (run, table)}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from linkbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".linkbench_work", f"selftest-{os.getpid()}")
    bench.isolate(work)
    problems = []
    try:
        for name, cls in WORKLOADS.items():
            wl = cls(**TINY[name])
            res = bench.run(wl, seed=7, seconds=0, traced=True, work=os.path.join(work, name))
            m = res["metrics"]
            for metric in sorted(m):
                print(f"{name} {metric} {m[metric]!r} {bench.unit(metric)}")
            for call, ok, detail in res["checks"]:
                if not ok:
                    problems.append(f"{name}: check {call} failed: {detail}")
            for metric in NAMED[name] + COMMON:
                if metric not in m:
                    problems.append(f"{name}: {metric} not reported")
                elif m[metric] == 0 and not metric.endswith(MAY_BE_ZERO):
                    problems.append(f"{name}: {metric} is 0")
            for kind in ("end_to_end", "per_layer"):
                for s in spec[kind]:
                    if s["name"] not in m:
                        problems.append(f"{name}: {kind} metric {s['name']} missing")
                    elif s["unit"] != bench.unit(s["name"]):
                        problems.append(f"{name}: {s['name']} unit {s['unit']} in BENCHMARK.json")
            if m["error_rate"] != 0:
                problems.append(f"{name}: error_rate {m['error_rate']}")
            for metric in [k for k in m if k.endswith(".busy_ms")]:
                call = metric.split(".")[0]
                if m[metric] > m[f"{call}.wall_ms"]:
                    problems.append(f"{name}: {metric} exceeds {call}.wall_ms")
            out = res["outputs"][0]
            for key, col in (("pagerank", "rank"), ("wcc", "component")):
                checks = bench.run_checks(wl, res["input"], [_perturbed(out, key, col)],
                                          os.path.join(work, name))
                caught = [c for c, ok, _ in checks if not ok]
                if key not in caught:
                    problems.append(f"{name}: perturbed {key} passed its check")
                else:
                    print(f"{name} perturbed {key} counted as a failure by {caught}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("PROBLEM", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
