"""A/B the PageRank per-superstep driver floor at bench conditions.

Replicates bench.py's exact session + data (synth sf0.1 corpus, 32
cores, suggest_num_partitions), then times pagerank-to-1e-6 repeatedly.
Each PageRank superstep writes its own lazy lineage cut in its one
aggregate job, so there is no cut-frequency axis: the only axis left
here is repetition count. Prints one JSON line per run.

Usage: python tools/diag_pr_floor.py [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from giraph_spark.algorithms.pagerank import pagerank  # noqa: E402
from giraph_spark.corpus import build_edges, synth_corpus  # noqa: E402
from giraph_spark.session import get_spark, suggest_num_partitions  # noqa: E402


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="diag-pr-floor", cores=cpus,
                      shuffle_partitions=max(cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")
    pages = synth_corpus(spark, n_pages=100_000, seed=42)
    edges = build_edges(pages).persist()
    n_edges = edges.count()
    nparts = suggest_num_partitions(n_edges, cpus)
    spark.conf.set("spark.sql.shuffle.partitions", str(nparts))
    # JIT warmup like bench
    pagerank(spark, edges.limit(20_000), max_supersteps=6, tolerance=None,
             num_partitions=nparts)
    results = []
    for rep in range(reps):
        t0 = time.time()
        pr = pagerank(spark, edges, damping=0.85, max_supersteps=120,
                      tolerance=1e-6, convergence="l1_mean",
                      num_partitions=nparts)
        secs = time.time() - t0
        row = {"rep": rep, "secs": round(secs, 2),
               "supersteps": pr.supersteps,
               "ms_per_superstep": round(secs / pr.supersteps * 1000, 1)}
        results.append(row)
        print(json.dumps(row), flush=True)
    vals = sorted(r["ms_per_superstep"] for r in results)
    print(json.dumps({"median_ms_per_superstep": vals[len(vals) // 2]}),
          flush=True)


if __name__ == "__main__":
    main()
