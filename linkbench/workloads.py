"""The benchmark's workloads: how each builds its input from the seed,
warms up, runs one timed pass through the engine's public functions, and
checks that pass against the engine-free references.

``web-graph``: a synthetic web corpus written to parquet. The timed pass
reads it, materializes the extracted text and the link-graph edge table
(the Python worker / Arrow boundary), then runs 36 supersteps of
PageRank (where ``l1_mean`` reaches about 1e-6), WCC and 5 supersteps of
LPA on those edges. Each superstep moves little data, so the fixed
per-superstep cost dominates.

``hub-graph``: a JVM-generated graph whose ten hub vertices receive about
one link in eight. The timed pass runs salted PageRank for 10 supersteps
with reliable snapshots every 5, resumes from the last snapshot, then
salted WCC and per-vertex triangles. Each superstep moves about four
times the edges of ``web-graph``, one in eight of them into ten hub keys,
so the executors are busy for most of each call; it is the only workload
that writes snapshots.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from giraph_spark.algorithms import (
    connected_components,
    label_propagation,
    pagerank,
    triangles_per_vertex,
)
from giraph_spark.corpus import build_edges, synth_corpus, with_extracted_text
from giraph_spark.datasets import synthetic_edges

from linkbench import reference

# the median superstep count at which PageRank reaches l1_mean < 1e-6 on
# this corpus (33-61 over seeds): a fixed count gives every seed the same work
WEB_SUPERSTEPS = 36
LPA_SUPERSTEPS = 5
HUB_AVG_DEGREE = 8
HUBS = 10
HUB_SUPERSTEPS = 10
HUB_SNAPSHOT_EVERY = 5
SALT = 8


def _materialize(pages):
    """The corpus layer's two outputs, cached and counted: extracted text
    per page and the link-graph edge table."""
    text = with_extracted_text(pages).select("url", "extracted_text").persist()
    edges = build_edges(pages).persist()
    text.count()
    edges.count()
    return text, edges


class WebGraph:
    name = "web-graph"

    def __init__(self, pages: int = 20_000, warm_pages: int = 1_000):
        self.pages = pages
        self.warm_pages = warm_pages

    def build_input(self, spark, seed: int, workdir: str) -> dict:
        path = os.path.join(workdir, "corpus.parquet")
        synth_corpus(spark, n_pages=self.pages, seed=seed).write.parquet(path)
        return {"corpus": path, "pages": self.pages}

    def warm_up(self, spark, inp: dict) -> None:
        for df in _materialize(spark.read.parquet(inp["corpus"]).limit(self.warm_pages)):
            df.unpersist()

    def run_pass(self, call, inp: dict) -> dict:
        spark = call.spark
        out: dict = {}
        text, edges = call(
            "corpus", lambda: _materialize(spark.read.parquet(inp["corpus"])), python=True)
        out["text"], out["edges"] = text.toPandas(), edges.toPandas()
        out["n_edges"] = len(out["edges"])
        text.unpersist()
        pr = call("pagerank", lambda: pagerank(spark, edges, max_supersteps=WEB_SUPERSTEPS))
        out["pagerank"] = (pr, pr.vertices.toPandas())
        wcc = call("wcc", lambda: connected_components(spark, edges))
        out["wcc"] = (wcc, wcc.vertices.toPandas())
        lpa = call("lpa", lambda: label_propagation(spark, edges, max_supersteps=LPA_SUPERSTEPS))
        out["lpa"] = (lpa, lpa.vertices.toPandas())
        edges.unpersist()
        return out

    def check(self, con, inp: dict, out: dict) -> dict:
        edges = out["edges"]
        pr, ranks = out["pagerank"]
        wcc, comps = out["wcc"]
        lpa, labels = out["lpa"]
        ok, detail = reference.check_pagerank(ranks, edges, pr.supersteps)
        return {
            "corpus": reference.check_corpus(con, inp["corpus"], out["text"], len(edges)),
            "pagerank": (ok, f"{detail} final_l1_mean={pr.last_stats['l1_mean']:.3g}"),
            "wcc": reference.check_wcc(comps, edges),
            "lpa": reference.check_lpa(labels, edges, lpa.supersteps),
        }


class HubGraph:
    name = "hub-graph"

    def __init__(self, vertices: int = 35_000, warm_edges: int = 20_000):
        self.vertices = vertices
        self.warm_edges = warm_edges

    def build_input(self, spark, seed: int, workdir: str) -> dict:
        path = os.path.join(workdir, "edges.parquet")
        synthetic_edges(
            spark, self.vertices, avg_degree=HUB_AVG_DEGREE, n_hubs=HUBS, seed=seed
        ).write.parquet(path)
        edges = spark.read.parquet(path).persist()
        return {"edges": edges, "n_edges": edges.count(), "dir": workdir}

    def warm_up(self, spark, inp: dict) -> None:
        small = inp["edges"].limit(self.warm_edges).persist()
        small.count()
        ck = os.path.join(inp["dir"], "warm-ckpt")
        pagerank(spark, small, max_supersteps=1, salt=SALT, checkpoint_dir=ck, checkpoint_interval=1)
        small.unpersist()
        shutil.rmtree(ck, ignore_errors=True)

    def run_pass(self, call, inp: dict) -> dict:
        spark, edges = call.spark, inp["edges"]
        ck = os.path.join(inp["dir"], f"ckpt-{uuid.uuid4().hex[:8]}")
        out: dict = {"n_edges": inp["n_edges"]}
        pr = call("pagerank", lambda: pagerank(
            spark, edges, max_supersteps=HUB_SUPERSTEPS, salt=SALT,
            checkpoint_dir=ck, checkpoint_interval=HUB_SNAPSHOT_EVERY))
        out["pagerank"] = (pr, pr.vertices.toPandas())
        out["snapshots"] = snapshots(ck)
        res = call("resume", lambda: pagerank(
            spark, edges, max_supersteps=HUB_SUPERSTEPS, salt=SALT,
            checkpoint_dir=ck, checkpoint_interval=HUB_SNAPSHOT_EVERY, resume=True))
        out["resume"] = (res, res.vertices.toPandas())
        wcc = call("wcc", lambda: connected_components(spark, edges, salt=SALT))
        out["wcc"] = (wcc, wcc.vertices.toPandas())
        tri = call("triangles", lambda: triangles_per_vertex(edges))
        out["triangles"] = tri.toPandas()
        tri.unpersist()
        shutil.rmtree(ck, ignore_errors=True)
        return out

    def check(self, con, inp: dict, out: dict) -> dict:
        if "edges_pd" not in inp:  # the reference's copy, collected once per input
            inp["edges_pd"] = inp["edges"].toPandas()
        edges = inp["edges_pd"]
        pr, ranks = out["pagerank"]
        res, resumed = out["resume"]
        wcc, comps = out["wcc"]
        snaps = out["snapshots"]
        same = (
            res.supersteps == HUB_SUPERSTEPS
            and snaps and snaps[-1]["superstep"] == HUB_SUPERSTEPS
            and ranks.sort_values("id").reset_index(drop=True).equals(
                resumed.sort_values("id").reset_index(drop=True))
        )
        return {
            "pagerank": reference.check_pagerank(ranks, edges, pr.supersteps),
            "resume": (bool(same), f"snapshots={[s['superstep'] for s in snaps]} "
                                   f"resumed_at={res.supersteps}"),
            "wcc": reference.check_wcc(comps, edges),
            "triangles": reference.check_triangles(con, out["triangles"], edges),
        }


def snapshots(directory: str) -> list[dict]:
    """Each complete snapshot under a CheckpointManager directory: its
    superstep, write time from its metrics.json, and bytes on disk."""
    found = []
    for d in sorted(glob.glob(os.path.join(directory, "superstep=*"))):
        data = os.path.join(d, "data.parquet")
        if not os.path.exists(os.path.join(data, "_SUCCESS")):
            continue
        with open(os.path.join(d, "metrics.json")) as f:
            meta = json.load(f)
        size = sum(os.path.getsize(p) for p in glob.glob(os.path.join(data, "*")))
        found.append({"superstep": int(meta["superstep"]),
                      "write_ms": float(meta["write_seconds"]) * 1e3,
                      "bytes": float(size)})
    return found


WORKLOADS = {w.name: w for w in (WebGraph, HubGraph)}
