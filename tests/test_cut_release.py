"""Checkpoint-block lifecycle: every lineage cut is freed through the one
gated primitive in ``pregel.py``, runs leave only their result's blocks,
and the refcounted AQE suppression dies with its session."""

from __future__ import annotations

import ast
import gc
import pathlib
import weakref

import giraph_spark
from giraph_spark import pregel


def _stored_ids(spark) -> set[int]:
    # releases are gated on live jobs: let any deferred ones settle first
    pregel.flush_releases(timeout=5.0)
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _result_ids(*frames) -> set[int]:
    """Ids of the checkpointed RDDs behind result frames."""
    return {pregel._checkpointed_jrdd(df).id() for df in frames}


def test_checkpoint_block_frees_only_in_pregel():
    """Every free of checkpoint blocks goes through pregel's gated
    primitive: no module but pregel.py may name the java-RDD handle
    helper or the gate, or call ``unpersist(False)`` itself."""
    pkg = pathlib.Path(giraph_spark.__file__).parent
    banned = {"_checkpointed_jrdd", "_gated_release"}
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "pregel.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name
            else:
                name = None
            if name in banned:
                found.append(f"{path.relative_to(pkg)}:{node.lineno} {name}")
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "unpersist"
                and any(isinstance(a, ast.Constant) and a.value is False for a in node.args)
            ):
                found.append(f"{path.relative_to(pkg)}:{node.lineno} unpersist(False)")
    assert found == []


def test_pagerank_with_snapshots_leaves_only_result_blocks(spark, tmp_path):
    """The snapshot branch (reload replaces the cut) frees every cut and
    persisted reload; only the result's checkpoint stays, until release."""
    from giraph_spark.algorithms import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 40) for i in range(40)] + [(i, (i + 1) % 40) for i in range(40)],
        "src long, dst long",
    )
    base = _stored_ids(spark)
    run = pagerank(
        spark,
        edges,
        max_supersteps=5,
        checkpoint_dir=str(tmp_path / "ck"),
        checkpoint_interval=2,
    )
    assert run.vertices.count() == 40
    assert _stored_ids(spark) - base <= _result_ids(run.vertices)
    run.release()
    assert _stored_ids(spark) - base == set()


def test_bracha_toueg_leaves_only_result_blocks(spark):
    """Deadlock detection releases its BFS sub-run, every round's cuts
    and its persisted setup frames."""
    from giraph_spark.algorithms.deadlock import bracha_toueg_free

    # 7 is a free leaf that unblocks 2, then 1 (via its tag-0 group);
    # 3 and 4 wait on each other and stay blocked
    requests = spark.createDataFrame(
        [(1, 2, 0), (1, 3, 1), (2, 7, 0), (3, 4, 0), (4, 3, 0)],
        "src long, dst long, tag long",
    )
    base = _stored_ids(spark)
    run = bracha_toueg_free(spark, requests, 1)
    got = {r.id: r.is_free for r in run.vertices.collect()}
    assert got == {1: True, 2: True, 3: False, 4: False, 7: True}
    assert run.converged and run.supersteps == 3
    assert _stored_ids(spark) - base <= _result_ids(run.vertices)


def test_mutable_supersteps_leave_only_result_blocks(spark):
    """The mutable loop frees each superseded edge cut (one superstep
    late) and vertex cut; only the result's vertex and edge cuts stay."""
    from pyspark.sql import functions as F

    from giraph_spark.mutation import GraphChanges, run_mutable_supersteps

    v0 = spark.createDataFrame([(i, 0) for i in range(6)], "id long, val long")
    e0 = spark.createDataFrame([(i, (i + 1) % 6) for i in range(6)], "src long, dst long")

    def step(v, e, superstep):
        deg = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))
        nv = v.join(deg, "id", "left").select(
            "id", (F.col("val") + F.coalesce("d", F.lit(0))).alias("val")
        )
        return nv, {}, GraphChanges(remove_edges=e.limit(1).select("src", "dst")), None

    base = _stored_ids(spark)
    run = run_mutable_supersteps(spark, v0, e0, step, max_supersteps=4)
    assert run.edges.count() == 2 and run.vertices.count() == 6
    assert _stored_ids(spark) - base <= _result_ids(run.vertices, run.edges)


def test_aqe_state_dies_with_its_session(spark):
    """A session abandoned while suppressed takes its refcount with it, so
    a later session (possibly at the same ``id()``) still really turns AQE
    off."""
    key = "spark.sql.adaptive.enabled"
    before = len(pregel._AQE_STATE)
    dead = spark.newSession()
    pregel.suppress_aqe(dead)  # a loop that died without restore_aqe
    gone = weakref.ref(dead)
    del dead
    # PySpark's RDD.toDF patch holds the newest session; a newer one frees it
    spark.newSession()
    gc.collect()
    assert gone() is None
    assert len(pregel._AQE_STATE) == before

    fresh = spark.newSession()
    fresh.conf.set(key, "true")
    pregel.suppress_aqe(fresh)
    try:
        assert fresh.conf.get(key) == "false"
    finally:
        pregel.restore_aqe(fresh)
    assert fresh.conf.get(key) == "true"
