"""Label propagation.

Two variants:

- ``max_label_propagation`` — the reference's max-label computation
  (``giraph-examples/.../MaxComputation.java:30-47``: set value to max of
  messages, send on change, halt; golden test MaxComputationTest.java:37-55).
  Structurally identical to WCC with max instead of min.

- ``label_propagation`` — community LPA (mode of neighbor labels,
  deterministic tie-break to the smaller label). The reference has no
  standalone community LPA (its "label propagation" instances are the
  min/max propagations above — see SURVEY.md §2.4); this is the north-rule
  operator, reusing the identical superstep skeleton with the update rule
  swapped: ``groupBy(dst, label).count()`` then an argmax with
  ``max_by(label, struct(cnt, -label))`` — most-frequent label, ties to
  the smallest. Synchronous updates, halt when no label changes or
  ``max_supersteps``.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from giraph_spark.graph import symmetrize, vertices_from_edges
from giraph_spark.pregel import PregelRun, sql_supersteps


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 10,
    symmetrize_input: bool = True,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    weight_col: str | None = None,
    incremental_threshold: float | None = 0.25,
    verbose: bool = False,
) -> PregelRun:
    """Community LPA; result ``vertices``: (id, label).

    Per superstep every vertex adopts the most frequent label among its
    neighbors (ties -> smallest label); vertices with no in-neighbors keep
    their label. Synchronous (all updates based on the previous round),
    so results are deterministic and partitioning-invariant.

    ``weight_col``: weighted votes — each neighbor's label counts its
    edge weight instead of 1 (the host-graph case, where ``n_links`` is
    the natural vote strength). Weights must be INTEGERS: the argmax
    tie-break is over exact vote sums, and integer sums are associative
    regardless of combine order, so weighted runs stay deterministic
    and oracle-replayable (float votes would make ties order-dependent).
    With ``symmetrize_input`` the weighted closure keeps max weight per
    pair (``symmetrize_weighted``, PrepareGraphPieces.java:202-277).

    ``incremental_threshold``: the send-on-change economy of the
    reference's propagations (``ConnectedComponentsComputation.java:98-102``
    halts quiet vertices). Once the changed-vertex frontier drops below
    this fraction of |V|, the superstep recounts votes ONLY for
    "affected" destinations — those with at least one in-neighbor whose
    label changed last round. Exact, not approximate: a vertex whose
    in-neighbors all kept their labels sees the identical vote multiset
    and re-derives the same mode, so skipping it cannot alter the
    synchronous fixpoint trajectory. Late supersteps then shuffle
    O(edges incident to the frontier's out-neighborhood) instead of
    O(|E|). Costs a second dst-partitioned cached copy of the edge table
    (built lazily on first use). ``None`` disables (always full scatter).
    """
    # the SQL supersteps resolve temp views in the session that owns the
    # edge frame (a cloned one inside foreachBatch; see sql_supersteps)
    spark = edges.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if weight_col is not None:
        from giraph_spark.graph import symmetrize_weighted

        e = (
            symmetrize_weighted(edges, weight_col)
            if symmetrize_input
            else edges.select("src", "dst", weight_col)
        )
        e = e.select("src", "dst", F.col(weight_col).cast("long").alias("_w"))
    else:
        e = symmetrize(edges) if symmetrize_input else edges.select("src", "dst")
    e = e.repartition(num_partitions, "src").persist()

    state = vertices_from_edges(e).select("id", F.col("id").alias("label"))

    # one-superstep-lagged aggregator (MasterCompute-style): last round's
    # changed count decides this round's full-vs-incremental plan
    box: dict[str, Any] = {"changed": None, "n": None, "incremental": False}

    # The two-stage mode (count per (dst, label), map-side combined, then
    # max_by argmax with the deterministic smaller-label tie-break) and
    # every join-strategy hint match the DataFrame formulation.
    vote_expr = "sum(_w)" if weight_col is not None else "count(1)"
    wcol = ", ve._w AS _w" if weight_col is not None else ""
    wcol_full = ", e._w AS _w" if weight_col is not None else ""

    def step_sql(view, superstep: int) -> str:
        prev_changed = box["changed"]
        box["incremental"] = use_incr = (
            incremental_threshold is not None
            and prev_changed is not None
            and box["n"] is not None
            and 0 < prev_changed <= incremental_threshold * box["n"]
        )
        if use_incr:
            # frontier = vertices whose label changed last round; affected
            # dsts = their out-neighborhood (frontier shuffled to the
            # cached src-partitioned table — O(frontier)); votes recounted
            # only for edges INTO affected dsts via a semi-join against the
            # dst-partitioned copy (affected shuffled, edges stay put)
            votes = f"""ch AS (SELECT id AS src FROM {view('state')} WHERE _changed),
      aff AS (
        SELECT /*+ SHUFFLE_HASH(ch) */ DISTINCT e.dst AS dst
        FROM {view('edges')} e JOIN ch ON e.src = ch.src
      ),
      ve AS (
        SELECT /*+ SHUFFLE_HASH(aff) */ ed.*
        FROM {view('edges_dst')} ed LEFT SEMI JOIN aff ON ed.dst = aff.dst
      ),
      j AS (
        SELECT /*+ SHUFFLE_HASH(v) */ ve.dst AS dst, v.label AS label{wcol}
        FROM ve JOIN {view('state')} v ON ve.src = v.id
      )"""
        else:
            votes = f"""j AS (
        SELECT /*+ SHUFFLE_HASH(v) */ e.dst AS dst, v.label AS label{wcol_full}
        FROM {view('edges')} e JOIN {view('state')} v ON e.src = v.id
      )"""
        return f"""WITH {votes},
      c AS (
        SELECT dst, label, {vote_expr} AS cnt
        FROM j GROUP BY dst, label
      ),
      m AS (
        SELECT dst, max_by(label, struct(cnt, -label)) AS new_label
        FROM c GROUP BY dst
      )
      SELECT /*+ SHUFFLE_HASH(m) */ v.id,
             coalesce(m.new_label, v.label) AS label,
             (coalesce(m.new_label, v.label) != v.label) AS _changed
      FROM {view('state')} v LEFT JOIN m ON v.id = m.dst"""

    def stats(row) -> dict[str, Any]:
        box["changed"], box["n"] = int(row["c"] or 0), int(row["n"])
        return {"changed": box["changed"], "incremental": bool(box["incremental"])}

    run = sql_supersteps(
        spark,
        state,
        {
            "edges": e,
            # the second, dst-partitioned copy only incremental supersteps read
            "edges_dst": lambda: e.repartition(num_partitions, "dst").persist(),
        },
        step_sql,
        "sum(CASE WHEN _changed THEN 1 ELSE 0 END) AS c, count(1) AS n",
        stats,
        halt=lambda stats, _i: stats["changed"] == 0,
        max_supersteps=max_supersteps,
        checkpoint_dir=checkpoint_dir,
        checkpoint_interval=checkpoint_interval,
        resume=resume,
        verbose=verbose,
    )
    return replace(run, vertices=run.vertices.select("id", "label"))


def max_label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 50,
    num_partitions: int | None = None,
    verbose: bool = False,
) -> PregelRun:
    """Max-label propagation (MaxComputation.java:30-47): every vertex
    converges to the max id reachable along edge direction; send-on-change."""
    spark = edges.sparkSession  # view resolution — see label_propagation
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select("src", "dst").repartition(num_partitions, "src").persist()

    state = vertices_from_edges(e).select(
        "id", F.col("id").alias("label"), F.lit(True).alias("changed")
    )

    # one spark.sql() text per superstep — the WCC shape with max/greatest
    def step_sql(view, superstep: int) -> str:
        return f"""WITH g AS (
        SELECT /*+ SHUFFLE_HASH(v) */ e.dst AS dst, max(v.label) AS msg
        FROM {view('edges')} e JOIN {view('state')} v ON e.src = v.id
        WHERE v.changed
        GROUP BY e.dst
      )
      SELECT /*+ SHUFFLE_HASH(g) */ v.id,
             greatest(v.label, coalesce(g.msg, v.label)) AS label,
             (coalesce(g.msg, v.label) > v.label) AS changed
      FROM {view('state')} v LEFT JOIN g ON v.id = g.dst"""

    run = sql_supersteps(
        spark,
        state,
        {"edges": e},
        step_sql,
        "sum(CASE WHEN changed THEN 1 ELSE 0 END) AS c",
        lambda row: {"changed": int(row["c"] or 0)},
        halt=lambda stats, _i: stats["changed"] == 0,
        max_supersteps=max_supersteps,
        verbose=verbose,
    )
    return replace(run, vertices=run.vertices.select("id", "label"))
