"""Plan cuts for iterative DataFrame loops, and their release.

A loop cuts its state once per superstep with ``local_cut``, a
``localCheckpoint(eager=True)``: inside the step
(``superstep.observed_checkpoint``) or through ``PlanBarrier.cut``.

* The cut keeps the logical plan flat, so Catalyst's analysis does not
  grow with the step count.
* It truncates the physical RDD ancestry too: the new state's RDD reads
  only the checkpointed blocks. Measured with PySpark 4.1.2 on
  ``local[3]``: kcore on a 100-edge path kept its state's
  ``toRdd().toDebugString()`` at 298-378 chars over 20 steps.
* It keeps ``hash(id, p)`` partitioning, so the next step's join on
  ``id`` needs no exchange.
* It does NOT reset the optimizer's size estimate, which the checkpoint
  inherits from the plan it materialized; ``local_cut`` bounds it. A
  step that joins its state with a frame built from that state squares
  the estimate. Without the bound, ``label_propagation`` on a 60-vertex
  path ran steps 1-19 at 0.35-0.9 s, then 1.8, 4.2, 11.0, 27.6, 87.8
  and 250.5 s at steps 20-25, while its estimate grew from 25 to 68,239
  bits over the first 12 steps. With the bound it stays at 135 bits.
  This growth, not RDD ancestry, made chained checkpoints slow down
  step after step; ``tests/test_loop_chain.py`` pins both.

A cut does not unregister itself: ``localCheckpoint`` leaves its RDD
in the SparkContext's persistent-RDD map for the rest of the session.
``release_checkpoint`` frees a superseded cut and
``checkpoint_leaf_ids`` names the cuts a loop must not free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def checkpoint_leaf_ids(df: DataFrame | None) -> frozenset[int]:
    """RDD ids of the LogicalRDD leaves in ``df``'s analyzed plan.

    Used to mark checkpoints a loop does NOT own (the caller's input
    may itself be a localCheckpoint'ed frame) so ``release_checkpoint``
    skips them — releasing an ancestor checkpoint mid-loop truncated
    lineage that later supersteps still needed
    (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; hit by near_dup_clusters whose
    materialized pair graph feeds the CC fixpoint)."""
    ids: set[int] = set()
    if df is None:
        return frozenset()
    try:
        plan = df._jdf.queryExecution().analyzed()
        leaves = plan.collectLeaves()  # allow-jvm-handle: py4j walk of the analyzed plan, not the Python RDD API
        it = leaves.iterator()
        while it.hasNext():
            leaf = it.next()
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                ids.add(leaf.rdd().id())  # allow-jvm-handle: py4j accessor on the JVM plan leaf, not the Python RDD API
    except Exception:
        pass
    return frozenset(ids)


def release_checkpoint(
    df: DataFrame | None, protect: frozenset[int] = frozenset()
) -> None:
    """Explicitly unpersist the RDD(s) behind a localCheckpoint'ed frame.

    ``Dataset.localCheckpoint`` registers its materialized RDD in the
    SparkContext's persistentRdds map and nothing ever removes it (the
    DataFrame reports is_cached=False, so unpersist() paths skip it).
    Every superseded checkpoint left there pins its blocks and its
    plan objects — measured: the 2nd and 3rd identical PageRank runs
    in one session were 2x slower with multi-second GC stalls until
    this release.

    Walks ALL leaves of the analyzed plan, not just a top-level
    LogicalRDD: a state frame is often a Project/Filter OVER the
    checkpointed LogicalRDD (e.g. pagerank returns
    ``newc.select("id", "rank", "has_out")``), and matching only the
    root silently skipped the release for exactly those frames.

    ``protect`` lists RDD ids the caller does NOT own (see
    ``checkpoint_leaf_ids``); those leaves are left pinned."""
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        leaves = plan.collectLeaves()  # allow-jvm-handle: py4j walk of the analyzed plan, not the Python RDD API
        it = leaves.iterator()
        while it.hasNext():
            leaf = it.next()
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                rdd = leaf.rdd()  # allow-jvm-handle: py4j accessor on the JVM plan leaf, not the Python RDD API
                if rdd.id() not in protect:
                    rdd.unpersist(False)
    except Exception:
        pass  # non-checkpointed frame or internal API drift — harmless


# spark.sql.defaultSizeInBytes: the size Spark assumes for a relation
# it has no estimate for, above every threshold a plan decision
# compares a size with
UNKNOWN_SIZE = 2**63 - 1


def local_cut(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``, without an inherited size
    estimate larger than ``UNKNOWN_SIZE``.

    The checkpoint inherits ``df``'s optimizer size estimate, and a
    join estimates the product of its sides. A step that joins its
    state with a frame built from that state (messages, candidates, a
    frontier) therefore squares the estimate: its bit length doubles
    every step. Catalyst computes it in BigInt arithmetic each time it
    plans a step, so after 20-30 steps planning one step takes
    seconds, then minutes. Such a cut drops the estimate, and Spark
    falls back to ``UNKNOWN_SIZE``: an estimate that large already
    exceeded every threshold, so no plan decision changes."""
    out = df.localCheckpoint(eager=True)
    try:
        plan = out._jdf.logicalPlan()  # the checkpoint's LogicalRDD
        if plan.stats().sizeInBytes() <= UNKNOWN_SIZE:
            return out
        jvm, session = out.sparkSession._jvm, out.sparkSession._jsparkSession
        plan = plan.copy(
            plan.output(), plan.rdd(), plan.outputPartitioning(),  # allow-jvm-handle: LogicalRDD fields, not the Python RDD API
            plan.outputOrdering(), plan.isStreaming(), plan.stream(),
            session, jvm.scala.Option.empty(), jvm.scala.Some(plan.constraints()),
        )
        return DataFrame(jvm.org.apache.spark.sql.classic.Dataset.ofRows(session, plan), out.sparkSession)
    except Exception:
        return out  # internal API drift: the estimate stays as inherited


class PlanBarrier:
    """Chained plan cuts for a loop that owns one state frame.

    ``cut(df)`` materializes ``df`` with ``local_cut`` and releases the
    previous cut, which the new one supersedes; the latest cut stays
    live in ``_prev`` until the next one."""

    def __init__(self) -> None:
        self._prev: DataFrame | None = None

    def cut(self, df: DataFrame) -> DataFrame:
        out = local_cut(df)
        release_checkpoint(self._prev)
        self._prev = out
        return out
