"""Long loops stay one step deep.

Each superstep cuts its state with ``localCheckpoint(eager=True)``, and
that cut truncates the physical RDD ancestry as well as the logical
plan: a late step's state has the same RDD lineage as an early one's.
The cut also keeps the state's size estimate bounded (``local_cut``).
Both are checked structurally, not on wall time. The loops write
nothing to disk without a checkpoint dir.
"""

from __future__ import annotations

import glob
import os
import tempfile

from cim_framework_graph_partitioning_spark.operators import dag, kcore
from cim_framework_graph_partitioning_spark.plans.barrier import UNKNOWN_SIZE
from cim_framework_graph_partitioning_spark.plans.superstep import SuperstepRunner

from .test_graph_algorithms import _edges_df


def _path(n_edges: int):
    return [(i, i + 1, 1.0) for i in range(n_edges)]


def _barrier_dirs(spark) -> set[str]:
    root = (spark.conf.get("spark.local.dir", None) or tempfile.gettempdir()).split(",")[0]
    return set(glob.glob(os.path.join(root, "plan_barrier_*")))


def test_kcore_lineage_stays_flat_over_a_long_chain(spark, monkeypatch):
    lineage: dict[int, int] = {}
    estimate: dict[int, int] = {}
    run = SuperstepRunner.run

    def recording_run(self, init_state, step_fn, *args, **kwargs):
        def step(state, i):
            new_state, metrics = step_fn(state, i)
            qe = new_state._jdf.queryExecution()
            lineage[i] = len(qe.toRdd().toDebugString())
            estimate[i] = qe.optimizedPlan().stats().sizeInBytes()
            return new_state, metrics
        return run(self, init_state, step, *args, **kwargs)

    monkeypatch.setattr(SuperstepRunner, "run", recording_run)
    dirs = _barrier_dirs(spark)
    # the h-index fixpoint on a path lowers the core of one more vertex
    # per step from each end: about one step per two edges
    cores, steps = kcore.coreness(spark, _edges_df(spark, _path(100)))
    assert steps >= 40, steps
    assert {r.core for r in cores.collect()} == {1}
    assert lineage[40] <= 1.5 * lineage[5], (lineage[5], lineage[40])
    # kcore's estimate grows 2^8 a step: past UNKNOWN_SIZE by step 8
    assert max(estimate.values()) <= UNKNOWN_SIZE
    assert _barrier_dirs(spark) <= dirs


# one cut per round, whose job also observes the frontier and the
# vertices left; the setup counts the edges, which the session's AQE
# runs as two jobs. Measured on a 40-deep path: 2 + 1 per round.
TOPO_SETUP_JOBS = 2
TOPO_JOBS_PER_ROUND = 1


def test_topological_levels_job_ceiling(spark):
    edges = _edges_df(spark, _path(40))
    sc = spark.sparkContext
    group = "test_topological_levels_job_ceiling"
    sc.setJobGroup(group, group)
    try:
        levels = dag.topological_levels(spark, edges)
    finally:
        sc.setJobGroup(None, None)  # type: ignore[arg-type]
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert {r.id: r.level for r in levels.collect()} == {i: i for i in range(41)}
    # each round joins the state with its own frontier, squaring the
    # inherited estimate: bounded only by the cut
    assert levels._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() <= UNKNOWN_SIZE
    rounds = 41
    assert jobs <= TOPO_SETUP_JOBS + TOPO_JOBS_PER_ROUND * rounds, (jobs, rounds)
