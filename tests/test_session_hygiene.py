"""Every iterative operator leaves the SparkSession as it found it.

Each entry point runs on a tiny graph to completion and failing during
setup; those that loop through ``SuperstepRunner`` also fail at
superstep 1 and at superstep 2. After a failure the session conf must
be unchanged and no RDD may be persisted that was not persisted before
the call. After a success the only new persisted RDDs allowed are the
checkpoints the returned frame reads.

Persisted RDDs are compared as id sets: the JVM map drops entries on
GC, so a count could hide a leak behind an unrelated release.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cim_framework_graph_partitioning_spark.operators import (
    centrality, coloring, components, dag, hits, kcore, labelprop, mis, pagerank,
    partitioner, paths, scc, spreading, triangles, truss, wl,
)
from cim_framework_graph_partitioning_spark.plans.barrier import checkpoint_leaf_ids
from cim_framework_graph_partitioning_spark.plans.superstep import SuperstepRunner

# a K4 {1,2,3,4}, a diamond {4,5,6,7} hanging off it and a tail
# 7-8-10-9-11: every looping operator here needs at least two
# supersteps on it (the diamond's shared edge lowers its truss value
# once; 9 is left undecided by the first MIS round)
EDGES = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (4, 5), (5, 6), (6, 4), (5, 7), (6, 7),
         (7, 8), (8, 10), (10, 9), (9, 11)]


def _sources(spark):
    return spark.createDataFrame([(1,)], "id long")


def _seeds(spark):
    return spark.createDataFrame([(1, 0), (8, 1)], "id long, label long")


# name -> (call(spark, edges), loops through SuperstepRunner); the
# tolerance-driven loops are capped at 4 supersteps to keep this fast
ENTRY_POINTS = {
    "kcore": (lambda s, e: kcore.coreness(s, e), True),
    "labelprop": (lambda s, e: labelprop.label_propagation(s, e), True),
    "cc_star": (lambda s, e: components.connected_components(s, e, algorithm="star"), True),
    "cc_minlabel": (lambda s, e: components.connected_components(s, e, algorithm="minlabel"), True),
    "mis": (lambda s, e: mis.maximal_independent_set(s, e), True),
    "coloring": (lambda s, e: coloring.greedy_coloring(s, e), True),
    "pagerank": (lambda s, e: pagerank.pagerank(s, e, max_iter=4), True),
    "pagerank_csr": (lambda s, e: pagerank.pagerank(s, e, max_iter=4, mode="csr"), True),
    "hits": (lambda s, e: hits.hits(s, e, max_iter=4), True),
    "katz": (lambda s, e: centrality.katz_centrality(s, e, max_iter=4), True),
    "salsa": (lambda s, e: centrality.salsa(s, e, max_iter=4), True),
    "truss": (lambda s, e: truss.trussness(s, e), True),
    "paths": (lambda s, e: paths.shortest_paths(s, e, _sources(s)), True),
    "wl": (lambda s, e: wl.wl_refinement(s, e), True),
    "spreading": (lambda s, e: spreading.label_spreading(s, e, _seeds(s), max_iter=4), True),
    "partitioner": (lambda s, e: partitioner.balanced_partition(s, e, k=2), False),
    "scc": (lambda s, e: scc.strongly_connected_components(s, e), False),
    "triangles": (lambda s, e: triangles.triangle_count(e), False),
    "clustering": (lambda s, e: triangles.local_clustering_coefficient(e), False),
    # the fixture's 4-5-6 cycle never converges: three DP segments run
    "longest_path": (lambda s, e: dag.longest_path_lengths(s, e, max_iter=3), False),
    "longest_path_0": (lambda s, e: dag.longest_path_lengths(s, e, max_iter=0), False),
}

CASES = [(name, how) for name, (_, loops) in ENTRY_POINTS.items()
         for how in ("success", "setup", "step1", "step2")
         if loops or how in ("success", "setup")]


class Boom(RuntimeError):
    pass


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _edges(spark, poisoned: bool):
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in EDGES], "src_id long, dst_id long, weight double")
    if poisoned:
        # count() prunes src_id, so the first setup job that reads it fails
        df = df.withColumn("src_id", F.raise_error(F.lit("boom")).cast("long"))
    return df


@pytest.fixture
def fail_at_step(monkeypatch):
    """fail_at_step(k) makes every runner raise Boom at superstep k."""
    def install(k: int):
        run = SuperstepRunner.run

        def failing_run(self, init_state, step_fn, *args, **kwargs):
            def step(state, i):
                if i == k:
                    raise Boom(f"superstep {i}")
                return step_fn(state, i)
            return run(self, init_state, step, *args, **kwargs)

        monkeypatch.setattr(SuperstepRunner, "run", failing_run)
    return install


@pytest.mark.parametrize("name,how", CASES, ids=[f"{n}-{h}" for n, h in CASES])
def test_operator_leaves_session_clean(spark, fail_at_step, name, how):
    call, _ = ENTRY_POINTS[name]
    edges = _edges(spark, poisoned=how == "setup")
    if how.startswith("step"):
        fail_at_step(int(how[-1]))
    conf = dict(spark.conf.getAll)
    before = _persisted(spark)

    if how == "success":
        out = call(spark, edges)
        frame = out[0] if isinstance(out, tuple) else out
        frame.count()
        new = _persisted(spark) - before
        assert new <= checkpoint_leaf_ids(frame), f"{name} leaked RDDs {sorted(new)}"
    else:
        with pytest.raises(Exception) as err:
            call(spark, edges)
        assert err.type is Boom if how != "setup" else "boom" in str(err.value)
        assert dict(spark.conf.getAll) == conf, f"{name} left the session conf changed"
        new = _persisted(spark) - before
        assert not new, f"{name} leaked RDDs {sorted(new)} after a {how} failure"
