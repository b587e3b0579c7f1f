"""A warm operator call compiles no generated code.

Spark compiles every whole-stage and projection class through one
JVM-wide cache. An iterative operator reuses the same plans superstep
after superstep and call after call, so once a call has run, an
identical call must find every class it needs in that cache: a compile
there means the cache is too small for the engine's working set, or a
plan carries a per-call value as a literal (Spark inlines literals into
the generated code). A call on a graph of another size must reuse the
classes too: the graph's size is data, not code.
"""

from __future__ import annotations

import itertools
import random

import pytest

from cim_framework_graph_partitioning_spark.operators import kcore, labelprop, pagerank, partitioner


def _graph(clusters: int, size: int, seed: int = 31) -> list[tuple[int, int, float]]:
    """Dense clusters joined by a few cross edges."""
    rng = random.Random(seed)
    pairs = set()
    for c in range(clusters):
        while len(pairs) < (c + 1) * 3 * size:
            u, v = c * 1000 + rng.randrange(size), c * 1000 + rng.randrange(size)
            if u != v:
                pairs.add((u, v))
    for c in range(clusters - 1):
        pairs.add((c * 1000, (c + 1) * 1000 + 1))
    return [(u, v, 1.0) for u, v in sorted(pairs)]


def _durable(spark, edges, ck):
    """A durable PageRank stopped after step 1, then resumed to step 2."""
    kw = dict(checkpoint_dir=str(ck), checkpoint_every=1, run_id="durable", tol=0.0)
    pagerank.pagerank(spark, edges, max_iter=1, **kw)
    return pagerank.pagerank(spark, edges, max_iter=2, resume=True, **kw)[0]


OPS = {
    "kcore": lambda s, e, ck: kcore.coreness(s, e, max_iter=4)[0],
    "labelprop": lambda s, e, ck: labelprop.label_propagation(s, e, max_iter=3)[0],
    "pagerank_csr": lambda s, e, ck: pagerank.pagerank(s, e, tol=0.0, max_iter=4, mode="csr")[0],
    "pagerank_durable": _durable,
    "partitioner": lambda s, e, ck: partitioner.balanced_partition(s, e, k=4, max_rounds=2)[0],
}


@pytest.mark.parametrize("name", OPS)
def test_warm_call_compiles_nothing(spark, tmp_path, name):
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    big, small = (
        spark.createDataFrame(_graph(*shape), "src_id long, dst_id long, weight double")
        for shape in ((4, 12), (3, 10))
    )
    calls = itertools.count()  # a fresh checkpoint directory per call

    def call(edges):
        before = compiles.getCount()
        OPS[name](spark, edges, tmp_path / str(next(calls))).collect()
        return compiles.getCount() - before

    call(big)
    assert call(big) == 0, f"{name}: an identical second call compiled new classes"
    assert call(small) == 0, f"{name}: a call on a smaller graph compiled new classes"
