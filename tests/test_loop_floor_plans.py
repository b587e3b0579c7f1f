"""No superstep of coreness, label propagation or CSR PageRank runs
Python: every step's frame is planned inside its loop (conf pinned,
static caches live) and the physical plan must hold no Python exec
node. A cogroup or grouped map in a step plan ships the step's inputs
to Python workers and back on every superstep."""

from __future__ import annotations

import pytest

from cim_framework_graph_partitioning_spark.operators import kcore, labelprop, pagerank

PYTHON_EXECS = (
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
)

# a triangle with a tail and a hub fanning out of it: several supersteps
# for each operator
EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)] + [(1, i) for i in range(7, 15)]

OPS = {
    "kcore": (kcore, lambda s, e: kcore.coreness(s, e)),
    "labelprop": (labelprop, lambda s, e: labelprop.label_propagation(s, e)),
    "pagerank_csr": (pagerank, lambda s, e: pagerank.pagerank(s, e, max_iter=4, mode="csr")),
}


@pytest.mark.parametrize("name", OPS)
def test_superstep_plans_run_no_python(spark, monkeypatch, name):
    module, call = OPS[name]
    plans = []
    real = module.observed_checkpoint

    def spy(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *args, **kwargs)

    monkeypatch.setattr(module, "observed_checkpoint", spy)
    edges = spark.createDataFrame(
        [(a, b, 1.0) for a, b in EDGES], "src_id long, dst_id long, weight double")
    call(spark, edges)
    assert len(plans) >= 2, f"{name} ran {len(plans)} supersteps"
    for step, plan in enumerate(plans, start=1):
        found = [node for node in PYTHON_EXECS if node in plan]
        assert not found, f"{name} superstep {step} runs Python: {found}\n{plan}"
