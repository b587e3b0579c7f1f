"""Checkpoint / lineage / resume semantics (north rule: runs resumable
mid-convergence; resumed run equals uninterrupted run to within float
re-association noise — shuffle partial-sum merge order is not
deterministic across parquet vs in-memory state sources, so last-ulp
differences (~1e-17) are expected; 1e-12 is 6 orders tighter than the
1e-6 convergence criterion)."""

from __future__ import annotations

import math
import os

from cim_framework_graph_partitioning_spark.operators.pagerank import pagerank

from .test_graph_algorithms import _edges_df, _random_edges


def test_resume_equals_uninterrupted(spark, tmp_path):
    triples = _random_edges(21, n=30, m=80)
    df = _edges_df(spark, triples)

    # uninterrupted: 10 supersteps
    full, _ = pagerank(spark, df, tol=0.0, max_iter=10)
    want = {r.id: r.rank for r in full.collect()}

    # interrupted at 5, then resumed to 10 from the parquet checkpoint
    ck = str(tmp_path / "ck")
    pagerank(spark, df, tol=0.0, max_iter=5, checkpoint_dir=ck,
             checkpoint_every=1, run_id="t")
    resumed, steps = pagerank(spark, df, tol=0.0, max_iter=10,
                              checkpoint_dir=ck, checkpoint_every=1,
                              resume=True, run_id="t")
    got = {r.id: r.rank for r in resumed.collect()}
    assert steps == 10
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=0, abs_tol=1e-12), k


def test_resume_logs_each_superstep_once(spark, tmp_path, monkeypatch):
    """A run that fails past its last checkpoint and is resumed leaves
    exactly one metrics row per (superstep, name): the failed run's
    uncommitted steps are re-run by the resume, so they must not have
    been written yet."""
    from cim_framework_graph_partitioning_spark.plans.superstep import SuperstepRunner

    df = _edges_df(spark, _random_edges(23, n=20, m=50))
    ck = str(tmp_path / "ck_once")
    run = SuperstepRunner.run

    def failing_run(self, init_state, step_fn, *args, **kwargs):
        def step(state, i):
            if i == 6:
                raise RuntimeError("superstep 6")
            return step_fn(state, i)
        return run(self, init_state, step, *args, **kwargs)

    monkeypatch.setattr(SuperstepRunner, "run", failing_run)
    try:
        pagerank(spark, df, tol=0.0, max_iter=8, checkpoint_dir=ck,
                 checkpoint_every=4, run_id="once")
    except RuntimeError as err:
        assert "superstep 6" in str(err)
    else:
        raise AssertionError("the run did not fail at superstep 6")
    monkeypatch.setattr(SuperstepRunner, "run", run)
    _, steps = pagerank(spark, df, tol=0.0, max_iter=8, checkpoint_dir=ck,
                        checkpoint_every=4, resume=True, run_id="once")
    assert steps == 8

    rows = spark.read.parquet(f"{ck}/metrics").groupBy("superstep", "name").count().collect()
    per_key = {(r.superstep, r.name): r["count"] for r in rows}
    assert {n for _, n in per_key} == {"max_delta", "dangling_mass", "superstep_sec"}
    assert {s for s, _ in per_key} == set(range(1, 9))
    assert set(per_key.values()) == {1}, sorted(k for k, c in per_key.items() if c > 1)


def test_checkpoint_artifacts_written(spark, tmp_path):
    triples = _random_edges(22, n=20, m=50)
    ck = str(tmp_path / "ck2")
    pagerank(spark, _edges_df(spark, triples), tol=0.0, max_iter=3,
             checkpoint_dir=ck, checkpoint_every=1, run_id="art")

    assert os.path.isdir(f"{ck}/state/superstep=3")
    metrics = spark.read.parquet(f"{ck}/metrics")
    names = {r.name for r in metrics.select("name").distinct().collect()}
    assert {"max_delta", "dangling_mass"} <= names
    assert metrics.filter("superstep = 2").count() > 0

    lineage = spark.read.parquet(f"{ck}/lineage")
    cols = set(lineage.columns)
    assert {"run_id", "superstep", "partition_id", "metric", "value"} <= cols
    metrics_present = {
        r.metric for r in lineage.select("metric").distinct().collect()
    }
    # content, not just counts: per-partition rank contributions + real
    # bytes written (the reference's per-core stream analogue)
    assert {"rows", "bytes", "sum_rank", "max_rank"} <= metrics_present

    state = spark.read.parquet(f"{ck}/state/superstep=3")
    last = lineage.filter("superstep = 3")

    def total(metric):
        return (
            last.filter(f"metric = '{metric}'").groupBy().sum("value").collect()[0][0]
        )

    # lineage must reconstruct the global state aggregates exactly
    assert total("rows") == state.count()
    assert math.isclose(total("sum_rank"), 1.0, abs_tol=1e-9)  # rank mass
    # bytes: sum of per-partition part files == actual on-disk state size
    on_disk = sum(
        os.path.getsize(os.path.join(f"{ck}/state/superstep=3", f))
        for f in os.listdir(f"{ck}/state/superstep=3")
        if f.startswith("part-") and f.endswith(".parquet")
    )
    assert total("bytes") == on_disk > 0
    # per-partition max contributions bound the global max
    gmax = state.groupBy().max("rank").collect()[0][0]
    lmax = (
        last.filter("metric = 'max_rank'").groupBy().max("value").collect()[0][0]
    )
    assert math.isclose(gmax, lmax, abs_tol=1e-15)


def test_release_checkpoint_walks_plan_leaves(spark):
    """A state frame is often a Project OVER the checkpointed LogicalRDD
    (pagerank returns newc.select(...)); release must find the leaf, not
    just a top-level LogicalRDD (r2 ADVICE: the leak this module exists
    to fix silently survived for projected states)."""
    from cim_framework_graph_partitioning_spark.plans.barrier import (
        release_checkpoint,
    )

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    proj = spark.range(64).localCheckpoint(eager=True).selectExpr("id * 2 AS x")
    assert jsc.getPersistentRDDs().size() == before + 1
    release_checkpoint(proj)
    assert jsc.getPersistentRDDs().size() == before
    # non-checkpointed frames are a harmless no-op
    release_checkpoint(spark.range(5).selectExpr("id + 1 AS y"))


def test_pagerank_loop_releases_superseded_checkpoints(spark):
    """After a pagerank run, no superseded per-superstep checkpoint RDD
    may stay pinned in SparkContext.persistentRdds (each pinned one
    drags its whole untruncated ancestry into the driver heap)."""
    from .test_graph_algorithms import _edges_df, _random_edges

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    df = _edges_df(spark, _random_edges(33, n=40, m=120))
    ranks, steps = pagerank(spark, df, tol=0.0, max_iter=6)
    assert steps == 6
    after = jsc.getPersistentRDDs().size()
    # the returned final state may legitimately stay pinned; anything
    # beyond one frame's worth of RDDs is a leak.
    assert after - before <= 1, f"leaked {after - before} checkpoint RDDs"
