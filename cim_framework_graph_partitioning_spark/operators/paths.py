"""Multi-source shortest paths (weighted Bellman-Ford supersteps).

The min-plus companion to dag.py's longest-path DP (reference
graph.py:32-58 computes the max-plus variant on DAGs): works on ANY
directed graph with non-negative weights, converges to the exact
distance fixpoint, and — unlike Dijkstra — is embarrassingly
data-parallel: each superstep relaxes every edge once via one keyed
join + min-aggregation.

Determinism: a distance is the IEEE sum of weights along one concrete
path (sequential order fixed by the path itself), and min() over a
multiset of doubles is order-independent — so the converged state is
bit-exact across partitionings AND bit-replayable in SQL (the driver
oracle unrolls the identical relaxation).

Scale shape (same discipline as pagerank.py/kcore.py):

* The edge table is cached hash-partitioned by src_id once; per
  superstep only the (id, dist) state shuffles to it (shuffle_hash
  hints keep the cached side from re-sorting under SMJ).
* Frontier optimization: only vertices whose distance CHANGED last
  superstep contribute relaxations (classic delta-Bellman-Ford) — on
  a diameter-D graph, total relaxation work is O(sum of frontier
  sizes), not O(D * |E|). The state itself stays full-vertex so the
  min-join and convergence check are bounded scans.
* Distances of unreached vertices are NULL (not +inf sentinels):
  Spark's min() and left-join coalesce treat missing as identity, so
  no magic constants enter the arithmetic.
* SuperstepRunner provides durable checkpoints + lineage + metrics;
  convergence metric = changed-vertex count (monotone to 0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.scale import auto_blocks
from ..plans.superstep import SuperstepRunner, loop_scope, observed_checkpoint
from .edges import vertex_set


def shortest_paths(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    max_iter: int = 10_000,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 8,
    resume: bool = False,
    run_id: str = "sssp",
    metrics_sink: list | None = None,
) -> tuple[DataFrame, int]:
    """Returns (dists(id, dist), supersteps_run).

    ``edges``: (src_id, dst_id, weight) with weight >= 0 (asserted on
    the first superstep's input — negative edges would make the
    frontier optimization unsound). ``sources``: one id column; ids
    absent from the graph are ignored. ``dist`` is NULL for vertices
    unreachable from every source.
    """
    p = num_blocks or auto_blocks(
        edges.count(), spark.sparkContext.defaultParallelism
    )

    neg = edges.filter(F.col("weight") < 0).limit(1).count()
    if neg:
        raise ValueError("shortest_paths requires non-negative weights")

    # the loop conf is pinned only after setup, which runs under the
    # session conf
    with loop_scope(spark) as scope:
        e = scope.cache(
            edges.select("src_id", "dst_id", "weight").repartition(p, "src_id")
        )
        e.count()

        s = sources.select(F.col(sources.columns[0]).alias("id")).distinct()
        # init: 0.0 at sources present in the graph, NULL elsewhere; every
        # source starts in the frontier (changed=true)
        init = (
            vertex_set(e).join(s.withColumn("_s", F.lit(True)), "id", "left")
            .select(
                "id",
                F.when(F.col("_s"), F.lit(0.0)).otherwise(F.lit(None).cast("double")).alias("dist"),
                F.coalesce(F.col("_s"), F.lit(False)).alias("changed"),
            )
            .repartition(p, "id")
        )

        def step_fn(state: DataFrame, step: int):
            # only last step's frontier relaxes (delta Bellman-Ford)
            frontier = state.filter(F.col("changed")).select("id", "dist")
            cand = (
                frontier.hint("shuffle_hash")
                .join(e, frontier.id == e.src_id)
                .groupBy("dst_id")
                .agg(F.min(F.col("dist") + F.col("weight")).alias("cand"))
            )
            prev = state.select("id", F.col("dist").alias("prev"))
            # ONE job per superstep: the changed-count rides the checkpoint
            # materialization as an observed metric (pagerank pattern), and
            # the checkpointed state drops the prev column
            return observed_checkpoint(
                prev.join(cand.hint("shuffle_hash"), prev.id == cand.dst_id, "left")
                .select(
                    "id",
                    F.least(F.col("prev"), F.col("cand")).alias("dist"),
                    # least() is null-safe on one side: least(null, x) = x
                    (
                        F.col("cand").isNotNull()
                        & (F.col("prev").isNull() | (F.col("cand") < F.col("prev")))
                    ).alias("changed"),
                ),
                changed=F.sum(F.when(F.col("changed"), 1).otherwise(0)),
            )

        runner = SuperstepRunner(
            spark, checkpoint_dir=checkpoint_dir, run_id=run_id,
            checkpoint_every=checkpoint_every, metrics_sink=metrics_sink,
        )
        scope.pin(p)
        out, steps = runner.run(
            init,
            step_fn,
            converged=lambda m: m["changed"] == 0.0,
            max_iter=max_iter,
            resume=resume,
            pre_truncated=True,
        )
    return out.select("id", "dist"), steps
