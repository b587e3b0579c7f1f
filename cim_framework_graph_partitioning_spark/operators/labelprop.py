"""Synchronous label propagation (community detection) with
deterministic tie-breaking.

Reference precedent: ``get_belong_node`` IS a constrained LPA — anchors
absorb satellites wave by wave with fixed priorities (reference:
graph.py:30-123; waves at :68-79, :83-94, :100-108, :111-119). The
engine's LPA is the symmetric, weight-aware generalization: each
superstep every vertex adopts the label with the maximum total incident
edge weight among its neighbors, ties broken by MINIMUM label id —
fully deterministic regardless of partitioning (north-rule requirement:
exact label parity at convergence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.barrier import PlanBarrier
from ..plans.scale import auto_blocks
from ..plans.superstep import SuperstepRunner, loop_scope, observed_checkpoint
from .edges import symmetrize, vertex_set


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 10,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    run_id: str = "lpa",
) -> tuple[DataFrame, int]:
    """Returns (labels(id, label), supersteps_run).

    Synchronous LPA can oscillate on bipartite-ish structure, so the loop
    runs to ``max_iter`` or until no label changes, whichever first —
    with the deterministic tie-break both stopping modes are reproducible
    bit-for-bit across partitionings.
    """
    p = auto_blocks(edges.count(), spark.sparkContext.defaultParallelism)
    with loop_scope(spark, p) as scope:
        und = scope.cache(symmetrize(edges).repartition(p, "src_id"))
        verts = scope.cache(vertex_set(und))
        init = verts.select("id", F.col("id").alias("label"))

        w = Window.partitionBy("dst_id").orderBy(
            F.col("wsum").desc(), F.col("label").asc()
        )

        def step_fn(labels: DataFrame, step: int):
            votes = (
                labels.hint("shuffle_hash").join(und, labels.id == und.src_id)
                .groupBy("dst_id", "label")
                .agg(F.sum("weight").alias("wsum"))
            )
            winner = (
                votes.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("dst_id", F.col("label").alias("new_label"))
            )
            # ONE job per superstep: the changed-count rides the
            # checkpoint materialization (prev is already in this plan)
            return observed_checkpoint(
                labels.join(winner, labels.id == winner.dst_id, "left")
                .select(
                    "id",
                    F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
                    F.col("label").alias("prev"),
                ),
                select=("id", "label"),
                changed=F.sum(F.when(F.col("label") != F.col("prev"), 1).otherwise(0)),
            )

        runner = SuperstepRunner(spark, checkpoint_dir=checkpoint_dir, run_id=run_id)
        labels, steps = runner.run(
            init, step_fn, converged=lambda m: m["changed"] == 0,
            max_iter=max_iter, resume=resume,
            pre_truncated=True,  # step_fn checkpoints its own state
        )
    return labels, steps


def anchored_label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    anchors: DataFrame,
    waves: list | None = None,
    steps_per_wave: int | None = None,
    max_iter_per_wave: int = 100,
    require_total: bool = False,
) -> tuple[DataFrame, int]:
    """Anchor-constrained multi-wave label propagation — the reference's
    signature routine (reference: graph.py:30-123): a fixed set of anchor
    vertices carries immutable labels; satellite vertices are absorbed
    into anchors wave by wave, each wave restricted to a priority class
    of edges (reference waves at graph.py:68-79, :83-94, :100-108,
    :111-119; coverage assert at :121).

    Semantics:
    - ``anchors``: DataFrame (id, label). Anchor labels never change and
      are the ONLY labels that ever propagate (transitively).
    - ``waves``: ordered list of edge predicates (pyspark Columns over
      the symmetrized edge columns src_id/dst_id/weight). Wave i runs
      absorption steps restricted to edges satisfying predicate i —
      an UNLABELED vertex adopts the minimum label among its labeled
      in-neighbors (deterministic tie-break); labeled vertices are
      final. Default: one unrestricted wave.
    - each wave runs to fixpoint (no new absorptions) or
      ``steps_per_wave`` steps if given (the SQL-oracle-friendly mode).
    - ``require_total=True`` ports the reference's coverage assert
      (graph.py:121): raise if any vertex is still unlabeled at the end.

    Returns (labels(id, label) with -1 for uncovered vertices,
    total_steps). Per step: one join + one groupBy-min over the cached
    symmetrized edge table — the same scale shape as plain LPA — and
    one job, which also counts the vertices the step absorbed.
    """
    p = auto_blocks(edges.count(), spark.sparkContext.defaultParallelism)
    if waves is None:
        waves = [F.lit(True)]
    total_steps = 0
    with loop_scope(spark, p) as scope:
        und = scope.cache(symmetrize(edges).repartition(p, "src_id"))
        # each cut releases the one it supersedes; on a raise the scope
        # releases the last one too
        barrier = PlanBarrier()
        labels = barrier.cut(
            vertex_set(und)
            .join(anchors.select("id", F.col("label").alias("_al")), "id", "left")
            .select("id", F.col("_al").alias("label"))
        )
        for wave_pred in waves:
            eligible = und.filter(wave_pred)
            limit = steps_per_wave if steps_per_wave is not None else max_iter_per_wave
            for _ in range(limit):
                msgs = (
                    labels.filter(F.col("label").isNotNull())
                    .hint("shuffle_hash")
                    .join(eligible, F.col("id") == F.col("src_id"))
                    .groupBy("dst_id")
                    .agg(F.min("label").alias("cand"))
                )
                labels, m = observed_checkpoint(
                    labels.join(msgs, labels.id == msgs.dst_id, "left").select(
                        "id",
                        F.coalesce(F.col("label"), F.col("cand")).alias("label"),
                        F.col("label").alias("prev"),
                    ),
                    select=("id", "label"),
                    cut=barrier.cut,
                    newly=F.sum(
                        F.when(F.col("prev").isNull() & F.col("label").isNotNull(), 1)
                        .otherwise(0)
                    ),
                )
                total_steps += 1
                if m["newly"] == 0 and steps_per_wave is None:
                    break
        if require_total:
            uncovered = labels.filter(F.col("label").isNull()).count()
            if uncovered:
                raise AssertionError(
                    f"anchored LPA coverage violated: {uncovered} vertices unlabeled"
                )
    out = labels.select(
        "id", F.coalesce(F.col("label"), F.lit(-1)).cast("long").alias("label")
    )
    return out, total_steps
