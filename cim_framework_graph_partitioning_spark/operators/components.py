"""Connected components via iterative min-label propagation.

Reference precedent: the 4-wave label absorption in ``get_belong_node``
(reference: graph.py:30-123) — each wave propagates a representative
label to unlabeled neighbors until total coverage (assert graph.py:121).
Here the same mechanism runs symmetrically to a fixpoint: every vertex
repeatedly adopts the minimum label among itself and its neighbors, with
the driver checking the number of changed labels per superstep (the
reference's driver-side convergence role, calc_cost.py:419-420).

Two algorithms, identical results (component = min vertex id):

* ``algorithm="star"`` (default) — alternating large-star/small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  2014): the STATE is the edge set itself, contracted each round toward
  star graphs whose centers are the component minima. Converges in
  O(log² n) rounds independent of graph diameter, and the edge set
  SHRINKS as it contracts — each round cheaper than the last. The
  100-TB path.
* ``algorithm="minlabel"`` — plain min-label propagation: O(diameter)
  supersteps of join + groupBy-min over the cached symmetrized edge
  table. Simpler plan; fine for low-diameter power-law graphs; kept as
  the cross-check implementation (tests assert star ≡ minlabel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.barrier import checkpoint_leaf_ids, release_checkpoint
from ..plans.superstep import SuperstepRunner, loop_scope, observed_checkpoint
from ..plans.scale import auto_blocks
from .edges import symmetrize


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    run_id: str = "cc",
    algorithm: str = "star",
) -> tuple[DataFrame, int]:
    """Returns (labels(id, component), supersteps). component = min vertex
    id in the component (deterministic canonical representative)."""
    if algorithm == "star":
        return _cc_two_phase(
            spark, edges, max_iter=max_iter, checkpoint_dir=checkpoint_dir,
            resume=resume, run_id=run_id,
        )
    p = auto_blocks(edges.count(), spark.sparkContext.defaultParallelism)
    with loop_scope(spark, p) as scope:
        und = scope.cache(
            symmetrize(edges).select("src_id", "dst_id").repartition(p, "src_id")
        )
        verts = scope.cache(
            und.select(F.col("src_id").alias("id"))
            .unionByName(und.select(F.col("dst_id").alias("id")))
            .distinct()
        )
        init = verts.select("id", F.col("id").alias("component"))

        def step_fn(labels: DataFrame, step: int):
            nbr_min = (
                labels.hint("shuffle_hash").join(und, labels.id == und.src_id)
                .groupBy("dst_id")
                .agg(F.min("component").alias("nbr_component"))
            )
            # ONE job per superstep: the changed-count rides the
            # checkpoint materialization as an observed metric
            return observed_checkpoint(
                labels.join(nbr_min, labels.id == nbr_min.dst_id, "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("nbr_component"), F.col("component")),
                    ).alias("component"),
                    F.col("component").alias("prev"),
                ),
                select=("id", "component"),
                changed=F.sum(
                    F.when(F.col("component") != F.col("prev"), 1).otherwise(0)
                ),
            )

        runner = SuperstepRunner(spark, checkpoint_dir=checkpoint_dir, run_id=run_id)
        labels, steps = runner.run(
            init, step_fn, converged=lambda m: m["changed"] == 0,
            max_iter=max_iter, resume=resume,
            pre_truncated=True,  # step_fn checkpoints its own state
        )
    return labels, steps


def _cc_two_phase(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    resume: bool = False,
    run_id: str = "cc",
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star CC (Kiveris et al. 2014).

    State = canonical edge set (a > b). One superstep = large-star then
    small-star:

    * large-star(u): every neighbor v > u gets connected to
      m = min(Γ(u) ∪ {u})  → emitted as (v, m);
    * small-star(u): u and all smaller neighbors N get connected to
      m = min(N ∪ {u})     → emitted as (x, m), x ∈ N ∪ {u}, x ≠ m.

    Both preserve connectivity; the fixpoint is a set of stars whose
    centers are the component minima, reached in O(log² n) supersteps
    regardless of diameter. Convergence is detected by an edge-set
    signature (count + two independent hash sums) — one scalar action
    per superstep, the driver never holds edges.
    """
    p = auto_blocks(edges.count(), spark.sparkContext.defaultParallelism)
    with loop_scope(spark, p) as scope:
        verts = scope.cache(
            edges.select(F.col("src_id").alias("id"))
            .unionByName(edges.select(F.col("dst_id").alias("id")))
            .distinct()
        )
        init = (
            edges.filter(F.col("src_id") != F.col("dst_id"))
            .select(
                F.greatest("src_id", "dst_id").alias("a"),
                F.least("src_id", "dst_id").alias("b"),
            )
            .distinct()
        )
        prev_sig: dict[str, tuple | None] = {"sig": None}

        def step_fn(E: DataFrame, step: int):
            # large-star: group the symmetrized view by u, connect big
            # neighbors to the local min. Output stays canonical (v > m).
            # sym and ls each feed TWO consumers (mins+join, mins2+join):
            # LAZY per-step persists make the single checkpoint job
            # compute each once instead of twice (no extra jobs — the
            # cache fills mid-job at the stage boundary) and are released
            # right after the materialization.
            sym = E.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
                E.select(F.col("b").alias("u"), F.col("a").alias("v"))
            ).persist()
            mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
            ls = (
                sym.join(mins.hint("shuffle_hash"), "u")
                .filter(F.col("v") > F.col("u"))
                .select(
                    F.col("v").alias("a"),
                    F.least(F.col("u"), F.col("mn")).alias("b"),
                )
                .distinct()
                .persist()
            )
            # small-star: per node a, connect a and all smaller neighbors
            # to the min smaller neighbor.
            mins2 = ls.groupBy("a").agg(F.min("b").alias("m"))
            joined = ls.join(mins2.hint("shuffle_hash"), "a")
            part1 = joined.filter(F.col("b") != F.col("m")).select(
                F.col("b").alias("a"), F.col("m").alias("b")
            )
            part2 = mins2.select(F.col("a"), F.col("m").alias("b"))
            # ONE job per superstep: the edge-set signature (count + 2
            # independent 32-bit hash sums) rides the checkpoint
            # materialization as observed metrics
            new_e, m = observed_checkpoint(
                part1.unionByName(part2).distinct(),
                n=F.count(F.lit(1)),
                h1=F.sum(F.pmod(F.xxhash64("a", "b"), F.lit(1 << 32))),
                h2=F.sum(F.pmod(F.xxhash64("b", "a", F.lit(7)), F.lit(1 << 32))),
            )
            sym.unpersist()
            ls.unpersist()
            sig = (m["n"], m["h1"], m["h2"])
            changed = 0.0 if sig == prev_sig["sig"] else 1.0
            prev_sig["sig"] = sig
            return new_e, {"changed": changed, "edges": m["n"]}

        runner = SuperstepRunner(spark, checkpoint_dir=checkpoint_dir, run_id=run_id)
        stars, steps = runner.run(
            init, step_fn, converged=lambda m: m["changed"] == 0,
            max_iter=max_iter, resume=resume,
            pre_truncated=True,  # step_fn checkpoints its own state
        )
        if steps >= max_iter and runner.history and runner.history[-1]["changed"] != 0:
            # max_iter exhausted before the star fixpoint: a satellite may
            # still hold >1 center, and the left join below would then emit
            # DUPLICATE (id, component) rows — a silently malformed labels
            # table. Collapse to one center per satellite (min preserves the
            # partial-contraction invariant: component ids only decrease)
            # and surface the truncation instead of hiding it.
            import warnings

            warnings.warn(
                f"connected_components: star fixpoint not reached in "
                f"{max_iter} supersteps; emitting one min-center per vertex "
                f"(labels may be under-merged)",
                stacklevel=2,
            )
            stars = stars.groupBy("a").agg(F.min("b").alias("b"))
        labels = (
            verts.join(stars.hint("shuffle_hash"), verts.id == stars.a, "left")
            .select("id", F.coalesce(F.col("b"), F.col("id")).alias("component"))
        )
        out = labels.localCheckpoint(eager=True)
        # the final state is superseded by `out` (the runner releases
        # only the states it replaced); with no superstep run it is the
        # lazy init over the caller's edges
        release_checkpoint(stars, protect=checkpoint_leaf_ids(edges))
    return out, steps
