"""Strongly connected components via the distributed coloring
algorithm (Orzan 2004; Slota, Rajamanickam & Madduri 2014).

The reference's graphs are DAG-shaped by construction, but real
link/dependency graphs contain cycles (mutual imports), and every
cycle-aware analysis (condensation, cycle detection, dependency-order
scheduling) starts with SCCs. Tarjan's algorithm is inherently
sequential (DFS); the data-parallel formulation iterates two
diameter-bounded fixpoints per round:

  1. COLOR: color(v) := (xxhash64(v, salt), v); propagate
     color(dst) = max(color(dst), color(src)) along edges to fixpoint.
     Every vertex ends up colored by the max-PRIORITY vertex that
     reaches it, where priority is the salted hash with the raw id as
     a collision-free lexicographic tiebreak (the pair is unique per
     vertex, so correctness never rides on hash collisions).
  2. CONTAIN: the root of color c is the vertex whose own pair == c.
     The SCC of that root is exactly the set of vertices
     backward-reachable from the root THROUGH SAME-COLOR vertices
     (they reach the root by color construction; the root reaches them
     back along the reversed path — mutual reachability).
  3. PEEL: emit those SCCs, remove them, repeat on the remainder.

Rounds needed = length of the longest root-chain in the condensation
actually hit by max-coloring. Hashed priorities (r4 ADVICE) make that
chain O(log n) in expectation on ANY dag shape — raw-id coloring
degraded to one round per VERTEX on a path whose ids descend along
edge direction (the treap argument: the root chain is the right spine
of a random-priority tree). ``max_rounds`` caps it and raises rather
than silently truncating (same contract style as components.py's
truncation guard).

Returned scc_id = MIN member id (decoupled from the algorithm's
max-id root; matches connected_components' labeling convention).

Scale shape: all three phases are keyed joins/aggregations over the
remaining-edge table, re-persisted per round hash-partitioned by
src_id; only (id, color[, flag]) state shuffles inside the fixpoints;
plan lineage is truncated via PlanBarrier. No driver-side collect
carries vertex data — convergence metrics are scalar counts.

Two fixpoint-loop cost controls (both matter because iterations are
diameter-bounded, so a 25-cycle costs ~25 tiny Spark jobs if done
naively):

* block count auto-scales to the live vertex count (``num_blocks``
  overrides): a 16k-vertex fixpoint on 16 shuffle partitions is pure
  task-scheduling overhead, while the same code on a 10^11-vertex
  graph picks the parallelism the data needs.
* ``fuse_steps`` propagation steps run LAZILY per materialization:
  one Spark job executes B chained join-steps, then a single
  count + PlanBarrier cut. Monotone max-propagation makes overshoot
  harmless (steps past the fixpoint are no-ops on empty frontiers),
  so convergence is checked on the last fused step only. Within a
  segment each step references its predecessor twice (state join +
  candidate build), so un-reused work DOUBLES per fused step —
  measured: fuse=2 halves wall clock vs fuse=1, fuse=4 is already
  slower than fuse=1 (2^B recompute beats the job-count saving).
  Keep fuse_steps at 2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.barrier import PlanBarrier, release_checkpoint
from ..plans.scale import auto_blocks
from ..plans.superstep import LoopScope, local_rows, loop_scope, observed_checkpoint


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 64,
    max_iter: int = 10_000,
    num_blocks: int | None = None,
    salt: int = 0x5CC,
    fuse_steps: int = 2,
    rows_per_block: int = 50_000,
) -> DataFrame:
    """Returns (id, scc_id) for every vertex appearing in ``edges``;
    scc_id = min id in the vertex's strongly connected component.
    Self-loops don't affect the decomposition (a self-loop-only vertex
    is its own singleton SCC)."""
    with loop_scope(spark) as scope:
        # vertex set from the UNFILTERED edges (self-loop-only vertices
        # must still appear, as singletons); the working edge table drops
        # self-loops (they never change strong connectivity).
        e_all = scope.cache(
            edges.select("src_id", "dst_id")
            .filter(F.col("src_id") != F.col("dst_id"))
            .distinct()
        )
        verts = (
            edges.select(F.col("src_id").alias("id"))
            .unionByName(edges.select(F.col("dst_id").alias("id")))
            .distinct()
        )
        p = num_blocks or auto_blocks(
            verts.count(),
            spark.sparkContext.defaultParallelism,
            rows_per_block=rows_per_block,
        )
        remaining = scope.checkpoint(verts.repartition(p, "id"))

        # loop conf: AQE off (per-iteration driver replanning, measured
        # 2.3x/step on the pagerank loop) and shuffle partitions = p (the
        # fixpoint joins otherwise exchange at the session-global count —
        # pure task overhead for a small remainder graph)
        scope.pin(p)
        result = _scc_rounds(
            scope, e_all, remaining, max_rounds, max_iter, p, salt, fuse_steps
        )
    if result is None:
        return local_rows(spark, [], "id long, scc_id long")
    # relabel: scc_id = min member id (algorithm-independent contract)
    relabel = result.groupBy("color").agg(F.min("id").alias("scc_id"))
    return result.join(relabel, "color").select("id", "scc_id")


def _scc_rounds(
    scope: LoopScope,
    e_all: DataFrame,
    remaining: DataFrame,
    max_rounds: int,
    max_iter: int,
    p: int,
    salt: int,
    fuse_steps: int,
) -> DataFrame | None:
    """The peel loop of strongly_connected_components. Its per-round
    checkpoints are owned by ``scope``; only the returned result is not."""
    barrier = PlanBarrier(scope.spark, tag="scc")
    result: DataFrame | None = None
    rounds = 0
    while remaining.limit(1).count() > 0:
        rounds += 1
        if rounds > max_rounds:
            raise RuntimeError(f"scc: not done after {max_rounds} rounds")
        # TWO cached copies of the (shrinking) remainder edge table,
        # partitioned by each fixpoint's probe key: the forward color
        # pass joins on src_id, the backward reach pass on dst_id — the
        # former single src-keyed cache forced a full er re-exchange on
        # EVERY backward segment (hits.py discipline).
        er = (
            e_all.join(remaining.withColumnRenamed("id", "src_id"), "src_id")
            .join(remaining.withColumnRenamed("id", "dst_id"), "dst_id")
            .select("src_id", "dst_id")
            .repartition(p, "src_id")
            .persist()
        )
        er.count()
        # lazy: the first backward segment materializes this cache inside
        # its own job (an eager count here was one extra job per round)
        er_by_dst = er.repartition(p, "dst_id").persist()

        # -- phase 1: forward max-color propagation to fixpoint,
        # frontier-based: max() is monotone, so only vertices whose
        # color ROSE last iteration need to re-propagate. Colors are
        # (salted-hash, id) structs: Spark orders/aggregates structs
        # lexicographically, so max-propagation, root detection, and
        # equality all work unchanged while priorities are
        # id-ordering-independent (see module docstring).
        own_color = F.struct(
            F.xxhash64(F.col("id"), F.lit(salt)).alias("h"),
            F.col("id").alias("i"),
        )
        color = scope.checkpoint(remaining.select(
            "id", own_color.alias("color"), F.lit(True).alias("chg")
        ))

        def color_step(state: DataFrame) -> DataFrame:
            frontier = state.filter(F.col("chg")).select("id", "color")
            cand = (
                frontier.hint("shuffle_hash")
                .join(er, frontier.id == er.src_id)
                .groupBy(F.col("dst_id").alias("cid"))
                .agg(F.max("color").alias("cand"))
            )
            return state.join(
                cand.hint("shuffle_hash"), state.id == cand.cid, "left"
            ).select(
                "id",
                F.greatest(
                    F.col("color"), F.coalesce(F.col("cand"), F.col("color"))
                ).alias("color"),
                (
                    F.col("cand").isNotNull() & (F.col("cand") > F.col("color"))
                ).alias("chg"),
            )

        for _i in range(max_iter):
            seg = color
            for _b in range(fuse_steps):
                seg = color_step(seg)
            # ONE job per segment: the changed-count rides the barrier
            # cut's materialization as an observed metric (the former
            # persist+count+cut pair materialized the segment twice)
            color, m = observed_checkpoint(
                seg, cut=barrier.cut, n=F.sum(F.when(F.col("chg"), 1).otherwise(0))
            )
            if m["n"] == 0:
                break
        else:
            raise RuntimeError("scc: color propagation did not converge")

        # -- phase 2: backward reachability from roots within color.
        # A vertex v joins when some edge (v, u) has u already marked
        # AND color(u) == color(v); marks only ever spread inside one
        # color class, so the flag is a plain boolean. Frontier-based
        # (same trick as paths.py's delta Bellman-Ford): only marks
        # gained LAST iteration propagate, so total backward-join work
        # is one pass over each SCC's in-edges, not diameter passes.
        reach = scope.checkpoint(color.select(
            "id",
            "color",
            (own_color == F.col("color")).alias("in_scc"),
            (own_color == F.col("color")).alias("frontier"),
        ))
        def reach_step(state: DataFrame) -> DataFrame:
            marked = state.filter(F.col("frontier")).select(
                F.col("id").alias("m_id"), F.col("color").alias("m_color")
            )
            # candidate hits, deduped BEFORE the state join so the
            # state stays one-row-per-vertex even when a vertex sees
            # marked out-neighbors of several colors
            newly = (
                er_by_dst.join(
                    marked.hint("shuffle_hash"), er_by_dst.dst_id == marked.m_id
                )
                .join(
                    state.select("id", F.col("color").alias("v_color")),
                    er_by_dst.src_id == F.col("id"),
                )
                .filter(F.col("m_color") == F.col("v_color"))
                .select("id")
                .distinct()
                .withColumn("_hit", F.lit(True))
            )
            return state.join(newly.hint("shuffle_hash"), "id", "left").select(
                "id",
                "color",
                (F.col("in_scc") | F.coalesce(F.col("_hit"), F.lit(False))).alias("in_scc"),
                (
                    F.coalesce(F.col("_hit"), F.lit(False)) & ~F.col("in_scc")
                ).alias("frontier"),
            )

        for _i in range(max_iter):
            seg = reach
            for _b in range(fuse_steps):
                seg = reach_step(seg)
            reach, m = observed_checkpoint(
                seg, cut=barrier.cut,
                n=F.sum(F.when(F.col("frontier"), 1).otherwise(0)),
            )
            if m["n"] == 0:
                break
        else:
            raise RuntimeError("scc: backward reachability did not converge")

        scope.own(reach)  # the last cut stays live in the barrier
        chunk = scope.checkpoint(reach.filter(F.col("in_scc")).select("id", "color"))
        superseded = result
        result = chunk if result is None else result.unionByName(chunk)
        result = result.localCheckpoint(eager=True)
        release_checkpoint(superseded)
        remaining = scope.checkpoint(
            remaining.join(chunk.select("id"), "id", "left_anti")
            .repartition(p, "id")
        )
        er.unpersist()
        er_by_dst.unpersist()

    return result
