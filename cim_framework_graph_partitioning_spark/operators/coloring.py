"""Greedy graph coloring via Jones-Plassmann priority rounds.

Jones & Plassmann (1993), derandomized with the same FIXED salted-hash
priority as operators/mis.py: each round, every uncolored vertex whose
(hash(id, seed), id) priority is a strict minimum among its UNCOLORED
neighbors takes the smallest color not used by its already-colored
neighbors. With a fixed total priority order this computes EXACTLY the
sequential greedy coloring scanning vertices in priority order — a
vertex becomes ready precisely when every higher-priority neighbor is
colored, at which point its greedy color is fully determined. That
makes the coloring deterministic, partitioning-invariant, and
replayable both by a sequential python fold and by a round-unrolled
SQL oracle (``hash_family="md5"`` — the usual cross-engine bridge).

Greedy on any order uses at most Δ+1 colors; rounds = the dependence
depth of the priority order (longest priority-descending path),
O(log n / log log n · Δ) whp for random priorities — and never more
than the longest path in the graph.

Scale shape (the MIS discipline): the symmetrized edge set is cached
hash-partitioned by e_u once; per round only the shrinking uncolored
state and the (vertex, color) table shuffle onto it. The
smallest-missing-color (mex) computation is a per-ready-vertex fold
over its colored-neighbor color set via ``aggregate`` over a sorted
``collect_set`` — bounded by the vertex's degree, no per-row Python.
The one structural caveat: a mega-hub's color set lands in one
``collect_set`` row — bounded by Δ ≤ distinct colors ≤ Δ+1, which is
itself the algorithm's output range, so the row is at most
(distinct colors) longs, not degree-sized.

No reference precedent (the reference never colors); net-new per the
link-graph north rule — coloring is the classic scheduling primitive
on dependency graphs (registers, parallel task batches), and the same
primitive the partitioner's move-selection uses implicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.scale import auto_blocks
from ..plans.superstep import SuperstepRunner, loop_scope, observed_checkpoint
from .mis import _prio_hash


def greedy_coloring(
    spark: SparkSession,
    edges: DataFrame,
    seed: int = 42,
    hash_family: str = "xxhash64",
    max_iter: int = 500,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 4,
    resume: bool = False,
    run_id: str = "coloring",
) -> tuple[DataFrame, int]:
    """Returns (coloring(id, color), supersteps_run) — a proper vertex
    coloring with colors 0..Δ, equal to the sequential greedy coloring
    in (hash, id) priority order.

    The input is treated as undirected; self-loops are dropped
    (simple-graph convention, same as MIS). Isolated vertices get 0.
    """
    p = num_blocks or auto_blocks(
        edges.count(), spark.sparkContext.defaultParallelism
    )
    # loop conf BEFORE setup (pagerank discipline)
    with loop_scope(spark, p) as scope:
        # ONE exchange: repartition by the probe key e_u, dedup in place
        # (hash(e_u) clusters every (e_v, e_u) group — kcore pattern)
        _e = edges.select("src_id", "dst_id").filter(
            F.col("src_id") != F.col("dst_id")
        )
        und = scope.cache(
            _e.select(F.col("src_id").alias("e_v"), F.col("dst_id").alias("e_u"))
            .unionByName(
                _e.select(F.col("dst_id").alias("e_v"), F.col("src_id").alias("e_u"))
            )
            .repartition(p, "e_u")
            .dropDuplicates(["e_v", "e_u"])
        )
        und.count()

        verts = (
            edges.select(F.col("src_id").alias("id"))
            .unionByName(edges.select(F.col("dst_id").alias("id")))
            .distinct()
        )
        init = verts.select(
            "id",
            _prio_hash(seed, hash_family).alias("h"),
            F.lit(None).cast("int").alias("color"),
        )

        def step_fn(state: DataFrame, step: int):
            uncol = state.filter(F.col("color").isNull())
            # min priority among UNCOLORED neighbors, riding the cache
            u = uncol.select("id", "h").hint("shuffle_hash")
            nbr_min = (
                u.join(und, u.id == und.e_u)
                .select(
                    F.col("e_v").alias("v"),
                    F.struct(F.col("h"), F.col("id")).alias("nprio"),
                )
                .groupBy("v")
                .agg(F.min("nprio").alias("min_nprio"))
            )
            ready = (
                uncol.join(nbr_min.hint("shuffle_hash"),
                           uncol.id == nbr_min.v, "left")
                .filter(
                    F.col("min_nprio").isNull()
                    | (F.struct(F.col("h"), F.col("id")) < F.col("min_nprio"))
                )
                .select("id")
            )
            # smallest color unused by already-COLORED neighbors: fold over
            # the sorted distinct neighbor-color set (mex of a sorted set)
            colored = state.filter(F.col("color").isNotNull()).select(
                F.col("id").alias("e_u"), "color"
            ).hint("shuffle_hash")
            r = ready.select(F.col("id").alias("e_v")).hint("shuffle_hash")
            nbr_colors = (
                r.join(und, "e_v")
                .join(colored, "e_u")
                .groupBy("e_v")
                .agg(F.collect_set("color").alias("cs"))
            )
            new_colors = (
                ready.join(nbr_colors, ready.id == nbr_colors.e_v, "left")
                .select(
                    "id",
                    F.aggregate(
                        F.array_sort(
                            F.coalesce(F.col("cs"), F.array().cast("array<int>"))
                        ),
                        F.lit(0),
                        lambda acc, x: F.when(x == acc, acc + 1).otherwise(acc),
                    ).cast("int").alias("new_color"),
                )
            )
            # ONE job per superstep: uncolored-count rides the checkpoint
            return observed_checkpoint(
                state.join(new_colors, "id", "left")
                .select(
                    "id", "h",
                    F.coalesce(F.col("color"), F.col("new_color")).alias("color"),
                ),
                uncolored=F.sum(F.when(F.col("color").isNull(), 1).otherwise(0)),
            )

        runner = SuperstepRunner(
            spark, checkpoint_dir=checkpoint_dir, run_id=run_id,
            checkpoint_every=checkpoint_every,
        )
        state, steps = runner.run(
            init, step_fn, converged=lambda m: m["uncolored"] == 0,
            max_iter=max_iter, resume=resume,
            pre_truncated=True,  # step_fn checkpoints its own state
        )
    return state.select("id", "color"), steps
