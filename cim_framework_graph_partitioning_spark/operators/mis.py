"""Maximal independent set (MIS) via priority-parallel greedy rounds.

Luby-style MIS with a FIXED salted-hash priority (the derandomized
variant): each round, every undecided vertex whose priority is a strict
local minimum among its undecided neighbors joins the set; its
neighbors are excluded; repeat until no vertex is undecided. Priorities
are unique by construction — (hash(id, seed), id) lexicographic — so
"strict local minimum" is well-defined and two adjacent vertices can
never join in the same round.

Correctness anchor (what the oracle replays): with a fixed total
priority order, the round-parallel local-minimum rule computes EXACTLY
the lexicographically-first MIS — the set the sequential greedy
produces scanning vertices in priority order and keeping each vertex
iff none of its already-kept neighbors precede it. Each parallel round
settles precisely the prefix of decisions that are already forced, so
the fixpoints coincide. That makes the operator deterministic,
partitioning-invariant, engine-replicable, and checkable by a
sequential replay in DuckDB (``hash_family="md5"`` — same
hash-family-parameterization trick as minhash/walks; the engine
default stays xxhash64).

Rounds: O(log² n) whp for random priorities (Blelloch, Fineman, Shun
2012 analyze exactly this greedy-on-random-order dependence depth);
the global minimum always joins, so progress is guaranteed.

Scale shape: the symmetrized edge set is cached hash-partitioned by
e_u once; each round joins the undecided (id, h) state (score-sized,
shrinking) onto that static cache, takes a min per e_v — shuffles only
state-sized data — and updates a three-valued status column in place.
No adjacency is ever re-exchanged; the state is one row per vertex.
No reference precedent (the reference's DAGs never need independent
sets); net-new per the link-graph north rule, and the same primitive
the partitioner's move-coloring step uses implicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.scale import auto_blocks
from ..plans.superstep import SuperstepRunner, loop_scope, observed_checkpoint
from .edges import probe_edges, vertex_set

UNDECIDED, IN_MIS, EXCLUDED = 0, 1, 2


def _prio_hash(seed: int, hash_family: str) -> F.Column:
    """Non-negative long hash of (seed, id) — the MIS priority."""
    if hash_family == "xxhash64":
        return F.xxhash64(F.lit(seed), F.col("id"))
    if hash_family == "md5":
        s = F.concat_ws(":", F.lit(str(seed)), F.col("id").cast("string"))
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_family {hash_family!r}")


def maximal_independent_set(
    spark: SparkSession,
    edges: DataFrame,
    seed: int = 42,
    hash_family: str = "xxhash64",
    max_iter: int = 200,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 4,
    resume: bool = False,
    run_id: str = "mis",
) -> tuple[DataFrame, int]:
    """Returns (membership(id, in_mis), supersteps_run).

    The input is treated as undirected; self-loops are dropped (a
    self-looped vertex is its own neighbor under neither the greedy nor
    the independence predicate — standard simple-graph convention).
    Isolated vertices always join.
    """
    p = num_blocks or auto_blocks(
        edges.count(), spark.sparkContext.defaultParallelism
    )
    # loop conf BEFORE setup (same discipline as pagerank): the cached
    # static table and init land on hash(key, p) partitioning and every
    # per-step exchange is sized to the data, not the session.
    with loop_scope(spark, p) as scope:
        und = scope.cache(probe_edges(edges, p))  # one exchange: see probe_edges
        und.count()

        # endpoints of the RAW edge table: a vertex with only a self-loop
        # vanishes from `und` but still exists (isolated ⇒ joins the MIS);
        # under the pinned conf the distinct lands on hash(id, p)
        init = vertex_set(edges).select(
            "id",
            _prio_hash(seed, hash_family).alias("h"),
            F.lit(UNDECIDED).cast("int").alias("status"),
        )

        def step_fn(state: DataFrame, step: int):
            undec = state.filter(F.col("status") == UNDECIDED)
            # priority of every undecided neighbor, riding the cached
            # e_u-partitioned edges: only the shrinking state shuffles
            u = undec.select("id", "h").hint("shuffle_hash")
            nbr = u.join(und, u.id == und.e_u).select(
                F.col("e_v").alias("v"),
                F.struct(F.col("h"), F.col("id")).alias("nprio"),
            )
            nbr_min = nbr.groupBy("v").agg(F.min("nprio").alias("min_nprio"))
            # joiners feeds TWO consumers (the status update and the
            # exclusion propagation): a LAZY per-step persist makes the
            # single checkpoint job compute the local-min subtree once
            # instead of twice (released right after materialization)
            joiners = (
                undec.join(nbr_min.hint("shuffle_hash"),
                           undec.id == nbr_min.v, "left")
                .filter(
                    F.col("min_nprio").isNull()
                    | (F.struct(F.col("h"), F.col("id")) < F.col("min_nprio"))
                )
                .select("id")
                .persist()
            )
            # neighbors of joiners (strict minima ⇒ never joiners themselves)
            j = joiners.select(F.col("id").alias("e_u")).hint("shuffle_hash")
            excluded = (
                und.join(j, "e_u").select(F.col("e_v").alias("id")).distinct()
            )
            # ONE job per superstep: the undecided count rides the
            # checkpoint materialization as an observed metric
            new_state, m = observed_checkpoint(
                state.join(joiners.withColumn("_j", F.lit(1)), "id", "left")
                .join(excluded.withColumn("_x", F.lit(1)), "id", "left")
                .select(
                    "id", "h",
                    F.when(F.col("status") != UNDECIDED, F.col("status"))
                    .when(F.col("_j") == 1, F.lit(IN_MIS))
                    .when(F.col("_x") == 1, F.lit(EXCLUDED))
                    .otherwise(F.lit(UNDECIDED))
                    .cast("int")
                    .alias("status"),
                ),
                undecided=F.sum(F.when(F.col("status") == UNDECIDED, 1).otherwise(0)),
            )
            joiners.unpersist()
            return new_state, m

        runner = SuperstepRunner(
            spark, checkpoint_dir=checkpoint_dir, run_id=run_id,
            checkpoint_every=checkpoint_every,
        )
        state, steps = runner.run(
            init, step_fn, converged=lambda m: m["undecided"] == 0,
            max_iter=max_iter, resume=resume,
            pre_truncated=True,  # step_fn checkpoints its own state
        )
    return (
        state.select("id", (F.col("status") == IN_MIS).alias("in_mis")),
        steps,
    )
