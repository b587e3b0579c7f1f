"""K-truss decomposition (per-edge trussness) via the local h-index
fixpoint.

The trussness of an edge e is the largest k such that e belongs to a
subgraph where every edge is supported by >= k-2 triangles (the
k-truss). The classic peel removes the globally minimum-support edge at
a time — inherently sequential. The distributed formulation (Sariyuce,
Seshadhri, Pinar 2017, "Local algorithms for hierarchical dense
subgraph discovery": the k-truss is the (2,3)-nucleus) iterates an
h-index operator over TRIANGLE values instead:

    t_0(e)     = support(e)                (# triangles containing e)
    rho_T(e)   = min over the OTHER two edges e', e'' of T of t(e')
    t_{i+1}(e) = h-index of { rho_T(e) : triangles T containing e }

which converges monotonically DOWN to trussness(e) - 2, exactly. Every
value is an integer, so the DuckDB oracle replays bit-exactly and
over-unrolling past the fixpoint is the identity (same contract as
k-core, operators/kcore.py).

Reference scope note: the reference's graphs are DAGs with zero
triangles by construction (reference: graph.py:4-6), so this operator
is net-new per the north rule, completing the triangle family
(triangle count -> clustering coefficient -> k-core -> k-truss).

Scale shape:

* Triangles are enumerated ONCE with degree orientation
  (operators/triangles.py — per-vertex oriented out-degree is
  O(sqrt(E)) on power-law graphs, the skew control), then flattened to
  a static long-format incidence table: one row per (triangle, member
  edge), i.e. 3T rows, localCheckpointed. The per-superstep dataflow
  never re-enumerates.
* Per superstep: join the edge-value table t (E rows) onto the
  incidence cache on the canonical edge key (only t shuffles), a
  window partitioned by TRIANGLE id (every partition is EXACTLY 3
  rows — no skew is possible, unlike a per-edge triangle window,
  where a hub edge could see O(sqrt(E)) triangles) to turn member
  values into rho, then the same histogram h-index as k-core on
  (edge, rho) — map-side combined, so a hot edge's 3T-side rows are
  pre-reduced per map task.
* Convergence is a driver scalar (changed == 0); values only
  decrease, so the metric is monotone and the loop is resumable from
  any checkpointed state (SuperstepRunner).
* Zero-support edges never enter the loop: they are constantly
  trussness 2 and are unioned back at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.scale import auto_blocks
from ..plans.superstep import LoopScope, SuperstepRunner, loop_scope, observed_checkpoint
from .triangles import _closed_wedges, _simple_undirected


def _edge_incidence(und: DataFrame, scope: LoopScope) -> DataFrame:
    """Static (triangle, member-edge, rank) incidence in long format:
    (tid, eu, ev) with (eu, ev) the canonical (min, max) edge key and
    tid a deterministic per-triangle id. 3 rows per triangle.

    The closed-wedge triangles arrive in degree-oriented vertex order;
    member edges are re-canonicalized to (min, max) so they join the
    support/value tables on one key shape.
    """
    # (x, y, z) sorted vertex triple. The middle element is picked by
    # COMPARISON, not as sum-min-max: triangle vertices are distinct,
    # and the former a+b+c sum overflowed long under ANSI mode for
    # xxhash64-range vertex ids (latent until a corpus-derived graph —
    # full 64-bit ids — had any triangle; found in the r6 verify drive).
    tri = _closed_wedges(und, scope).select(
        F.least("a", "b", "c").alias("x"),
        F.when(
            (F.col("a") != F.least("a", "b", "c"))
            & (F.col("a") != F.greatest("a", "b", "c")),
            F.col("a"),
        )
        .when(
            (F.col("b") != F.least("a", "b", "c"))
            & (F.col("b") != F.greatest("a", "b", "c")),
            F.col("b"),
        )
        .otherwise(F.col("c"))
        .alias("y"),
        F.greatest("a", "b", "c").alias("z"),
    )
    tid = F.concat_ws("|", "x", "y", "z").alias("tid")
    members = [
        tri.select(tid, F.col("x").alias("eu"), F.col("y").alias("ev")),
        tri.select(tid, F.col("x").alias("eu"), F.col("z").alias("ev")),
        tri.select(tid, F.col("y").alias("eu"), F.col("z").alias("ev")),
    ]
    out = members[0]
    for m in members[1:]:
        out = out.unionByName(m)
    return out


def trussness(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 200,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 4,
    resume: bool = False,
    run_id: str = "truss",
    metrics_sink: list | None = None,
) -> tuple[DataFrame, int]:
    """Returns (truss(src_id, dst_id, trussness), supersteps_run) —
    exact per-edge trussness over the simple undirected graph
    (symmetrized, deduped, self-loops dropped). Edges in no triangle
    have trussness 2 (every edge is trivially in the 2-truss).
    """
    # the loop conf is pinned only after setup: the triangle enumeration
    # and the incidence cache run under the session conf
    with loop_scope(spark) as scope:
        und = _simple_undirected(edges)
        canon = (
            und.filter(F.col("src_id") < F.col("dst_id"))
            .select(F.col("src_id").alias("eu"), F.col("dst_id").alias("ev"))
        )
        inc_rows = _edge_incidence(und, scope)
        n_inc = inc_rows.count()
        p = num_blocks or auto_blocks(
            n_inc, spark.sparkContext.defaultParallelism
        )
        # static cache, partitioned on the join key of the per-step join
        inc = scope.cache(
            inc_rows.select(
                "tid", F.col("eu").alias("i_eu"), F.col("ev").alias("i_ev")
            )
            .repartition(p, "i_eu", "i_ev")
        )
        inc.count()

        support = inc.groupBy(
            F.col("i_eu").alias("eu"), F.col("i_ev").alias("ev")
        ).agg(F.count("*").cast("long").alias("t"))
        init = support.repartition(p, "eu", "ev")

        w_tri = Window.partitionBy("tid")
        w_hist = (
            Window.partitionBy("eu", "ev")
            .orderBy(F.col("rho").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )

        def step_fn(state: DataFrame, step: int):
            # edge values ride to the edge-partitioned static incidence;
            # exactly-3-row triangle windows turn them into rho per member
            t = state.hint("shuffle_hash")
            mem = inc.join(
                t, (inc.i_eu == t.eu) & (inc.i_ev == t.ev)
            ).select("tid", "eu", "ev", "t")
            mn = F.min("t").over(w_tri)
            n_min = F.sum(
                F.when(F.col("t") == mn, F.lit(1)).otherwise(F.lit(0))
            ).over(w_tri)
            m2 = F.min(F.when(F.col("t") > mn, F.col("t"))).over(w_tri)
            # rho = min of the OTHER two members: mn unless this member is
            # the UNIQUE minimum, in which case the second-smallest value
            rho = F.when(
                (F.col("t") > mn) | (n_min >= 2), mn
            ).otherwise(m2)
            rhos = mem.select("eu", "ev", rho.cast("long").alias("rho"))
            # histogram h-index, identical shape to kcore.py: per-(edge,
            # rho) counts with map-side combine, running f over rho DESC,
            # h = max(min(rho, f))
            hist = rhos.groupBy("eu", "ev", "rho").agg(
                F.count("*").cast("long").alias("cnt")
            )
            hidx = (
                hist.withColumn("f", F.sum("cnt").over(w_hist))
                .groupBy("eu", "ev")
                .agg(
                    F.max(F.least(F.col("rho"), F.col("f")))
                    .cast("long")
                    .alias("h")
                )
            )
            prev = state.select("eu", "ev", F.col("t").alias("prev"))
            # ONE job per superstep: changed-count rides the checkpoint
            # materialization as an observed metric; prev is dropped from
            # the checkpointed state (pagerank pattern)
            return observed_checkpoint(
                prev.join(hidx.hint("shuffle_hash"), ["eu", "ev"], "left")
                .select(
                    "eu",
                    "ev",
                    F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("t"),
                    "prev",
                ),
                select=("eu", "ev", "t"),
                changed=F.sum(F.when(F.col("t") != F.col("prev"), 1).otherwise(0)),
            )

        runner = SuperstepRunner(
            spark, checkpoint_dir=checkpoint_dir, run_id=run_id,
            checkpoint_every=checkpoint_every, metrics_sink=metrics_sink,
        )
        scope.pin(p)
        vals, steps = runner.run(
            init,
            step_fn,
            converged=lambda m: m["changed"] == 0.0,
            max_iter=max_iter,
            resume=resume,
            pre_truncated=True,
        )
    # zero-support edges re-enter here: vals (checkpointed by the
    # runner) covers exactly the support-positive edges, so the final
    # plan reads ONLY checkpointed/materialized inputs — the incidence
    # cache is released before the caller ever executes `out` (the
    # linkpred persist-lifecycle lesson, r4 VERDICT #2)
    out = canon.join(vals, ["eu", "ev"], "left").select(
        F.col("eu").alias("src_id"),
        F.col("ev").alias("dst_id"),
        (F.coalesce(F.col("t"), F.lit(0)) + F.lit(2))
        .cast("long")
        .alias("trussness"),
    )
    return out, steps
