"""Katz centrality and SALSA as iterative DataFrame supersteps.

Two more members of the link-analysis family (alongside PageRank and
HITS — the reference's dependency graphs are directed, reference graph
construction: /root/reference/graph.py:12-23, so attenuated-path and
bipartite-walk scores are meaningful on them):

* **Katz centrality** (Katz 1953): x_{i+1}(v) = beta + alpha * sum over
  edges (u, v) of w(u, v) * x_i(u) — the attenuated count of all walks
  ending at v. Converges to the closed form (I - alpha*A^T)^-1 * beta*1
  when alpha < 1/lambda_max; the iterative form here supports both a
  fixed-step truncation (tol=0.0, exact SQL-replayable) and dynamic
  stop on the L-inf delta.
* **SALSA** (Lempel & Moran 2000): HITS' random-walk cousin — hub and
  authority chains are the two-step stochastic walks on the bipartite
  support graph. One superstep:

      a_i(v)     = sum over (u, v) of h_i(u)     * w(u, v) / wout(u)
      h_{i+1}(u) = sum over (u, v) of a_i(v)     * w(u, v) / win(v)

  Both transitions are column-stochastic, so starting from the uniform
  distribution over source-side vertices every iterate is exactly
  L1-normalized — no per-step norm scalar, one fewer barrier than
  HITS, and the SQL oracle replays the same dataflow verbatim.

Scale shape (same discipline as pagerank.py / hits.py):

* The edge table is normalized ONCE (fractions w/wout and w/win are
  static) and cached hash-partitioned by the join key of its half-step
  — src_id for the forward (authority / Katz) pass, dst_id for the hub
  pass — so only the score table shuffles per superstep; the static
  100-TB edge cache is never re-exchanged.
* shuffle_hash hints pin SHJ (no per-step re-sort of the cache).
* Per-superstep driver traffic is one L-inf delta scalar; state is
  localCheckpointed via SuperstepRunner (durable checkpoints +
  per-partition lineage + metrics → resumable mid-convergence, north
  rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.scale import auto_blocks
from ..plans.barrier import checkpoint_leaf_ids, release_checkpoint
from ..plans.superstep import SuperstepRunner, local_rows, loop_scope, observed_checkpoint


def katz_centrality(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = 0.005,
    beta: float = 1.0,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 8,
    resume: bool = False,
    run_id: str = "katz",
    metrics_sink: list | None = None,
) -> tuple[DataFrame, int]:
    """Returns (scores(id, katz), supersteps_run).

    ``tol=0.0`` runs exactly ``max_iter`` supersteps (the fixed-step
    truncation the SQL oracle unrolls); otherwise stops at L-inf delta
    < tol. Caller is responsible for alpha < 1/lambda_max when running
    to convergence (divergence shows up as a growing delta — the
    metrics sink makes it visible, and max_iter bounds the loop).
    """
    sc = spark.sparkContext
    p = num_blocks or auto_blocks(edges.count(), sc.defaultParallelism)

    # loop conf BEFORE setup
    with loop_scope(spark, p) as scope:
        verts = scope.cache(
            edges.select(F.col("src_id").alias("id"))
            .unionByName(edges.select(F.col("dst_id").alias("id")))
            .distinct()
        )
        n = verts.count()
        if n == 0:
            return local_rows(spark, [], "id long, katz double"), 0
        e_by_src = scope.cache(
            edges.select("src_id", "dst_id", "weight").repartition(p, "src_id")
        )
        e_by_src.count()

        init = verts.select("id", F.lit(beta).alias("katz"))

        def step_fn(state: DataFrame, step: int):
            x = state.select("id", "katz").hint("shuffle_hash")
            sums = (
                x.join(e_by_src, x.id == e_by_src.src_id)
                .select("dst_id", (F.col("katz") * F.col("weight")).alias("c"))
                .groupBy("dst_id")
                .agg(F.sum("c").alias("s"))
            )
            # the state IS the vertex table — one left join with the
            # sums carries prev along; delta rides the checkpoint as an
            # observed metric (one job per superstep, pagerank pattern)
            return observed_checkpoint(
                state.join(sums.hint("shuffle_hash"), state.id == sums.dst_id, "left")
                .select(
                    "id",
                    (
                        F.lit(beta)
                        + F.lit(alpha) * F.coalesce(F.col("s"), F.lit(0.0))
                    ).alias("katz"),
                    F.col("katz").alias("prev"),
                ),
                select=("id", "katz"),
                max_delta=F.max(F.abs(F.col("katz") - F.col("prev"))),
            )

        runner = SuperstepRunner(
            spark, checkpoint_dir=checkpoint_dir, run_id=run_id,
            checkpoint_every=checkpoint_every, metrics_sink=metrics_sink,
        )
        scores, steps = runner.run(
            init,
            step_fn,
            converged=lambda m: m["max_delta"] < tol,
            max_iter=max_iter,
            resume=resume,
            pre_truncated=True,
        )
    return scores.select("id", "katz"), steps


def salsa(
    spark: SparkSession,
    edges: DataFrame,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 8,
    resume: bool = False,
    run_id: str = "salsa",
    metrics_sink: list | None = None,
) -> tuple[DataFrame, int]:
    """Returns (scores(id, hub, auth), supersteps_run).

    hub is a distribution over vertices with out-edges, auth over
    vertices with in-edges (each sums to exactly 1 in exact
    arithmetic); vertices on neither side are omitted — SALSA is
    defined on the bipartite support graph. ``tol=0.0`` runs exactly
    ``max_iter`` supersteps (the SQL-oracle truncation).
    """
    sc = spark.sparkContext
    p = num_blocks or auto_blocks(edges.count(), sc.defaultParallelism)

    # loop conf BEFORE setup
    with loop_scope(spark, p) as scope:
        e = edges.select("src_id", "dst_id", "weight")
        # static normalized transition fractions via a window over the
        # exchange each cache needs anyway (one exchange per side; the
        # former groupBy+join+repartition chains paid two more each) —
        # cached partitioned by the join key of their half-step
        e_fwd = scope.cache(
            e.repartition(p, "src_id")
            .select(
                "src_id", "dst_id",
                (F.col("weight") / F.sum("weight").over(
                    Window.partitionBy("src_id")
                )).alias("fo"),
            )
        )
        e_bwd = scope.cache(
            e.repartition(p, "dst_id")
            .select(
                "src_id", "dst_id",
                (F.col("weight") / F.sum("weight").over(
                    Window.partitionBy("dst_id")
                )).alias("fi"),
            )
        )
        e_fwd.count()
        e_bwd.count()

        srcs = e.select("src_id").distinct()
        n_src = srcs.count()
        if n_src == 0:
            return local_rows(spark, [], "id long, hub double, auth double"), 0
        init = srcs.select(
            F.col("src_id").alias("id"), F.lit(1.0 / n_src).alias("hub")
        )

        def step_fn(state: DataFrame, step: int):
            h = state.select("id", "hub").hint("shuffle_hash")
            a_tbl = (
                h.join(e_fwd, h.id == e_fwd.src_id)
                .select("dst_id", (F.col("hub") * F.col("fo")).alias("c"))
                .groupBy("dst_id")
                .agg(F.sum("c").alias("auth"))
                .select(F.col("dst_id").alias("id"), "auth")
                .localCheckpoint(eager=True)  # job 1: auth feeds the hub pass
            )
            a = a_tbl.hint("shuffle_hash")
            h_tbl = (
                a.join(e_bwd, a.id == e_bwd.dst_id)
                .select("src_id", (F.col("auth") * F.col("fi")).alias("c"))
                .groupBy("src_id")
                .agg(F.sum("c").alias("hub"))
                .select(F.col("src_id").alias("id"), "hub")
            )
            prev = state.select("id", F.col("hub").alias("prev_hub"))
            # job 2: checkpoint with the delta riding as an observed
            # metric — the former third job (delta agg) is gone
            new, m = observed_checkpoint(
                h_tbl.join(prev, "id", "left"),
                select=("id", "hub"),
                max_delta=F.max(
                    F.abs(F.col("hub") - F.coalesce(F.col("prev_hub"), F.lit(0.0)))
                ),
            )
            release_checkpoint(a_tbl)  # consumed by the materialized new
            return new, m

        # State is the hub distribution only (auth lives on the OTHER
        # bipartite side — a per-step full-outer merge would add a barrier
        # for nothing). The returned auth is the forward half-step induced
        # by the FINAL hubs — one extra constant-cost pass after the loop;
        # the SQL oracle replays this exact contract.
        runner = SuperstepRunner(
            spark, checkpoint_dir=checkpoint_dir, run_id=run_id,
            checkpoint_every=checkpoint_every, metrics_sink=metrics_sink,
        )
        hubs, steps = runner.run(
            init,
            step_fn,
            converged=lambda m: m["max_delta"] < tol,
            max_iter=max_iter,
            resume=resume,
            pre_truncated=True,
        )
        # final auth = one forward half-step over the converged hubs
        hh = hubs.select("id", "hub").hint("shuffle_hash")
        auth = (
            hh.join(e_fwd, hh.id == e_fwd.src_id)
            .select("dst_id", (F.col("hub") * F.col("fo")).alias("c"))
            .groupBy("dst_id")
            .agg(F.sum("c").alias("auth"))
            .select(F.col("dst_id").alias("id"), "auth")
        )
        out = (
            hubs.select("id", "hub")
            .join(auth, "id", "full_outer")
            .select(
                "id",
                F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
                F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
            )
            .localCheckpoint(eager=True)
        )
        # the final hubs are superseded by `out`; with no superstep run
        # they are the lazy init over the caller's edges
        release_checkpoint(hubs, protect=checkpoint_leaf_ids(edges))
    return out, steps
