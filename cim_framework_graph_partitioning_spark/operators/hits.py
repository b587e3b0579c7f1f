"""HITS (hubs & authorities) as iterative DataFrame supersteps.

Kleinberg's algorithm generalized to weighted edges — the natural
companion to PageRank for a link-graph engine (the reference's
dependency graphs are directed, so hub/authority structure is
meaningful: a build-orchestration file is a hub, a widely-imported
utility is an authority; reference graph construction:
/root/reference/graph.py:12-23).

Update rule per superstep (weighted, L2-normalized — the classic
formulation):

    a_raw(v) = sum over edges (u, v) of hub(u) * w(u, v)
    auth     = a_raw / ||a_raw||_2
    t_raw(u) = sum over edges (u, v) of a_raw(v) * w(u, v)
    hub      = t_raw / ||t_raw||_2

``t_raw`` deliberately consumes the UN-normalized ``a_raw``: the L2
norm is a scalar, so hub = E @ (a_raw / na) / ||E @ (a_raw / na)|| =
t_raw / ||t_raw|| — one fewer normalization barrier per superstep,
bit-identical result (both the SQL oracle and the numpy test oracle
mirror this exact dataflow).

Scale shape (same discipline as pagerank.py):

* TWO cached copies of the edge table, hash-partitioned by src_id and
  by dst_id respectively — each half-step joins the (small) score
  table against a pre-exchanged static side, so only scores shuffle
  per superstep. The 2x static cache is the price of never
  re-exchanging the 100-TB edge table; columnar caching makes it
  cheap relative to a per-step exchange.
* shuffle_hash hints keep the cached edge partitions from being
  re-sorted under sort-merge-join every superstep.
* The L2 norms are driver scalars; they re-enter the plan via a 1-row
  broadcast table (NOT literals — per-step literals defeat the
  whole-stage-codegen cache, a measured serial recompile per step).
* Per superstep: two localCheckpoint materializations (a_raw, then the
  joined state) + one norm agg + one delta agg — all bounded
  full-vertex scans; no driver-side collect grows with the graph.
* SuperstepRunner provides durable checkpoints + per-partition lineage
  + metrics, so a run is resumable mid-convergence (north rule).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.scale import auto_blocks
from ..plans.barrier import release_checkpoint
from ..plans.superstep import LoopScope, SuperstepRunner, local_rows, loop_scope, observed_checkpoint


def hits(
    spark: SparkSession,
    edges: DataFrame,
    tol: float = 1e-6,
    max_iter: int = 100,
    num_blocks: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 4,
    resume: bool = False,
    run_id: str = "hits",
    metrics_sink: list | None = None,
) -> tuple[DataFrame, int]:
    """Returns (scores(id, hub, auth), supersteps_run).

    Converges when max(L-inf delta of hub, L-inf delta of auth) < tol.
    Hub and auth vectors are each unit-L2-normalized.
    """
    sc = spark.sparkContext
    p = num_blocks or auto_blocks(edges.count(), sc.defaultParallelism)

    # loop conf BEFORE setup (same discipline as pagerank): the cached
    # static tables and the init land on hash(key, p) directly
    with loop_scope(spark, p) as scope:
        return _hits_inner(
            scope, edges, tol, max_iter, p, checkpoint_dir, checkpoint_every,
            resume, run_id, metrics_sink,
        )


def _hits_inner(
    scope: LoopScope,
    edges: DataFrame,
    tol: float,
    max_iter: int,
    p: int,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume: bool,
    run_id: str,
    metrics_sink: list | None,
) -> tuple[DataFrame, int]:
    spark = scope.spark
    verts = scope.cache(
        edges.select(F.col("src_id").alias("id"))
        .unionByName(edges.select(F.col("dst_id").alias("id")))
        .distinct()
    )
    n = verts.count()
    if n == 0:
        return local_rows(spark, [], "id long, hub double, auth double"), 0

    e = edges.select("src_id", "dst_id", "weight")
    # lazy caches: step 1's two matvec jobs materialize each inside the
    # job that first scans it (two eager setup counts were two extra jobs)
    e_by_src = scope.cache(e.repartition(p, "src_id"))
    e_by_dst = scope.cache(e.repartition(p, "dst_id"))

    init = verts.select(
        "id",
        F.lit(1.0 / math.sqrt(n)).alias("hub"),
        F.lit(0.0).alias("auth"),
    )

    def step_fn(state: DataFrame, step: int):
        # -- auth half-step: scores shuffle to the src-partitioned edges
        h = state.select("id", "hub").hint("shuffle_hash")
        a_contribs = h.join(e_by_src, h.id == e_by_src.src_id).select(
            "dst_id", (F.col("hub") * F.col("weight")).alias("c")
        )
        a_sums = a_contribs.groupBy("dst_id").agg(F.sum("c").alias("a_raw"))
        # the state IS the vertex table: joining it (instead of a
        # separate verts cache) carries prev_hub/prev_auth along for
        # free, so the former third join against prev is gone.
        a_tbl = (
            state.join(
                a_sums.hint("shuffle_hash"), state.id == a_sums.dst_id, "left"
            )
            .select(
                "id",
                F.coalesce(F.col("a_raw"), F.lit(0.0)).alias("a_raw"),
                F.col("hub").alias("prev_hub"),
                F.col("auth").alias("prev_auth"),
            )
            .localCheckpoint(eager=True)  # job 1: a_raw feeds two consumers
        )

        # -- hub half-step over the UN-normalized a_raw
        a = a_tbl.select("id", "a_raw").hint("shuffle_hash")
        t_contribs = a.join(e_by_dst, a.id == e_by_dst.dst_id).select(
            "src_id", (F.col("a_raw") * F.col("weight")).alias("c")
        )
        t_sums = t_contribs.groupBy("src_id").agg(F.sum("c").alias("t_raw"))
        raw = (
            a_tbl.join(t_sums.hint("shuffle_hash"),
                       a_tbl.id == t_sums.src_id, "left")
            .select(
                a_tbl.id,
                "a_raw",
                F.coalesce(F.col("t_raw"), F.lit(0.0)).alias("t_raw"),
                "prev_hub",
                "prev_auth",
            )
            .localCheckpoint(eager=True)  # job 2: raw state for 2 consumers
        )

        # both L2 norms ride a 1-row BROADCAST AGG over the checkpointed
        # raw state — in-plan, so there is no per-step norm collect and
        # no per-step createDataFrame driver RPC (F.sqrt and the python
        # math.sqrt it replaces are both IEEE correctly-rounded, so
        # scores are bit-identical). Degenerate norms (edgeless after
        # filtering) score to exact zeros via the when-guards.
        norm_df = F.broadcast(
            raw.agg(
                F.sqrt(
                    F.coalesce(F.sum(F.col("a_raw") * F.col("a_raw")), F.lit(0.0))
                ).alias("na"),
                F.sqrt(
                    F.coalesce(F.sum(F.col("t_raw") * F.col("t_raw")), F.lit(0.0))
                ).alias("nt"),
            )
        )
        scored = raw.crossJoin(norm_df).select(
            "id",
            F.when(F.col("nt") != 0.0, F.col("t_raw") / F.col("nt"))
            .otherwise(F.lit(0.0)).alias("hub"),
            F.when(F.col("na") != 0.0, F.col("a_raw") / F.col("na"))
            .otherwise(F.lit(0.0)).alias("auth"),
            "prev_hub",
            "prev_auth",
            "na",
            "nt",
        )
        # job 3: MATERIALIZE the scored state, with the L-inf deltas and
        # norms riding along as observed metrics — the former separate
        # stats agg re-executed the norm broadcast, and every later
        # consumer of the lazy scored projection re-executed it again;
        # the checkpoint pays the norm sub-job exactly once per step.
        newc, m = observed_checkpoint(
            scored,
            select=("id", "hub", "auth"),
            dh=F.max(F.abs(F.col("hub") - F.col("prev_hub"))),
            da=F.max(F.abs(F.col("auth") - F.col("prev_auth"))),
            na=F.min("na"),
            nt=F.min("nt"),
        )
        release_checkpoint(a_tbl)  # both consumed by the materialized newc
        release_checkpoint(raw)
        na, nt = m["na"], m["nt"]
        if na == 0.0 or nt == 0.0:
            # degenerate: zero scores ARE the fixpoint — converge now
            # (newc is exactly the all-zero score table: both norm
            # when-guards fell through to 0.0 for every row)
            return newc, {"max_delta": 0.0, "na": na, "nt": nt}
        return newc, {
            "max_delta": max(m["dh"], m["da"]),
            "na": na,
            "nt": nt,
        }

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
        pre_truncated=True,  # step_fn checkpoints its own state
    )
    return scores.select("id", "hub", "auth"), steps
