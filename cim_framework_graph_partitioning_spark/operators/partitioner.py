"""Balanced graph partitioner — the reference's CIM-style inner loop,
re-expressed as distributed gain scoring + driver-side move application.

Reference semantics preserved (NOT the implementation):
- numeric gain scoring per candidate move, highest first
  (reference: calc_cost.py:403-406 sorts candidates by per-replica
  compute time descending before trying moves);
- apply the best legal move(s), re-cost, KEEP THE GLOBAL BEST state
  (calc_cost.py:399-402);
- terminate when no legal move improves the objective
  (calc_cost.py:419-420);
- objective = communication + load imbalance, mirroring the reference's
  makespan = comm_time + max-core load (calc_cost.py:349-358):

      objective = edge_cut + lam * sum_p load_p^2

Execution shape per round (one superstep):
1. join symmetrized edges with the assignment on both endpoints;
2. per-vertex per-neighbor-part weight via EXPLICIT two-phase salted
   aggregation — partial sums per (vertex, part, salt) bound any hub
   vertex's reducer load (north-rule skew handling), final per
   (vertex, part);
3. the intra-part weight w_int is FUSED into the same pass (a window
   over the src_id partitioning the join already produced — no second
   join, no extra shuffle); gain per candidate move via a broadcast
   join against the k-row part load table; per-vertex argmax with
   deterministic tie-break;
4. the top-M positive-gain candidates (M is a CONSTANT cap, independent
   of graph size) are collected in one job, in (gain desc, src_id asc)
   order, and reduced to a PAIRWISE NON-ADJACENT subset by priority
   coloring: the candidates go back as a broadcast driver table, and for
   every edge between two candidate movers the lower-priority endpoint
   (gain asc, id desc) is marked a loser in one pass over the edge
   table; only the ≤ M loser ids are collected. Survivors (the collected
   candidates minus the losers, order kept) beat ALL their moved
   neighbors, so the batch is an independent set. Nothing collected
   grows with vertex count (the reference's driver likewise holds only
   the current move, calc_cost.py:407-417).
   For a non-adjacent batch the objective delta is EXACT and
   driver-computable:
     cut'  = cut − Σ (w_to − w_int)          (neighbors unmoved)
     ssq'  = from the k part loads + per-part move counts
   so no full-table re-cost is needed per round; an exact distributed
   recompute runs at termination (and under test) to confirm drift-free.

Cost per round: two passes over the salted edge partitions (candidate
scoring with the top-M collect, loser marking with the loser-id
collect; both collect ≤ M rows) + 1 assignment-lineage truncation. The
part loads, the candidates and the accepted moves reach the JVM as
Arrow driver tables (``local_rows``), so no round starts a Python
worker. Driver traffic is O(moves_per_round) = O(1) in graph size — the
property that holds at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.barrier import PlanBarrier
from ..plans.scale import auto_blocks
from ..plans.superstep import local_rows, loop_scope
from .edges import symmetrize


# Cost-model ablations, mirroring the reference's partition_mode
# variants (reference: calc_cost.py:360-371; strategy names run.py:39-54)
# under the engine's comm<->cut, calc<->load mapping (SURVEY §2.3):
#
#   objective_mode   reference precedent        engine objective
#   "default"        mode 0 (dp)                cut + lam*sum(load^2)
#   "comm2x"         mode 3 (comm time x2)      2*cut + lam*sum(load^2)
#   "maxload"        mode 4 flips calc between  cut + lam*k*max(load)^2
#                    max and sum; the engine's
#                    default is the sum flavor,
#                    so this is the max side
#   "pipelined"      mode 6 (sum + max*batch)   cut + lam*(sum(load^2)
#                                               + B*max(load)^2)
#
# Reference mode 5 (0.5x load time) is intentionally dropped: it is dead
# code in the snapshot (`cp.pattern_map` typo raises AttributeError,
# SURVEY §4.5#1). Candidate GENERATION always ranks with the default
# smooth gain (a prefilter heuristic); ACCEPTANCE evaluates the exact
# mode objective per move, so accepted objectives are exact and monotone
# under every mode.

OBJECTIVE_MODES = ("default", "comm2x", "maxload", "pipelined")


def _cut_scale(objective_mode: str) -> float:
    return 2.0 if objective_mode == "comm2x" else 1.0


def _load_term(loads, lam: float, objective_mode: str, pipeline_batch: int) -> float:
    """The load component of the objective for a {part: count} map."""
    vals = list(loads.values())
    ssq = float(sum(v * v for v in vals))
    mx2 = float(max(vals) ** 2) if vals else 0.0
    if objective_mode == "maxload":
        return lam * len(vals) * mx2
    if objective_mode == "pipelined":
        return lam * (ssq + pipeline_batch * mx2)
    return lam * ssq  # default and comm2x


def exact_objective(
    und: DataFrame,
    assignment: DataFrame,
    lam: float,
    objective_mode: str = "default",
    pipeline_batch: int = 8,
    k: int | None = None,
    return_loads: bool = False,
) -> tuple:
    """(objective, edge_cut, sum_sq_load), recomputed distributed;
    with ``return_loads`` the padded per-part loads map is appended so
    callers that need it (balanced_partition init) don't re-run the
    count job or re-state the padding invariant.

    ``k`` pads the loads map with zero-count entries for empty parts so
    the 'maxload' term (lam * k * max^2) agrees with the incremental
    loop, which always tracks all k parts — without it an empty part
    would shift the exact objective by lam*max^2 per missing part and
    trip the end-of-run drift assert."""
    a_src = assignment.select(F.col("id").alias("src_id"), F.col("part").alias("p_src"))
    a_dst = assignment.select(F.col("id").alias("dst_id"), F.col("part").alias("p_dst"))
    # dst join first: balanced_partition caches `und` hash-partitioned by
    # dst_id, so this order reuses that exchange and only the second join
    # re-shuffles the (label-joined) edges by src_id.
    cut = (
        und.filter(F.col("src_id") < F.col("dst_id"))
        .join(a_dst.hint("shuffle_hash"), "dst_id")
        .join(a_src.hint("shuffle_hash"), "src_id")
        .filter(F.col("p_src") != F.col("p_dst"))
        .agg(F.coalesce(F.sum("weight"), F.lit(0.0)))
        .collect()[0][0]
    )
    loads_map = {r.part: r["count"] for r in assignment.groupBy("part").count().collect()}
    if k is not None:
        for part in range(k):
            loads_map.setdefault(part, 0)
    ssq = float(sum(v * v for v in loads_map.values()))
    obj = _cut_scale(objective_mode) * float(cut) + _load_term(
        loads_map, lam, objective_mode, pipeline_batch
    )
    if return_loads:
        return obj, float(cut), ssq, loads_map
    return obj, float(cut), ssq


def balanced_partition(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 8,
    lam: float = 0.05,
    max_rounds: int = 30,
    moves_per_round: int = 8192,
    salt_buckets: int = 8,
    seed: int = 42,
    objective_mode: str = "default",
    pipeline_batch: int = 8,
    init_part: Column | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Partition vertices into k balanced parts minimizing weighted edge
    cut. Returns (assignment(id, part), round_history).

    ``round_history`` records per-round objective / cut / ssq / moves —
    the engine's analogue of the reference's per-iteration cost log
    (calc_cost.py:421-431). Accepted objectives are monotone
    non-increasing (tested property; deltas are exact by construction).

    ``moves_per_round`` is a CONSTANT cap (never derived from graph
    size): it bounds driver traffic per round, so the loop's driver
    footprint is O(1) in vertex count.

    ``objective_mode`` selects a cost-model ablation (see
    OBJECTIVE_MODES above — the reference's strategy flags,
    calc_cost.py:360-371); ``pipeline_batch`` is the B factor of the
    "pipelined" mode (reference cp.batch_size role).

    ``init_part`` optionally overrides the initial assignment with a
    column expression over the vertex id (e.g. ``pmod(id, k)``) so the
    whole run is replicable in engines without Spark's seeded xxhash64
    — the same hash-family-parameterization trick the minhash oracle
    uses. The engine default stays seeded xxhash64: at scale a modular
    init is vulnerable to adversarial/regular id spacing, a salted hash
    is not. Everything downstream of the init is hash-free, so one
    deterministic init makes the full hill-climb cross-engine-exact
    (weights are integral ⇒ every gain/load comparison is
    bit-reproducible IEEE arithmetic).
    """
    if objective_mode not in OBJECTIVE_MODES:
        raise ValueError(f"objective_mode must be one of {OBJECTIVE_MODES}")
    alpha = _cut_scale(objective_mode)
    p = auto_blocks(edges.count(), spark.sparkContext.defaultParallelism)
    # loop conf BEFORE setup (same discipline as pagerank): the cached
    # edge table, the init assignment and the init objective all run on
    # hash(key, p) partitioning instead of the session's global shuffle
    # partitions.
    with loop_scope(spark, p) as scope:
        # cached by DST_ID — the key of the only per-round join that
        # touches the full edge table (the assignment-label join below);
        # the former src_id cache forced a full edge re-exchange EVERY
        # round (guide §2.4: two operations keyed the same way share one
        # exchange).
        und = scope.cache(symmetrize(edges).repartition(p, "dst_id"))
        verts = scope.cache(
            und.select(F.col("src_id").alias("id"))
            .unionByName(und.select(F.col("dst_id").alias("id")))
            .distinct()
        )

        barrier = PlanBarrier(spark, tag="partitioner")
        part0 = (
            init_part
            if init_part is not None
            else F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(k))
        )
        best = barrier.cut(verts.select("id", part0.cast("int").alias("part")))

        best_obj, cut, ssq, loads_map = exact_objective(
            und, best, lam, objective_mode, pipeline_batch, k=k, return_loads=True
        )
        history = [{"round": 0, "objective": best_obj, "cut": cut, "ssq": ssq,
                    "moves": 0, "objective_mode": objective_mode}]

        for rnd in range(1, max_rounds + 1):
            a = best
            # 1-2. per-vertex weight toward each part, salted two-phase
            labeled = und.join(
                a.select(F.col("id").alias("dst_id"), F.col("part").alias("p_dst")).hint("shuffle_hash"),
                "dst_id",
            )
            partial = labeled.groupBy(
                "src_id",
                "p_dst",
                F.pmod(F.xxhash64("dst_id"), F.lit(salt_buckets)).alias("_salt"),
            ).agg(F.sum("weight").alias("w_part"))
            # phase 2 on hash(src_id) directly: one exchange feeds the
            # final (src_id, p_dst) agg, the p_cur join AND the w_int
            # window (hash(src_id) clusters all three; a hub holds <= k
            # rows after the salted partial, so no skew re-enters). The
            # former groupBy exchanged on (src_id, p_dst) and then
            # re-exchanged for the join.
            w_to = (
                partial.repartition(p, "src_id")
                .groupBy("src_id", "p_dst")
                .agg(F.sum("w_part").alias("w"))
            )

            # w_int fused into the same pass: the window adds a sort but
            # NO extra shuffle (previously a filtered self-join = one
            # more exchange).
            cur = a.select(F.col("id").alias("src_id"), F.col("part").alias("p_cur"))
            w_to = w_to.join(cur.hint("shuffle_hash"), "src_id")
            w_vert = Window.partitionBy("src_id")
            w_to = w_to.withColumn(
                "w_int",
                F.coalesce(
                    F.max(
                        F.when(F.col("p_dst") == F.col("p_cur"), F.col("w"))
                    ).over(w_vert),
                    F.lit(0.0),
                ),
            )
            cand = w_to.filter(F.col("p_dst") != F.col("p_cur"))

            loads_df = local_rows(spark, loads_map.items(), "part int, load long")
            cand = (
                cand.join(
                    F.broadcast(loads_df.select(F.col("part").alias("p_cur"), F.col("load").alias("load_cur"))),
                    "p_cur",
                )
                .join(
                    F.broadcast(loads_df.select(F.col("part").alias("p_dst"), F.col("load").alias("load_to"))),
                    "p_dst",
                )
                .withColumn(
                    # prefilter ranking: exact cut term (mode-scaled),
                    # default smooth load penalty — acceptance below
                    # re-evaluates the exact mode objective per move.
                    "gain",
                    F.lit(alpha) * (F.col("w") - F.col("w_int"))
                    - F.lit(lam) * 2.0 * (F.col("load_to") - F.col("load_cur") + 1.0),
                )
                .filter(F.col("gain") > 0)
            )
            # 3. best target per vertex, deterministic tie-break
            w_rank = Window.partitionBy("src_id").orderBy(
                F.col("gain").desc(), F.col("p_dst").asc()
            )
            best_moves = cand.withColumn("_rn", F.row_number().over(w_rank)).filter(
                F.col("_rn") == 1
            )

            # 4a. top-M candidates, M constant (driver-footprint bound),
            # collected in one job in (gain desc, src_id asc) order
            top = (
                best_moves.orderBy(F.col("gain").desc(), F.col("src_id").asc())
                .limit(moves_per_round)
                .select("src_id", "p_cur", "p_dst", "w", "w_int", "gain")
                .collect()
            )
            if not top:
                break

            # 4b. distributed non-adjacent selection (priority coloring):
            # for every edge between two candidate movers, the lower
            # priority endpoint (gain asc, id desc) loses; survivors beat
            # ALL moved neighbors → pairwise non-adjacent, so every kept
            # move's (w, w_int) stays valid → exact batch delta. One pass
            # over the edge table against the broadcast candidates; only
            # the ≤ M loser ids reach the driver.
            movers = local_rows(spark, ((r.src_id, r.gain) for r in top), "id long, gain double")
            mv_a = movers.select(F.col("id").alias("a"), F.col("gain").alias("gain_a"))
            mv_b = movers.select(F.col("id").alias("b"), F.col("gain").alias("gain_b"))
            pairs = (
                und.select(F.col("src_id").alias("a"), F.col("dst_id").alias("b"))
                .filter(F.col("a") < F.col("b"))  # symmetrized: see each pair once
                .join(F.broadcast(mv_a), "a")
                .join(F.broadcast(mv_b), "b")
            )
            losers = pairs.select(
                F.when(
                    (F.col("gain_a") > F.col("gain_b"))
                    | ((F.col("gain_a") == F.col("gain_b")) & (F.col("a") < F.col("b"))),
                    F.col("b"),
                )
                .otherwise(F.col("a"))
                .alias("id")
            ).distinct()
            lost = {r.id for r in losers.collect()}
            # the globally highest-priority move never loses the coloring,
            # so kept is never empty; filtering keeps the collected order
            kept = [r for r in top if r.src_id not in lost]

            # 4c. exact sequential evaluation (the reference's one-move-
            # at-a-time hill climb, calc_cost.py:407-417, batched): each
            # move's delta is exact given the loads AFTER the moves
            # already accepted this round; non-improving moves are
            # skipped (e.g. the i-th move into the same target part pays
            # a growing imbalance price), not batch-fatal.
            new_loads = dict(loads_map)
            applied = []
            cut_delta = 0.0
            load_term = _load_term(new_loads, lam, objective_mode, pipeline_batch)
            for r in kept:
                new_loads[int(r.p_cur)] -= 1
                new_loads[int(r.p_dst)] += 1
                trial_term = _load_term(new_loads, lam, objective_mode, pipeline_batch)
                delta = -alpha * (r.w - r.w_int) + (trial_term - load_term)
                if delta >= 0:
                    new_loads[int(r.p_cur)] += 1  # revert the trial move
                    new_loads[int(r.p_dst)] -= 1
                    continue
                applied.append(r)
                cut_delta -= (r.w - r.w_int)
                load_term = trial_term
            if not applied:
                break  # keep-best: no improving move exists
            kept = applied
            new_cut = cut + cut_delta
            new_ssq = float(sum(v * v for v in new_loads.values()))
            new_obj = alpha * new_cut + load_term

            mv_df = local_rows(spark, ((r.src_id, r.p_dst) for r in kept), "id long, new_part int")
            best = barrier.cut(
                best.join(F.broadcast(mv_df), "id", "left")
                .select(
                    "id",
                    F.coalesce(F.col("new_part"), F.col("part")).alias("part"),
                )
            )
            best_obj, cut, ssq, loads_map = new_obj, new_cut, new_ssq, new_loads
            history.append(
                {"round": rnd, "objective": new_obj, "cut": new_cut,
                 "ssq": new_ssq, "moves": len(kept),
                 "objective_mode": objective_mode}
            )
        # drift check: incremental bookkeeping must match a full
        # recompute (still under the loop-scoped conf: the recompute
        # joins the full edge table and wants the same partitioning)
        final_obj, final_cut, final_ssq = exact_objective(
            und, best, lam, objective_mode, pipeline_batch, k=k
        )
        history[-1]["objective_recomputed"] = final_obj
        assert abs(final_obj - best_obj) < 1e-6 * max(1.0, abs(final_obj)), (
            f"incremental objective drifted: {best_obj} vs {final_obj}"
        )
    return best, history
