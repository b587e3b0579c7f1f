"""PageRank as iterative DataFrame supersteps.

The reference's closest precedent is its iterative max-plus DP over the
DAG (reference: graph.py:36-44) and its driver-checked keep-best loop
(calc_cost.py:399-420); PageRank generalizes both to weighted message
passing with a scalar driver-side convergence check per superstep.

Semantics (standard): damping d, N vertices, out-weight W_i = Σ_j w_ij.

    r'_j = (1-d)/N + d * ( Σ_{i→j} r_i * w_ij / W_i  +  dangling_mass/N )

converged when max_j |r'_j − r_j| < tol. float64 throughout; tolerance
absorbs re-association across partitions (SURVEY §4.3).

Superstep cost discipline: exactly ONE Spark job per superstep — the
state checkpoint materialization, with (max|Δ|, next dangling mass)
collected as observed metrics of that same job (Dataset.observe), so
there is no separate stats scan. The dangling flag rides in the state
DataFrame so no separate dangling scan is needed either.

Two execution paths, identical semantics:

* ``mode="dataframe"`` — pure join+groupBy. Edges are normalized ONCE,
  hash-repartitioned on src_id and cached, so every superstep's join
  reuses that exchange and only the (small) rank table shuffles. The
  dst-side aggregation gets Spark's map-side partial combine; with
  ``salted=True`` an explicit two-phase (dst,salt)→dst aggregation
  bounds any single reducer's hub load (power-law skew handling).

* ``mode="csr"`` — the same join+groupBy over a CSR layout: normalized
  edges are packed ONCE into one cached row per (src_id, slice), each
  holding an ``adj array<struct<dst_id, frac>>`` of at most
  ``csr_slice_edges`` entries. Every superstep joins the rank table to
  those rows (one probe per source slice instead of one per edge),
  inlines the arrays and sums rank*frac per dst; the map-side partial
  aggregate ships one row per (block, distinct dst). The whole step
  runs in the JVM: no Python worker, no Arrow hop.

Which is faster is MEASURED, not assumed (BENCH/CSR_CROSSOVER.md): the
csr rows cost more to build than the cached normalized edges (a window
sort and a collect_list pass); at 1M-4M edges on local[3] their steps
measured level with dataframe's, within noise. dataframe is the
default.

At 100 TB the static normalized-edge table dominates; both paths scan it
once per superstep with only rank-sized shuffles on top, and
checkpointing bounds lineage (plans/superstep.py) while providing
mid-convergence resume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.scale import auto_blocks
from ..plans.superstep import LoopScope, SuperstepRunner, local_rows, loop_scope, observed_checkpoint


def pagerank_salt_col(salt_buckets: int) -> F.Column:
    """Salt bucket for the two-phase hub aggregation: a hash of the edge
    key (src_id, dst_id), so a hub's in-edges spread uniformly across
    buckets regardless of the contribution VALUES (which can be identical
    across thousands of in-edges in early supersteps)."""
    return F.pmod(F.xxhash64("src_id", "dst_id"), F.lit(salt_buckets)).alias("_salt")


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 200,
    mode: str = "dataframe",
    salted: bool = False,
    salt_buckets: int = 16,
    num_blocks: int | None = None,
    csr_slice_edges: int = 8_000_000,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 4,
    resume: bool = False,
    run_id: str = "pagerank",
    metrics_sink: list | None = None,
    sources: DataFrame | None = None,
    init_ranks: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """Returns (ranks(id, rank), supersteps_run). Ranks sum to 1.

    ``metrics_sink``: optional list that receives the per-superstep
    metric dicts (max_delta, dangling_mass, superstep_sec).

    ``sources``: optional (id) DataFrame of teleport targets —
    PERSONALIZED PageRank. Both the (1-d) teleport and the dangling
    mass then redistribute uniformly over the source set instead of
    all vertices; the initial rank vector is uniform over the sources.
    Source ids absent from the graph's vertex set are ignored. The
    source set is assumed broadcast-small (it is a user-picked seed
    set, not a data-scale table).

    ``init_ranks``: optional (id, rank) WARM START — e.g. the converged
    ranks of a slightly older edge snapshot (incremental recompute
    after a crawl delta: the fixpoint is unique, so the result is the
    same, but a close init cuts the superstep count roughly in half
    per order of magnitude of initial closeness). Ids absent from the
    current vertex set are dropped, new vertices start at 0, and the
    vector is L1-renormalized IN-PLAN (power iteration preserves sum=1,
    so the invariant must hold at step 0); an all-zero/empty init
    falls back to the uniform start."""
    if mode not in ("dataframe", "csr"):
        raise ValueError(f"pagerank mode must be 'dataframe' or 'csr', not {mode!r}")
    sc = spark.sparkContext
    if num_blocks is None:
        # one count of the input edge table (usually caller-cached or a
        # parquet metadata read) buys a per-superstep-right-sized plan
        num_blocks = auto_blocks(edges.count(), sc.defaultParallelism)
    p = num_blocks

    # loop conf pinned BEFORE the setup jobs, so the cached verts and
    # norm tables land on hash(key, p) partitioning directly: their
    # groupBy exchanges produce p partitions and the per-superstep joins
    # then reuse them with zero re-exchange (AQE off for the same reason
    # it is off inside the loop — explicit partitioning, no re-planning).
    with loop_scope(spark, p) as scope:
        return _pagerank_inner(
            scope, edges, damping, tol, max_iter, mode, salted, salt_buckets,
            p, csr_slice_edges, checkpoint_dir, checkpoint_every, resume,
            run_id, metrics_sink, sources, init_ranks,
        )


def _pagerank_inner(
    scope: LoopScope,
    edges: DataFrame,
    damping: float,
    tol: float,
    max_iter: int,
    mode: str,
    salted: bool,
    salt_buckets: int,
    p: int,
    csr_slice_edges: int,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume: bool,
    run_id: str,
    metrics_sink: list | None,
    sources: DataFrame | None,
    init_ranks: DataFrame | None,
) -> tuple[DataFrame, int]:
    spark = scope.spark
    # verts + has_out in ONE aggregation pass (one exchange, map-side
    # combined): endpoint rows tagged is_src, max(is_src) per id — the
    # former distinct-union-distinct-join chain paid three exchanges for
    # the same table (guide §2.4: remove shuffles outright).
    ends = edges.select(F.col("src_id").alias("id"), F.lit(1).alias("is_src")).unionByName(
        edges.select(F.col("dst_id").alias("id"), F.lit(0).alias("is_src"))
    )
    verts = ends.groupBy("id").agg((F.max("is_src") == 1).alias("has_out"))
    if sources is not None:
        s = sources.select(F.col(sources.columns[0]).alias("id")).distinct()
        verts = verts.join(
            F.broadcast(s.withColumn("_in_s", F.lit(True))), "id", "left"
        ).select(
            "id", "has_out", F.coalesce(F.col("_in_s"), F.lit(False)).alias("in_s")
        )
    else:
        verts = verts.select("id", "has_out", F.lit(True).alias("in_s"))
    verts = scope.cache(verts)
    n = verts.count()
    if n == 0:
        return local_rows(spark, [], "id long, rank double"), 0
    # teleport-set size: n for classic PageRank, |S ∩ verts| when
    # personalized (the denominator of both teleport and dangling terms)
    ns = (
        n if sources is None
        else verts.filter(F.col("in_s")).count()
    )
    if ns == 0:
        raise ValueError("personalized pagerank: no source id is in the graph")

    # norm via a window over the src_id exchange the cache needs anyway:
    # one exchange total (the former groupBy+join+repartition chain paid
    # two more for the identical frac values).
    norm = edges.repartition(p, "src_id").select(
        "src_id",
        "dst_id",
        (F.col("weight") / F.sum("weight").over(Window.partitionBy("src_id"))).alias("frac"),
    )
    if mode == "csr":
        # one adjacency row per (src_id, slice): a slice is an edge's
        # position in its source's dst_id order // csr_slice_edges, which
        # bounds any row to csr_slice_edges entries however large the
        # hub. norm's src_id partitioning satisfies both the window and
        # the (src_id, slice) grouping, so this adds no exchange, and the
        # cached rows keep hash(src_id, p) for every superstep's join.
        pos = F.row_number().over(Window.partitionBy("src_id").orderBy("dst_id")) - 1
        adj = scope.cache(
            norm.select(
                "src_id",
                F.floor(pos / csr_slice_edges).alias("slice"),
                F.struct("dst_id", "frac").alias("e"),
            )
            .groupBy("src_id", "slice")
            .agg(F.collect_list("e").alias("adj"))
        )
        adj.count()
    else:
        norm = scope.cache(norm)
        norm.count()

    # state schema: (id, rank, has_out, in_s) — has_out/in_s ride IN the
    # state so no per-superstep join against a separate verts table is
    # needed (one fewer state-sized join per step).
    init = verts.select(
        "id",
        F.when(F.col("in_s"), F.lit(1.0 / ns)).otherwise(F.lit(0.0)).alias("rank"),
        "has_out",
        "in_s",
    )
    if init_ranks is not None:
        r0 = init_ranks.select(
            F.col(init_ranks.columns[0]).alias("id"),
            F.col(init_ranks.columns[1]).cast("double").alias("_r0"),
        )
        warm = verts.join(r0, "id", "left").select(
            "id",
            F.coalesce(F.col("_r0"), F.lit(0.0)).alias("_r0"),
            "in_s",
            "has_out",
        )
        # L1-renormalize in-plan (1-row broadcast agg, no driver collect);
        # degenerate all-zero init falls back to the uniform start
        tot = F.broadcast(warm.agg(F.sum("_r0").alias("_tot")))
        init = warm.crossJoin(tot).select(
            "id",
            F.when(F.col("_tot") > 0.0, F.col("_r0") / F.col("_tot"))
            .otherwise(
                F.when(F.col("in_s"), F.lit(1.0 / ns)).otherwise(F.lit(0.0))
            )
            .alias("rank"),
            "has_out",
            "in_s",
        )

    def step_fn(ranks: DataFrame, step: int):
        # shuffle-hash, not sort-merge: the cached edge table must not be
        # re-sorted every superstep (measured 1.8x/step), and the rank
        # table is never broadcastable at the target scale.
        r = ranks.select("id", "rank").hint("shuffle_hash")
        if mode == "csr":
            # the partial aggregate before the dst_id exchange is the
            # per-(block, dst) partial sum: one shuffled row per distinct
            # dst of a block, not one per edge
            sums = (
                r.join(adj, r.id == adj.src_id)
                .select("rank", F.inline("adj"))
                .groupBy("dst_id")
                .agg(F.sum(F.col("rank") * F.col("frac")).alias("s"))
            )
        else:
            contribs = r.join(norm, r.id == norm.src_id).select(
                "src_id", "dst_id", (F.col("rank") * F.col("frac")).alias("contrib")
            )
            if salted:
                # explicit two-phase aggregation: partial per (dst, salt)
                # bounds a hub reducer to 1/salt_buckets of its inflow.
                # The salt MUST key on the edge (src_id, dst_id), never on
                # the value being summed: identical contributions into a
                # hub (uniform early ranks x equal frac) would otherwise
                # all hash to ONE bucket and the skew protection would
                # evaporate exactly when needed.
                partial = contribs.groupBy(
                    "dst_id",
                    pagerank_salt_col(salt_buckets),
                ).agg(F.sum("contrib").alias("partial"))
                sums = partial.groupBy("dst_id").agg(F.sum("partial").alias("s"))
            else:
                sums = contribs.groupBy("dst_id").agg(F.sum("contrib").alias("s"))

        # base rides in a 1-row BROADCAST AGG of the current state, NOT
        # a literal (per-step literals defeat the whole-stage-codegen
        # cache — a serial driver recompile every step) and NOT a
        # driver-round-tripped createDataFrame (measured 0.15-0.18s of
        # per-step driver RPC): the dangling mass stays in-plan, the
        # broadcast stage scans the cached checkpointed state, and
        # resume-from-checkpoint sees the right value by construction.
        # Arithmetic mirrors the former python expression term for term
        # ((1-d)/ns constant + d * dang / ns), so results are bit-equal.
        base_df = F.broadcast(
            ranks.agg(
                (
                    F.lit((1.0 - damping) / ns)
                    + F.lit(damping)
                    * F.coalesce(
                        F.sum(F.when(~F.col("has_out"), F.col("rank"))),
                        F.lit(0.0),
                    )
                    / F.lit(float(ns))
                ).alias("base")
            )
        )
        # teleport lands only on the source set; the classic uniform
        # path keeps its original branch-free expression
        tele = (
            F.col("base")
            if sources is None
            else F.when(F.col("in_s"), F.col("base")).otherwise(F.lit(0.0))
        )
        # the state itself is the vertex table (it carries every vertex
        # plus has_out/in_s), so the new rank is one left join of state
        # with sums — no separate verts join, no separate prev join.
        new_ranks = (
            ranks.join(sums.hint("shuffle_hash"), ranks.id == sums.dst_id, "left")
            .crossJoin(base_df)
            .select(
                "id",
                (tele + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))).alias("rank"),
                "has_out",
                "in_s",
                F.col("rank").alias("prev"),
            )
        )
        # ONE job per superstep: the convergence stats ride the
        # checkpoint materialization as observed metrics (max/sum are
        # the same aggregates the former second job computed), and the
        # checkpointed state drops the prev column.
        return observed_checkpoint(
            new_ranks,
            select=("id", "rank", "has_out", "in_s"),
            max_delta=F.max(F.abs(F.col("rank") - F.col("prev"))),
            dangling_mass=F.sum(
                F.when(~F.col("has_out"), F.col("rank")).otherwise(0.0)
            ),
        )

    runner = SuperstepRunner(
        spark, checkpoint_dir=checkpoint_dir, run_id=run_id,
        checkpoint_every=checkpoint_every, metrics_sink=metrics_sink,
    )
    # AQE off + shuffle partitions = p for setup AND loop: pinned in
    # pagerank() so the cached static tables and every per-superstep
    # exchange share the same explicit hash(key, p) partitioning (the
    # per-superstep groupBy/join exchanges would otherwise fan out to
    # the session's global shuffle_partitions — pure task-scheduling
    # overhead repeated every superstep on small state; map-side partial
    # aggregation is unaffected, this only sizes post-combine exchanges).
    ranks, steps = runner.run(
        init,
        step_fn,
        converged=lambda m: m["max_delta"] < tol,
        max_iter=max_iter,
        resume=resume,
        pre_truncated=True,
    )
    return ranks.select("id", "rank"), steps
