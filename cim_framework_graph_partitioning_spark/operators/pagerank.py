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

* ``mode="csr"`` — per-partition gather-scatter over locally CSR-packed
  adjacency blocks: edges are packed once into numpy (indptr, dst,
  frac) arrays per block via applyInPandas, then each superstep
  cogroups the rank block with its CSR block and a numpy kernel emits
  per-block PARTIAL sums per dst — shuffle volume drops from one row
  per edge to one row per (block, distinct dst).

Which is faster is MEASURED, not assumed (BENCH/CSR_CROSSOVER.md):
csr wins ~2x in the mid-regime (~10M edges / 32 threads, skewed
graphs); dataframe wins ~1.5x in the DRAM-bound regime (32M edges on
one box) because csr pays an Arrow hop into Python workers per
superstep. dataframe is the default; csr is the documented mid-regime
option.

At 100 TB the static normalized-edge table dominates; both paths scan it
once per superstep with only rank-sized shuffles on top, and
checkpointing bounds lineage (plans/superstep.py) while providing
mid-convergence resume.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
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
        # hash-partition the (static, large) block table by its cogroup
        # key ONCE: the per-superstep cogroup then reuses this exchange
        # and only the rank side shuffles — the same static-side rule
        # the dataframe path follows.
        blocks = scope.cache(
            _pack_csr_blocks(norm, p, max_edges_per_slice=csr_slice_edges)
            .repartition(p, "block")
        )
        blocks.count()
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
        if mode == "csr":
            sums = _csr_contributions(ranks.select("id", "rank"), blocks, p)
        else:
            # shuffle-hash, not sort-merge: the cached edge table must
            # not be re-sorted every superstep (measured 1.8x/step), and
            # the rank table is never broadcastable at the target scale.
            r = ranks.select("id", "rank").hint("shuffle_hash")
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


# --- CSR fast path -------------------------------------------------------

_CSR_SCHEMA = (
    "block int, src_ids array<long>, indptr array<long>, "
    "dst_ids array<long>, frac array<double>"
)


def _pack_csr_blocks(
    norm: DataFrame, p: int, max_edges_per_slice: int = 8_000_000
) -> DataFrame:
    """Pack normalized edges into CSR rows per hash block of src_id.

    One-time cost; per superstep the kernel gathers ranks by src position
    and scatters weighted contributions per dst (all numpy, Arrow in/out).

    A block larger than ``max_edges_per_slice`` is emitted as MULTIPLE
    slice rows (a slice may even start mid-src — per-slice partial sums
    add up correctly downstream). This bounds any single Arrow record to
    ~slice_size * 20 bytes, far below Arrow's 2 GB record limit, no
    matter how skewed the block."""

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["src_id", "dst_id"], kind="mergesort")
        block = int(pdf["block"].iloc[0])
        out = []
        for lo in range(0, len(pdf), max_edges_per_slice):
            chunk = pdf.iloc[lo : lo + max_edges_per_slice]
            src = chunk["src_id"].to_numpy()
            uniq, starts = np.unique(src, return_index=True)
            indptr = np.append(starts, len(src)).astype("int64")
            out.append(
                {
                    "block": block,
                    "src_ids": uniq,
                    "indptr": indptr,
                    "dst_ids": chunk["dst_id"].to_numpy(),
                    "frac": chunk["frac"].to_numpy(),
                }
            )
        return pd.DataFrame(out)

    withb = norm.withColumn("block", F.pmod(F.xxhash64("src_id"), F.lit(p)).cast("int"))
    return withb.groupBy("block").applyInPandas(pack, _CSR_SCHEMA)


def _csr_contributions(ranks: DataFrame, blocks: DataFrame, p: int) -> DataFrame:
    """cogroup(ranks_by_block, csr_blocks) → block-partial (dst_id, s)."""

    def kernel(key, rank_pdf: pd.DataFrame, block_pdf: pd.DataFrame) -> pd.DataFrame:
        if block_pdf.empty or rank_pdf.empty:
            return pd.DataFrame(
                {"dst_id": pd.Series(dtype="int64"), "s": pd.Series(dtype="float64")}
            )
        # gather index: ranks of this hash block, sorted once per call
        rid = rank_pdf["id"].to_numpy()
        rv = rank_pdf["rank"].to_numpy()
        order = np.argsort(rid, kind="mergesort")
        rid_s, rv_s = rid[order], rv[order]
        dsts, vals = [], []
        # a block may arrive as several bounded slices (Arrow 2GB guard);
        # per-slice partial sums add up, so slices are independent.
        for i in range(len(block_pdf)):
            row = block_pdf.iloc[i]
            src_ids = np.asarray(row["src_ids"], dtype="int64")
            indptr = np.asarray(row["indptr"], dtype="int64")
            dst = np.asarray(row["dst_ids"], dtype="int64")
            frac = np.asarray(row["frac"], dtype="float64")
            pos = np.searchsorted(rid_s, src_ids)
            r_src = rv_s[pos]
            per_edge = np.repeat(r_src, np.diff(indptr)) * frac
            dsts.append(dst)
            vals.append(per_edge)
        dst_all = np.concatenate(dsts)
        val_all = np.concatenate(vals)
        # scatter: block-local partial aggregation per dst (bincount is
        # ~10x faster than np.add.at's non-vectorized path)
        udst, inv = np.unique(dst_all, return_inverse=True)
        s = np.bincount(inv, weights=val_all, minlength=len(udst))
        return pd.DataFrame({"dst_id": udst, "s": s})

    ranks_b = ranks.withColumn("block", F.pmod(F.xxhash64("id"), F.lit(p)).cast("int"))
    partial = (
        ranks_b.groupBy("block")
        .cogroup(blocks.groupBy("block"))
        .applyInPandas(kernel, "dst_id long, s double")
    )
    return partial.groupBy("dst_id").agg(F.sum("s").alias("s"))
