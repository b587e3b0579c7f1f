"""The operators the benchmark calls and the workloads that group them.

An op is one operator call plus collecting its result to the driver,
which is what a caller of the engine waits for. Operators are looked up
on their modules at each call, so a tracer that rebinds them is seen.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from importlib import import_module
from typing import Callable

from checks import Reference, frame_digest

OPS_PKG = "cim_framework_graph_partitioning_spark.operators"
CSR_TOL = 1e-4  # 7 supersteps on the loop_floor graph; 1e-6 takes 11
LPA_ROUNDS = 5
PARTITION_K, PARTITION_LAM, PARTITION_ROUNDS = 8, 0.05, 3  # the bench leaf's parameters
DURABLE_STOP, DURABLE_STEPS = 1, 2  # durable pagerank: stopped after step 1, resumed to step 2


def _fn(module: str, name: str):
    return getattr(import_module(f"{OPS_PKG}.{module}"), name)


@dataclass
class Context:
    """What an op needs: the session, the cached edge table, a scratch
    directory for durable checkpoints, and a notes dict for measurements
    an op takes of itself (checkpoint bytes, resume time)."""

    spark: object
    edges: object
    scratch: str
    ref: Reference | None = None
    notes: dict = field(default_factory=dict)
    uninterrupted: object = None  # durable pagerank's reference, computed once

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.scratch, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


@dataclass(frozen=True)
class Op:
    name: str  # metric prefix
    entry: tuple[str, str]  # (operators module, function) — the traced entry point
    call: Callable[[Context, Callable], tuple[object, int]]  # (ctx, operator) -> (result, supersteps)
    check: Callable[[Context, object, int], str | None]
    digest: Callable[[object], str] | None = None  # results that must repeat exactly

    def operator(self):
        return _fn(*self.entry)


def _pagerank_csr(ctx, pagerank):
    ranks, steps = pagerank(ctx.spark, ctx.edges, tol=CSR_TOL, mode="csr")
    return ranks.select("id", "rank").toPandas(), steps


def _check_pagerank(ctx, df, steps):
    want, want_steps = ctx.ref.pagerank(0.85, CSR_TOL, 200)
    return ctx.ref.check_vector(df, {"rank": want}, steps, want_steps, atol=1e-10)


def _pagerank_durable(ctx, pagerank):
    ck = ctx.fresh_dir("durable")
    kw = dict(checkpoint_dir=ck, checkpoint_every=1, run_id="durable")
    pagerank(ctx.spark, ctx.edges, max_iter=DURABLE_STOP, **kw)
    t0 = time.perf_counter()
    ranks, steps = pagerank(ctx.spark, ctx.edges, max_iter=DURABLE_STEPS, resume=True, **kw)
    out = ranks.select("id", "rank").toPandas()
    sizes = [os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(ck) for f in fs]
    ctx.notes.update(resume_s=time.perf_counter() - t0, mb_written=sum(sizes) / 2**20,
                     files=len(sizes))
    return out, steps


def _check_durable(ctx, df, steps):
    want, want_steps = ctx.ref.pagerank(0.85, 0.0, DURABLE_STEPS)
    bad = ctx.ref.check_vector(df, {"rank": want}, steps, want_steps, atol=1e-10)
    if bad:
        return bad
    if ctx.uninterrupted is None:  # the same run without a checkpoint or a stop
        ranks, _ = _fn("pagerank", "pagerank")(ctx.spark, ctx.edges, max_iter=DURABLE_STEPS)
        ctx.uninterrupted = ranks.select("id", "rank").toPandas().sort_values("id")
    err = abs(df.sort_values("id")["rank"].values - ctx.uninterrupted["rank"].values).max()
    return None if err <= 1e-12 else f"resumed ranks differ from the uninterrupted run by {err:.3g}"


def _kcore(ctx, coreness):
    cores, steps = coreness(ctx.spark, ctx.edges)
    return cores.select("id", "core").toPandas(), steps


def _labelprop(ctx, label_propagation):
    labels, steps = label_propagation(ctx.spark, ctx.edges, max_iter=LPA_ROUNDS)
    return labels.select("id", "label").toPandas(), steps


def _partitioner(ctx, balanced_partition):
    assign, history = balanced_partition(
        ctx.spark, ctx.edges, k=PARTITION_K, lam=PARTITION_LAM, max_rounds=PARTITION_ROUNDS)
    ctx.notes.update(rounds=len(history) - 1, moves=sum(h["moves"] for h in history),
                     objective=history[-1]["objective"])
    return (assign.select("id", "part").toPandas(), history), len(history) - 1


OPS = {op.name: op for op in (
    Op("pagerank", ("pagerank", "pagerank"), _pagerank_csr, _check_pagerank),
    Op("pagerank_durable", ("pagerank", "pagerank"), _pagerank_durable, _check_durable),
    Op("kcore", ("kcore", "coreness"), _kcore,
       lambda ctx, df, s: ctx.ref.check_labels(df, "core", ctx.ref.coreness)),
    Op("labelprop", ("labelprop", "label_propagation"), _labelprop,
       lambda ctx, df, s: ctx.ref.check_labelprop(df), digest=frame_digest),
    Op("partitioner", ("partitioner", "balanced_partition"), _partitioner,
       lambda ctx, r, s: ctx.ref.check_partition(r[0], r[1], PARTITION_K, PARTITION_LAM),
       digest=lambda r: frame_digest(r[0])),
)}


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    files: int  # corpus size
    shape_seed: int  # pins the import graph; --seed relabels it
    ops: tuple[str, ...]


WORKLOADS = {w.name: w for w in (
    Workload(
        "loop_floor",
        "in-memory k-core, label propagation and CSR PageRank on a small graph: a superstep "
        "costs a fixed floor (plan build, scheduling, barrier, the CSR Python crossing)",
        files=2_000, shape_seed=3, ops=("kcore", "labelprop", "pagerank"),
    ),
    Workload(
        "partition_durable",
        "the paper's gain-scored partitioner plus a durable PageRank that checkpoints "
        "parquet state every step, is stopped and resumed; the only durable-state workload",
        files=2_000, shape_seed=3, ops=("partitioner", "pagerank_durable"),
    ),
)}
