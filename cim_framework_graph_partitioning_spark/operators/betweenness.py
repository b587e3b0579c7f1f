"""Betweenness centrality from sampled sources (batched Brandes).

Exact betweenness is O(V·E) (Brandes 2001); at link-graph scale the
standard estimator (Brandes & Pich 2007) runs Brandes' two phases from
a SAMPLE of source vertices and sums the per-source dependencies. This
implementation batches ALL sampled sources into one pair-keyed state
(source, vertex), so the superstep count is the reachable diameter —
twice — regardless of how many sources are sampled; adding sources
grows rows per superstep, not rounds.

Phase 1 (forward, unweighted BFS): level-synchronous frontier
expansion accumulating sigma(s, v) = number of shortest s→v paths.
Phase 2 (backward): dependencies flow one level at a time from the
deepest layer back: delta(s, v) = sigma(s,v) * sum over successors w
one level deeper of (1 + delta(s,w)) / sigma(s,w). bc(v) = sum over
sources s != v of delta(s, v).

Scale shape: the edge table is deduped and cached partitioned by
src_id once; every per-level join (forward expansion AND backward
contribution — the latter keys on dst_id, one extra exchange of the
frontier-sized delta rows, never of the cache) rides it, so only
(s, v, sigma/delta) state rows shuffle. Per-level state is
localCheckpointed (lineage barrier) and released when the sweep no
longer needs it; rounds = diameter of the reachable subgraph, a data
property the caller controls via the source sample. No reference
precedent (the reference ranks nothing); net-new per the link-graph
north rule alongside PageRank/HITS.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.scale import auto_blocks
from ..plans.superstep import LoopScope, local_rows, loop_scope, observed_checkpoint


@contextmanager
def _sampled_bfs(
    spark: SparkSession, edges: DataFrame, sources: DataFrame, max_depth: int
) -> Iterator[tuple[LoopScope, DataFrame, list[DataFrame]]]:
    """Setup and forward phase shared by the sampled estimators: the
    deduped edge table cached by src_id (built under the session conf),
    then the shuffle pin and the batched BFS levels. Yields (scope,
    edges, levels); the cache and every level are released on exit."""
    p = auto_blocks(edges.count(), spark.sparkContext.defaultParallelism)
    with loop_scope(spark) as scope:
        e = scope.cache(
            edges.select("src_id", "dst_id").distinct().repartition(p, "src_id")
        )
        e.count()
        scope.pin(p, pin_aqe=False)
        yield scope, e, _bfs_levels(scope, e, sources, max_depth)


def harmonic_centrality_sampled(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 64,
) -> DataFrame:
    """Harmonic centrality estimated from sampled sources:
    H(v) = sum over sources s reaching v of 1 / d(s, v) (the
    closeness variant that is well-defined on disconnected graphs —
    Boldi & Vigna 2014). Directed, unweighted; reuses the batched BFS
    of ``betweenness_sampled`` (same scale shape), then folds
    1/level over the per-level membership tables — no second phase.
    Returns (id, harmonic) for every reached vertex; sources score 0
    unless another source reaches them."""
    with _sampled_bfs(spark, edges, sources, max_depth) as (_, _, levels):
        if not levels:
            return local_rows(spark, [], "id long, harmonic double")
        parts = [levels[0].select("v", F.lit(0.0).alias("h"))]
        for d, lv in enumerate(levels[1:], start=1):
            parts.append(lv.select("v", F.lit(1.0 / d).alias("h")))
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part)
        return (
            out.groupBy(F.col("v").alias("id"))
            .agg(F.sum("h").alias("harmonic"))
            .localCheckpoint(eager=True)
        )


def _bfs_levels(
    scope: LoopScope,
    e: DataFrame,
    sources: DataFrame,
    max_depth: int,
) -> list[DataFrame]:
    """Batched multi-source level-synchronous BFS over a cached,
    src-partitioned edge table. Returns one (s, v, sigma) frame per
    level (each localCheckpointed and owned by ``scope``); empty list
    if there are no sources. sigma = number of shortest s→v paths."""
    levels: list[DataFrame] = []
    frontier = scope.checkpoint(
        sources.select(
            F.col("id").alias("s"),
            F.col("id").alias("v"),
            F.lit(1.0).alias("sigma"),
        )
        .distinct()
    )
    if frontier.isEmpty():
        return []
    levels.append(frontier)
    reached = frontier.select("s", "v")
    for _d in range(max_depth):
        # new-frontier size rides the level checkpoint as an observed
        # metric (no separate isEmpty probe job), and `reached` stays a
        # lazy union of the already-checkpointed level frames — the
        # former re-checkpoint of the whole reached set every level
        # re-materialized O(levels x reached) rows for nothing.
        nxt, m = observed_checkpoint(
            frontier.hint("shuffle_hash")
            .join(e, frontier.v == e.src_id)
            .groupBy("s", F.col("dst_id").alias("v"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(reached, ["s", "v"], "left_anti"),
            n=F.count(F.lit(1)),
        )
        scope.own(nxt)
        if m["n"] == 0:
            break
        levels.append(nxt)
        reached = reached.unionByName(nxt.select("s", "v"))
        frontier = nxt
    else:
        raise RuntimeError(f"BFS exceeded max_depth={max_depth}")
    return levels


def betweenness_sampled(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 64,
) -> DataFrame:
    """Returns (id, bc) for every vertex REACHED from the sources
    (unreached vertices have zero contribution and are omitted;
    sources themselves always appear, possibly with 0.0). Directed,
    unweighted (hop-count shortest paths).

    ``sources``: one column ``id``. ``max_depth`` bounds the BFS —
    raises if the frontier is still non-empty, instead of silently
    truncating dependencies."""
    with _sampled_bfs(spark, edges, sources, max_depth) as (scope, e, levels):
        if not levels:
            return local_rows(spark, [], "id long, bc double")

        # backward sweep: delta at the deepest level starts at 0
        bc_parts: list[DataFrame] = [
            levels[0].select("v", F.lit(0.0).alias("delta"))
        ]
        delta = levels[-1].select("s", "v", "sigma", F.lit(0.0).alias("delta"))
        for d in range(len(levels) - 1, 0, -1):
            bc_parts.append(delta.select("v", "delta"))
            contrib = (
                delta.hint("shuffle_hash")
                .join(e, delta.v == e.dst_id)
                .select(
                    "s",
                    F.col("src_id").alias("v"),
                    ((F.lit(1.0) + F.col("delta")) / F.col("sigma")).alias(
                        "ratio"
                    ),
                )
                .groupBy("s", "v")
                .agg(F.sum("ratio").alias("rsum"))
            )
            delta = scope.checkpoint(
                levels[d - 1].join(contrib, ["s", "v"], "left")
                .select(
                    "s", "v", "sigma",
                    (
                        F.coalesce(F.col("rsum"), F.lit(0.0)) * F.col("sigma")
                    ).alias("delta"),
                )
            )
        # the level-0 sweep output is the sources' own dependency —
        # Brandes excludes s from its own accumulation: drop s == v
        bc_parts.append(
            delta.filter(F.col("s") != F.col("v")).select("v", "delta")
        )

        out = bc_parts[0]
        for part in bc_parts[1:]:
            out = out.unionByName(part)
        return (
            out.groupBy(F.col("v").alias("id"))
            .agg(F.sum("delta").alias("bc"))
            .localCheckpoint(eager=True)
        )


def closeness_centrality_sampled(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 64,
) -> DataFrame:
    """Per-source (out-)closeness over the reachable subgraph:
    C(s) = (r - 1) / sum over reached v != s of d(s, v), where r is the
    number of vertices s reaches including itself (the standard
    finite-reachability normalization — Wasserman & Faust; the harmonic
    variant next door is the disconnect-robust one). Directed,
    unweighted; reuses the batched multi-source BFS (one pair-keyed
    state, supersteps = reachable diameter regardless of sample size).
    Returns (id, closeness) for every source; sources reaching nothing
    score 0.0."""
    with _sampled_bfs(spark, edges, sources, max_depth) as (_, _, levels):
        if not levels:
            return local_rows(spark, [], "id long, closeness double")
        parts = [
            lv.select("s", F.lit(d).cast("long").alias("d"))
            for d, lv in enumerate(levels)
        ]
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part)
        return (
            out.groupBy(F.col("s").alias("id"))
            .agg(
                F.count("*").alias("r"),
                F.sum("d").alias("dist_sum"),
            )
            .select(
                "id",
                F.when(
                    F.col("dist_sum") > 0,
                    (F.col("r") - F.lit(1)).cast("double") / F.col("dist_sum"),
                )
                .otherwise(F.lit(0.0))
                .alias("closeness"),
            )
            .localCheckpoint(eager=True)
        )


def eccentricity_sampled(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 64,
) -> DataFrame:
    """Per-source eccentricity over the reachable subgraph: ecc(s) =
    max over reached v of d(s, v) (directed, unweighted). max over the
    sample is the standard diameter lower bound; min is a radius
    estimate (sampled-BFS sketching, Boldi & Vigna 2014 lineage).
    Reuses the batched multi-source BFS of ``betweenness_sampled`` —
    one pair-keyed state, supersteps = reachable diameter regardless of
    sample size. Returns (id, eccentricity) for every source
    (isolated sources get 0)."""
    with _sampled_bfs(spark, edges, sources, max_depth) as (_, _, levels):
        if not levels:
            return local_rows(spark, [], "id long, eccentricity long")
        parts = [
            lv.select("s").distinct().select(
                "s", F.lit(d).cast("long").alias("d")
            )
            for d, lv in enumerate(levels)
        ]
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part)
        return (
            out.groupBy(F.col("s").alias("id"))
            .agg(F.max("d").cast("long").alias("eccentricity"))
            .localCheckpoint(eager=True)
        )
