"""DAG operators: topological sort, longest-path DP, chain decomposition.

Reference precedents:
- Kahn topological sort (reference: graph.py:210-224) → iterative
  in-degree-0 peel over one (id, level) state; returns each vertex's
  topological LEVEL (all level-k vertices are mutually unordered, so
  the level order is a valid — and deterministic — topological order
  when read as (level, id)).
- Longest-path DP with predecessor backtracking (reference:
  graph.py:32-58, used to find the model's main chain) → iterative
  relaxation: dist(v) = max over in-neighbors (dist(u) + 1), one
  join+groupBy-max per superstep until fixpoint (O(longest path)
  supersteps).
- Chain decomposition (reference: graph.py:157-207): repeatedly peel
  the longest remaining path. The contracted graphs this runs on are
  small by construction (the reference's are tens of vertices), so the
  peel loop is a driver loop over distributed longest-path passes —
  same shape as the reference's driver loop; the per-pass work is the
  distributed part.

All loops assume a DAG (the reference asserts acyclicity implicitly by
construction, graph.py:4-6); ``topological_levels`` raises on cycles
(unpeelable remainder) — the engine-side version of that invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.barrier import PlanBarrier
from ..plans.scale import auto_blocks
from ..plans.superstep import loop_scope, observed_checkpoint
from .edges import vertex_set


def topological_levels(
    spark: SparkSession, edges: DataFrame, max_iter: int = 10_000
) -> DataFrame:
    """Kahn peel, one round per level. Returns (id, level).

    Each round removes the current in-degree-0 frontier; a vertex's
    level is the round it was peeled. Raises ValueError on a cycle.

    One state (id, level), level null while a vertex is unpeeled, and
    one cut per round: the frontier is every unpeeled vertex with no
    edge from an unpeeled vertex, and the same job observes how many
    vertices the round found unpeeled and how many it peeled.
    """
    p = auto_blocks(edges.count(), spark.sparkContext.defaultParallelism)
    with loop_scope(spark, p) as scope:
        e = scope.cache(
            edges.select("src_id", "dst_id").distinct().repartition(p, "src_id")
        )
        state = vertex_set(e).select("id", F.lit(None).cast("int").alias("level"))
        barrier = PlanBarrier()
        for level in range(max_iter):
            unpeeled = F.col("level").isNull()
            # both joins hash-partitioned, never broadcast: a broadcast
            # costs a job, and a small graph's e (every round) or early
            # rounds' estimates would get one
            blocked = (
                state.filter(unpeeled).select(F.col("id").alias("src_id"))
                .hint("shuffle_hash")
                .join(e, "src_id")
                .select(F.col("dst_id").alias("id"), F.lit(True).alias("blocked"))
                .distinct()
            )
            peel = unpeeled & F.col("blocked").isNull()
            state, m = observed_checkpoint(
                state.join(blocked.hint("shuffle_hash"), "id", "left").select(
                    "id",
                    F.when(peel, F.lit(level)).otherwise(F.col("level")).alias("level"),
                    unpeeled.alias("was_left"),
                    peel.alias("peeled"),
                ),
                select=("id", "level"),
                cut=barrier.cut,
                left=F.sum(F.col("was_left").cast("int")),
                front=F.sum(F.col("peeled").cast("int")),
            )
            if m["front"] == m["left"]:
                break
            if m["front"] == 0:
                raise ValueError(f"cycle detected: {int(m['left'])} vertices unpeelable")
    # levels past max_iter stay null: like an unfinished peel, they are
    # left out (the filter also makes level non-nullable again)
    return state.filter(F.col("level").isNotNull())


def longest_path_lengths(
    spark: SparkSession, edges: DataFrame, max_iter: int = 10_000,
    fuse_steps: int = 2,
) -> DataFrame:
    """Longest-path DP over a DAG: (id, dist) where dist = length (in
    edges) of the longest path ENDING at id. Iterative relaxation to
    fixpoint (reference graph.py:36-44 computes exactly this, plus
    predecessor links recoverable by one extra join at the end).

    ``fuse_steps`` relaxation steps run lazily per materialization
    (same cost control as scc.py's fixpoints: max-relaxation is
    monotone, so overshooting the fixpoint is a no-op and convergence
    is checked on the last fused step only); fuse=2 halves the
    Spark-job count per DP pass, which dominates wall time on the
    contracted graphs chain_decomposition peels."""
    p = auto_blocks(edges.count(), spark.sparkContext.defaultParallelism)
    barrier = PlanBarrier()
    with loop_scope(spark) as scope:
        # the initial dist is the barrier's first cut: the next cut
        # releases it, and max_iter=0 returns it
        dist = barrier.cut(
            vertex_set(edges).select("id", F.lit(0).alias("dist")).repartition(p, "id")
        )
        e = scope.cache(
            edges.select("src_id", "dst_id").distinct().repartition(p, "src_id")
        )
        scope.pin(p)

        def relax(d: DataFrame) -> DataFrame:
            cand = (
                d.join(e, d.id == e.src_id)
                .groupBy(F.col("dst_id").alias("id"))
                .agg((F.max("dist") + 1).alias("cand"))
            )
            return d.join(cand, "id", "left").select(
                "id",
                F.greatest(
                    F.col("dist"), F.coalesce(F.col("cand"), F.col("dist"))
                ).alias("dist"),
            )

        for _ in range(max_iter):
            seg = dist
            for _b in range(fuse_steps):
                seg = relax(seg)
            # ONE job per segment: join prev (co-partitioned with the
            # checkpointed dist — no extra exchange) and let the
            # changed-count ride the barrier cut's materialization as an
            # observed metric; the former persist+count+cut pair
            # materialized every segment twice.
            dist, m = observed_checkpoint(
                seg.join(dist.select("id", F.col("dist").alias("prev")), "id"),
                select=("id", "dist"),
                cut=barrier.cut,
                n=F.sum(F.when(F.col("dist") != F.col("prev"), 1).otherwise(0)),
            )
            if m["n"] == 0:
                break
    return dist


def _assert_contracted_size(edges: DataFrame, max_vertices: int, op: str) -> None:
    """critical_path/chain_decomposition are documented CONTRACTED-graph
    operators (the reference's run on anchor graphs of tens of vertices,
    graph.py:157-207): their driver loops collect one row per path hop.
    Enforce the contract mechanically instead of by docstring promise."""
    n = vertex_set(edges).limit(max_vertices + 1).count()
    if n > max_vertices:
        raise ValueError(
            f"{op} is a contracted-graph operator (driver loop per path "
            f"hop): input has > {max_vertices} vertices; contract the "
            f"graph first (graph_contraction / labelprop) or raise "
            f"max_vertices explicitly"
        )


def critical_path(
    spark: SparkSession, edges: DataFrame, max_vertices: int = 100_000
) -> list[int]:
    """The reference's 'main chain' (graph.py:47-58): backtrack the
    argmax of the longest-path DP. The path itself is at most
    O(longest-path) vertices — driver-sized — while every DP pass is
    distributed. Refuses inputs above ``max_vertices`` (see
    _assert_contracted_size)."""
    _assert_contracted_size(edges, max_vertices, "critical_path")
    return _critical_path_unchecked(spark, edges)


def _critical_path_unchecked(spark: SparkSession, edges: DataFrame) -> list[int]:
    """critical_path minus the contracted-size assert, for callers that
    already validated the graph at entry (chain_decomposition peels
    shrink monotonically, so re-checking per emitted chain would add
    one distributed distinct+limit+count job per chain for nothing)."""
    dist = longest_path_lengths(spark, edges).persist()
    e = edges.select("src_id", "dst_id").distinct()
    # deterministic argmax: max dist, then min id
    end = dist.orderBy(F.col("dist").desc(), F.col("id").asc()).limit(1).collect()[0]
    # batched backtrack: ONE distributed pass computes every vertex's
    # backtrack parent (min src_id among preds with d_src = dist-1 —
    # the same rule the former per-hop filter applied), then the path
    # is a driver walk over the collected pointer map. The collect is
    # one row per non-root vertex, bounded by the contracted-graph
    # contract (_assert_contracted_size) — vs one Spark job PER HOP
    # before, which dominated chain_decomposition's wall time.
    parents = (
        e.join(
            dist.select(F.col("id").alias("src_id"), F.col("dist").alias("d_src")),
            "src_id",
        )
        .join(
            dist.select(F.col("id").alias("dst_id"), F.col("dist").alias("d_dst")),
            "dst_id",
        )
        .filter(F.col("d_src") == F.col("d_dst") - 1)
        .groupBy("dst_id")
        .agg(F.min("src_id").alias("parent"))
        .collect()
    )
    pmap = {r.dst_id: r.parent for r in parents}
    path = [end.id]
    cur = end.id
    for _ in range(end.dist):
        cur = pmap[cur]
        path.append(cur)
    dist.unpersist()
    return list(reversed(path))


def _chain_peel_local(
    edge_list: list[tuple[int, int]], max_chains: int
) -> list[list[int]]:
    """Driver-side greedy longest-chain peel over a collected edge list.
    Bit-for-bit the distributed peel's semantics: longest-path DP
    (dist(v) = max over in-neighbors dist(u)+1), end = (max dist, min
    id), backtrack parent = min src_id among preds with d_src =
    d_dst - 1, remove the chain's vertices, repeat; edge-isolated
    leftovers become singleton chains in ascending id order."""
    all_verts = sorted({v for e in edge_list for v in e})
    edges = set(edge_list)
    chains: list[list[int]] = []
    covered: set[int] = set()
    while edges and len(chains) < max_chains:
        succ: dict[int, list[int]] = {}
        pred: dict[int, list[int]] = {}
        indeg: dict[int, int] = {}
        verts = {v for e in edges for v in e}
        for s, d in edges:
            succ.setdefault(s, []).append(d)
            pred.setdefault(d, []).append(s)
            indeg[d] = indeg.get(d, 0) + 1
        # Kahn-order DP (contract-checked DAG; cycle ⇒ loud error)
        dist = {v: 0 for v in verts}
        frontier = sorted(v for v in verts if indeg.get(v, 0) == 0)
        order: list[int] = []
        while frontier:
            v = frontier.pop()
            order.append(v)
            for u in succ.get(v, ()):
                if dist[v] + 1 > dist[u]:
                    dist[u] = dist[v] + 1
                indeg[u] -= 1
                if indeg[u] == 0:
                    frontier.append(u)
        if len(order) != len(verts):
            raise ValueError(
                f"cycle detected: {len(verts) - len(order)} vertices unpeelable"
            )
        end = min(verts, key=lambda v: (-dist[v], v))
        path = [end]
        cur = end
        for _ in range(dist[end]):
            cur = min(s for s in pred[cur] if dist[s] == dist[cur] - 1)
            path.append(cur)
        chain = list(reversed(path))
        chains.append(chain)
        covered.update(chain)
        drop = set(chain)
        edges = {e for e in edges if e[0] not in drop and e[1] not in drop}
    if len(chains) < max_chains:
        chains.extend([[v] for v in all_verts if v not in covered])
    return chains


def chain_decomposition(spark: SparkSession, edges: DataFrame,
                        max_chains: int = 10_000,
                        max_vertices: int = 100_000,
                        max_edges: int = 2_000_000) -> list[list[int]]:
    """Greedy longest-chain peel (reference graph.py:157-207): repeat —
    find the longest path in the remaining DAG, emit it, remove its
    vertices.

    This is a CONTRACTED-graph operator — enforced by ``max_vertices``
    / ``max_edges`` (see _assert_contracted_size; the reference's
    instances are tens of vertices, and the result — every chain — is
    collected to the driver by both engines' contracts anyway). The
    peel therefore runs as a DRIVER KERNEL over ONE bounded collect:
    the previous driver-loop-over-distributed-passes version spent
    one Spark job per DP segment per chain (measured 147s for a
    40-edge forest at the sf0.01 gate — pure per-stage overhead vs
    ~1s for the same peel in-driver). The DISTRIBUTED parts of the
    pipeline remain the contraction that produced the small graph
    (graph_contraction / strongly_connected_components) and the
    standalone DP operators (longest_path_lengths, topological_levels),
    which still run on full-size graphs; ``_chain_peel_local`` is
    bit-for-bit the same greedy semantics and tie-breaks."""
    _assert_contracted_size(edges, max_vertices, "chain_decomposition")
    rows = (
        edges.select("src_id", "dst_id").distinct().limit(max_edges + 1).collect()
    )
    if len(rows) > max_edges:
        raise ValueError(
            f"chain_decomposition: > {max_edges} distinct edges; contract "
            f"the graph first or raise max_edges explicitly"
        )
    return _chain_peel_local(
        [(r.src_id, r.dst_id) for r in rows], max_chains
    )
