"""Triangle counting (global + per-vertex).

The reference's graphs are DAGs with zero triangles by construction
(reference: graph.py:4-6), so this operator is net-new per the north
rule. Standard two-join algorithm with DEGREE ORIENTATION: every
undirected edge is directed from the endpoint with smaller (degree, id)
to the larger. On power-law graphs this bounds per-vertex out-degree by
O(sqrt(E)), which caps wedge enumeration — the critical skew control at
scale (a raw hub self-join would generate degree^2 wedges).

Plan: wedges = e1 ⋈ e2 on e1.dst = e2.src, closed by a semi-join back
against the oriented edge set on (e1.src, e2.dst). Three shuffles total;
AQE skew-join splits any residual hot partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.superstep import LoopScope, loop_scope
from .edges import undirected_pairs


def _oriented(und: DataFrame) -> DataFrame:
    """Orient a simple undirected edge set by (degree, id) ascending."""
    deg = und.groupBy(F.col("src_id").alias("id")).agg(F.count("*").alias("deg"))
    e = (
        und.filter(F.col("src_id") < F.col("dst_id"))
        .join(deg.select(F.col("id").alias("src_id"), F.col("deg").alias("d_src")), "src_id")
        .join(deg.select(F.col("id").alias("dst_id"), F.col("deg").alias("d_dst")), "dst_id")
    )
    keep = (F.col("d_src") < F.col("d_dst")) | (
        (F.col("d_src") == F.col("d_dst")) & (F.col("src_id") < F.col("dst_id"))
    )
    return e.select(
        F.when(keep, F.col("src_id")).otherwise(F.col("dst_id")).alias("u"),
        F.when(keep, F.col("dst_id")).otherwise(F.col("src_id")).alias("v"),
    )


# The public entry points checkpoint the simple undirected edge set
# (``undirected_pairs``) because every triangle plan scans it from
# several subtrees (degree agg, orientation, wedge closure): without the
# cut Spark re-executes the upstream graph-construction join once per
# subtree (measured 3.4s/scan warm on the 39k-edge co-part gate graph —
# the dominant cost of the clustering query was recomputing its own
# input). They return a materialized result, so the intermediate
# checkpoints (the simple edge set and its orientation) are released
# when the call returns instead of pinned for the session.


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count. Returns 1-row DataFrame (n_triangles long)."""
    with loop_scope(edges.sparkSession) as scope:
        und = scope.checkpoint(undirected_pairs(edges))
        return (
            _closed_wedges(und, scope)
            .agg(F.count("*").alias("n_triangles"))
            .localCheckpoint(eager=True)
        )


def triangles_per_vertex(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle participation counts (id, n_triangles)."""
    with loop_scope(edges.sparkSession) as scope:
        und = scope.checkpoint(undirected_pairs(edges))
        return _triangles_per_vertex(und, scope).localCheckpoint(eager=True)


def _triangles_per_vertex(und: DataFrame, scope: LoopScope) -> DataFrame:
    tri = _closed_wedges(und, scope)
    corners = (
        tri.select(F.col("a").alias("id"))
        .unionAll(tri.select(F.col("b").alias("id")))
        .unionAll(tri.select(F.col("c").alias("id")))
    )
    return corners.groupBy("id").agg(F.count("*").alias("n_triangles"))


def local_clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-vertex local clustering coefficient over the undirected
    simple graph: cc(v) = 2*T(v) / (d(v)*(d(v)-1)), where T(v) is the
    number of triangles through v and d(v) its distinct-neighbor
    degree; vertices with d < 2 get cc = 0 by convention.

    Returns (id, degree, n_triangles, coeff). Reuses the degree-
    oriented triangle enumeration (the skew control carries over: the
    only new work on top of ``triangles_per_vertex`` is one degree
    aggregation and a vertex-keyed left join)."""
    with loop_scope(edges.sparkSession) as scope:
        und = scope.checkpoint(undirected_pairs(edges))
        deg = und.groupBy(F.col("src_id").alias("id")).agg(
            F.count("*").cast("long").alias("degree")
        )
        tri = _triangles_per_vertex(und, scope)
        d = F.col("degree").cast("double")
        return (
            deg.join(tri, "id", "left")
            .select(
                "id",
                "degree",
                F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
                    "n_triangles"
                ),
                F.when(
                    F.col("degree") >= 2,
                    2.0 * F.coalesce(F.col("n_triangles"), F.lit(0)) / (d * (d - 1.0)),
                )
                .otherwise(0.0)
                .alias("coeff"),
            )
            .localCheckpoint(eager=True)
        )


def _closed_wedges(und: DataFrame, scope: LoopScope) -> DataFrame:
    """Closed wedges (a, b, c) over a MATERIALIZED simple undirected
    edge set. The oriented table is localCheckpointed: the wedge plan
    scans it from three subtrees (e1, e2, the closing semi-join) and a
    lazy persist would still re-run the orientation joins once before
    the cache fills. ``scope`` releases that checkpoint at its exit, so
    the caller materializes whatever it keeps of the wedges first."""
    o = scope.checkpoint(_oriented(und))
    e1 = o.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = o.select(F.col("u").alias("b"), F.col("v").alias("c"))
    wedges = e1.join(e2, "b")
    closing = o.select(F.col("u").alias("a"), F.col("v").alias("c"))
    return wedges.join(closing, ["a", "c"], "left_semi")


def approx_triangle_count(
    edges: DataFrame,
    p_num: int = 1,
    p_den: int = 4,
    seed: int = 42,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """DOULION (Tsourakakis et al., KDD 2009): triangle estimation by
    edge sparsification — keep each undirected edge with probability
    p = p_num/p_den, count triangles in the sample, scale by 1/p^3
    (unbiased; variance vanishes as the true count grows). Here the
    coin is a DETERMINISTIC hash of the canonical (min, max) endpoint
    pair (the stratified-sampling discipline, operators/sampling.py):
    the estimate is a pure function of (graph, seed), reproducible
    across runs, partitionings, and engines (md5 bridge).

    The 100-TB story: the exact count's wedge join costs
    sum(oriented-out-degree^2); sampling at p cuts edges by p and
    wedge work by ~p^2 BEFORE the join (the filter sits on the scan),
    for a (1/p^3-scaled) estimate whose relative error is
    O(1/sqrt(p^3 * T)). Returns one row:
    (n_sampled_triangles, est_triangles)."""
    if hash_family == "xxhash64":
        h = F.xxhash64(
            F.lit(seed),
            F.least("src_id", "dst_id"),
            F.greatest("src_id", "dst_id"),
        )
    elif hash_family == "md5":
        s = F.concat_ws(
            ":",
            F.lit(str(seed)),
            F.least("src_id", "dst_id").cast("string"),
            F.greatest("src_id", "dst_id").cast("string"),
        )
        h = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    sampled = edges.filter(F.pmod(h, F.lit(p_den)) < p_num)
    scale = (p_den / p_num) ** 3
    return triangle_count(sampled).select(
        F.col("n_triangles").alias("n_sampled_triangles"),
        (F.col("n_triangles") * F.lit(float(scale))).alias("est_triangles"),
    )
